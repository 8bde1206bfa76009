package perfbench

import java.util.Locale

/**
 * Seeded event traffic for the stream workloads, and the result the
 * pipeline must produce from it, computed in plain Scala.
 *
 * The dirt follows the reference producer (producer.py:30–42): country
 * IN / US×3 / DE / null, device variants, null `amount` with p = 0.1, an
 * adjacent duplicate `event_id` with p = 0.05, `user_id` in 1..5 and
 * `product_id` in 1..8. On top of that: 0.5% malformed lines, events out
 * of order by at most 10 s (inside the 30 s watermark, so none is
 * dropped), and optionally events behind the watermark. Event time
 * advances by `eventStepMs` per event, independent of wall time, so the
 * same seed gives byte-identical files.
 */
object Traffic {

  val BaseMs: Long = 1704067200000L            // 2024-01-01T00:00:00Z
  val WatermarkMs = 30000L                      // StreamPipeline.plan default
  val WindowMs = 60000L
  val SlideMs = 30000L

  private val Countries = Array[String]("IN", "US", "US", "US", "DE", null)
  private val Devices = Array[String]("MOBILE", "mobile ", "DESKTOP", null)

  final case class Event(id: String, userId: Int, productId: Int,
                         amountCents: Option[Int], timeMs: Long,
                         country: Option[String], device: Option[String]) {
    def amount: Double = amountCents.fold(0.0)(_ / 100.0)
    def json: String = {
      def str(o: Option[String]) = o.fold("null")(s => "\"" + s + "\"")
      val amt = amountCents.fold("null")(c =>
        String.format(Locale.ROOT, "%d.%02d", Int.box(c / 100), Int.box(c % 100)))
      s"""{"event_id":"$id","user_id":$userId,"product_id":$productId,""" +
        s""""amount":$amt,"event_time":"${java.time.Instant.ofEpochMilli(timeMs)}",""" +
        s""""country":${str(country)},"device":${str(device)}}"""
    }
  }

  /** One input line. `event` is None for a malformed line; `late` marks an
    * event placed behind the watermark on purpose. */
  final case class Line(text: String, event: Option[Event], late: Boolean)

  /** @param files         number of files
    * @param linesPerFile  lines in each file
    * @param eventStepMs   event-time gap between consecutive events
    * @param filesPerChunk files handed over together (backfill); late events
    *                      open every chunk after the first
    * @param latePerChunk  beyond-watermark events per chunk (0: none) */
  final case class Spec(seed: Long, files: Int, linesPerFile: Int, eventStepMs: Long,
                        filesPerChunk: Int = 1, latePerChunk: Int = 0)

  /** A bijection on [0, 36^8): event ids are unique by construction. */
  private def eventId(i: Long): String = {
    val m = 2821109907456L                      // 36^8
    val s = java.lang.Long.toString(Math.floorMod(i * 1000003L + 7919L, m), 36)
    "evt_" + ("0" * (8 - s.length)) + s
  }

  def generate(spec: Spec): IndexedSeq[IndexedSeq[Line]] = {
    val rnd = new java.util.SplittableRandom(spec.seed)
    var nextId = 0L
    var nominal = 0L                            // events emitted in order so far
    var maxTime = Long.MinValue                 // over all files generated so far
    var pending: Option[Line] = None            // a duplicate due next
    def event(timeMs: Long): Event = {
      val e = Event(
        id = eventId(nextId),
        userId = 1 + rnd.nextInt(5),
        productId = 1 + rnd.nextInt(8),
        amountCents = if (rnd.nextDouble() < 0.1) None else Some(500 + rnd.nextInt(19501)),
        timeMs = timeMs,
        country = Option(Countries(rnd.nextInt(Countries.length))),
        device = Option(Devices(rnd.nextInt(Devices.length))))
      nextId += 1
      e
    }
    (0 until spec.files).map { f =>
      val maxBefore = maxTime
      val out = IndexedSeq.newBuilder[Line]
      var n = 0
      def add(l: Line): Unit = {
        out += l; n += 1
        if (!l.late) l.event.foreach(e => maxTime = math.max(maxTime, e.timeMs))
      }
      if (spec.latePerChunk > 0 && f > 0 && f % spec.filesPerChunk == 0)
        for (_ <- 0 until spec.latePerChunk) {
          val e = event(maxBefore - WatermarkMs - 5000 - rnd.nextInt(55000))
          add(Line(e.json, Some(e), late = true))
        }
      while (n < spec.linesPerFile) pending match {
        case Some(dup) => add(dup); pending = None
        case None =>
          val t = BaseMs + nominal * spec.eventStepMs
          nominal += 1
          if (rnd.nextDouble() < 0.005) {
            val j = event(t).json
            add(Line(j.substring(0, j.length / 2), None, late = false))
          } else {
            val shifted = if (rnd.nextDouble() < 0.05) t - 1000 - rnd.nextInt(9000) else t
            val e = event(shifted)
            val l = Line(e.json, Some(e), late = false)
            add(l)
            if (rnd.nextDouble() < 0.05) pending = Some(l)
          }
      }
      out.result()
    }
  }

  def fileText(lines: Seq[Line]): String = lines.map(_.text).mkString("", "\n", "\n")

  // ---------------------------------------------------------------- expected

  final case class Window(startMs: Long, country: String, segment: String) {
    def endMs: Long = startMs + WindowMs
    /** `event_date` = to_date(window.end) under the UTC session zone. */
    def eventDate: String =
      java.time.Instant.ofEpochMilli(endMs).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
  }
  final case class Agg(total: Double, unique: Long, maxTimeMs: Long)

  /** The rows the pipeline aggregates, in plain Scala: drop malformed and
    * beyond-watermark lines, keep the first copy of each event_id, clean
    * (country upper-cased, null → UNKNOWN; amount null → 0), join the
    * user dimension for the segment, and assign each event to its two
    * 1-minute windows sliding by 30 s. */
  def windowed(lines: Seq[Line], segments: Map[Int, String]): Seq[(Window, Event)] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    for (l <- lines if !l.late; e <- l.event.toSeq if seen.add(e.id);
         last = Math.floorDiv(e.timeMs, SlideMs) * SlideMs; start <- Seq(last - SlideMs, last)) yield {
      val country = e.country.map(_.toUpperCase(Locale.ROOT)).getOrElse("UNKNOWN")
      Window(start, country, segments.getOrElse(e.userId, null)) -> e
    }
  }

  /** The pipeline's windowed aggregate: per window the sum of amounts,
    * the exact number of distinct events and the latest event time. */
  def aggregate(rows: Seq[(Window, Event)]): Map[Window, Agg] =
    rows.groupMapReduce(_._1)(x => Agg(x._2.amount, 1L, x._2.timeMs)) { (a, c) =>
      Agg(a.total + c.total, a.unique + c.unique, math.max(a.maxTimeMs, c.maxTimeMs))
    }
}
