package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.batch.DailyBatch
import graft.etl.RefPipeline
import graft.stream.StreamPipeline

/**
 * The `stream` workload. Both of its phases run the program's own
 * streaming plan, `StreamPipeline.read → plan → ParquetSink` with trigger
 * `ProcessingTime(0)`, over the `JsonFiles` source:
 *
 *  - steady: an open loop. A separate generator process hands one small
 *    file to the source every [[StreamWorkload.PeriodMs]] ms, whatever the
 *    engine does, so micro-batches stay small and their fixed cost
 *    dominates. Latency runs from a file's scheduled hand-over to the
 *    commit of the batch that read it.
 *  - backfill: a closed loop over pre-written chunks, each handed over
 *    once the previous one is committed, so batches are large and per-row
 *    work dominates. The daily batch job then reads the small files the
 *    sink wrote.
 *
 * One workload runs both phases because a cold JVM's first stream query
 * costs more than either phase; running them in one process pays it once.
 */
final class StreamWorkload(b: Bench) {
  import StreamWorkload._

  private def spark: SparkSession = b.spark

  private def segments: Map[Int, String] =
    RefPipeline.usersDim(spark).collect().map(r => r.getAs[Int]("user_id") -> r.getAs[String]("segment")).toMap

  private def startQuery(src: Path, out: Path, chk: Path): StreamingQuery =
    b.tracer.span("stream") {
      val plan = StreamPipeline.plan(spark, StreamPipeline.read(spark, StreamPipeline.JsonFiles(src.toString)))
      StreamPipeline.writer(plan,
        StreamPipeline.ParquetSink(out.toString, chk.toString, Trigger.ProcessingTime(0L))).start()
    }

  /** Untimed: one file through a throwaway query, long enough in event
    * time that windows close, then the daily job over what it wrote, so
    * codegen, the state-store provider, the sink and the daily job are
    * initialised before timing. */
  private def warmUp(): Unit = {
    val (src, out) = (b.dir("warm/src"), b.dir("warm/out"))
    val q = startQuery(src, out, b.dir("warm/chk"))
    val file = Traffic.generate(Traffic.Spec(b.seed + 2, 1, 2000, BackfillStepMs)).head
    Files.write(src.resolve("w.json"), Traffic.fileText(file).getBytes(UTF_8))
    q.processAllAvailable()
    q.stop()
    DailyBatch.run(spark, out.toString, Traffic.Window(Traffic.BaseMs, "", "").eventDate,
      b.dir("warm/daily").toString)
  }

  def run(): Unit = {
    val steadySpec = Traffic.Spec(b.seed, b.seconds * 1000 / PeriodMs, SteadyLines, SteadyStepMs)
    val backfillSpec = Traffic.Spec(b.seed + 1, BackfillChunks * FilesPerChunk,
      BackfillLines, BackfillStepMs, FilesPerChunk, LatePerChunk)
    var steadyLines: Seq[Traffic.Line] = Nil
    var backfillFiles: Seq[Seq[Traffic.Line]] = Nil
    var staged: Path = null
    b.setup {
      b.startSession()
      steadyLines = Traffic.generate(steadySpec).flatten
      backfillFiles = Traffic.generate(backfillSpec)
      staged = b.dir("staged")
      for ((f, k) <- backfillFiles.zipWithIndex)
        Files.write(staged.resolve(f"part-$k%05d.json"), Traffic.fileText(f).getBytes(UTF_8))
      warmUp()
    }
    val backfillLines = backfillFiles.flatten
    val late = backfillLines.count(_.late).toLong
    val gc0 = b.gcMs
    if (b.trace) {
      val backfill = b.tracer.span("backfill")(backfillPass("backfill-traced", staged, backfillLines, late))
      // untraced after traced: the second drain runs warmer, so the
      // overhead reads high rather than low
      val plain = b.tracer.untraced(backfillPass("backfill", staged, backfillLines, late))
      dailyLayers(backfill.out)
      val steady = b.tracer.span("steady")(steadyPass(steadySpec, steadyLines, "steady-traced"))
      streamLayers(steady.batches ++ backfill.batches, Seq(steady.out, backfill.out))
      b.metric("steady_p90_ms", steady.p90, "ms")
      b.metric("stream.gen.late_ms", steady.genLateMs.toDouble, "ms")
      b.metric("stream.backlog_rows", steady.backlogRows.toDouble, "rows")
      b.metric("backfill_rows_per_s", backfill.rowsPerS, "rows/s")
      b.metric("trace.overhead_pct", 100.0 * (backfill.drainS - plain.drainS) / plain.drainS, "%")
      b.tracer.span("etl")(etlStages(staged))
      b.metric("jvm.gc_ms", (b.gcMs - gc0).toDouble, "ms")
      b.metric("probe.poison_failed", if (poisonProbe()) 0 else 1, "count")
      b.metric("scale.backfill_1core_rows_per_s",
        b.tracer.untraced(oneCore(staged, backfillFiles.take(FilesPerChunk))), "rows/s")
    } else {
      // the backfill's large batches finish the JIT warm-up the steady
      // phase's small ones would otherwise pay for
      val backfill = backfillPass("backfill", staged, backfillLines, late)
      val steady = steadyPass(steadySpec, steadyLines, "steady")
      b.metric("p50_ms", steady.p50, "ms")
      b.metric("busy_s", backfill.drainS, "s")
      b.metric("batch_s", backfill.dailyS, "s")
      b.metric("peak_rss_mb", b.peakRssMb, "MB")
      val probeOk = poisonProbe()
      println(f"steady: ${steady.batches.count(_.numInputRows > 0)} micro-batches with data, " +
        f"latency p50 ${steady.p50}%.0f ms, p90 ${steady.p90}%.0f ms, engine busy ${steady.busyS}%.2f s, " +
        f"generator late ${steady.genLateMs} ms, max backlog ${steady.backlogRows} rows")
      println(f"backfill: ${backfillLines.size} lines in ${backfill.batches.count(_.numInputRows > 0)} " +
        f"micro-batches with data, ${backfill.rowsPerS}%.0f rows/s, daily batch ${backfill.dailyS}%.3f s; " +
        s"poison probe ${if (probeOk) "passed" else "FAILED"}")
    }
  }

  private final case class SteadyPass(p50: Double, p90: Double, busyS: Double, genLateMs: Long,
                                      backlogRows: Long, batches: Seq[StreamingQueryProgress],
                                      out: Path)

  private def steadyPass(spec: Traffic.Spec, lines: Seq[Traffic.Line], tag: String): SteadyPass = {
    val (src, stage, out, chk) = (b.dir(s"$tag/src"), b.dir(s"$tag/stage"), b.dir(s"$tag/out"), b.dir(s"$tag/chk"))
    val log = b.work.resolve(s"$tag/gen.log")
    val q = startQuery(src, out, chk)
    val t0 = System.currentTimeMillis() + GenStartMs
    val gen = new ProcessBuilder(
      Seq(sys.props("java.home") + "/bin/java", "-Xmx256m", "-cp", sys.props("java.class.path"),
        "perfbench.GenMain", src.toString, stage.toString, log.toString, t0.toString,
        PeriodMs.toString, spec.seed.toString, spec.files.toString, spec.linesPerFile.toString,
        spec.eventStepMs.toString): _*).inheritIO().start()
    try {
      if (!gen.waitFor(b.seconds + 60L, TimeUnit.SECONDS) || gen.exitValue != 0)
        throw new IllegalStateException("load generator did not finish")
    } finally if (gen.isAlive) { gen.destroyForcibly(); gen.waitFor() }
    q.processAllAvailable()
    q.stop()
    val last = Progress.lastCommitted(chk)
    val batches = b.progress.await(q.id, last).filter(_.batchId <= last)
    // name, scheduled hand-over, actual hand-over, lines
    val sched = new String(Files.readAllBytes(log), UTF_8).linesIterator.map(_.split(' '))
      .map(a => (a(0), a(1).toLong, a(2).toLong, a(3).toLong)).toSeq
    val fileBatch = Progress.fileBatches(chk)
    val commit = batches.map(p => p.batchId -> Progress.commitMs(p)).toMap
    val lat = sched.map { case (name, due, _, n) => (commit(fileBatch(name)) - due).toDouble -> n }
    val dataBatches = batches.filter(_.numInputRows > 0)
    // backlog: lines handed over before a batch started and not read by an earlier batch
    val backlog = dataBatches.map { p =>
      val start = Progress.startMs(p)
      sched.filter { case (name, _, actual, _) => actual < start && fileBatch(name) >= p.batchId }.map(_._4).sum
    }
    val genLateMs = sched.map { case (_, due, actual, _) => actual - due }.max
    // an open loop is only valid while the generator keeps its schedule
    b.check(s"$tag.generator_on_time", genLateMs <= MaxGenLateMs,
      s"latest hand-over $genLateMs ms after schedule (limit $MaxGenLateMs ms)")
    checkStream(tag, chk, out, lines, batches, lateExpected = 0)
    SteadyPass(
      p50 = Stats.weightedQuantile(lat, 0.5), p90 = Stats.weightedQuantile(lat, 0.9),
      busyS = dataBatches.map(Progress.duration(_, "triggerExecution")).sum / 1000.0,
      genLateMs = genLateMs,
      backlogRows = if (backlog.isEmpty) 0 else backlog.max, batches = batches, out = out)
  }

  private final case class BackfillPass(rowsPerS: Double, drainS: Double, dailyS: Double,
                                        batches: Seq[StreamingQueryProgress], out: Path)

  private def backfillPass(tag: String, staged: Path, lines: Seq[Traffic.Line], late: Long): BackfillPass = {
    val (src, out, chk) = (b.dir(s"$tag/src"), b.dir(s"$tag/out"), b.dir(s"$tag/chk"))
    val hand = b.dir(s"$tag/hand")
    val chunks = Bench.listFiles(staged, ".json").sortBy(_.getFileName.toString).grouped(FilesPerChunk).toSeq
    val q = startQuery(src, out, chk)
    val t0 = System.nanoTime()
    for (files <- chunks) {
      // copy beside the source, then rename in: the source never lists a partial file
      files.foreach(f => Files.copy(f, hand.resolve(f.getFileName)))
      files.foreach(f => Files.move(hand.resolve(f.getFileName), src.resolve(f.getFileName),
        StandardCopyOption.ATOMIC_MOVE))
      q.processAllAvailable()
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    q.stop()
    val last = Progress.lastCommitted(chk)
    val batches = b.progress.await(q.id, last).filter(_.batchId <= last)
    val daily = dailyBatch(tag, out, checkStream(tag, chk, out, lines, batches, lateExpected = late))
    BackfillPass(lines.size / drainS, drainS, daily, batches, out)
  }

  /** Drain the first chunk again at `local[1]`: the single-threaded
    * baseline. Runs last, since it replaces the session. */
  private def oneCore(staged: Path, chunk: Seq[Seq[Traffic.Line]]): Double = {
    val one = b.dir("staged-1core")
    for (k <- chunk.indices) {
      val name = f"part-$k%05d.json"
      Files.copy(staged.resolve(name), one.resolve(name))
    }
    val prev = sys.props.get("spark.master")
    sys.props("spark.master") = "local[1]"
    try {
      b.startSession()
      warmUp()
      backfillPass("backfill-1core", one, chunk.flatten, late = 0).rowsPerS
    } finally prev match {
      case Some(v) => sys.props("spark.master") = v
      case None    => sys.props.remove("spark.master")
    }
  }

  // ------------------------------------------------------------ checks

  /** Sink output against the plain-Scala result, plus conservation:
    * lines in = rows read, beyond-watermark events = rows dropped late.
    * Returns the expected windows the final watermark closed. */
  private def checkStream(tag: String, chk: Path, out: Path, lines: Seq[Traffic.Line],
                          batches: Seq[StreamingQueryProgress],
                          lateExpected: Long): Map[Traffic.Window, Traffic.Agg] = {
    val read = batches.map(_.numInputRows).sum
    b.check(s"$tag.rows_in", read == lines.size, s"read $read of ${lines.size} lines")
    val dropped = batches.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    b.check(s"$tag.dropped_late", dropped == lateExpected,
      s"dropped $dropped, generated $lateExpected beyond the watermark")
    val wm = Progress.batchWatermarkMs(chk, Progress.lastCommitted(chk))
    val members = Traffic.windowed(lines, segments).filter(_._1.endMs <= wm)
    // what approx_count_distinct gives for exactly the expected ids: HLL
    // registers do not depend on order or merging, so a correct pipeline
    // matches it exactly
    val hll = {
      val session = spark
      import session.implicits._
      import org.apache.spark.sql.functions.approx_count_distinct
      members.map { case (w, e) => (w.startMs, w.country, w.segment, e.id) }.toDF("start", "country", "segment", "id")
        .groupBy("start", "country", "segment").agg(approx_count_distinct("id")).collect()
        .map(r => Traffic.Window(r.getLong(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    }
    val closed = Traffic.aggregate(members)
    val want = closed.toSeq.map { case (w, a) =>
      (w.country, w.segment, w.eventDate, a.maxTimeMs) -> (a.total, a.unique, hll(w))
    }
    val got = spark.read.parquet(out.toString).collect().toSeq.map { r: Row =>
      (r.getAs[String]("country"), r.getAs[String]("segment"),
        r.getAs[java.sql.Date]("event_date").toLocalDate.toString,
        r.getAs[java.sql.Timestamp]("max_event_time").getTime) ->
        (r.getAs[Double]("total_amount"), r.getAs[Long]("unique_events"))
    }
    val (ok, detail) = compareWindows(want, got)
    b.check(s"$tag.windows", ok, s"${got.size} window rows vs ${want.size} expected " +
      s"(watermark ${java.time.Instant.ofEpochMilli(wm)})$detail")
    closed
  }

  /** DailyBatch.run for every run date in the sink output, [[DailyReps]]
    * times each, checked against the premium rollup of the expected
    * windows. Returns the median run seconds. */
  private def dailyBatch(tag: String, out: Path, closed: Map[Traffic.Window, Traffic.Agg]): Double = {
    val dates = closed.keys.map(_.eventDate).toSeq.distinct.sorted
    val premium = DailyBatch.segmentDim(spark).collect()
      .map(r => r.getAs[String]("segment") -> r.getAs[Boolean]("is_premium")).toMap
    val reportDir = b.dir(s"$tag/daily")
    val times = for (d <- dates; _ <- 1 to DailyReps) yield {
      if (b.tracer.active) b.tracer.span("daily.summarize") {
        DailyBatch.summarize(spark, out.toString, d).write.format("noop").mode("overwrite").save()
      }
      val t0 = System.nanoTime()
      b.op(s"$tag.daily_batch")(b.tracer.span("daily.run")(DailyBatch.run(spark, out.toString, d, reportDir.toString)))
      (System.nanoTime() - t0) / 1e9
    }
    for (d <- dates) {
      val want = closed.filter(_._1.eventDate == d)
        .groupMapReduce { case (w, _) => (w.country, premium.get(w.segment)) }(_._2.total)(_ + _)
      val got = spark.read.parquet(reportDir.resolve(s"metrics_$d.parquet").toString).collect()
        .map(r => (r.getAs[String]("country"), Option(r.get(r.fieldIndex("is_premium"))).map(_.asInstanceOf[Boolean])) ->
          r.getAs[Double]("total_revenue")).toMap
      val ok = got.keySet == want.keySet && want.forall { case (k, v) => close(v, got(k)) }
      b.check(s"$tag.daily_rollup.$d", ok, s"${got.size} rollup rows vs ${want.size} expected")
    }
    if (times.isEmpty) Double.NaN else Stats.median(times)
  }

  /** Per DailyBatch.run of the traced backfill: its input files, its jobs,
    * the time to compute the summary alone, and the rest of the run
    * (write and read-back). */
  private def dailyLayers(sink: Path): Unit = {
    val runs = math.max(1, b.tracer.count("daily.run"))
    val summarize = b.tracer.seconds("daily.summarize") / runs
    b.metric("daily.input_files", Bench.listFiles(sink, ".parquet").size.toDouble, "count")
    b.metric("daily.jobs", b.tracer.workUnder("daily.run").jobs.toDouble / runs, "count")
    b.metric("daily.summarize_s", summarize, "s")
    b.metric("daily.write_s", math.max(0.0, b.tracer.seconds("daily.run") / runs - summarize), "s")
  }

  /** Does the reference pipeline survive one unparseable `event_time`
    * among valid lines? It is its own op: reported, never skipped. */
  private def poisonProbe(): Boolean = {
    val d = b.dir("poison")
    val good = Traffic.generate(Traffic.Spec(b.seed + 3, 1, 20, SteadyStepMs)).flatten.flatMap(_.event)
    val poison = good.head.copy(id = "evt_poison").json.replaceFirst("\"event_time\":\"[^\"]*\"", "\"event_time\":\"garbage\"")
    Files.write(d.resolve("poison.json"), (good.map(_.json) :+ poison).mkString("", "\n", "\n").getBytes(UTF_8))
    try {
      b.tracer.span("probe.poison") {
        RefPipeline.full(spark, spark.read.text(d.toString)).write.format("noop").mode("overwrite").save()
      }
      println("probe poison: PASS the malformed event_time did not abort the query")
      true
    } catch {
      case e: Exception =>
        println(s"probe poison: FAIL ${e.toString.linesIterator.take(1).mkString.take(300)}")
        false
    }
  }

  // ------------------------------------------------------------ layers

  /** Self time of each reference stage over the backfill input, from
    * noop-materialized prefixes: stage k's time minus prefix k-1's. */
  private def etlStages(staged: Path): Unit = {
    val raw = spark.read.text(staged.toString)
    val users = RefPipeline.usersDim(spark)
    val products = RefPipeline.productsDim(spark)
    val prefixes: Seq[(String, DataFrame)] = {
      val parsed = RefPipeline.parse(raw)
      val cleaned = RefPipeline.clean(parsed)
      val enriched = RefPipeline.enrich(cleaned, users, products)
      val agg = RefPipeline.aggregate(enriched)
      Seq("read" -> raw, "parse" -> parsed, "clean" -> cleaned, "enrich" -> enriched,
        "aggregate" -> agg, "flatten" -> RefPipeline.flatten(agg))
    }
    // best of two: a single run of a sub-second prefix is too noisy to difference
    val secs = prefixes.map { case (name, df) =>
      name -> (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        b.tracer.span(s"etl.$name")(df.write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    secs.sliding(2).foreach { case Seq((_, prev), (name, t)) => b.metric(s"etl.${name}_s", math.max(0.0, t - prev), "s") }
  }

  /** Stream-layer totals over all micro-batches of the traced passes. */
  private def streamLayers(batches: Seq[StreamingQueryProgress], outs: Seq[Path]): Unit = {
    def sum(phase: String) = batches.map(Progress.duration(_, phase)).sum.toDouble
    val data = batches.filter(_.numInputRows > 0)
    b.metric("stream.source.latest_offset_ms", sum("latestOffset"), "ms")
    b.metric("stream.source.get_batch_ms", sum("getBatch"), "ms")
    b.metric("stream.engine.planning_ms", sum("queryPlanning"), "ms")
    b.metric("stream.engine.wal_commit_ms", sum("walCommit"), "ms")
    b.metric("stream.engine.commit_offsets_ms", sum("commitOffsets"), "ms")
    b.metric("stream.engine.add_batch_ms", sum("addBatch"), "ms")
    b.metric("stream.engine.batches", batches.size.toDouble, "count")
    b.metric("stream.engine.rows_per_batch",
      if (data.isEmpty) 0.0 else data.map(_.numInputRows).sum.toDouble / data.size, "rows")
    for ((op, name) <- Seq(0 -> "dedup", 1 -> "window")) {
      val ops = batches.flatMap(_.stateOperators.lift(op))
      b.metric(s"stream.state.$name.rows", ops.lastOption.fold(0L)(_.numRowsTotal).toDouble, "rows")
      b.metric(s"stream.state.$name.updated", ops.map(_.numRowsUpdated).sum.toDouble, "rows")
      b.metric(s"stream.state.$name.dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "rows")
      b.metric(s"stream.state.$name.mem_bytes", (0L +: ops.map(_.memoryUsedBytes)).max.toDouble, "bytes")
      b.metric(s"stream.state.$name.update_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms")
      b.metric(s"stream.state.$name.commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms")
    }
    val files = outs.flatMap(Bench.listFiles(_, ".parquet"))
    b.metric("stream.sink.files", files.size.toDouble, "count")
    b.metric("stream.sink.bytes", files.map(Files.size).sum.toDouble, "bytes")
    b.metric("stream.sink.rows", outs.map(o => spark.read.parquet(o.toString).count()).sum.toDouble, "rows")
    // each micro-batch as a span, its phases as child spans
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    for (p <- batches) {
      val s = Progress.startMs(p) * 1000000L + offsetNs
      val id = b.tracer.record("microbatch", 0, s, s + Progress.duration(p, "triggerExecution") * 1000000L)
      var at = s
      for (phase <- Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")) {
        val d = Progress.duration(p, phase) * 1000000L
        b.tracer.record(s"microbatch.$phase", id, at, at + d)
        at += d
      }
    }
  }
}

object StreamWorkload {
  /** Open-loop schedule: one file of [[SteadyLines]] lines every
    * [[PeriodMs]] ms (500 lines/s, about a fortieth of what the backfill
    * drains), event time at 5× wall time so windows close and the sink
    * writes during the run. A file costs one data micro-batch (about 1 s
    * on 4 cores), every second file also a no-data one that emits the
    * closed windows. The period leaves room for both even when the host
    * runs the batches half again slower, so latency measures batch cost
    * rather than a queue near saturation. */
  val PeriodMs = 3000
  val SteadyLines = 1500
  val SteadyStepMs = 10L
  /** Lead time for the generator JVM to start before file 0 is due. */
  val GenStartMs = 1500L
  val MaxGenLateMs = 1000L

  /** Backfill: [[BackfillChunks]] chunks of [[FilesPerChunk]] files ×
    * [[BackfillLines]] lines; every chunk after the first opens with
    * [[LatePerChunk]] events behind the watermark. */
  val BackfillChunks = 2
  val FilesPerChunk = 6
  val BackfillLines = 10000
  val BackfillStepMs = 60L
  val LatePerChunk = 5
  val DailyReps = 5

  /** Equal to 1e-9 relative: sums in another order differ in the last bits. */
  def close(a: Double, c: Double): Boolean = math.abs(a - c) <= 1e-9 * math.max(1.0, math.abs(a))

  /** Sink rows against expected rows, keyed by (country, segment,
    * event_date, max_event_time); rows under one key pair up by amount.
    * `total_amount` must agree to 1e-9 relative. `unique_events` must equal
    * approx_count_distinct over the expected ids, or lie within three of
    * its standard errors (rsd 0.05) of the exact count. Expected values
    * are (total, exact distinct, approx distinct). */
  def compareWindows(want: Seq[((String, String, String, Long), (Double, Long, Long))],
                     got: Seq[((String, String, String, Long), (Double, Long))]): (Boolean, String) = {
    val w = want.groupMap(_._1)(_._2).map { case (k, v) => k -> v.sortBy(_._1) }
    val g = got.groupMap(_._1)(_._2).map { case (k, v) => k -> v.sortBy(_._1) }
    val missing = w.keySet -- g.keySet
    val extra = g.keySet -- w.keySet
    val bad = (w.keySet & g.keySet).toSeq.filter { k =>
      w(k).size != g(k).size || w(k).zip(g(k)).exists { case ((wt, exact, approx), (gt, gu)) =>
        !close(wt, gt) ||
          (gu != approx && math.abs(gu - exact) > math.max(1.0, 0.15 * exact))
      }
    }
    val ok = missing.isEmpty && extra.isEmpty && bad.isEmpty
    (ok, if (ok) "" else s"; missing ${missing.take(3)}, extra ${extra.take(3)}, " +
      s"differing ${bad.take(3).map(k => k -> (w(k), g(k)))}")
  }
}
