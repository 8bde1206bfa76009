package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Traffic._

class TrafficSpec extends AnyFunSuite {

  private val spec = Spec(seed = 7, files = 12, linesPerFile = 500, eventStepMs = 60,
    filesPerChunk = 3, latePerChunk = 4)

  test("the same seed gives byte-identical files and the same expected result") {
    val a = generate(spec)
    val b = generate(spec)
    assert(a.map(fileText) == b.map(fileText))
    val segments = Map(1 -> "s1", 2 -> "s2", 3 -> "s2", 4 -> "s1", 5 -> "s3")
    assert(aggregate(windowed(a.flatten, segments)) == aggregate(windowed(b.flatten, segments)))
    assert(generate(spec.copy(seed = 8)).map(fileText) != a.map(fileText))
  }

  test("the traffic carries the producer's dirt and stays valid") {
    val files = generate(spec)
    val lines = files.flatten
    assert(files.forall(_.size == spec.linesPerFile))
    val events = lines.flatMap(_.event)
    assert(lines.count(_.event.isEmpty) > 0, "malformed lines")
    assert(events.exists(_.amountCents.isEmpty), "null amounts")
    assert(events.exists(_.country.isEmpty), "null countries")
    assert(events.map(_.userId).toSet == (1 to 5).toSet)
    assert(events.map(_.productId).toSet == (1 to 8).toSet)
    assert(lines.sliding(2).exists { case Seq(x, y) => x.event.isDefined && x == y }, "adjacent duplicates")
    // every chunk after the first opens with its late events, each behind
    // the watermark the previous chunks set; no other event is
    var maxBefore = Long.MinValue
    for ((f, k) <- files.zipWithIndex) {
      val late = f.filter(_.late)
      assert(late.size == (if (k > 0 && k % spec.filesPerChunk == 0) spec.latePerChunk else 0))
      late.flatMap(_.event).foreach(e => assert(e.timeMs < maxBefore - WatermarkMs))
      if (k > 0) f.filterNot(_.late).flatMap(_.event).foreach(e => assert(e.timeMs > maxBefore - WatermarkMs))
      maxBefore = math.max(maxBefore, f.filterNot(_.late).flatMap(_.event).map(_.timeMs).max)
    }
  }

  test("expected result of a tiny hand-computed input") {
    def ev(id: String, user: Int, cents: Option[Int], sec: Long, country: Option[String]) =
      Event(id, user, 1, cents, BaseMs + sec * 1000, country, None)
    val e1 = ev("a", 1, Some(1000), 10, Some("in"))
    val e2 = ev("b", 2, None, 40, None)
    val e3 = ev("z", 1, Some(9900), 5, Some("IN"))
    val e4 = ev("c", 1, Some(550), 45, Some("IN"))
    val lines = Seq(
      Line(e1.json, Some(e1), late = false),
      Line(e1.json, Some(e1), late = false),           // duplicate: dropped
      Line(e2.json, Some(e2), late = false),
      Line("{\"event_id\":\"x\",", None, late = false), // malformed: dropped
      Line(e3.json, Some(e3), late = true),            // behind the watermark: dropped
      Line(e4.json, Some(e4), late = false))
    val got = aggregate(windowed(lines, Map(1 -> "starter", 2 -> "growth")))
    def w(sec: Long, c: String, s: String) = Window(BaseMs + sec * 1000, c, s)
    def t(sec: Long) = BaseMs + sec * 1000
    assert(got == Map(
      w(-30, "IN", "starter") -> Agg(10.0, 1, t(10)),
      w(0, "IN", "starter") -> Agg(15.5, 2, t(45)),
      w(30, "IN", "starter") -> Agg(5.5, 1, t(45)),
      w(0, "UNKNOWN", "growth") -> Agg(0.0, 1, t(40)),
      w(30, "UNKNOWN", "growth") -> Agg(0.0, 1, t(40))))
    assert(w(0, "IN", "starter").eventDate == "2024-01-01")
    assert(w(-30, "IN", "starter").eventDate == "2024-01-01")
  }

  test("event JSON matches the payload schema the pipeline parses") {
    val e = Event("evt_1", 3, 7, Some(1205), BaseMs + 1500, Some("US"), Some("mobile "))
    assert(e.json == """{"event_id":"evt_1","user_id":3,"product_id":7,"amount":12.05,""" +
      """"event_time":"2024-01-01T00:00:01.500Z","country":"US","device":"mobile "}""")
    assert(e.copy(amountCents = None, country = None, device = None).json.contains(
      """"amount":null,"event_time":"2024-01-01T00:00:01.500Z","country":null,"device":null"""))
  }

  test("window comparison pairs rows and applies the tolerances") {
    val k = ("IN", "starter", "2024-01-01", 1L)
    val want = Seq(k -> (100.0, 80L, 78L))
    assert(StreamWorkload.compareWindows(want, Seq(k -> (100.0 + 1e-8, 78L)))._1)   // approx match
    assert(StreamWorkload.compareWindows(want, Seq(k -> (100.0, 90L)))._1)          // within 3 sd
    assert(!StreamWorkload.compareWindows(want, Seq(k -> (100.0, 95L)))._1)
    assert(!StreamWorkload.compareWindows(want, Seq(k -> (100.01, 78L)))._1)
    assert(!StreamWorkload.compareWindows(want, Nil)._1)
    assert(!StreamWorkload.compareWindows(want, Seq(k -> (100.0, 78L), k -> (1.0, 1L)))._1)
  }
}
