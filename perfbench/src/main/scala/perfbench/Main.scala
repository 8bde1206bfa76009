package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: runs one workload once and writes its result.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --work <dir> --out <result.json> --trace-out <spans.jsonl>
 *
 * Every session comes from [[graft.SparkSessions.recommended]], so the
 * program's engine conf is what gets measured. Set-up (session start,
 * input generation, warm-up) runs [[Bench.SetupReps]] times and reports
 * the median. With `--trace 1` the measured phase runs once untraced and
 * once traced; per-layer metrics come from the traced pass and the
 * difference is reported as the tracing overhead.
 */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = new Bench(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toInt,
      trace = kv("trace") == "1", work = Paths.get(kv("work")))
    val code = try { bench.run(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        bench.fail("run", e.toString)
        1
    } finally {
      Files.write(Paths.get(kv("out")), bench.resultJson.getBytes(UTF_8))
      if (bench.trace) Files.write(Paths.get(kv("trace-out")), bench.tracer.json.getBytes(UTF_8))
      SparkSession.getActiveSession.foreach(_.stop())
    }
    sys.exit(code)
  }
}

/** State of one benchmark run: the session, the op counts, the checks,
  * the metrics and the spans. */
final class Bench(val workload: String, val seed: Long, val seconds: Int,
                  val trace: Boolean, val work: Path) {

  val tracer = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis()}")
  val progress = new Progress
  private var session: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private var correct = true
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def spark: SparkSession = session

  /** Stop the current session (if any) and start a new one. */
  def startSession(): SparkSession = {
    if (session != null) session.stop()
    session = graft.SparkSessions.recommended("perfbench", streaming = true)
    session.streams.addListener(progress)
    session.sparkContext.addSparkListener(tracer.listener)
    session
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run one attempted op; an exception counts it failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        fail(name, e.toString.linesIterator.take(1).mkString)
        None
    }
  }

  /** An output check: one attempted op, failed and incorrect on mismatch. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (ok) println(s"check $name: PASS $detail")
    else { failed += 1; correct = false; println(s"check $name: FAIL $detail") }
  }

  def fail(name: String, why: String): Unit = {
    failed += 1; correct = false
    println(s"op $name: FAIL $why")
  }

  /** A directory under the run's work dir, empty. */
  def dir(name: String): Path = {
    val p = work.resolve(name)
    if (Files.exists(p)) Bench.deleteTree(p)
    Files.createDirectories(p)
  }

  def run(): Unit = workload match {
    case "stream"       => new StreamWorkload(this).run()
    case "corpus_batch" => new CorpusWorkload(this).run()
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Median set-up seconds over [[Bench.SetupReps]] repetitions of `rep`. */
  def setup(rep: => Unit): Unit = {
    val times = (1 to Bench.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("setup")(rep)
      (System.nanoTime() - t0) / 1e9
    }
    metric("setup_s", Stats.median(times), "s")
    println(times.map(t => f"$t%.2f").mkString("setup: ", " s, ", " s"))
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  def resultJson: String = {
    val m = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":${math.max(attempted, 1)},"failed":$failed,"metrics":{$m}}"""
  }
}

object Bench {
  val SetupReps = 3

  def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }

  def listFiles(p: Path, suffix: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
  }
}
