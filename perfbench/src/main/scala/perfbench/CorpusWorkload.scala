package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.util.SnapshotBuild

/**
 * `corpus_batch`: one caller, closed loop, no streaming state. It builds
 * every shared snapshot artifact (`SnapshotBuild.all`), then runs each
 * query of [[CorpusWorkload.Queries]] once, timed while it writes all of
 * its output as Parquet, so no output column can be pruned away as a
 * `count()` would let Catalyst do. `run.py` then checks each output
 * against the query's DuckDB oracle SQL over the same corpus.
 */
final class CorpusWorkload(b: Bench) {
  import CorpusWorkload._

  private def spark: SparkSession = b.spark

  def run(): Unit = {
    var dir = ""
    b.setup {
      b.startSession()
      dir = b.dir("corpus").toString
      Corpus.write(spark, dir, b.seed)
      SparkEntry.queries("q_clean")(spark, dir).write.mode("overwrite").parquet(b.dir("warm").toString)
    }
    val gc0 = b.gcMs
    if (b.trace) {
      val traced = b.tracer.span("corpus")(pass(dir, snapshot = true))
      // untraced after traced: the second run of each query is warmer, so
      // the overhead reads high rather than low
      val plain = b.tracer.untraced(pass(dir, snapshot = false))
      b.metric("query_geomean_s", Stats.geomean(traced.perQuery.values.toSeq), "s")
      b.metric("trace.overhead_pct", 100.0 * (traced.mixS - plain.mixS) / plain.mixS, "%")
      for ((artifact, s) <- traced.artifacts) b.metric(s"snapshot.${artifact}_s", s, "s")
      b.metric("snapshot.jobs", b.tracer.workUnder("snapshot").jobs.toDouble, "count")
      for (q <- Queries) {
        b.metric(s"query.${q}_s", traced.perQuery(q), "s")
        b.metric(s"query.$q.jobs", b.tracer.workUnder(s"query.$q").jobs.toDouble, "count")
      }
      val mix = Queries.map(q => b.tracer.workUnder(s"query.$q")).reduce(_ + _)
      val wall = b.tracer.seconds("queries")
      b.metric("mix.tasks", mix.tasks.toDouble, "count")
      b.metric("mix.task_time_over_wall", mix.taskMs / 1000.0 / wall, "ratio")
      b.metric("mix.shuffle_read_bytes", mix.shuffleRead.toDouble, "bytes")
      b.metric("mix.shuffle_write_bytes", mix.shuffleWrite.toDouble, "bytes")
      b.metric("mix.spill_bytes", mix.spill.toDouble, "bytes")
      b.metric("mix.input_bytes", mix.input.toDouble, "bytes")
      b.metric("jvm.gc_ms", (b.gcMs - gc0).toDouble, "ms")
    } else {
      val r = pass(dir, snapshot = true)
      val times = Queries.map(r.perQuery)
      b.metric("p50_ms", 1000 * Stats.median(times), "ms")
      b.metric("busy_s", r.mixS, "s")
      b.metric("batch_s", r.snapshotS, "s")
      b.metric("peak_rss_mb", b.peakRssMb, "MB")
      println(f"corpus: snapshot build ${r.snapshotS}%.2f s, ${Queries.size} queries: " +
        f"mix ${r.mixS}%.2f s, geomean ${Stats.geomean(times)}%.3f s, median ${Stats.median(times)}%.3f s")
    }
    writeOracle(dir)
  }

  private final case class Pass(snapshotS: Double, artifacts: Seq[(String, Double)],
                                perQuery: Map[String, Double], mixS: Double)

  /** The artifact build (unless `snapshot` is off), then each query's
    * wall time to write all of its output as Parquet. */
  private def pass(dir: String, snapshot: Boolean): Pass = {
    val out = b.dir("check")
    val t0 = System.nanoTime()
    val artifacts = if (!snapshot) Nil else
      b.op("snapshot_build")(b.tracer.span("snapshot")(SnapshotBuild.all(spark, dir))).getOrElse(Nil)
    val snapshotS = (System.nanoTime() - t0) / 1e9
    val perQuery = b.tracer.span("queries") {
      Queries.map { q =>
        val q0 = System.nanoTime()
        b.op(q)(b.tracer.span(s"query.$q") {
          SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(out.resolve(q).toString)
        })
        q -> (System.nanoTime() - q0) / 1e9
      }.toMap
    }
    Pass(snapshotS, artifacts, perQuery, Queries.map(perQuery).sum)
  }

  /** Each query's oracle SQL beside its output, for the DuckDB check
    * `run.py` makes. */
  private def writeOracle(dir: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Queries.map { q =>
      val sql = oracle.getOrElse(q, "")
        .replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\t", "\\t")
      s""""$q":"$sql""""
    }.mkString("{", ",", "}")
    val check = b.work.resolve("check")
    Files.write(check.resolve("oracle_sql.json"), json.getBytes(UTF_8))
    Files.write(check.resolve("corpus_dir"), dir.getBytes(UTF_8))
  }
}

object CorpusWorkload {
  /** Chosen so the list spans the job floor (many small jobs), scans,
    * shuffles, the text and vector families, and `stats_profile`, whose
    * cost a `count()` hides. */
  val Queries: Seq[String] = Seq(
    "q_clean", "q_enrich", "q_window_agg", "q_dedup", "q_daily_rank", "q_premium_rollup",
    "q_sessionize", "q1_pricing", "q3_top_orders", "q5_nation_revenue", "q9_profit",
    "q21_sole_late", "q_mad_outliers", "q_ref_integrity", "dedup_exact", "dedup_minhash",
    "text_tokens", "text_tfidf", "knn_brute", "stats_profile")
}
