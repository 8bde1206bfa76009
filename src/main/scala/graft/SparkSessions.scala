package graft

import org.apache.spark.sql.SparkSession

/**
 * Recommended session configuration for this engine — the knobs that matter
 * at 100 TB, applied consistently by the CLI entry points (StreamRunner,
 * DailyBatch). The driver-owned mains (Verify/Bench) keep their own minimal
 * builders per the driver contract.
 *
 * Rationale per knob:
 *  - master: spark-submit's `--master` wins (code-set master would override
 *    it); `SPARK_MASTER` env overrides for ad-hoc runs; `local[4]` only as
 *    the last-resort default for bare `sbt runMain`.
 *  - shuffle partitions: `SPARK_GRAFT_CPUS` if set, else the local master's
 *    thread count — on a cluster, set it to 2–3× total executor cores and
 *    let AQE coalesce the excess.
 *  - AQE + coalesce + skew-join + 128 MB scan partitions: Spark 4 defaults,
 *    pinned here so a deployment-side conf file can't silently regress them
 *    (the reference pins the same AQE flags, spark/app.py:20–22).
 *  - streaming: the [[Streaming]] map (rationale on the map).
 *  - UTC session timezone: zone-independent, oracle-comparable timestamps.
 *  - runtime bloom-filter injection OFF: the rule sizes the application
 *    side from plan statistics, and this engine's shared snapshot
 *    artifacts (checkpointed LogicalRDDs — SnapshotCache) carry NO stats,
 *    so every snapshot-probing join looks like a multi-TB scan and gets a
 *    fixed 8M-bit bloom that rides every downstream task binary (~1 MiB
 *    per stage, the r11 "large task binary" bench warnings) while pruning
 *    nothing (the probes are FK-complete by construction — measured on
 *    knn_label_eval, the only injection across all 200+ registered
 *    queries). Where a semi-join reduction IS profitable this engine
 *    writes it explicitly (left_semi dims, posting-list prefilters,
 *    broadcast hints), so the automatic rule only ever fires on the
 *    misinformed cases. Re-enable per-deployment if a workload relies on
 *    inferred reductions over well-statted scans.
 */
object SparkSessions {

  /** The state-store and checkpoint conf every streaming session gets
    * (`recommended(streaming = true)` applies it; tests that exercise the
    * shipped streaming config set exactly this map). Each micro-batch of a
    * checkpointed query writes an offset-log entry, a commit-log entry, a
    * sink-log entry and one state file per partition of each stateful
    * operator, so on small batches these writes, not the data work, set
    * the batch floor.
    *
    *  - RocksDB state store: dedup keys, open windows, sessions and join
    *    buffers live off-heap on local disk instead of on the JVM heap.
    *    The provider is recorded in the checkpoint and cannot change across
    *    restarts — it only takes effect for NEW checkpoints.
    *  - changelog checkpointing: a state commit uploads one changelog file
    *    per partition (the batch's puts and deletes) instead of a zipped
    *    RocksDB snapshot; snapshots are taken in the background every
    *    `minDeltasForSnapshot` versions. Commit cost then scales with the
    *    batch, not the state.
    *  - FileSystem-based checkpoint writer: Spark's default writer goes
    *    through Hadoop's `FileContext`, whose local path, without Hadoop
    *    native IO (`NativeIO.isAvailable = false`, the stock jars), forks a
    *    `chmod`/`stat` process for every file it creates or renames. On a
    *    4-core Linux host (JDK 17, Hadoop 3.4.2) one atomic checkpoint
    *    write cost about 40 ms and 20 process forks that way, and about
    *    9 ms and 4 forks through the `FileSystem` API; a micro-batch of
    *    the reference pipeline makes dozens of such writes (four logs plus
    *    state files for every shuffle partition of both stateful
    *    operators). The `FileSystem` writer is also safe on HDFS and object-store
    *    connectors: it writes a temp file and renames it; HDFS's rename
    *    fails (returns false) when the target exists instead of replacing
    *    it, and `renameTempFile` handles that case — a re-run batch whose
    *    file is already there keeps the existing (identical) file, a
    *    non-overwrite write raises "already exists". It is Spark's own
    *    fallback when `FileContext` is unavailable for a scheme.
    *
    * Do NOT also set `fs.file.impl` to `RawLocalFileSystem` to skip the
    * checksum layer: RocksDB state commits expect the checksummed
    * `LocalFileSystem` for `file:` paths and then fail with a
    * `ClassCastException` (`… cannot be cast to LocalFileSystem`). */
  val Streaming: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  private val LocalMaster = "local\\[(\\d+)(?:,\\d+)?\\]".r
  private val LocalStar = "local(?:\\[\\*(?:,\\d+)?\\])?".r

  def recommended(appName: String, streaming: Boolean = false): SparkSession = {
    val master = sys.env.get("SPARK_MASTER")
      .orElse(sys.props.get("spark.master"))
      .getOrElse("local[4]")
    val defaultParts = master match {
      case LocalMaster(n) => n
      case LocalStar()    => Runtime.getRuntime.availableProcessors().toString
      case _              => "200"   // cluster: expect SPARK_GRAFT_CPUS or AQE
    }
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultParts)
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // corpus events.parquet is TIMESTAMP_NS; set at build time (never as
      // a loader side effect — see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // FAIR job scheduling for concurrent-job phases (SnapshotBuild);
      // single-query execution is unaffected (FAIR ≡ FIFO for one job)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
    // only set the master when spark-submit didn't already provide one
    val withMaster =
      if (sys.props.contains("spark.master") && sys.env.get("SPARK_MASTER").isEmpty) b
      else b.master(master)
    val spark = (if (streaming) withMaster.config(Streaming) else withMaster).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
