package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Every micro-batch's progress report, as the engine publishes it. */
final class Progress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)

  def of(id: UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)

  /** The query's reports once the one for `lastBatch` has arrived (the
    * listener bus delivers them asynchronously). */
  def await(id: UUID, lastBatch: Long, timeoutMs: Long = 10000): Seq[StreamingQueryProgress] = {
    val until = System.currentTimeMillis() + timeoutMs
    while (!of(id).exists(_.batchId >= lastBatch) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    of(id)
  }
}

object Progress {

  def duration(p: StreamingQueryProgress, phase: String): Long =
    Option(p.durationMs.get(phase)).map(_.longValue).getOrElse(0L)

  /** Epoch ms at which the batch committed: its trigger start plus the
    * whole trigger's duration. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + duration(p, "triggerExecution")

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Highest committed batch id in a checkpoint, -1 if none. */
  def lastCommitted(chk: Path): Long =
    Bench.listFiles(chk.resolve("commits"), "").map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).foldLeft(-1L)(math.max)

  /** The watermark (epoch ms) the given batch evicted state with, from the
    * metadata line of the checkpoint's offset log. */
  def batchWatermarkMs(chk: Path, batch: Long): Long = {
    val text = new String(Files.readAllBytes(chk.resolve(s"offsets/$batch")), UTF_8)
    "\"batchWatermarkMs\":(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toLong)
      .getOrElse(sys.error(s"no watermark in offsets/$batch"))
  }

  /** Input file name → the micro-batch that read it. The file source logs
    * each file under its own offset; the query's offset log records, per
    * micro-batch, the source offset it read up to. */
  def fileBatches(chk: Path): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val sourceOffset = Bench.listFiles(chk.resolve("sources/0"), "").flatMap { f =>
      new String(Files.readAllBytes(f), UTF_8).linesIterator.flatMap(entry.findFirstMatchIn)
        .map(m => m.group(1).split('/').last -> m.group(2).toLong)
    }
    val upTo = Bench.listFiles(chk.resolve("offsets"), "").map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map { b =>
        val text = new String(Files.readAllBytes(chk.resolve(s"offsets/$b")), UTF_8)
        "\"logOffset\":(\\d+)".r.findFirstMatchIn(text).get.group(1).toLong -> b.toLong
      }.sorted
    sourceOffset.map { case (name, off) => name -> upTo.find(_._1 >= off).get._2 }.toMap
  }
}
