package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/**
 * The open-loop load generator, run as its own single-threaded process so
 * that a stalled or GC-paused engine cannot slow the schedule.
 *
 * It builds every file from the seed before the clock starts, then at
 * `t0 + k * periodMs` writes file k beside the source directory and
 * renames it in. The log records, per file, the scheduled and the actual
 * hand-over time (epoch ms) and the line count.
 *
 * Usage: GenMain <srcDir> <stageDir> <logFile> <t0Ms> <periodMs>
 *                <seed> <files> <linesPerFile> <eventStepMs>
 */
object GenMain {

  def main(args: Array[String]): Unit = {
    val Array(src, stage, log, t0s, periods, seeds, filess, liness, steps) = args
    val (t0, period) = (t0s.toLong, periods.toLong)
    val files = Traffic.generate(Traffic.Spec(seeds.toLong, filess.toInt, liness.toInt, steps.toLong))
      .map(f => Traffic.fileText(f).getBytes(UTF_8) -> f.size)
    val rows = new StringBuilder
    for (((bytes, n), k) <- files.zipWithIndex) {
      val due = t0 + k * period
      var wait = due - System.currentTimeMillis()
      while (wait > 0) { Thread.sleep(wait); wait = due - System.currentTimeMillis() }
      val name = f"part-$k%05d.json"
      val aside: Path = Paths.get(stage, name)
      Files.write(aside, bytes)
      Files.move(aside, Paths.get(src, name), StandardCopyOption.ATOMIC_MOVE)
      rows ++= s"$name $due ${System.currentTimeMillis()} $n\n"
    }
    Files.write(Paths.get(log), rows.toString.getBytes(UTF_8))
  }
}
