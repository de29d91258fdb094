package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples above the q-quantile of n samples. */
  def beyond(n: Int, q: Double): Int = n - 1 - (q * (n - 1)).toInt
}

/** Bytes on disk, counted by inode: the catalog's copy-on-write versions
  * hard-link unchanged files, so a file shared by two versions counts
  * once. */
object Disk {
  private def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
    }

  private def ino(p: Path): Any = Files.getAttribute(p, "unix:ino")

  /** inode -> size of every file under `root`. */
  def inodes(root: Path): Map[Any, Long] =
    files(root).map(p => ino(p) -> Files.size(p)).toMap

  def addedBytes(before: Map[Any, Long], after: Map[Any, Long]): Long =
    after.iterator.filterNot(e => before.contains(e._1)).map(_._2).sum

  /** What one commit wrote: the files of the new version that the
    * previous version does not share, split into data and `_index/`. */
  final case class Commit(dataBytes: Long, dataFiles: Int, indexBytes: Long)

  def commit(root: Path, container: String, prev: Int, v: Int): Commit = {
    val dir = root.resolve("data").resolve(s"$container@v$v")
    val shared = inodes(root.resolve("data").resolve(s"$container@v$prev")).keySet
    val fresh = files(dir).filterNot(p => shared.contains(ino(p)))
    val (index, data) = fresh.partition(p => dir.relativize(p).startsWith("_index"))
    Commit(data.map(Files.size).sum, data.length, index.map(Files.size).sum)
  }

  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, spans.map(s =>
      s"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").asJava)
  }
}

/** The run's output: notes and metrics as text lines, then one JSON
  * record as the last line. Only [[metric]] values enter the record;
  * [[info]] values are printed for the reader. */
final class Report {
  private val lines = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted, failed = 0L

  private def line(kind: String, name: String, value: Double, unit: String, detail: String): Unit =
    lines += s"$kind $name = $value $unit" + (if (detail.isEmpty) "" else s"  ($detail)")

  def metric(name: String, value: Double, unit: String, detail: String = ""): Unit = {
    val v = if (value.isNaN || value.isInfinite) 0.0 else value
    metrics(name) = (v, unit)
    line("metric", name, v, unit, detail)
  }

  def info(name: String, value: Double, unit: String, detail: String = ""): Unit =
    line("info", name, value, unit, detail)

  def note(s: String): Unit = lines += s

  def record(samples: Seq[Main.OpSample]): Unit = {
    attempted += samples.length
    val bad = samples.filter(_.failure.nonEmpty)
    failed += bad.length
    bad.take(5).foreach(s => note(s"FAILED ${s.kind}: ${s.failure.get}"))
  }

  def print(): Unit = {
    info("failed_frac", failed.toDouble / math.max(1L, attempted), "ratio",
      s"$failed of $attempted ops, warm-up included")
    lines.foreach(println)
    val ms = metrics.map { case (n, (v, u)) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
  }
}
