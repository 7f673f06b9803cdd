package graft.sinks

import graft.operators.WordCount
import org.apache.spark.sql.DataFrame

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using

/** K7 — the reference's formatted text sink (main.cpp:226-266): a header
  * line then one `word -> count` row per line.
  *
  * Two modes:
  *   - [[write]]: distributed — Spark text writer, one part file per
  *     partition. This is the 100 TB path; the header is a driver-side
  *     `_HEADER` sidecar so the data write stays fully parallel.
  *   - [[writeSingleFile]]: exact reference file shape (header + rows in
  *     one ordered file). The sort, the formatting and the UTF-8
  *     encoding run in Spark's text writer on every core, into part
  *     files next to the target; the driver then only concatenates
  *     those bytes in partition order, so its memory stays O(1)
  *     whatever the output size. The target is a local path that the
  *     executors write to as well (local mode or a shared mount).
  */
object FormattedTextSink {

  val HeaderAlpha = "=== Final Word Counts (A → Z) ==="
  val HeaderFreq  = "=== Final Word Counts (High → Low) ==="

  private val PartFile = """part-(\d+)-.*""".r

  /** Distributed write of pre-formatted single-column rows. */
  def write(lines: DataFrame, dir: String, header: String): Unit = {
    lines.write.mode("overwrite").text(dir)
    Files.writeString(Paths.get(dir, "_HEADER"), header + "\n")
  }

  /** Single ordered file matching the reference byte-for-byte
    * (main.cpp:231-233,262-265). Preserves the DataFrame's sort order:
    * a global sort range-partitions its rows, so part `i` holds only
    * rows that sort before those of part `i + 1`, and appending the
    * parts by partition number gives the sorted file. An existing file
    * at `path` is overwritten. */
  def writeSingleFile(sorted: DataFrame, path: String, header: String): Unit = {
    val target: Path = Paths.get(path).toAbsolutePath
    Files.createDirectories(target.getParent)
    Using.resource(new PartsDir(target)) { parts =>
      WordCount.formatted(sorted).write
        .option("compression", "none")
        .option("maxRecordsPerFile", 0L)
        .text(parts.dir.toUri.toString)
      concat(header, orderedParts(parts.dir), target)
    }
  }

  /** The text writer's output directory, a hidden sibling of `target`;
    * Spark creates it, closing deletes it. A failed write's cleanup
    * error is attached to the write's exception, not raised instead. */
  private final class PartsDir(target: Path) extends AutoCloseable {
    val dir: Path = target.resolveSibling(s".sink-${UUID.randomUUID()}")
    def close(): Unit = if (Files.exists(dir)) {
      val ws = Files.walk(dir)
      val paths = try ws.iterator().asScala.toVector finally ws.close()
      paths.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }
  }

  /** The text writer's part files in partition order. The number is
    * parsed, not compared as text: past 99999 it grows a sixth digit.
    * Gaps are fine: an empty partition may write no file. */
  private def orderedParts(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    val files = try ls.iterator().asScala.toVector finally ls.close()
    files.flatMap { f =>
      f.getFileName.toString match {
        case PartFile(n) => Some(n.toInt -> f)
        case _           => None
      }
    }.sortBy(_._1).map(_._2)
  }

  /** `header`, a newline, then the bytes of `parts` in order. */
  private def concat(header: String, parts: Seq[Path], target: Path): Unit = {
    val out = FileChannel.open(target, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val head = ByteBuffer.wrap(
        (header + "\n").getBytes(StandardCharsets.UTF_8))
      while (head.hasRemaining) out.write(head)
      parts.foreach { p =>
        val in = FileChannel.open(p, StandardOpenOption.READ)
        try {
          val size = in.size()
          var pos = 0L
          while (pos < size) pos += in.transferTo(pos, size - pos, out)
        } finally in.close()
      }
    } finally out.close()
  }
}
