package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** File-tree snapshots, diffed before and after a span to see what it wrote. */
object Tree {
  /** Size of every regular file under `root`, by path; empty when absent. */
  def sizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Files present in `after` but not in `before`. */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filter { case (p, _) => !before.contains(p) }

  def bytesAdded(before: Map[String, Long], after: Map[String, Long]): Long =
    added(before, after).values.sum

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }
}
