package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Local directory-tree helpers for resetting sinks between passes. */
object Dirs {

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.toVector finally s.close()
  }

  /** Recursively copy `from` to `to` (which must not exist yet). */
  def copy(from: Path, to: Path): Unit = walk(from).foreach { p =>
    val dst = to.resolve(from.relativize(p).toString)
    if (Files.isDirectory(p)) Files.createDirectories(dst)
    else Files.copy(p, dst)
  }

  /** Recursively delete `root`; a missing root is a no-op. */
  def delete(root: Path): Unit =
    if (Files.exists(root))
      walk(root).reverse.foreach(p => Files.delete(p))

  /** Total size of the regular files under `root`. */
  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else walk(root).filter(Files.isRegularFile(_)).map(Files.size).sum
}
