package graftbench

import java.nio.file.{Files => JFiles, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Plain file-system helpers for the benchmark's scratch directory. */
object Files {
  private def walk(p: Path): Vector[Path] =
    if (!JFiles.exists(p)) Vector.empty
    else { val s = JFiles.walk(p); try s.iterator().asScala.toVector finally s.close() }

  def write(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(path); JFiles.createDirectories(p.getParent)
    JFiles.write(p, bytes); ()
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from); val dst = Paths.get(to)
    walk(src).foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (JFiles.isDirectory(p)) JFiles.createDirectories(q)
      else JFiles.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def delete(path: String): Unit =
    walk(Paths.get(path)).reverse.foreach(p => JFiles.deleteIfExists(p))

  /** Bytes of the data files under `paths` (checksums and markers
    * excluded), in MB. */
  def sizeMb(paths: String*): Double =
    paths.flatMap(p => walk(Paths.get(p))).filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.map(JFiles.size(_)).sum / 1e6

  /** Lines in the data files under `path`. */
  def lineCount(path: String): Long =
    walk(Paths.get(path)).filter { p =>
      val n = p.getFileName.toString
      JFiles.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.map { p =>
      val s = JFiles.lines(p); try s.count() finally s.close()
    }.sum
}
