package layerbench

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Host noise and scratch-space probes. Each reading is recorded next to
  * the pass it belongs to, so a noisy pass can be explained; none of them
  * gates a result. Unreadable sources (non-Linux hosts) read as -1. */
object Host {

  /** (total, steal) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    Try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator
        .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((-1L, -1L))

  /** Steal as a percentage of all cpu time between two readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (a._1 < 0 || b._1 <= a._1) -1.0
    else 100.0 * (b._2 - a._2) / (b._1 - a._1)

  /** 1-minute load average. */
  def load1(): Double =
    Try(Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble)
      .getOrElse(-1.0)

  /** Other JVMs on the host, excluding this process and its ancestors. */
  def siblingJvms(): Int = Try {
    val mine = Iterator.iterate(Option(ProcessHandle.current()))(
      _.flatMap(h => Option(h.parent().orElse(null))))
      .takeWhile(_.isDefined).map(_.get.pid()).toSet
    val procs = Files.list(Paths.get("/proc"))
    try procs.iterator().asScala.count { p =>
      val name = p.getFileName.toString
      name.forall(_.isDigit) && !mine.contains(name.toLong) &&
        Try(Files.readAllBytes(p.resolve("cmdline"))).toOption
          .exists(b => new String(b).split('\u0000').headOption.exists(_.endsWith("java")))
    } finally procs.close()
  }.getOrElse(-1)

  /** Bytes of the regular files under `root` last modified at or after
    * `sinceMs`. Spark deletes shuffle files while the tree is walked, so
    * entries that vanish are skipped. */
  def bytesSince(root: Path, sinceMs: Long): Long = {
    var total = 0L
    if (Files.isDirectory(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile && a.lastModifiedTime.toMillis >= sinceMs) total += a.size
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    total
  }

  /** The entries directly under `dir`. */
  def entries(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sorted finally s.close()
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(p); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
          Try(Files.deleteIfExists(d)); FileVisitResult.CONTINUE
        }
      })
}
