package graft.engine

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** Scratch directories that outlive the call that makes them. A query
  * that returns a frame over files it wrote cannot delete them when it
  * returns, because the frame reads them lazily; every such directory is
  * made here and deleted when the JVM exits, by one shutdown hook. */
object Scratch {

  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => FileUtils.deleteQuietly(d))))

  /** A new directory under `java.io.tmpdir`, deleted at JVM exit. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.toString
  }
}
