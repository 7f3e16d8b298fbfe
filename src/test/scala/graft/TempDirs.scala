package graft

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories a suite creates, deleted with their trees when the suite
  * ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = mutable.ArrayBuffer.empty[File]

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try dirs.foreach(FileUtils.deleteQuietly) finally super.afterAll()
}
