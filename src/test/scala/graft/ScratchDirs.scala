package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Scratch dirs a suite makes under the temp root, deleted when the
  * suite ends (pass or fail), so a test run leaves no `graft_*` dirs
  * behind. */
trait ScratchDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = new ConcurrentLinkedQueue[File]

  /** A fresh temp dir named `<prefix><random>`, deleted in afterAll. */
  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try made.forEach(d => graft.core.Fixtures.deleteRecursively(d))
    finally super.afterAll()
}
