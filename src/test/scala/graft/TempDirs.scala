package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite: each [[tempDir]] is a fresh dir under
  * `java.io.tmpdir`, deleted with everything in it when the suite ends,
  * so test runs leave no dirs of their own behind. Suite scope rather
  * than test scope, because some fixtures (lazy vals) outlive one test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[Path]

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => TempDirs.delete(d)) finally super.afterAll()
}

object TempDirs {
  /** Deletes `root` and everything under it (children first). */
  def delete(root: Path): Unit = if (Files.exists(root)) {
    val all = Files.walk(root)
    try all.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally all.close()
  }
}
