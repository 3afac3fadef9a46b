package graft

import org.scalatest.{BeforeAndAfterEach, Suite}

import graft.tableio.TableIO

/** Fixture dirs at fixed paths: emptied when a test asks for one and
  * deleted after that test, so a run leaves none behind.
  */
trait FixtureDirs extends BeforeAndAfterEach { this: Suite =>
  private val made = scala.collection.mutable.ArrayBuffer.empty[String]

  /** `path`, emptied now and deleted after the running test. */
  protected def fixtureDir(path: String): String = {
    TableIO.deleteRecursive(java.nio.file.Paths.get(path))
    made += path
    path
  }

  override def afterEach(): Unit =
    try super.afterEach()
    finally {
      made.foreach(d => TableIO.deleteRecursive(java.nio.file.Paths.get(d)))
      made.clear()
    }
}
