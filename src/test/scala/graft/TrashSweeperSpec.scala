package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FsUtil, TrashSweeper}

/** [[TrashSweeper]] is the single owner of trash deletion: the startup
  * listing, [[TrashSweeper.clearAsync]]'s queued deletes and
  * [[TrashSweeper.sweepStale]] together delete each entry exactly once,
  * and an entry that survives its delete is counted. */
class TrashSweeperSpec extends AnyFunSuite {

  private def tree(parent: File, name: String): File = {
    val d = new File(parent, name)
    new File(d, "sub").mkdirs()
    Files.writeString(new File(d, "sub/part-0.parquet").toPath, "x")
    Files.writeString(new File(d, "part-1.parquet").toPath, "y")
    d
  }

  test("pre-existing trash, clearAsync and sweepStale delete each entry once") {
    val base = Files.createTempDirectory("trash").toFile
    val root = new File(base, "root")
    tree(root, "old1"); tree(root, "old2")
    val deletes = new ConcurrentHashMap[String, Int]()
    val sweeper = new TrashSweeper(root, f => {
      deletes.merge(f.getName, 1, _ + _)
      FsUtil.deleteRecursively(f)
    })
    val fixtures = Seq(tree(base, "fix1"), tree(base, "fix2"))
    fixtures.foreach(sweeper.clearAsync)
    assert(fixtures.forall(!_.exists()))
    sweeper.sweepStale()
    assert(root.listFiles.isEmpty)
    val names = deletes.asScala
    assert(names.keySet.count(_.startsWith("old")) === 2)
    assert(names.keySet.count(_.startsWith("fix")) === 2)
    assert(names.values.forall(_ == 1), names)
    assert(sweeper.failedDeletes === 0L)
  }

  test("an entry the sweeper cannot delete is counted, not dropped") {
    val root = Files.createTempDirectory("trash").toFile
    val sweeper = new TrashSweeper(root, f =>
      if (f.getName != "stuck") FsUtil.deleteRecursively(f))
    sweeper.sweepStale() // the startup listing saw an empty root
    tree(root, "stuck"); tree(root, "gone")
    sweeper.sweepStale()
    assert(root.list.toSeq === Seq("stuck"))
    assert(sweeper.failedDeletes === 1L)
  }
}
