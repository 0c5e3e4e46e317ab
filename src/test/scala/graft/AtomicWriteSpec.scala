package graft

import java.nio.file.{FileSystemException, Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.AliasedIndex

/** AliasedIndex.writeAtomically is the one tmp-file-then-ATOMIC_MOVE
  * replace behind the alias pointer, watermarks, bulk batch files, the
  * rollover ledger and alias manifest, and the dedup-store commit
  * marker: a reader sees the old bytes or the new ones, and a failed
  * replace leaves the target as it was and no tmp file behind.
  */
class AtomicWriteSpec extends AnyFunSuite {

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("writeAtomically replaces the target and leaves no tmp file") {
    val dir = Files.createTempDirectory("graft_atomic")
    val target = dir.resolve("current")
    AliasedIndex.writeAtomically(target, "v-00001".getBytes("UTF-8"))
    assert(Files.readString(target) == "v-00001")
    AliasedIndex.writeAtomically(target, "v-00002".getBytes("UTF-8"))
    assert(Files.readString(target) == "v-00002")
    assert(names(dir) == Set("current"))
  }

  test("a failed move throws the move's exception, keeps the target, leaves no tmp file") {
    val dir = Files.createTempDirectory("graft_atomic")
    // a non-empty directory in the target's place: the rename must fail
    val target = dir.resolve("alias.json")
    Files.createDirectory(target)
    Files.writeString(target.resolve("old.txt"), "old")
    val e = intercept[FileSystemException](
      AliasedIndex.writeAtomically(target, "new".getBytes("UTF-8")))
    assert(e.getSuppressed.isEmpty, s"cleanup failed: ${e.getSuppressed.toSeq}")
    assert(Files.isDirectory(target))
    assert(names(target) == Set("old.txt"))
    assert(Files.readString(target.resolve("old.txt")) == "old")
    assert(names(dir) == Set("alias.json"), s"tmp file left behind: ${names(dir)}")
  }
}
