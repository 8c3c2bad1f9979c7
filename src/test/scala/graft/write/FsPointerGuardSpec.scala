package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The [[VersionPointer]] contract, pinned directly against both
  * arbitration modes — [[FsVersionPointer]] and [[CasVersionPointer]]
  * over an [[InMemoryConditionalStore]] — for main and for a branch,
  * plus the Fs slot guards the end-to-end SnapshotSpec pins cannot
  * reach in isolation. Package graft.write so the `private[write]`
  * pointers are constructible directly. */
class FsPointerGuardSpec extends AnyFunSuite {
  import Branch.{Main, Named}

  private def tempManifestDir(): Path = new Path(
    java.nio.file.Files.createTempDirectory("graft_ptr").toString, "_manifests")

  private def freshPointer(): (FsVersionPointer, Path, FileSystem) = {
    val dir = tempManifestDir()
    val conf = new Configuration()
    val fs = dir.getFileSystem(conf)
    (new FsVersionPointer(fs, conf, dir), dir, fs)
  }

  private def freshCasPointer(store: ConditionalStore): (CasVersionPointer, Path, FileSystem) = {
    val dir = tempManifestDir()
    val conf = new Configuration()
    val fs = dir.getFileSystem(conf)
    (new CasVersionPointer(fs, conf, dir, store), dir, fs)
  }

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** The manifest dir's files, checksum twins aside. */
  private def files(fs: FileSystem, dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName).filterNot(_.startsWith(".")).toSet

  /** A manifest's body, without CAS mode's `parentfile=` chain line. */
  private def body(fs: FileSystem, p: Path): String =
    SnapshotTable.readText(fs, p).linesIterator
      .filterNot(_.startsWith("parentfile=")).mkString("\n")

  private val modes: Seq[(String, () => (VersionPointer, Path, FileSystem))] = Seq(
    "Fs" -> (() => freshPointer()),
    "CAS" -> (() => freshCasPointer(
      InMemoryConditionalStore(s"ptr_${java.util.UUID.randomUUID}"))))

  for ((mode, make) <- modes; b <- Seq[Branch](Main, Named("dev"))) {
    val on = if (b == Main) "main" else "a branch"

    /** A pointer whose lineage `b` is ready for its version 1 (a branch
      * hangs off a committed main). */
    def ready(): (VersionPointer, Path, FileSystem) = {
      val (vp, dir, fs) = make()
      if (b != Main) assert(vp.publish(Main, 1, bytes("m1")))
      (vp, dir, fs)
    }

    test(s"$mode pointer, $on: a refused publish leaves no manifest file and keeps the head") {
      val (vp, dir, fs) = ready()
      assert(vp.publish(b, 1, bytes("one")))
      assert(vp.publish(b, 2, bytes("two")))
      val before = files(fs, dir)
      // a writer computed against head 1: refused, no file, head unmoved
      assert(!vp.publish(b, 2, bytes("late")))
      assert(files(fs, dir) == before, s"refused publish left debris: ${files(fs, dir) -- before}")
      assert(vp.head(b).contains(2))
      assert(vp.versions(b) == Seq(1, 2))
      assert(body(fs, vp.manifestPath(b, 2)) == "two")
    }

    test(s"$mode pointer, $on: rewriteAll keeps every version readable with new contents") {
      val (vp, _, fs) = ready()
      (1 to 3).foreach(v => assert(vp.publish(b, v, bytes(s"old$v"))))
      vp.rewriteAll(b, (1 to 3).map(v => v -> bytes(s"new$v")).toMap)
      assert(vp.head(b).contains(3))
      assert(vp.versions(b) == Seq(1, 2, 3))
      (1 to 3).foreach(v => assert(body(fs, vp.manifestPath(b, v)) == s"new$v"))
      // the rewritten lineage keeps committing on top of its head
      assert(vp.publish(b, 4, bytes("four")))
      assert(vp.versions(b) == Seq(1, 2, 3, 4))
    }
  }

  for ((mode, make) <- modes)
    test(s"$mode pointer: a stale branch publish after a drop and re-create is refused") {
      val (vp, _, _) = make()
      assert(vp.publish(Main, 1, bytes("m1")))
      val dev = Named("dev")
      (1 to 5).foreach(bv => assert(vp.publish(dev, bv, bytes(s"b$bv"))))
      vp.dropBranch("dev")
      assert(vp.publish(dev, 1, bytes("b1-again")))
      // a writer that read head 5 before the drop: its bv 6 would make
      // the old lineage plus its stale batch the new head
      assert(!vp.publish(dev, 6, bytes("stale")))
      assert(vp.head(dev).contains(1))
      assert(vp.versions(dev) == Seq(1))
    }

  test("CAS pointer: a lost race deletes its attempt manifest") {
    val inner = InMemoryConditionalStore(s"ptr_${java.util.UUID.randomUUID}")
    // a store that lets a rival commit land between this writer's head
    // read and its conditional put
    var rival: () => Unit = () => ()
    val store = new ConditionalStore {
      override def get(): Option[String] = inner.get()
      override def putIf(expected: Option[String], value: String): Boolean = {
        val r = rival; rival = () => (); r()
        inner.putIf(expected, value)
      }
    }
    val (vp, dir, fs) = freshCasPointer(store)
    val other = new CasVersionPointer(fs, new Configuration(), dir, inner)
    assert(vp.publish(Main, 1, bytes("m1")))
    for (b <- Seq[Branch](Main, Named("dev"))) {
      if (b != Main) assert(vp.publish(b, 1, bytes("b1")))
      rival = () => assert(other.publish(b, 2, bytes("rival")))
      val before = files(fs, dir)
      assert(!vp.publish(b, 2, bytes("loser")))
      val added = files(fs, dir) -- before
      assert(added.size == 1, s"loser's attempt left behind: $added")
      assert(body(fs, vp.manifestPath(b, 2)) == "rival")
    }
  }

  test("publish refuses a slot at or below CURRENT without creating a file") {
    val (vp, dir, fs) = freshPointer()
    assert(vp.publish(Main, 1, bytes("v1")))
    assert(vp.publish(Main, 2, bytes("v2")))
    assert(vp.publish(Main, 3, bytes("v3")))
    vp.delete(2) // expire freed slot v2
    // the stalled writer's attempt on the freed slot: refused, and no
    // manifest file materializes (a created-then-hidden file would be
    // a wrong-rows time-travel target)
    assert(!vp.publish(Main, 2, bytes("imposter")))
    assert(!fs.exists(new Path(dir, "v00002.txt")),
      "refused publish left a manifest file on the freed slot")
    assert(vp.head(Main).contains(3))
    assert(vp.versions(Main) == Seq(1, 3))
  }

  test("a delayed flip regression self-heals to the newest manifest") {
    val (vp, dir, fs) = freshPointer()
    (1 to 3).foreach(v => assert(vp.publish(Main, v, bytes(s"v$v"))))
    // simulate the delayed flip: CURRENT regressed behind the head
    val cur = new Path(dir, "CURRENT")
    val out = fs.create(cur, true); out.write(bytes("1")); out.close()
    assert(vp.head(Main).contains(1))
    // any forward flip (here: the next publish) heals past the
    // regression instead of leaving CURRENT stale
    assert(vp.publish(Main, 4, bytes("v4")))
    assert(vp.head(Main).contains(4))
  }

  test("a branch publish refuses to resurrect a dropped branch") {
    val (vp, _, _) = freshPointer()
    val dev = Named("dev")
    assert(vp.publish(Main, 1, bytes("v1")))
    assert(vp.publish(dev, 1, bytes("b1")))
    assert(vp.publish(dev, 2, bytes("b2")))
    vp.dropBranch("dev")
    // the stalled branch writer's bv-3 attempt after the drop: a
    // partial lineage with no fork marker must not come back
    assert(!vp.publish(dev, 3, bytes("zombie")))
    assert(vp.head(dev).isEmpty)
    // a fresh branch creation (bv = 1) is of course still allowed
    assert(vp.publish(dev, 1, bytes("b1-again")))
    assert(vp.head(dev).contains(1))
  }
}
