package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.SnapshotTable

/** The snapshot commit path: every commit reads its head manifest
  * once, and every data write — a staged one at publish time, a branch
  * one included — is gated by the head it lands against (main's head
  * for a branch). */
class CommitPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: (Int, Int, Int, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "year", "month", "fare")
  }

  private def freshRoot(tag: String): String =
    s"${java.nio.file.Files.createTempDirectory(s"graft_$tag")}/tbl"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.select("id").collect().map(_.getInt(0)).toSet

  test("publishStaged refuses a stage that a CHECK added since staging rejects") {
    val t = new SnapshotTable(spark, freshRoot("pub_check"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    val w = t.stageAppend(frame((2, 2024, 1, -5.0)), "neg")
    assert(t.addConstraint("pos", "fare > 0") == 2)
    val e = intercept[IllegalArgumentException](t.publishStaged(w))
    assert(e.getMessage.contains("'pos'"), e.getMessage)
    // refused before any manifest: the head stays, the stage stays pending
    assert(t.currentVersion.contains(2))
    assert(t.history.map(_._1) == Seq(1, 2))
    assert(t.stagedDirs == Seq(w))
    assert(ids(t.read()) == Set(1))
    t.abandonStaged(w)
    assert(t.stagedDirs.isEmpty)
    // a stage the CHECK admits still publishes
    assert(t.publishStaged(t.stageAppend(frame((3, 2024, 1, 4.0)), "ok")) == 3)
    assert(ids(t.read()) == Set(1, 3))
  }

  test("publishStaged refuses a stage that a rename or a widening since staging made stale") {
    val t = new SnapshotTable(spark, freshRoot("pub_rename"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    val w = t.stageAppend(frame((2, 2024, 1, 20.0)), "old_names")
    assert(t.renameColumn("fare", "amount") == 2)
    val e = intercept[IllegalArgumentException](t.publishStaged(w))
    assert(e.getMessage.contains("fare"), e.getMessage)
    assert(t.currentVersion.contains(2))
    assert(t.stagedDirs == Seq(w))
    assert(t.read().columns.toSeq == Seq("id", "amount", "year", "month"))
    // staged under the current names, the same rows publish
    import spark.implicits._
    val fresh = t.stageAppend(
      Seq((2, 2024, 1, 20.0)).toDF("id", "year", "month", "amount"), "new_names")
    assert(t.publishStaged(fresh) == 3)
    assert(t.read().columns.toSeq == Seq("id", "amount", "year", "month"))
    assert(t.read().filter(col("id") === 2).select("amount").head().getDouble(0) == 20.0)

    val u = new SnapshotTable(spark, freshRoot("pub_widen"))
    u.commitOverwrite(Seq((1, 2024, 1, 10)).toDF("id", "year", "month", "cnt"))
    val narrow = u.stageAppend(Seq((2, 2024, 1, 7)).toDF("id", "year", "month", "cnt"), "narrow")
    u.widenColumn("cnt", "bigint")
    intercept[IllegalArgumentException](u.publishStaged(narrow))
    assert(u.stagedDirs == Seq(narrow))
    assert(u.currentVersion.contains(2))
  }

  test("branch writes are gated by main's current constraints, not the fork's") {
    val t = new SnapshotTable(spark, freshRoot("branch_gate"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.createBranch("load", 1)
    t.addConstraint("pos", "fare > 0") // on main, after the fork
    intercept[IllegalArgumentException](
      t.commitAppendToBranch("load", frame((2, 2024, 1, -1.0))))
    intercept[IllegalArgumentException](
      t.commitOverwritePartitionsToBranch("load", frame((2, 2024, 1, -1.0))))
    assert(t.branchHead("load").contains(1))
    assert(ids(t.readBranch("load")) == Set(1))
    assert(t.commitAppendToBranch("load", frame((3, 2024, 1, 5.0))) == 2)
    assert(ids(t.readBranch("load")) == Set(1, 3))
  }

  test("each commit opens its head manifest once") {
    val root = freshRoot("head_reads")
    // the table's filesystem handle is made while counting is installed
    val t = ListingCountingFs.installed(spark)(new SnapshotTable(spark, root))
    def manifest(v: Int) = f"$root/_manifests/v$v%05d.txt"
    def headOpens(commitOp: => Int): Long = {
      val head = manifest(t.currentVersion.get)
      val before = ListingCountingFs.opens(head)
      val v = commitOp
      assert(v == t.currentVersion.get)
      ListingCountingFs.opens(head) - before
    }
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 1, 20.0), (3, 2024, 2, 30.0)))
    assert(headOpens(t.commitAppend(frame((4, 2024, 3, 40.0)))) == 1, "commitAppend")
    assert(headOpens(t.commitMerge(frame((1, 2024, 1, 11.0), (5, 2024, 2, 50.0)), Seq("id"))) == 1,
      "commitMerge")
    assert(headOpens(t.commitUpdate(col("id") === 3, Seq("fare" -> lit(31.0)))) == 1,
      "commitUpdate")
    // a partial delete: month 1 keeps a survivor, so the rewrite writes data
    assert(headOpens(t.commitDelete(col("id") === 2)) == 1, "commitDelete")
    assert(headOpens(t.commitOverwritePartitions(frame((6, 2024, 3, 60.0)))) == 1,
      "commitOverwritePartitions")
    assert(ids(t.read()) == Set(1, 3, 5, 6))

    // a branch commit: the branch head once, main's head (its gate) once
    val mainHead = manifest(t.currentVersion.get)
    t.createBranch("b", t.currentVersion.get)
    val branchHead = f"$root/_manifests/bv_b_${1}%05d.txt"
    val (mainBefore, branchBefore) =
      (ListingCountingFs.opens(mainHead), ListingCountingFs.opens(branchHead))
    assert(t.commitAppendToBranch("b", frame((7, 2024, 4, 70.0))) == 2)
    assert(ListingCountingFs.opens(branchHead) - branchBefore == 1)
    assert(ListingCountingFs.opens(mainHead) - mainBefore == 1)
  }

  test("one expire opens each retained manifest at most once") {
    val root = freshRoot("expire_reads")
    val t = ListingCountingFs.installed(spark)(new SnapshotTable(spark, root))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    (2 to 5).foreach(i => t.commitAppend(frame((i, 2024, i, i * 10.0))))
    t.createBranch("b", 5)
    t.commitAppendToBranch("b", frame((9, 2024, 9, 90.0)))
    val manifests = (1 to 5).map(v => f"$root/_manifests/v$v%05d.txt") ++
      (1 to 2).map(bv => f"$root/_manifests/bv_b_$bv%05d.txt")
    val before = manifests.map(ListingCountingFs.opens)
    t.expire(keepLast = 2, olderThanMs = 0L)
    val opened = manifests.zip(before).map { case (m, b) => m -> (ListingCountingFs.opens(m) - b) }
    assert(opened.forall(_._2 <= 1), s"manifests opened more than once: $opened")
    assert(t.history.map(_._1) == Seq(4, 5))
    assert(ids(t.readBranch("b")) == Set(1, 2, 3, 4, 5, 9))
  }
}
