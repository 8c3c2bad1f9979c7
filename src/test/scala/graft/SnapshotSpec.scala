package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.{Maintenance, SnapshotConflictException, SnapshotTable}

/** Snapshot write-path contract: versioned commits, dynamic partition
  * overwrite with history, time travel, rollback, optimistic-commit
  * conflict, expiry, crash repair — and the compactor's enforced
  * single-writer lock. */
class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: (Int, Int, Int, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "year", "month", "fare")
  }

  private def freshRoot(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    s"$dir/tbl"
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def state(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Int, Double)] =
    df.select(col("id"), col("year"), col("month"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet

  test("overwrite, append, and read round-trip with history recorded") {
    val t = new SnapshotTable(spark, freshRoot("snap_rt"))
    assert(t.currentVersion.isEmpty)
    val a = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0))
    assert(t.commitOverwrite(a) == 1)
    assert(state(t.read()) == state(a))
    val b = frame((3, 2024, 3, 30.0))
    assert(t.commitAppend(b) == 2)
    assert(state(t.read()) == state(a) ++ state(b))
    assert(t.history.map(h => (h._1, h._2)) == Seq(1 -> "overwrite", 2 -> "append"))
    // schema-in-metadata: every data dir carries its writer's schema
    // sidecar (reads plan with an explicit schema — zero footer reads),
    // and a LEGACY dir without one still reads via the mergeSchema
    // fallback
    val rootFs = fs(t.location)
    (t.dataDirs(1) ++ t.dataDirs(2)).foreach { d =>
      assert(rootFs.exists(new Path(t.location, s"_data/$d/_graft_schema.ddl")),
        s"missing schema sidecar for $d")
    }
    rootFs.delete(new Path(t.location,
      s"_data/${t.dataDirs(1).head}/_graft_schema.ddl"), false)
    assert(state(t.read()) == state(a) ++ state(b), "legacy-dir fallback broke")
  }

  test("dynamic partition overwrite masks only touched partitions; time travel sees both states") {
    val t = new SnapshotTable(spark, freshRoot("snap_dyn"))
    val good = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 2, 25.0))
    t.commitOverwrite(good)
    val replacement = frame((9, 2024, 2, -1.0))
    t.commitOverwritePartitions(replacement)
    // untouched month survives; touched month fully replaced
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (9, 2024, 2, -1.0)))
    // time travel: v1 still intact — the masked files were never deleted
    assert(state(t.readVersion(1)) == state(good))
  }

  test("rollback restores the pre-load state as a new commit, zero data movement") {
    val t = new SnapshotTable(spark, freshRoot("snap_rb"))
    val good = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0))
    val v1 = t.commitOverwrite(good)
    t.commitOverwritePartitions(frame((7, 2024, 2, 666.0)))
    val v3 = t.rollbackTo(v1)
    assert(v3 == 3)
    assert(state(t.read()) == state(good))
    assert(t.history.map(_._2) == Seq("overwrite", "overwrite_partitions", "rollback_to_1"))
    // the bad snapshot remains reachable for audit until expired
    assert(state(t.readVersion(2)) == Set((1, 2024, 1, 10.0), (7, 2024, 2, 666.0)))
  }

  test("optimistic commit: racing writers produce one winner, loser gets a conflict") {
    val root = freshRoot("snap_race")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // simulate the racer that wins v2: its manifest lands first
    val racerManifest = new Path(s"$root/_manifests/v00002.txt")
    val out = fs(root).create(racerManifest, false)
    out.write("version=2\nparent=1\nop=append\nentry=d00001||0\n".getBytes("UTF-8"))
    out.close()
    // APPENDS commute, so the loser self-heals: its fast-append retry
    // repairs through the winner's un-flipped CURRENT and re-targets
    // the new head METADATA-ONLY (the batch's dir is written once)
    assert(t.commitAppend(frame((2, 2024, 2, 2.0))) == 3)
    assert(t.currentVersion.contains(3))
    // non-commutative commits keep the strict single-winner contract:
    // a loser gets the conflict, never a silent merge
    val orphan2 = new Path(s"$root/_manifests/v00004.txt")
    val out2 = fs(root).create(orphan2, false)
    out2.write("version=4\nparent=3\nop=overwrite\nentry=d00001||0\n".getBytes("UTF-8"))
    out2.close()
    intercept[SnapshotConflictException] {
      t.commitOverwrite(frame((9, 2024, 9, 9.0)))
    }
  }

  test("expire keeps the newest snapshots and deletes unreferenced data dirs") {
    val root = freshRoot("snap_exp")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitOverwrite(frame((2, 2024, 1, 2.0)))
    t.commitOverwrite(frame((3, 2024, 1, 3.0)))
    val v1Dir = t.dataDirs(1).head
    t.expire(keepLast = 2)
    assert(t.history.map(_._1) == Seq(2, 3))
    intercept[Exception] { t.readVersion(1) }
    // v1's data dir is referenced by no retained snapshot — gone
    assert(!fs(root).exists(new Path(s"$root/_data/$v1Dir")))
    assert(state(t.read()) == Set((3, 2024, 1, 3.0)))
  }

  test("repair re-points CURRENT after a crash between manifest and flip") {
    val root = freshRoot("snap_fix")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    // crash simulation: CURRENT lost the flip back to v1
    val cur = new Path(s"$root/_manifests/CURRENT")
    fs(root).delete(cur, false)
    val out = fs(root).create(cur, true); out.write("1".getBytes); out.close()
    assert(t.currentVersion.contains(1))
    t.repair()
    assert(t.currentVersion.contains(2))
    assert(state(t.read()).size == 2)
  }

  test("changelog emits multiset inserts/deletes between versions; unchanged rows absent") {
    val t = new SnapshotTable(spark, freshRoot("snap_cdc"))
    // month 1 has a DUPLICATE row — multiset semantics must see one
    // copy removed when only one survives
    val v1 = t.commitOverwrite(frame(
      (1, 2024, 1, 10.0), (1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val v2 = t.commitOverwritePartitions(frame((1, 2024, 1, 10.0), (9, 2024, 1, 99.0)))
    val log = t.changelog(v1, v2)
      .select(col("op"), col("id"), col("year"), col("month"), col("fare"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .sorted.toSeq
    // month 2 untouched → absent; one of the duplicate (1,…) rows
    // deleted, (9,…) inserted
    assert(log == Seq(
      ("delete", 1, 2024, 1, 10.0),
      ("insert", 9, 2024, 1, 99.0)))
    intercept[IllegalArgumentException] {
      val t2 = new SnapshotTable(spark, freshRoot("snap_cdc2"))
      t2.commitOverwrite(frame((1, 2024, 1, 1.0)))
      t2.commitAppend(frame((2, 2024, 1, 2.0)).withColumn("extra", lit(1)))
      t2.changelog(1, 2)
    }
  }

  test("applyChangelog reconstructs the target version exactly, both directions") {
    val t = new SnapshotTable(spark, freshRoot("snap_apply"))
    val v1 = t.commitOverwrite(frame(
      (1, 2024, 1, 10.0), (1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val v2 = t.commitOverwritePartitions(frame((1, 2024, 1, 10.0), (9, 2024, 1, 99.0)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("year"), col("month"), col("fare"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sorted.toSeq
    // forward: v1 + changelog(v1→v2) == v2 (multiset — the surviving
    // duplicate copy must survive exactly once)
    assert(canon(t.applyChangelog(t.readVersion(v1), t.changelog(v1, v2))) ==
      canon(t.readVersion(v2)))
    // backward: v2 + changelog(v2→v1) == v1
    assert(canon(t.applyChangelog(t.readVersion(v2), t.changelog(v2, v1))) ==
      canon(t.readVersion(v1)))
  }

  test("compact refuses to run concurrently: single-writer lock") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val path = s"$dir/t"
    frame((1, 2024, 1, 1.0), (2, 2024, 2, 2.0))
      .write.partitionBy("year", "month").parquet(path)
    val lock = new Path(path + "_compact_lock")
    val out = fs(path).create(lock, false); out.close()
    intercept[IllegalStateException] { Maintenance.compact(spark, path) }
    fs(path).delete(lock, false)
    val (before, after) = Maintenance.compact(spark, path)
    assert(before >= after && after == 2) // one file per (year, month)
    // lock released on success — a later run can take it
    assert(!fs(path).exists(lock))
  }

  test("vacuum removes only orphan (never-committed) data dirs") {
    val root = freshRoot("snap_vac")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    // crashed writer: data landed, manifest never created
    frame((9, 2024, 3, 9.0)).write.parquet(s"$root/_data/d00099")
    // the default retention window SPARES the young dir — an
    // unreferenced dir is indistinguishable from a live writer's
    // in-flight one, so only age proves it dead
    assert(t.vacuum().isEmpty, "default-window vacuum swept a young orphan")
    // backdate before the zero-window sweep: strictly-older comparison
    // vs millisecond mtime granularity (clock-tick flake otherwise)
    fs(root).setTimes(new Path(s"$root/_data/d00099"),
      System.currentTimeMillis() - 10000L, -1L)
    assert(t.vacuum(olderThanMs = 0L) == Seq("d00099"))
    assert(!fs(root).exists(new Path(s"$root/_data/d00099")))
    // referenced dirs untouched; table fully readable; idempotent
    assert(state(t.read()).size == 2)
    assert(t.vacuum(olderThanMs = 0L).isEmpty)
  }

  test("IVM delta merge equals the full recompute, drops emptied groups, adds new ones") {
    import graft.write.Ivm
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("year"), col("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("fare").cast("decimal(38,10)")).as("fs"))
    val t = new SnapshotTable(spark, freshRoot("snap_ivm"))
    val v1 = t.commitOverwrite(frame(
      (1, 2024, 1, 10.0), (2, 2024, 1, 20.5), (3, 2024, 2, 30.0)))
    // v2: month 1 partially rewritten, month 2 REMOVED (all rows replaced
    // away is not expressible by partition overwrite alone — use a full
    // overwrite), month 3 NEW
    val v2 = t.commitOverwrite(frame(
      (1, 2024, 1, 10.0), (9, 2024, 1, 99.9), (7, 2024, 3, 7.25)))
    val merged = Ivm.applyCountSumDelta(
      agg(t.readVersion(v1)), t.changelog(v1, v2), Seq("year", "month"),
      nCol = "n", sumCol = "fs", value = col("fare").cast("decimal(38,10)"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("year"), col("month"), col("n"), col("fs").cast("string"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getString(3)))
        .toSet
    assert(canon(merged) == canon(agg(t.readVersion(v2))))
    // emptied month 2 must be GONE, not present with n=0
    assert(!merged.collect().exists(_.getInt(1) == 2))
    // unknown ops fail loudly, not silently as zero
    intercept[Exception] {
      Ivm.applyCountSumDelta(agg(t.readVersion(v1)),
        t.changelog(v1, v2).withColumn("op", lit("upsert")),
        Seq("year", "month"), "n", "fs", col("fare").cast("decimal(38,10)"))
        .collect()
    }
  }

  test("commit protocol holds across filesystem schemes; deep clone is independent") {
    // Parameterize the FULL commit cycle over two Hadoop FS
    // implementations reached through explicit URI schemes:
    // `file:` (checksummed LocalFileSystem) and `raw:`
    // (RawLocalFileSystem, no CRC shadow files) — the commit protocol's
    // documented contract is "any FS with atomic create-exclusive and
    // rename" (Snapshots.scala), and this is the in-sandbox version of
    // pointing the table at a second store.
    spark.sparkContext.hadoopConfiguration
      .set("fs.raw.impl", classOf[RawSchemeFs].getName)
    for (scheme <- Seq("file", "raw")) {
      val root = s"$scheme://" + freshRoot(s"snap_fs_$scheme")
      val t = new SnapshotTable(spark, root)
      val good = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0))
      val v1 = t.commitOverwrite(good)
      t.commitOverwritePartitions(frame((9, 2024, 2, -1.0)))
      val v3 = t.rollbackTo(v1)
      assert(state(t.readVersion(v3)) == state(good), s"rollback under $scheme:")
      // optimistic-commit conflict: create-exclusive must hold here too
      val orphan = new Path(root, "_manifests/v00004.txt")
      val out = fs(root).create(orphan, false); out.close()
      intercept[SnapshotConflictException] { t.commitAppend(good) }
      fs(root).delete(orphan, false)
      // deep clone, then expire the CLONE: source history must be intact
      val c = t.deepClone(s"$scheme://" + freshRoot(s"snap_fsc_$scheme"))
      c.expire(keepLast = 2)
      assert(c.history.size == 2 && t.history.size == 3,
        s"clone expiry leaked into source under $scheme:")
      assert(state(c.read()) == state(good), s"clone state under $scheme:")
      assert(state(t.readVersion(1)) == state(good), s"source v1 under $scheme:")
    }
  }

  test("S3-class schemes are refused at open unless the catalog override is set") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[FakeS3Fs].getName)
    val root = "s3a://" + freshRoot("snap_s3")
    val e = intercept[IllegalArgumentException] { new SnapshotTable(spark, root) }
    assert(e.getMessage.contains("atomic rename"),
      s"refusal must explain the missing primitive: ${e.getMessage}")
    // explicit acknowledgement (pointer moved to a conditional-write
    // catalog) re-enables the table over the same scheme
    conf.setBoolean("graft.snapshots.allow.nonatomic", true)
    try {
      val t = new SnapshotTable(spark, root)
      t.commitOverwrite(frame((1, 2024, 1, 10.0)))
      assert(state(t.read()) == Set((1, 2024, 1, 10.0)))
    } finally conf.setBoolean("graft.snapshots.allow.nonatomic", false)
  }

  test("clustered commits build a stats index; readSkipping prunes files, values equal read()") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("snap_skip"))
    val rows = (1 to 400).map(i => (i, 2024, i % 12 + 1, i * 1.5))
      .toDF("id", "year", "month", "fare")
    t.commitOverwriteClustered(rows.filter($"id" % 2 === 0), "id", nFiles = 4)
    t.commitAppendClustered(rows.filter($"id" % 2 === 1), "id", nFiles = 4)
    val pred = col("id") >= 100 && col("id") <= 120
    val skipped = t.readSkipping("id").filter(pred)
    val got = skipped.collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (100 to 120), s"readSkipping changed values: $got")
    assert(t.read().filter(pred).count() == 21)
    // plan pin: the 21-key range covers ~1 of 4 files per dir — both
    // scans together must read fewer files than the 8 on disk
    val scanned = skipped.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }.sum
    assert(scanned > 0 && scanned <= 4, s"expected <=4 of 8 files, got $scanned")
    // expire: the dead dir's stats index dies with it
    val v3 = t.commitOverwriteClustered(rows, "id", nFiles = 4)
    val v1Dir = t.dataDirs(1).head
    val v3Dir = t.dataDirs(v3).head
    t.expire(keepLast = 1)
    val rootFs = fs(t.location)
    assert(!rootFs.exists(new Path(t.location, s"_stats/$v1Dir")),
      "expired dir's stats index leaked")
    assert(rootFs.exists(new Path(t.location, s"_stats/$v3Dir")),
      "live dir's stats index must survive expire")
    assert(t.readSkipping("id").count() == 400)
  }

  test("write-audit-publish: staged batches invisible until published; maintenance spares pending stages") {
    val t = new SnapshotTable(spark, freshRoot("snap_wap"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.commitOverwrite(frame((1, 2024, 1, 10.0))) // second version so expire has something to drop
    val bad = t.stageAppend(frame((7, 2024, 2, -5.0)), "badb")
    // invisible to every reader until published
    assert(state(t.read()) == Set((1, 2024, 1, 10.0)))
    // the audit queries the would-be state
    assert(t.readWithStaged(bad).count() == 2)
    assert(t.readWithStaged(bad).filter(col("fare") < 0).count() == 1)
    // maintenance mid-audit must NOT destroy the pending stage (the
    // Iceberg-WAP contract: staged batches survive vacuum/expire)
    // window 0 makes the assertion strongest: even with no age
    // protection, staged dirs are spared by NAME, not by youth
    assert(t.vacuum(olderThanMs = 0L).isEmpty, "vacuum collected a pending stage")
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(t.stagedDirs == Seq(bad))
    assert(t.readWithStaged(bad).count() == 2, "stage destroyed by maintenance")
    // audit failed: abandonStaged is the DELIBERATE discard path
    t.abandonStaged(bad)
    assert(t.stagedDirs.isEmpty)
    intercept[IllegalArgumentException] { t.publishStaged(bad) }
    // audit passed: publish is a manifest flip, zero data movement
    val good = t.stageAppend(frame((8, 2024, 2, 5.0)), "goodb")
    val v = t.publishStaged(good)
    assert(v == 3)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (8, 2024, 2, 5.0)))
    assert(t.history.map(_._2) == Seq("overwrite", "publish_append"))
    // double publish and name reuse are loud; a published stage's dir
    // is table data — abandon refuses to touch it
    intercept[IllegalArgumentException] { t.publishStaged(good) }
    intercept[IllegalArgumentException] { t.abandonStaged(good) }
    intercept[Exception] { t.stageAppend(frame((9, 2024, 3, 1.0)), "goodb") }
  }

  test("tags are immutable named refs; expire retains tagged versions") {
    val t = new SnapshotTable(spark, freshRoot("snap_tag"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.commitOverwrite(frame((2, 2024, 2, 20.0)))
    t.commitOverwrite(frame((3, 2024, 3, 30.0)))
    t.tag("baseline", v1)
    intercept[IllegalArgumentException] { t.tag("baseline", 2) }
    intercept[Exception] { t.tag("nope", 99) } // version must exist
    assert(t.tags == Seq("baseline" -> 1))
    t.expire(keepLast = 1)
    // v1 survives BY ITS TAG; v2 expired; v3 is current
    assert(t.history.map(_._1) == Seq(1, 3))
    assert(state(t.readTag("baseline")) == Set((1, 2024, 1, 10.0)))
  }

  test("purge erases matching rows from every version; dirs rewritten once, originals gone") {
    val t = new SnapshotTable(spark, freshRoot("snap_purge"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 2, 99.0)))
    t.commitOverwritePartitions(frame((9, 2024, 2, -1.0), (10, 2024, 2, 99.0)))
    val origDirs = (t.dataDirs(1) ++ t.dataDirs(2)).distinct
    assert(t.purge(col("fare") === 99.0) == 2) // two referenced dirs, each once
    // the 99.0 rows are gone from BOTH versions; everything else intact
    assert(state(t.readVersion(1)) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    assert(state(t.readVersion(2)) == Set((1, 2024, 1, 10.0), (9, 2024, 2, -1.0)))
    // physical erasure: the original dirs no longer exist, the purged
    // twins (p-prefixed) carry every version
    val rootFs = fs(t.location)
    origDirs.foreach(d => assert(!rootFs.exists(new Path(t.location, s"_data/$d"))))
    assert(t.dataDirs(1) == origDirs.take(1).map("p" + _))
    assert(rootFs.exists(new Path(t.location, s"_data/${t.dataDirs(1).head}")))
    // history structure preserved (versions, ops, parents)
    assert(t.history == Seq((1, "overwrite", 0), (2, "overwrite_partitions", 1)))
    // purge-everything: zero-row versions stay readable (schema-bearing
    // empty twin), and a second purge re-twins the purged dirs
    t.purge(lit(true))
    assert(t.readVersion(1).count() == 0 && t.readVersion(2).count() == 0)
  }

  test("purge on a clustered table re-clusters and rebuilds the stats index") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("snap_purge_cl"))
    val rows = (1 to 400).map(i => (i, 2024, i % 12 + 1, i * 1.5))
      .toDF("id", "year", "month", "fare")
    t.commitOverwriteClustered(rows, "id", nFiles = 4)
    val origDir = t.dataDirs(1).head
    t.purge(col("id") % 10 === 0)
    val got = t.readSkipping("id").filter(col("id") >= 100 && col("id") <= 120)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (100 to 120).filterNot(_ % 10 == 0), s"post-purge skipping read: $got")
    // the rebuilt index still prunes: stats exist for the purged twin
    val rootFs = fs(t.location)
    assert(rootFs.exists(new Path(t.location, s"_stats/p$origDir/id")))
    assert(!rootFs.exists(new Path(t.location, s"_stats/$origDir")))
  }

  test("ivm batch replay is detected by the commit's op tag and skipped") {
    import spark.implicits._
    val agg = new SnapshotTable(spark, freshRoot("snap_ivm_replay"))
    agg.commitOverwrite(
      Seq((2024, 1, 2L, BigDecimal("30.0")), (2024, 2, 1L, BigDecimal("5.0")))
        .toDF("year", "month", "n", "fs")
        .withColumn("fs", col("fs").cast("decimal(38,10)")))
    val delta = Seq((2024, 1, "insert", 7.0), (2024, 2, "delete", 5.0))
      .toDF("year", "month", "op", "fare")
    def snap = agg.read().select("year", "month", "n", "fs")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDecimal(3).doubleValue)).toSet
    assert(graft.streaming.StreamingEvents.ivmApplyBatch(
      agg, delta, batchId = 0L, Seq("year", "month"), "n", "fs", "fare"))
    val afterFirst = snap
    // (2024,2)'s count hits 0 → the group drops (Ivm contract)
    assert(afterFirst == Set((2024, 1, 3L, 37.0)))
    // the at-least-once replay: same batch id → no commit, state frozen
    assert(!graft.streaming.StreamingEvents.ivmApplyBatch(
      agg, delta, batchId = 0L, Seq("year", "month"), "n", "fs", "fare"))
    assert(snap == afterFirst, "replayed batch double-applied its deltas")
    assert(agg.history.count(_._2.startsWith("ivm_batch_")) == 1)
    // the NEXT batch applies normally
    assert(graft.streaming.StreamingEvents.ivmApplyBatch(
      agg, delta, batchId = 1L, Seq("year", "month"), "n", "fs", "fare"))
    assert(agg.history.map(_._2).last == "ivm_batch_1")
    // the O(1) high-water-mark walk agrees with the full history scan
    // even when a NON-IVM commit (compaction/rollback) is newest
    agg.rollbackTo(2)
    assert(agg.findLatestOp(_.startsWith("ivm_batch_"))
      .map(_._2).contains("ivm_batch_1"))
  }

  test("racing readers never observe a missing or torn CURRENT during concurrent commits") {
    // the delete-then-rename flip opened a window where currentVersion
    // saw "no snapshot" mid-commit and a writer crash left the table
    // headless; the atomic overwrite-rename must never show that window
    // (mirror of CatalogSpec's 4-reader × 2-writer race)
    val root = freshRoot("snap_fliprace")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val corrupt = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 4).map { _ =>
      new Thread(() => {
        val r = new SnapshotTable(spark, root)
        try while (!stop.get()) r.currentVersion match {
          case None => misses.incrementAndGet()
          case Some(v) if v < 1 => corrupt.add(s"bad version $v")
          case _ => ()
        } catch { case e: Throwable => corrupt.add(s"reader died: $e") }
      })
    }
    // rollbackTo is a metadata-only commit (entries reused, no data
    // write), so the 1.5 s window exercises hundreds of pointer flips
    val writers = (1 to 2).map { _ =>
      new Thread(() => {
        try while (!stop.get()) { t.commitWithRetry(1000)(t.rollbackTo(1)); () }
        catch { case e: Throwable => corrupt.add(s"writer died: $e") }
      })
    }
    (readers ++ writers).foreach(_.start())
    Thread.sleep(1500)
    stop.set(true)
    (readers ++ writers).foreach(_.join(10000))
    assert(misses.get() == 0, s"currentVersion saw no-snapshot ${misses.get()} times")
    assert(corrupt.isEmpty, s"torn reads: $corrupt")
    assert(t.currentVersion.exists(_ >= 2), "writers made no progress")
  }

  test("commitWithRetry repairs through a crashed winner and lands both live writers") {
    val root = freshRoot("snap_retry")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // a winner that crashed between manifest create and pointer flip:
    // its orphan manifest blocks every plain retry of v2 forever
    // (CURRENT never advances), which is exactly the case repair-aware
    // retry must make progress through
    val out = fs(root).create(new Path(s"$root/_manifests/v00002.txt"), false)
    out.write(s"version=2\nparent=1\nop=append\nentry=${t.dataDirs(1).head}||0\n"
      .getBytes("UTF-8"))
    out.close()
    // commitAppend's own fast-retry repairs through the orphan and
    // lands (appends commute); commitWithRetry stays the general path
    val v = t.commitAppend(frame((2, 2024, 2, 2.0)))
    assert(v == 3, s"retry should land past the repaired orphan, got v$v")
    assert(t.currentVersion.contains(3))
    // two LIVE writers: both eventually land (the loser re-reads and
    // commits v+2), and both rows are durable
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ws = Seq(10, 11).map { id =>
      new Thread(() => {
        try results.add(
          t.commitWithRetry(10)(t.commitAppend(frame((id, 2025, 1, id.toDouble)))))
        catch { case e: Throwable => errors.add(s"writer $id died: $e") }
      })
    }
    ws.foreach(_.start()); ws.foreach(_.join(60000))
    assert(errors.isEmpty, s"$errors")
    import scala.jdk.CollectionConverters._
    assert(results.asScala.toSet == Set(4, 5),
      s"both writers must land as v4/v5, got $results")
    assert(state(t.read()).map(_._1).toSet.intersect(Set(10, 11)) == Set(10, 11))
  }

  test("commitCompact collapses the current state into one clustered dir, history preserved") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("snap_compact"))
    val rows = (1 to 300).map(i => (i, 2024, i % 3 + 1, i * 1.0))
      .toDF("id", "year", "month", "fare")
    // three appends + a masking partition overwrite: the worst-case
    // entry list (multiple dirs, one with an exclusion mask)
    t.commitOverwrite(rows.filter($"id" <= 100))
    t.commitAppend(rows.filter($"id" > 100 && $"id" <= 200))
    t.commitAppend(rows.filter($"id" > 200))
    val v4 = t.commitOverwritePartitions(
      rows.filter($"month" === 2).withColumn("fare", col("fare") + 1000))
    def idFare(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("fare")).collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSet
    val before = idFare(t.read())
    assert(t.dataDirs(v4).size == 4)
    val v5 = t.commitCompact("id")
    // content-invariant, single entry, masks folded in
    assert(t.dataDirs(v5).size == 1)
    assert(idFare(t.read()) == before)
    // skipping read prunes on the cluster column post-compaction
    // (metrics read from the SAME executed QueryExecution — a count()
    // builds a different plan and leaves these at zero)
    val skipped = t.readSkipping("id").filter(col("id") >= 10 && col("id") <= 20)
    assert(skipped.collect().length == 11)
    val scanned = skipped.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }.sum
    assert(scanned >= 1 && scanned < 8, s"post-compaction skipping must prune, scanned $scanned")
    // pre-compaction versions stay time-travelable (old dirs untouched),
    // including through the time-traveled SKIPPING read
    assert(t.readVersion(1).count() == 100)
    assert(t.readSkippingVersion(1, "id").count() == 100)
    assert(idFare(t.readVersion(v4)) == before)
    // expire reclaims the superseded dirs; the compacted table reads on
    val oldDirs = t.dataDirs(v4)
    t.expire(keepLast = 1)
    oldDirs.foreach(d =>
      assert(!fs(t.location).exists(new Path(t.location, s"_data/$d"))))
    assert(t.read().count() == 300)
  }

  test("commitMerge upserts by key: touched partitions rewritten, key moves handled, history intact") {
    val t = new SnapshotTable(spark, freshRoot("snap_merge"))
    val v1Rows = Set((1, 2024, 1, 10.0), (2, 2024, 1, 20.0), (3, 2024, 2, 30.0),
      (4, 2024, 3, 40.0), (5, 2024, 4, 50.0))
    t.commitOverwrite(frame(v1Rows.toSeq: _*))
    // update id=2 in place, MOVE id=3 from month 2 to month 3, insert id=9
    val batch = frame((2, 2024, 1, 21.0), (3, 2024, 3, 31.0), (9, 2024, 1, 90.0))
    val v2 = t.commitMerge(batch, Seq("id"))
    assert(v2 == 2)
    assert(state(t.read()) == Set(
      (1, 2024, 1, 10.0), (2, 2024, 1, 21.0), (3, 2024, 3, 31.0),
      (4, 2024, 3, 40.0), (5, 2024, 4, 50.0), (9, 2024, 1, 90.0)))
    // pre-merge version fully intact (copy-on-write, masks not deletes)
    assert(state(t.readVersion(1)) == v1Rows)
    // partition-scoped: ONE new dir; month 4 (untouched) still serves
    // from the original dir through the mask
    assert(t.dataDirs(v2).size == 2)
    // duplicate-free contract: merging the same batch again is a no-op
    // on values (matched rows replaced by identical ones)
    t.commitMerge(batch, Seq("id"))
    assert(state(t.read()).count(_._1 == 9) == 1)
  }

  test("commitMergeMor: O(batch) writes, COW-identical semantics, compaction clears the debt") {
    val t = new SnapshotTable(spark, freshRoot("snap_mor"))
    val v1Rows = Set((1, 2024, 1, 10.0), (2, 2024, 1, 20.0),
      (3, 2024, 2, 30.0), (4, 2024, 3, 40.0))
    t.commitOverwrite(frame(v1Rows.toSeq: _*))
    // update id=2, MOVE id=3 to month 3, insert id=9 — same scenario as
    // the COW merge test; results must be identical, only cost differs
    val v2 = t.commitMergeMor(
      frame((2, 2024, 1, 21.0), (3, 2024, 3, 31.0), (9, 2024, 1, 90.0)), Seq("id"))
    val expected2 = Set((1, 2024, 1, 10.0), (2, 2024, 1, 21.0),
      (3, 2024, 3, 31.0), (4, 2024, 3, 40.0), (9, 2024, 1, 90.0))
    assert(state(t.read()) == expected2)
    assert(t.fsck().isEmpty, "MOR table flagged by fsck")
    intercept[IllegalArgumentException] { t.commitMergeMor(frame(), Seq("id")) }
    assert(state(t.readVersion(1)) == v1Rows, "pre-merge version damaged")
    // O(batch): the base dir is untouched — entries are base + batch
    assert(t.dataDirs(v2).size == 2)
    // stacked MOR merges compose: a later merge's keys suppress the
    // earlier batch's rows too
    val v3 = t.commitMergeMor(frame((2, 2024, 1, 22.0)), Seq("id"))
    val expected3 = expected2 - ((2, 2024, 1, 21.0)) + ((2, 2024, 1, 22.0))
    assert(state(t.read()) == expected3)
    // incremental read refuses across a MOR merge (delete set changed)
    intercept[IllegalArgumentException] { t.appendsBetween(1, v3) }
    // erasure refuses over live delete files (keys lack data columns)
    intercept[IllegalArgumentException] { t.purge(col("fare") === 10.0) }
    // maintenance keeps delete dirs alive
    t.commitAppend(frame((5, 2024, 4, 50.0)))
    t.expire(keepLast = 2, olderThanMs = 0L)
    assert(t.vacuum(olderThanMs = 0L).isEmpty,
      "maintenance collected a live delete dir")
    val expected4 = expected3 + ((5, 2024, 4, 50.0))
    assert(state(t.read()) == expected4, "deletes lost after expire/vacuum")
    // compaction materializes the state and clears the delete debt:
    // one dir, same rows, and the append-only chain afterwards is
    // readable again (delete sets equal) — purge works again too
    val vc = t.commitCompact("id")
    assert(t.dataDirs(vc).size == 1)
    assert(state(t.read()) == expected4)
    val v6 = t.commitAppend(frame((6, 2024, 5, 60.0)))
    assert(state(t.appendsBetween(vc, v6)) == Set((6, 2024, 5, 60.0)))
    // pre-compaction manifests still reference the delete files for
    // time travel, so purge stays refused until they expire
    intercept[IllegalArgumentException] { t.purge(col("fare") === 10.0) }
    t.expire(keepLast = 1)
    t.purge(col("fare") === 10.0)
    assert(!state(t.read()).contains((1, 2024, 1, 10.0)))
    assert(state(t.read()).contains((6, 2024, 5, 60.0)))
  }

  test("appendsBetween reads only the appended dirs; refuses non-append chains") {
    val t = new SnapshotTable(spark, freshRoot("snap_incr"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    val v2 = t.commitAppend(frame((2, 2024, 2, 2.0)))
    val v3 = t.commitAppend(frame((3, 2024, 3, 3.0)))
    assert(state(t.appendsBetween(v1, v3)) == Set((2, 2024, 2, 2.0), (3, 2024, 3, 3.0)))
    assert(state(t.appendsBetween(v2, v3)) == Set((3, 2024, 3, 3.0)))
    // publish_append is append-shaped too
    val v4 = t.publishStaged(t.stageAppend(frame((4, 2024, 4, 4.0)), "s1"))
    assert(state(t.appendsBetween(v3, v4)) == Set((4, 2024, 4, 4.0)))
    // an overwrite in the chain refuses loudly (masks changed the
    // parent's entries — an increment read would be silently wrong)
    val v5 = t.commitOverwritePartitions(frame((9, 2024, 1, 9.0)))
    intercept[IllegalArgumentException] { t.appendsBetween(v1, v5) }
    // the pure-append suffix after the overwrite still reads
    val v6 = t.commitAppend(frame((5, 2024, 5, 5.0)))
    assert(state(t.appendsBetween(v5, v6)) == Set((5, 2024, 5, 5.0)))
    intercept[IllegalArgumentException] { t.appendsBetween(v3, v3) }
  }

  test("branches: isolated lineage, single-winner commits, maintenance keeps branch dirs") {
    val t = new SnapshotTable(spark, freshRoot("snap_branch"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.createBranch("wip", v1)
    intercept[IllegalArgumentException] { t.createBranch("wip", v1) }
    t.commitAppendToBranch("wip", frame((2, 2024, 2, 2.0)))
    t.commitAppendToBranch("wip", frame((3, 2024, 3, 3.0)))
    // main untouched while the branch advances
    assert(state(t.read()) == Set((1, 2024, 1, 1.0)))
    assert(state(t.readBranch("wip")) ==
      Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0), (3, 2024, 3, 3.0)))
    assert(t.branches == Seq("wip" -> 3))
    assert(t.fsck().isEmpty)
    // main diverges and expires its own history — branch state survives
    // (a branch is a promise, like a tag)
    t.commitOverwrite(frame((8, 2024, 8, 8.0)))
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(t.vacuum(olderThanMs = 0L).isEmpty,
      "vacuum collected branch-referenced dirs")
    assert(state(t.readBranch("wip")).size == 3, "expire ate branch-referenced dirs")
    // strict fast-forward refuses after main diverged; explicit opt-out
    // publishes the branch state (rollback semantics for main's v2)
    intercept[IllegalArgumentException] { t.fastForward("wip") }
    val pub = t.fastForward("wip", strict = false)
    assert(state(t.read()) ==
      Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0), (3, 2024, 3, 3.0)))
    // racing branch commits: create-exclusive arbitrates — each writer
    // either lands (distinct head) or gets a conflict, and every landed
    // writer's rows are in the branch (no lost update; a planted-file
    // simulation can't exercise this because a durable branch manifest
    // IS the new head — only a true interleaving races)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val ws = Seq(20, 21).map { id =>
      new Thread(() => {
        try { t.commitAppendToBranch("wip", frame((id, 2025, 1, id.toDouble))); landed.incrementAndGet(); () }
        catch { case _: SnapshotConflictException => errs.add(new RuntimeException(s"$id lost")); () }
      })
    }
    ws.foreach(_.start()); ws.foreach(_.join(60000))
    assert(landed.get() + errs.size == 2)
    val branchIds = state(t.readBranch("wip")).map(_._1)
    assert(Seq(20, 21).count(branchIds.contains) == landed.get(),
      s"lost update: landed=${landed.get()} but branch has $branchIds")
    // a conflict loser's already-written data dir is ordinary orphan
    // debris — vacuum collects exactly one dir per loser
    assert(t.vacuum(olderThanMs = 0L).size == errs.size, "loser debris mismatch")
    // a never-published branch's dirs become debris only after dropBranch
    t.createBranch("scrap", pub)
    t.commitAppendToBranch("scrap", frame((9, 2024, 9, 9.0)))
    assert(t.vacuum(olderThanMs = 0L).isEmpty)
    t.dropBranch("scrap")
    assert(t.vacuum(olderThanMs = 0L).size == 1,
      "dropped branch's unpublished dir must vacuum away")
    assert(t.branches.map(_._1) == Seq("wip"))
  }

  test("commitCompactZ: one dir, content invariant, prunes on either clustered column") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("snap_zc"))
    // fare decorrelated from id (Knuth-hash scramble), so pruning on
    // fare cannot ride id's ordering — only the Z-curve explains it
    val rows = (1 to 4096).map(i => (i, 2024, 1, (i * 2654435761L % 4096).toDouble))
      .toDF("id", "year", "month", "fare")
    t.commitOverwrite(rows.filter($"id" <= 2000))
    t.commitAppend(rows.filter($"id" > 2000))
    val v3 = t.commitCompactZ(Seq("id", "fare"), nFiles = 16)
    assert(t.dataDirs(v3).size == 1)
    assert(t.read().count() == 4096)
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }.sum
    }
    val byId = t.readSkipping("id").filter(col("id") >= 100 && col("id") < 200)
    assert(byId.collect().map(_.getInt(0)).sorted.toSeq == (100 until 200))
    assert(scanned(t.readSkipping("id").filter(col("id") >= 100 && col("id") < 200)) < 16,
      "no pruning on id")
    val byFare = t.readSkipping("fare").filter(col("fare") >= 0 && col("fare") < 256)
    assert(scanned(byFare) < 16, "no pruning on fare")
    // pre-compaction history intact
    assert(t.readVersion(1).count() == 2000)
  }

  test("appendsBetween agrees with changelog's inserts on an append-only chain") {
    // two independent implementations of the same semantics: the
    // O(new data) dir read vs the full-diff exceptAll — on an
    // append-only chain they must produce the same multiset (duplicate
    // appended rows included), and the changelog must carry no deletes
    val t = new SnapshotTable(spark, freshRoot("snap_incr_xval"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
    t.commitAppend(frame((3, 2024, 3, 3.0), (3, 2024, 3, 3.0)))
    val v3 = t.commitAppend(frame((4, 2024, 1, 4.0)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("year"), col("month"), col("fare"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .sorted.toSeq
    val incr = t.appendsBetween(v1, v3)
    // the O(new data) claim, pinned on the actual scan set: every input
    // file comes from the two APPENDED dirs — v1's dir is never touched
    val newDirs = (t.dataDirs(2) ++ t.dataDirs(v3)).toSet -- t.dataDirs(v1).toSet
    assert(incr.inputFiles.nonEmpty &&
      incr.inputFiles.forall(f => newDirs.exists(f.contains)),
      s"incremental read touched non-appended dirs: ${incr.inputFiles.toSeq}")
    val viaIncr = canon(incr)
    val viaLog = canon(t.changelog(v1, v3).filter(col("op") === "insert").drop("op"))
    assert(viaIncr == viaLog, s"$viaIncr vs $viaLog")
    assert(viaIncr.count(_._1 == 3) == 2, "duplicate appended row lost")
    assert(t.changelog(v1, v3).filter(col("op") === "delete").count() == 0)
  }

  test("streaming append batches are exactly-once by op tag; increments readable") {
    val t = new SnapshotTable(spark, freshRoot("snap_sappend"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    val b1 = frame((2, 2024, 2, 2.0))
    assert(graft.streaming.StreamingEvents.appendApplyBatch(t, b1, 0L))
    // at-least-once redelivery: same batch id -> no commit, no double rows
    assert(!graft.streaming.StreamingEvents.appendApplyBatch(t, b1, 0L))
    assert(t.read().count() == 2)
    val v2 = t.currentVersion.get
    assert(graft.streaming.StreamingEvents.appendApplyBatch(t, frame((3, 2024, 3, 3.0)), 1L))
    // downstream pulls the exact per-batch increment
    assert(state(t.appendsBetween(v2, t.currentVersion.get)) == Set((3, 2024, 3, 3.0)))
    assert(t.history.map(_._2) ==
      Seq("overwrite", "append_batch_0", "append_batch_1"))
  }

  test("fsck is silent on a healthy table and reports each planted damage class") {
    val t = new SnapshotTable(spark, freshRoot("snap_fsck"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    t.tag("keep", 1)
    assert(t.fsck().isEmpty, s"healthy table flagged: ${t.fsck()}")
    val rootFs = fs(t.location)
    // dangling stats dir (index without data)
    rootFs.mkdirs(new Path(t.location, "_stats/zz_gone"))
    // CURRENT regressed behind the newest manifest (crashed writer)
    val cur = new Path(t.location, "_manifests/CURRENT")
    rootFs.delete(cur, false)
    val out = rootFs.create(cur, true); out.write("1".getBytes); out.close()
    // a referenced data dir vanished
    val lostDir = t.dataDirs(2).last
    rootFs.delete(new Path(t.location, s"_data/$lostDir"), true)
    val report = t.fsck()
    assert(report.exists(_.contains(s"referenced data dir missing: $lostDir")), s"$report")
    assert(report.exists(_.contains("behind newest manifest")), s"$report")
    assert(report.exists(_.contains("dangling stats")), s"$report")
    // repair clears the pointer finding; the data loss stays reported
    t.repair()
    val after = t.fsck()
    assert(!after.exists(_.contains("behind newest")), s"$after")
    assert(after.exists(_.contains("data dir missing")), s"$after")
  }

  test("readSkipping composes with partition-exclusion masks after buildStatsIndex") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("snap_maskskip"))
    // hive-partitioned commit style: values correlate with partitions,
    // so the post-hoc index prunes whole per-partition files
    val rows = (1 to 300).map(i => (i, 2024, (i - 1) / 100 + 1, i * 1.0))
      .toDF("id", "year", "month", "fare")
    t.commitOverwrite(rows)
    // dynamic overwrite masks month 2 out of the first dir
    t.commitOverwritePartitions(
      rows.filter($"month" === 2).withColumn("fare", col("fare") * -1))
    assert(t.buildStatsIndex("id") == 2)
    assert(t.buildStatsIndex("id") == 0) // idempotent: dirs immutable
    // values equal read() exactly, masks honored (month 2 negated once)
    val pred = col("id") >= 150 && col("id") <= 160
    val viaSkip = t.readSkipping("id").filter(pred)
      .select(col("id"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    val viaRead = t.read().filter(pred)
      .select(col("id"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(viaSkip == viaRead && viaSkip.forall(_._2 < 0),
      s"mask/skip composition broke: $viaSkip vs $viaRead")
    // and it PRUNES: the 11-id range lives in 1 of 3 partitions per dir
    // (execute THIS instance, then read its scan metrics)
    val pruned = t.readSkipping("id").filter(pred)
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value }.sum
    assert(scanned >= 1 && scanned <= 2,
      s"expected <=2 files (1 per dir) after mask+stats pruning, got $scanned")
  }

  test("branch write surface: overwrite-partitions + merge on a branch; repeated strict fast-forward") {
    val t = new SnapshotTable(spark, freshRoot("snap_bwrite"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    t.createBranch("load", v1)
    t.commitAppendToBranch("load", frame((3, 2024, 3, 30.0)))
    // a partition re-arrives mid-load: dynamic overwrite ON THE BRANCH
    t.commitOverwritePartitionsToBranch("load", frame((9, 2024, 2, 99.0)))
    // keyed correction mid-load: COW merge ON THE BRANCH (update + insert)
    t.commitMergeToBranch("load",
      frame((1, 2024, 1, 11.0), (4, 2024, 4, 40.0)), Seq("id"))
    // same duplicate-key refusal as the main path
    intercept[IllegalArgumentException] {
      t.commitMergeToBranch("load",
        frame((5, 2024, 5, 1.0), (5, 2024, 5, 2.0)), Seq("id"))
    }
    val branchState = Set((1, 2024, 1, 11.0), (9, 2024, 2, 99.0),
      (3, 2024, 3, 30.0), (4, 2024, 4, 40.0))
    assert(state(t.readBranch("load")) == branchState)
    // main untouched through all three branch write shapes
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val m1 = t.fastForward("load") // strict: main never left the fork
    assert(state(t.read()) == branchState)
    // the fork point ADVANCED (rebased_to marker): more branch work,
    // then a second strict publish succeeds on the KEPT branch — no
    // drop+recreate dance
    t.commitAppendToBranch("load", frame((5, 2024, 5, 50.0)))
    val m2 = t.fastForward("load")
    assert(m2 == m1 + 1)
    assert(state(t.read()) == branchState + ((5, 2024, 5, 50.0)))
    // divergence is still refused: main moves on its own after the sync
    t.commitAppend(frame((6, 2024, 6, 60.0)))
    t.commitAppendToBranch("load", frame((7, 2024, 7, 70.0)))
    intercept[IllegalArgumentException] { t.fastForward("load") }
    assert(t.fsck().isEmpty, s"post-cycle fsck: ${t.fsck()}")
  }

  test("row-level UPDATE: COW touched partitions, null-keep, no-op, pre-update RHS, partition moves") {
    val t = new SnapshotTable(spark, freshRoot("snap_upd"))
    // id 3's fare is NULL: `fare > 15` evaluates NULL there — the row
    // must be KEPT UNCHANGED (update only what provably matches)
    val base = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 3, 30.0))
      .withColumn("fare",
        when(col("id") === 3, lit(null).cast("double")).otherwise(col("fare")))
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Int, Option[Double])] =
      df.select(col("id"), col("year"), col("month"), col("fare")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val v1 = t.commitOverwrite(base)
    // refusals: unknown SET column, duplicate SET column, empty SET
    intercept[IllegalArgumentException] {
      t.commitUpdate(col("fare") > 15, Seq("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      t.commitUpdate(col("fare") > 15, Seq("fare" -> lit(1), "fare" -> lit(2)))
    }
    intercept[IllegalArgumentException] {
      t.commitUpdate(col("fare") > 15, Seq.empty)
    }
    // no-match: a no-op that returns the current version, no commit
    assert(t.commitUpdate(col("fare") > 999, Seq("fare" -> lit(0.0))) == v1)
    assert(t.history.size == 1)
    // the update: only month=2 holds a matching row, so only that
    // partition is touched (masked + rewritten); the NULL-fare row and
    // month=1 move zero bytes
    val v2 = t.commitUpdate(col("fare") > 15, Seq("fare" -> (col("fare") * 2)))
    assert(snap(t.read()) == Set((1, 2024, 1, Some(10.0)),
      (2, 2024, 2, Some(40.0)), (3, 2024, 3, None)))
    // time travel: the pre-update state survives
    assert(snap(t.readVersion(v1)) == Set((1, 2024, 1, Some(10.0)),
      (2, 2024, 2, Some(20.0)), (3, 2024, 3, None)))
    assert(t.history.map(_._2) == Seq("overwrite", "update"))
    // SQL UPDATE semantics: every RHS reads the PRE-update row — the
    // swap must yield (id = old fare, fare = old id), and each
    // assignment casts to its column's existing type (int/double here)
    t.commitUpdate(col("id") === 1,
      Seq("id" -> col("fare"), "fare" -> col("id")))
    assert(snap(t.read()) == Set((10, 2024, 1, Some(1.0)),
      (2, 2024, 2, Some(40.0)), (3, 2024, 3, None)))
    // an assignment on a PARTITION column moves the row: the old
    // partition is touched (it held the match), the rewrite lands the
    // row under its new values inside the replacement dir
    t.commitUpdate(col("id") === 2, Seq("month" -> lit(12)))
    assert(snap(t.read()) == Set((10, 2024, 1, Some(1.0)),
      (2, 2024, 12, Some(40.0)), (3, 2024, 3, None)))
    assert(snap(t.readVersion(v2)) == Set((1, 2024, 1, Some(10.0)),
      (2, 2024, 2, Some(40.0)), (3, 2024, 3, None)))
    assert(t.fsck().isEmpty, s"post-update fsck: ${t.fsck()}")
  }

  test("strict fast-forward: a main commit interleaving between check and publish loses the CAS") {
    val root = freshRoot("snap_ffrace")
    val t = new SnapshotTable(spark, root)
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.createBranch("wip", v1)
    t.commitAppendToBranch("wip", frame((2, 2024, 2, 2.0)))
    // inject a main commit INSIDE the check→publish window: the
    // strictness check passes (main is still at the fork when it runs),
    // then main moves — the publish must lose the create-exclusive on
    // fork+1 instead of landing on top of the interleaved commit and
    // silently rolling it out of CURRENT (the TOCTOU the strict
    // contract exists to refuse; the CAS base is the CHECKED fork, not
    // a re-read)
    val racing = new SnapshotTable(spark, root) {
      override protected def raceWindowHook(): Unit = {
        t.commitAppend(frame((9, 2024, 9, 9.0))); ()
      }
    }
    intercept[SnapshotConflictException] { racing.fastForward("wip") }
    // the interleaved commit SURVIVES in current state — nothing was
    // silently rolled back
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (9, 2024, 9, 9.0)))
    // a re-attempt now fails the check itself (main moved off the fork),
    // and the explicit non-strict opt-in still publishes
    intercept[IllegalArgumentException] { t.fastForward("wip") }
    t.fastForward("wip", strict = false)
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
    assert(t.fsck().isEmpty, s"post-race fsck: ${t.fsck()}")
  }

  test("fast-append retry: a racing commit costs the loser one manifest re-read, not a data rewrite") {
    val root = freshRoot("snap_fastapp")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // count parquet files under _data before/after: the loser must
    // publish WITHOUT writing a second copy of its batch
    def parquetCount(): Int = {
      val it = fs(root).listFiles(new Path(root, "_data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val racing = new SnapshotTable(spark, root) {
      override protected def appendRaceHook(): Unit = {
        t.commitAppend(frame((9, 2024, 9, 9.0))); ()
      }
    }
    val before = parquetCount() // v1's files + nothing else yet
    val v = racing.commitAppend(frame((2, 2024, 2, 2.0)))
    // both appends landed; the loser's dir was written exactly once
    // (hook's append wrote 1 file, loser's batch wrote 1 file)
    assert(parquetCount() == before + 2, "fast-append rewrote data on retry")
    assert(t.currentVersion.contains(v))
    assert(state(t.read()) ==
      Set((1, 2024, 1, 1.0), (9, 2024, 9, 9.0), (2, 2024, 2, 2.0)))
    assert(t.fsck().isEmpty)

    // but a CONSTRAINT landing in the race window forces the loud
    // full-retry path: the dir was validated against the old set
    val racing2 = new SnapshotTable(spark, root) {
      override protected def appendRaceHook(): Unit = {
        t.addConstraint("pos", "fare > 0"); ()
      }
    }
    intercept[SnapshotConflictException] {
      racing2.commitAppend(frame((3, 2024, 3, -5.0))) }
    // the ordinary outer retry then re-validates and refuses properly
    val e = intercept[Exception] {
      t.commitWithRetry()(t.commitAppend(frame((4, 2024, 4, -5.0)))) }
    assert(e.getMessage.contains("constraint 'pos'"))
  }

  test("a stalled appender cannot win a manifest slot freed by expire (recreated-slot guard)") {
    // count-based expire DELETES old manifest files, freeing their
    // names; without the publish pre-check a writer stalled past the
    // retention window wins create-exclusive on the freed slot, the
    // monotonic flip skips, and the commit reports success while being
    // invisible — a silently lost batch plus a bogus time-travel
    // target (the concurrent stress fuzz found the family; this is the
    // deterministic pin).
    val t = new SnapshotTable(spark, freshRoot("snap_slot"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.tag("pin", 1) // keeps v1 parseable for the stalled writer's preamble
    val stalled = new SnapshotTable(spark, t.location) {
      override protected def appendRaceHook(): Unit = {
        // while the appender stalls between its data write and its
        // commit: the head advances four versions and retention frees
        // the appender's target slot v2
        (2 to 5).foreach(i => t.commitAppend(frame((i, 2024, 2, i.toDouble))))
        // DEFAULT age window: the stalled writer's in-flight data dir
        // stays protected — but manifests have no age guard, so the
        // freed v2/v3 SLOTS are exactly the hazard under test
        t.expire(keepLast = 2)
      }
    }
    val v = stalled.commitAppend(frame((9, 2024, 3, 9.0)))
    // fast-append re-targeted the live head — never the freed slot
    assert(v == 6, s"landed at v$v")
    assert(t.currentVersion.contains(6))
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0),
      (3, 2024, 2, 3.0), (4, 2024, 2, 4.0), (5, 2024, 2, 5.0),
      (9, 2024, 3, 9.0)))
    intercept[Exception] { t.readVersion(2) } // slot NOT recreated
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("expire never deletes the head frontier (a create→flip-window manifest)") {
    // a manifest numbered above every kept version is an in-flight
    // commit between its create and its CURRENT flip (or a crashed
    // winner awaiting repair's promote). Expiring it would leave the
    // writer's subsequent flip pointing at a phantom — every later
    // commit then fails parsing CURRENT.
    val t = new SnapshotTable(spark, freshRoot("snap_frontier"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    t.commitAppend(frame((3, 2024, 3, 3.0)))
    // simulate v3's writer crashed (or stalled) before its flip
    val rootFs = fs(t.location)
    val cur = new Path(t.location, "_manifests/CURRENT")
    val out = rootFs.create(cur, true); out.write("2".getBytes); out.close()
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(rootFs.exists(new Path(t.location, "_manifests/v00003.txt")),
      "expire deleted an in-flight (create→flip window) manifest")
    t.repair() // the normal crashed-winner recovery still works
    assert(t.currentVersion.contains(3))
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0),
      (3, 2024, 3, 3.0)))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("a stale CURRENT pointing at an expired version heals instead of livelocking") {
    // the delayed-flip regression: CURRENT lands on a version whose
    // manifest retention already deleted. Every commit preamble parse
    // then fails — parseForCommit must repair (promote the newest live
    // manifest) so the retry makes progress instead of rethrowing the
    // same conflict forever.
    val t = new SnapshotTable(spark, freshRoot("snap_stale"))
    (1 to 5).foreach(i => t.commitOverwrite(frame((i, 2024, 1, i.toDouble))))
    t.expire(keepLast = 2, olderThanMs = 0L) // keeps v4, v5
    val rootFs = fs(t.location)
    val cur = new Path(t.location, "_manifests/CURRENT")
    val out = rootFs.create(cur, true); out.write("2".getBytes); out.close()
    val v = t.commitWithRetry()(t.commitAppend(frame((9, 2024, 9, 9.0))))
    assert(v == 6, s"landed at v$v")
    assert(state(t.read()) == Set((5, 2024, 1, 5.0), (9, 2024, 9, 9.0)))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("conditional-write pointer (CAS mode): racing writers, one winner, loser retries cleanly") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas")
    // the FakeS3 deployment shape: commit arbitration lives in a
    // conditional-write store (catalog CAS), NOT in filesystem
    // create-exclusive — the store provides nothing but get/putIf
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    assert(t.currentVersion.contains(1))
    // two REAL threads race appends through commitWithRetry: exactly one
    // wins each CAS round, the loser retries from the new head — both
    // land, versions 2 and 3 in some order
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(2, 3).map { id =>
      new Thread(() => {
        try {
          val h = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
          h.commitWithRetry()(h.commitAppend(frame((id, 2024, id, id * 1.0))))
          ()
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing writer failed: ${Option(errs.peek()).map(_.getMessage)}")
    assert(t.currentVersion.contains(3))
    assert(state(t.read()).map(_._1) == Set(1, 2, 3))
    // history and time travel walk the parentfile chain
    assert(t.history.map(_._1) == Seq(1, 2, 3))
    assert(state(t.readVersion(2)).size == 2)
    // every CAS loser deleted its orphan attempt: retained versions and
    // manifest files agree (plus zero CURRENT file — the pointer is the
    // store, not the filesystem)
    val mdir = new Path(root, "_manifests")
    val mfiles = fs(root).listStatus(mdir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
    assert(mfiles.length == 3, s"orphan CAS attempts left behind: ${mfiles.toSeq}")
    assert(!fs(root).exists(new Path(mdir, "CURRENT")))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
    // the full verb surface runs over the CAS pointer: rollback,
    // expire (chain-tail reclaim), describeHistory. Which thread landed
    // v2 is race-determined, so assert shape, not identity.
    t.rollbackTo(2)
    val afterRollback = state(t.read()).map(_._1)
    assert(afterRollback.size == 2 && afterRollback.contains(1),
      s"rollback to v2 should show row 1 + the first racer, got $afterRollback")
    t.expire(keepLast = 2)
    assert(t.history.map(_._1) == Seq(3, 4))
    assert(state(t.read()).map(_._1) == afterRollback)
    // opening a CAS-mode table WITHOUT its store refuses loudly
    // (Fs mode would otherwise silently serve "no table")
    val e = intercept[RuntimeException] {
      new SnapshotTable(spark, root).currentVersion }
    assert(e.getMessage.contains("ConditionalStore"), e.getMessage)
    // a crashed CAS loser's attempt manifest is vacuum debris: plant
    // one and sweep it; live chain manifests survive
    val orphanM = new Path(mdir, "v00099_deadbeef.txt")
    val out = fs(root).create(orphanM, false)
    try out.write("junk".getBytes("UTF-8")) finally out.close()
    // backdate: a just-created file's mtime can equal the sweep's
    // cutoff at millisecond granularity (strictly-older comparison)
    fs(root).setTimes(orphanM, System.currentTimeMillis() - 10000L, -1L)
    t.vacuum(olderThanMs = 0L)
    assert(!fs(root).exists(orphanM), "CAS attempt debris not swept")
    assert(t.history.map(_._1) == Seq(3, 4), "vacuum touched live chain manifests")
    assert(t.fsck().isEmpty)
  }

  test("CAS mode stress: 8 writers x 3 commits racing 2 tag creators — chain intact, no debris") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas_stress")
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // 8 writers x 3 appends contend on the ONE pointer cell while 2 tag
    // creators race their ref CASes through the same cell: a commit
    // failing only because a TAG line moved (and vice versa) must retry
    // internally, never surface a conflict or drop a batch
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until 8).map { w =>
      new Thread(() => {
        try {
          val h = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
          (0 until 3).foreach { k =>
            val id = 10 + w * 3 + k
            h.commitWithRetry()(
              h.commitAppend(frame((id, 2024, id % 12 + 1, id * 1.0))))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val taggers = Seq("stress_a", "stress_b").map { name =>
      new Thread(() => {
        try {
          val h = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
          h.tag(name, h.currentVersion.get)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    (writers ++ taggers).foreach(_.start())
    (writers ++ taggers).foreach(_.join())
    assert(errs.isEmpty, s"stress failure: ${Option(errs.peek()).map(_.getMessage)}")
    // every batch landed exactly once, versions are contiguous 1..25
    assert(t.currentVersion.contains(25))
    assert(t.history.map(_._1) == (1 to 25).toSeq)
    assert(state(t.read()).map(_._1) == (Set(1) ++ (10 until 34).toSet))
    // both tags exist and pin a version that still resolves
    val pinned = t.tags.toMap
    assert(pinned.keySet == Set("stress_a", "stress_b"), s"tags: $pinned")
    pinned.values.foreach(v => assert(t.readVersion(v).count() >= 1))
    // no CAS loser left an orphan attempt; the chain is fsck-clean
    val mdir = new Path(root, "_manifests")
    val mfiles = fs(root).listStatus(mdir).map(_.getPath.getName)
      .filter(n => n.matches("v\\d+_[0-9a-f]{8}\\.txt"))
    assert(mfiles.length == 25, s"orphan attempts: ${mfiles.length} files for 25 versions")
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("CAS mode: tags and branches arbitrate through the store — racing creators, one winner each") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas_refs")
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    // racing tag creates: refs live in the pointer value, so the
    // store's CAS — not filesystem create-exclusive — picks the winner
    // (the round-14 gap: ref FILES would be the unsafe primitive on
    // exactly the object stores CAS mode exists for)
    val tagLosses = new java.util.concurrent.atomic.AtomicInteger
    val tagThreads = (1 to 2).map { _ =>
      new Thread(() => {
        val h = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
        try h.tag("baseline", 1)
        catch { case _: IllegalArgumentException => tagLosses.incrementAndGet(); () }
      })
    }
    tagThreads.foreach(_.start()); tagThreads.foreach(_.join())
    assert(tagLosses.get == 1, "exactly one racing tag creator must lose")
    assert(t.tags == Seq("baseline" -> 1))
    // zero ref FILES on disk — the refs are lines of the store value
    val mdir = new Path(root, "_manifests")
    assert(!fs(root).listStatus(mdir).exists(_.getPath.getName.startsWith("TAG_")))
    // racing branch commits on one branch: single winner through the
    // same CAS; the loser sees SnapshotConflictException and can retry
    t.createBranch("dev", 2)
    intercept[IllegalArgumentException] { t.createBranch("dev", 1) }
    val branchLosses = new java.util.concurrent.atomic.AtomicInteger
    val bThreads = Seq(10, 11).map { id =>
      new Thread(() => {
        val h = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
        try { h.commitAppendToBranch("dev", frame((id, 2024, 3, id * 1.0))); () }
        catch { case _: SnapshotConflictException =>
          branchLosses.incrementAndGet(); () }
      })
    }
    bThreads.foreach(_.start()); bThreads.foreach(_.join())
    assert(branchLosses.get == 1, "exactly one racing branch committer must lose")
    assert(t.branchHead("dev").contains(2))
    val branchIds = state(t.readBranch("dev")).map(_._1)
    assert(branchIds.size == 3 && branchIds.contains(1) && branchIds.contains(2))
    // main untouched; fast-forward publishes the branch state onto main
    assert(state(t.read()).map(_._1) == Set(1, 2))
    t.fastForward("dev")
    assert(state(t.read()).map(_._1) == branchIds)
    t.dropBranch("dev")
    assert(t.branches.isEmpty)
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
    // a crashed branch-attempt manifest (CAS loser that died before
    // cleanup) is vacuum debris; the live chain survives the sweep
    val debris = new Path(mdir, "bv_dev_00009_deadbeef.txt")
    val out = fs(root).create(debris, false)
    try out.write("junk".getBytes("UTF-8")) finally out.close()
    // backdate: the sweep takes files STRICTLY older than the cutoff,
    // and a just-created file's mtime can equal `now` at millisecond
    // granularity — a clock-tick flake, not a sweep property
    fs(root).setTimes(debris, System.currentTimeMillis() - 10000L, -1L)
    t.vacuum(olderThanMs = 0L)
    assert(!fs(root).exists(debris), "branch attempt debris not swept")
    assert(t.history.map(_._1) == Seq(1, 2, 3))
  }

  test("CAS mode: a tag pins contiguous retention; expire/vacuum never strand it") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas_tagexp")
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    (1 to 4).foreach(i => t.commitAppend(frame((i, 2024, i, i * 1.0))))
    t.tag("keepme", 1)
    // version→file resolution walks the head's parentfile chain, so a
    // mid-chain gap would strand the tagged version (and the orphan
    // sweep would then destroy its manifest and dirs as debris — the
    // round-14 silent-destruction hazard). Expire therefore keeps CAS
    // retention CONTIGUOUS: the tag on v1 pins v2..v4 too.
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(t.history.map(_._1) == Seq(1, 2, 3, 4),
      "tag on v1 must pin the whole chain above it in CAS mode")
    t.vacuum(olderThanMs = 0L)
    assert(state(t.readTag("keepme")) == Set((1, 2024, 1, 1.0)),
      "tagged snapshot destroyed by routine maintenance")
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
    // dropping the tag releases the pin: the next expire reclaims the
    // tail and the chain stays contiguous from the head
    t.dropTag("keepme")
    t.expire(keepLast = 2, olderThanMs = 0L)
    assert(t.history.map(_._1) == Seq(3, 4))
    t.vacuum(olderThanMs = 0L)
    assert(state(t.read()).map(_._1) == Set(1, 2, 3, 4), "live state lost")
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("CAS mode: purge relinks the manifest chain copy-on-write, one head CAS") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas_purge")
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 99.0)))
    t.commitAppend(frame((3, 2024, 3, 30.0)))
    t.tag("pre", 1)
    val mdir = new Path(root, "_manifests")
    val before = fs(root).listStatus(mdir).map(_.getPath.getName)
      .filter(_.matches("v\\d+_[0-9a-f]{8}\\.txt")).toSet
    assert(t.purge(col("fare") === 99.0) == 2)
    // in-place overwrite has no atomic primitive on object stores, so
    // the purge rebuilt the chain under FRESH attempt-unique names and
    // swapped the head with one CAS; every pre-purge manifest file is
    // gone, history and refs are intact, and all versions read purged
    val after = fs(root).listStatus(mdir).map(_.getPath.getName)
      .filter(_.matches("v\\d+_[0-9a-f]{8}\\.txt")).toSet
    assert(after.intersect(before).isEmpty,
      s"purge overwrote manifests in place: ${after.intersect(before)}")
    assert(after.size == 2, s"chain not fully relinked: $after")
    assert(t.history.map(h => (h._1, h._3)) == Seq((1, 0), (2, 1)))
    assert(state(t.readVersion(1)) == Set((1, 2024, 1, 10.0)))
    assert(state(t.readVersion(2)) == Set((1, 2024, 1, 10.0), (3, 2024, 3, 30.0)))
    assert(t.resolveTag("pre").contains(1))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("CAS mode: an indeterminate store outcome never doubles a commit") {
    import graft.write.{ConditionalStore, InMemoryConditionalStore}
    val root = freshRoot("snap_cas_unknown")
    val inner = InMemoryConditionalStore(s"cas_$root")
    // a store that APPLIES the conditional write and then fails
    // reporting it — the network-drop-after-commit shape real catalogs
    // produce. Without the read-back check, the caller's retry would
    // land the same batch twice.
    val failNext = new java.util.concurrent.atomic.AtomicInteger(0)
    // ...and, when armed, whose read-back right after such a put fails
    // once too, so the outcome cannot be resolved
    val failReadBack = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readBackDown = new java.util.concurrent.atomic.AtomicBoolean(false)
    val store = new ConditionalStore {
      override def get(): Option[String] = {
        if (readBackDown.getAndSet(false))
          throw new RuntimeException("simulated: the read-back was lost too")
        inner.get()
      }
      override def putIf(expected: Option[String], value: String): Boolean = {
        val applied = inner.putIf(expected, value)
        if (applied && failNext.getAndDecrement() > 0) {
          readBackDown.set(failReadBack.getAndSet(false))
          throw new RuntimeException("simulated: committed, then the report was lost")
        }
        applied
      }
    }
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    failNext.set(1)
    // the commit succeeds EXACTLY ONCE: publish reads back, finds its
    // attempt-unique manifest at the head, and reports the win instead
    // of surfacing the exception into a doubling retry
    val v = t.commitWithRetry()(t.commitAppend(frame((2, 2024, 2, 2.0))))
    assert(v == 2)
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)),
      "indeterminate outcome doubled the batch")
    assert(t.history.map(_._1) == Seq(1, 2))
    // refs too: a tag create whose report is lost is still one tag
    failNext.set(1)
    t.tag("pinned", 1)
    assert(t.tags == Seq("pinned" -> 1))
    // and a branch commit: one winner, one branch head
    t.createBranch("dev", 2)
    failNext.set(1)
    t.commitAppendToBranch("dev", frame((3, 2024, 3, 3.0)))
    assert(t.branchHead("dev").contains(2))
    assert(state(t.readBranch("dev")).map(_._1) == Set(1, 2, 3))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
    // a branch commit whose report AND read-back are both lost: the
    // outcome is unknown, so the commit surfaces the failure — and the
    // attempt manifest, which the branch ref now names, must stay
    failNext.set(1)
    failReadBack.set(true)
    intercept[RuntimeException] {
      t.commitAppendToBranch("dev", frame((4, 2024, 4, 4.0)))
    }
    assert(t.branchHead("dev").contains(3))
    assert(state(t.readBranch("dev")).map(_._1) == Set(1, 2, 3, 4))
    assert(t.fsck().isEmpty, s"fsck: ${t.fsck()}")
  }

  test("CAS mode: deep clone seeds the destination store; shallow clone lands Fs-mode") {
    import graft.write.InMemoryConditionalStore
    val root = freshRoot("snap_cas_clone")
    val store = InMemoryConditionalStore(s"cas_$root")
    val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitAppend(frame((2, 2024, 2, 2.0)))
    t.tag("pin", 1)
    // the pointer is a store value, not a file the copy can carry:
    // cloning without a destination store refuses with the fix named
    val e1 = intercept[RuntimeException] { t.deepClone(freshRoot("snap_cas_dc0")) }
    assert(e1.getMessage.contains("destination ConditionalStore"), e1.getMessage)
    val dcRoot = freshRoot("snap_cas_dc")
    val dcStore = InMemoryConditionalStore(s"cas_$dcRoot")
    val clone = t.deepClone(dcRoot, Some(dcStore))
    // the seeded pointer resolves the copied tree verbatim: history,
    // state, and refs all carried; lifecycles independent afterwards
    assert(clone.history.map(_._1) == Seq(1, 2))
    assert(state(clone.read()) == state(t.read()))
    assert(clone.resolveTag("pin").contains(1))
    clone.commitAppend(frame((3, 2024, 3, 3.0)))
    assert(t.currentVersion.contains(2), "clone commit leaked to the source")
    assert(clone.fsck().isEmpty, s"fsck: ${clone.fsck()}")
    // a non-empty destination store refuses (seeding would orphan it)
    val e2 = intercept[Exception] { t.deepClone(freshRoot("snap_cas_dc2"), Some(dcStore)) }
    assert(e2.getMessage.contains("not empty"), e2.getMessage)
    // a shallow clone of a CAS source is an ordinary Fs-mode table
    // (fresh lineage, borrowed dirs) — no store needed
    val sc = t.shallowClone(freshRoot("snap_cas_sc"))
    assert(state(sc.read()) == state(t.read()))
    assert(sc.fsck().isEmpty)
  }

  test("CAS mode: chain walks are memoized per head move; partcols self-discover via the store") {
    import graft.write.{GraftStores, InMemoryConditionalStore}
    val root = freshRoot("snap_cas_memo")
    val store = InMemoryConditionalStore(s"cas_$root")
    // NON-default partition layout: the format read below must discover
    // it from the store-resolved head manifest (no CURRENT file exists
    // in CAS mode — round 14's silent year,month fallback)
    val t = new SnapshotTable(spark, root, Seq("year"), Some(store))
    import spark.implicits._
    (1 to 5).foreach(i => t.commitAppend(
      Seq((i, 2020 + i, i * 1.0)).toDF("id", "year", "fare")))
    val walksAfterCommits = t.chainWalkCount
    // a metadata-heavy read burst re-walks NOTHING while the head is
    // still: history(), versions, time travel, detail — one cached map
    t.history; t.history
    (1 to 5).foreach(v => t.readVersion(v).count())
    t.detail
    assert(t.chainWalkCount <= walksAfterCommits + 1,
      s"chain re-walked per call: ${t.chainWalkCount} walks after burst, " +
        s"$walksAfterCommits after commits")
    // a head move invalidates exactly once
    t.commitAppend(Seq((9, 2029, 9.0)).toDF("id", "year", "fare"))
    t.history
    val afterMove = t.chainWalkCount
    t.history; t.readVersion(6).count()
    assert(t.chainWalkCount == afterMove, "quiet head re-walked")
    // partcols discovery through the registered store: no partcols
    // option, non-default layout — must come back Seq(year)
    GraftStores.register("memo_store", store)
    try {
      val got = spark.read.format("graft")
        .option("pointer", "memo_store").load(root)
      assert(got.count() == 6)
      assert(got.filter(col("year") === 2021).count() == 1)
      assert(graft.write.SnapshotTable.storedPartCols(spark, root, Some(store))
        .contains(Seq("year")))
    } finally GraftStores.unregister("memo_store")
    // expire removes manifests without moving the head: no re-walk per
    // expired version
    val beforeExpire = t.chainWalkCount
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(t.history.map(_._1) == Seq(6))
    assert(t.chainWalkCount == beforeExpire, "expire re-walked the chain")
    assert(t.read().count() == 6)
  }

  test("row-count sidecars materialize lazily, exact across write shapes") {
    // round 13 summed the just-written parquet footers SERIALLY ON THE
    // DRIVER inside every commit (O(files-per-commit) driver round
    // trips); write-time counting of any kind measured ~40% overhead on
    // commit-heavy workloads. The commit path now pays NOTHING: the
    // first countFast runs one distributed footer job per uncounted
    // dir and persists the sidecar. This pins exactness on MULTI-FILE
    // commits for each write shape, plus the persistence.
    import spark.implicits._
    val root = freshRoot("snap_rows")
    val t = new SnapshotTable(spark, root)
    val big = (1 to 500).map(i => (i, 2024, 1 + i % 4, i * 1.5))
      .toDF("id", "year", "month", "fare")
    spark.conf.set(graft.write.WriteDistribution.SplitsConf, "3")
    try t.commitOverwrite(big) // 4 partitions × up to 3 splits = many files
    finally spark.conf.unset(graft.write.WriteDistribution.SplitsConf)
    // no sidecar yet (lazy default) — the commit paid nothing
    val d1 = t.dataDirs(1).head
    assert(!fs(root).exists(new Path(root, s"_data/$d1/_graft_rows")),
      "lazy mode must not count at commit time")
    assert(t.countFast.contains(500L), s"lazy materialization: ${t.countFast}")
    // ...and the first call persisted the sidecar for later ones
    assert(fs(root).exists(new Path(root, s"_data/$d1/_graft_rows")),
      "countFast must persist the lazily-computed sidecar")
    t.commitAppend(frame((9001, 2024, 9, 9.0)))
    assert(t.countFast.contains(501L))
    // clustered commit
    t.commitCompact("fare", nFiles = 4)
    assert(t.countFast.contains(501L), s"clustered: ${t.countFast}")
    // staged-then-published dirs
    t.publishStaged(t.stageAppend(frame((9002, 2024, 10, 1.0)), "rc"))
    assert(t.countFast.contains(502L))
  }

  test("fast-append retry refuses when the SAME op tag landed mid-race (zombie batch dedup)") {
    val root = freshRoot("snap_zombie")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // same-tag race: a zombie/split-brain attempt of the SAME batch id
    // published first — the loser must NOT metadata-retry (that would
    // land the batch twice); it falls through so the caller's tag-keyed
    // dedup (findLatestOp, the streaming IVM contract) skips the replay
    val zombie = new SnapshotTable(spark, root) {
      override protected def appendRaceHook(): Unit = {
        t.commitAppend(frame((2, 2024, 2, 2.0)), opTag = "append_batch_7"); ()
      }
    }
    intercept[SnapshotConflictException] {
      zombie.commitAppend(frame((2, 2024, 2, 2.0)), opTag = "append_batch_7") }
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)),
      "zombie batch landed twice")
    // a DIFFERENT tag racing past still takes the fast metadata retry
    val racing = new SnapshotTable(spark, root) {
      override protected def appendRaceHook(): Unit = {
        t.commitAppend(frame((3, 2024, 3, 3.0)), opTag = "append_batch_8"); ()
      }
    }
    val v = racing.commitAppend(frame((4, 2024, 4, 4.0)), opTag = "append_batch_9")
    assert(t.currentVersion.contains(v))
    assert(state(t.read()).map(_._1) == Set(1, 2, 3, 4))
    assert(t.fsck().isEmpty)
  }

  test("masks whose partition VALUES contain '|' round-trip; legacy 2-field lines parse") {
    import spark.implicits._
    val root = freshRoot("snap_maskbar")
    val t = new SnapshotTable(spark, root, Seq("cat"))
    t.commitOverwrite(Seq((1, "a|b"), (2, "plain")).toDF("id", "cat"))
    t.commitOverwritePartitions(Seq((9, "a|b")).toDF("id", "cat"))
    def ids() = t.read().select(col("id")).collect().map(_.getInt(0)).toSet
    assert(ids() == Set(9, 2), "3-field mask with '|' in a value broke")
    // plant the LEGACY 2-field form (pre-era manifests wrote dir|masks):
    // strip the trailing |era token from the masked entry line — the
    // parser must fall back to the legacy read, not consume the mask
    // tail as a bogus era
    val f = fs(root)
    val mp = new Path(root, "_manifests/v00002.txt")
    val in = f.open(mp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val legacy = text.linesIterator.map { l =>
      if (l.startsWith("entry=") && l.contains("|a|b|")) l.stripSuffix("|0") else l
    }.mkString("\n") + "\n"
    assert(legacy != text, "surgery found no masked entry line")
    val out = f.create(mp, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    val t2 = new SnapshotTable(spark, root, Seq("cat"))
    assert(t2.read().select(col("id")).collect().map(_.getInt(0)).toSet == Set(9, 2),
      "legacy 2-field line with '|' inside the mask misparsed")
  }

  test("branch versions past 99999 stay visible (%05d pads, 6-digit names must parse)") {
    val t = new SnapshotTable(spark, freshRoot("snap_bv6"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.createBranch("b", v1)
    val bv2 = t.commitAppendToBranch("b", frame((2, 2024, 2, 2.0)))
    // simulate the 100000th branch commit: f"%05d" pads to five digits
    // but renders SIX at 100000, so the manifest publishes under a
    // 6-digit name — plant it by copying the head manifest with the
    // version line rewritten (the manifests are plain text)
    val f = fs(t.location)
    val mdir = new Path(t.location, "_manifests")
    val in = f.open(new Path(mdir, f"bv_b_$bv2%05d.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val out = f.create(new Path(mdir, "bv_b_100000.txt"))
    try out.write(text.replace(s"version=$bv2", "version=100000")
      .replace(s"parent=${bv2 - 1}", "parent=99999").getBytes("UTF-8"))
    finally out.close()
    // an exact-5-digit parse would leave the head stuck at bv2 and the
    // next commit wedged forever on the already-existing 100000 file
    assert(t.branchHead("b").contains(100000))
    assert(t.commitAppendToBranch("b", frame((3, 2024, 3, 3.0))) == 100001)
    assert(state(t.readBranch("b")) ==
      Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0), (3, 2024, 3, 3.0)))
    assert(t.branches == Seq("b" -> 100001))
  }

  test("NULL partition values are refused wherever a mask would be created") {
    val t = new SnapshotTable(spark, freshRoot("snap_nullpart"))
    // full commits tolerate null partition values (hive default dir,
    // plain read round-trips them) — only MASK-creating commits refuse
    val mixed = frame((1, 2024, 1, 1.0), (9, 2024, 2, 9.0))
      .withColumn("year",
        when(col("id") === 9, lit(null).cast("int")).otherwise(col("year")))
    t.commitOverwrite(mixed)
    assert(t.read().count() == 2)
    // a delete whose MATCHES include the null partition would mask-drop
    // that partition's NON-matching rows too — refused loudly
    intercept[IllegalArgumentException] { t.commitDelete(col("fare") === 9.0) }
    // a delete touching only non-null partitions still works
    t.commitDelete(col("fare") === 1.0)
    assert(t.read().count() == 1)
    // dynamic overwrite and merge with a null-partition batch refuse too
    val nullBatch = frame((5, 2024, 5, 5.0))
      .withColumn("year", lit(null).cast("int"))
    intercept[IllegalArgumentException] { t.commitOverwritePartitions(nullBatch) }
    intercept[IllegalArgumentException] { t.commitMerge(nullBatch, Seq("id")) }
    // the refusals left no partial state
    assert(t.read().count() == 1)
    assert(t.fsck().isEmpty, s"refusal debris: ${t.fsck()}")
  }

  test("commitDelete (COW): partition-scoped rewrite, metadata-only full partitions, time travel") {
    val t = new SnapshotTable(spark, freshRoot("snap_del"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 1, 20.0),
      (3, 2024, 2, 30.0), (4, 2024, 3, 40.0)))
    // partial delete in month 1 + full delete of month 2; month 3 untouched
    val v2 = t.commitDelete(col("fare") === 10.0 || col("month") === 2)
    assert(state(t.read()) == Set((2, 2024, 1, 20.0), (4, 2024, 3, 40.0)))
    // time travel: the pre-delete version reads every row
    assert(state(t.readVersion(v1)).size == 4)
    // a condition matching nothing is a no-op: no empty commit
    assert(t.commitDelete(col("fare") > 999) == v2)
    assert(t.history.size == 2)
    // NULL-condition rows are KEPT (delete only what provably matches)
    t.commitDelete(when(col("id") === 2, lit(null).cast("boolean"))
      .otherwise(col("fare") >= 40.0))
    assert(state(t.read()) == Set((2, 2024, 1, 20.0)))
    assert(t.fsck().isEmpty, s"post-delete fsck: ${t.fsck()}")
  }

  test("commitDelete of whole partitions moves zero bytes (pure metadata)") {
    val t = new SnapshotTable(spark, freshRoot("snap_delmeta"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
    val v2 = t.commitDelete(col("month") === 2)
    // every matched partition was fully deleted: the commit reuses the
    // parent's dirs with a mask — the Iceberg partition-aligned path
    assert(t.dataDirs(v2) == t.dataDirs(v1), "full-partition delete moved bytes")
    assert(state(t.read()) == Set((1, 2024, 1, 1.0)))
    assert(state(t.readVersion(v1)).size == 2)
  }

  test("commitDeleteMor: predicate-only commit, positional scope, compaction clears debt") {
    val t = new SnapshotTable(spark, freshRoot("snap_delmor"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val dirsBefore = t.dataDirs(v1)
    val v2 = t.commitDeleteMor(col("fare") >= 20.0)
    // O(metadata): the commit is one manifest line, zero data movement
    assert(t.dataDirs(v2) == dirsBefore)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0)))
    assert(state(t.readVersion(v1)).size == 2) // time travel survives
    // positional scoping: a LATER append matching the predicate stays
    // visible — the delete speaks only about data that existed at commit
    val v3 = t.commitAppend(frame((3, 2024, 3, 30.0)))
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (3, 2024, 3, 30.0)))
    // incremental read: fine across the append, refused across the delete
    assert(state(t.appendsBetween(v2, v3)) == Set((3, 2024, 3, 30.0)))
    intercept[IllegalArgumentException] { t.appendsBetween(v1, v3) }
    // history introspection counts the predicate delete
    val hist = t.describeHistory().collect()
      .map(r => r.getInt(0) -> r.getInt(4)).toMap
    assert(hist(v2) == 1 && hist(v1) == 0)
    // an unresolvable predicate fails at COMMIT, not on every later read
    intercept[Exception] { t.commitDeleteMor(col("no_such_col") > 1) }
    // compaction materializes the state and clears the read debt
    val vc = t.commitCompact("id")
    assert(t.dataDirs(vc).size == 1)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (3, 2024, 3, 30.0)))
    assert(t.fsck().isEmpty, s"post-compact fsck: ${t.fsck()}")
    // purge composes with predicate deletes (they carry no row data and
    // the rewrite preserves entry order, so positional scopes survive)
    t.purge(col("fare") === 30.0)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0)))
    assert(state(t.readVersion(v2)) == Set((1, 2024, 1, 10.0)))
  }

  test("expireOlderThan retires by commit wall-clock; vacuumPreview is a true dry run") {
    val t = new SnapshotTable(spark, freshRoot("snap_expage"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.commitOverwrite(frame((2, 2024, 2, 2.0)))
    t.tag("keep1", 1)
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.commitOverwrite(frame((3, 2024, 3, 3.0)))
    // v1 and v2 predate `mid`, but v1 is TAGGED and survives; v3 is
    // current and always survives
    t.expireOlderThan(mid, olderThanMs = 0L)
    assert(t.history.map(_._1) == Seq(1, 3))
    assert(state(t.readTag("keep1")) == Set((1, 2024, 1, 1.0)))
    assert(state(t.read()) == Set((3, 2024, 3, 3.0)))
    // a cutoff before all history expires nothing
    t.expireOlderThan(0L, olderThanMs = 0L)
    assert(t.history.map(_._1) == Seq(1, 3))
    // vacuumPreview reports the orphan a crashed writer left — and
    // REMOVES nothing (dry run); vacuum then takes exactly that list
    frame((9, 2024, 9, 9.0)).write.parquet(s"${t.location}/_data/d00099")
    // backdate past millisecond mtime granularity (strictly-older sweep)
    fs(t.location).setTimes(new Path(t.location, "_data/d00099"),
      System.currentTimeMillis() - 10000L, -1L)
    assert(t.vacuumPreview(olderThanMs = 0L) == Seq("d00099"))
    assert(fs(t.location).exists(new Path(t.location, "_data/d00099")),
      "preview deleted the candidate")
    assert(t.vacuumPreview().isEmpty, "default-window preview flagged a young dir")
    assert(t.vacuum(olderThanMs = 0L) == Seq("d00099"))
    assert(t.vacuumPreview(olderThanMs = 0L).isEmpty)
  }

  test("vacuum racing live commits never deletes an in-flight data dir (age guard)") {
    // every commit writes its data dir BEFORE publishing its manifest,
    // so mid-commit the dir is referenced by nothing — a sweeper with
    // no age guard would delete it and let the commit then publish a
    // manifest over missing data. A LIVE interleaving (not a planted
    // file): vacuum hammers in a thread while commits land.
    val t = new SnapshotTable(spark, freshRoot("snap_vacrace"))
    t.commitOverwrite(frame((0, 2024, 1, 0.0)))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sweeps = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val sweeper = new Thread(() => {
      while (!stop.get()) {
        try { t.vacuum(); sweeps.incrementAndGet(); () }
        catch { case e: Throwable => vacErrs.add(e); () }
      }
    })
    sweeper.setDaemon(true)
    sweeper.start()
    val versions =
      try (1 to 5).map(i => t.commitAppend(frame((i, 2024, i, i * 1.0))))
      finally { stop.set(true); sweeper.join(60000) }
    assert(vacErrs.isEmpty, s"vacuum threw mid-race: ${vacErrs.peek()}")
    assert(sweeps.get() > 0, "sweeper never ran — race not exercised")
    // every published version reads back complete: the sweep spared
    // each just-written-but-not-yet-referenced dir
    assert(state(t.read()).size == 6)
    versions.zipWithIndex.foreach { case (v, i) =>
      assert(t.readVersion(v).count() == i + 2, s"v$v incomplete after race") }
    assert(t.fsck().isEmpty, s"post-race fsck: ${t.fsck()}")
  }

  test("underscore-prefix branch names coexist: daily vs daily_v2") {
    // branch manifests are name-prefixed files (bv_<name>_NNNNN.txt);
    // 'daily' is a string prefix of 'daily_v2', so a loose startsWith
    // parse would hand branch "daily" the version token "v2_00001" and
    // crash every maintenance op on the table
    val t = new SnapshotTable(spark, freshRoot("snap_bpfx"))
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    t.createBranch("daily", v1)
    t.createBranch("daily_v2", v1)
    t.commitAppendToBranch("daily", frame((2, 2024, 2, 2.0)))
    t.commitAppendToBranch("daily_v2", frame((3, 2024, 3, 3.0)))
    t.commitAppendToBranch("daily_v2", frame((4, 2024, 4, 4.0)))
    assert(t.branches == Seq("daily" -> 2, "daily_v2" -> 3))
    assert(state(t.readBranch("daily")).map(_._1) == Set(1, 2))
    assert(state(t.readBranch("daily_v2")).map(_._1) == Set(1, 3, 4))
    // every maintenance op walks every branch — none may crash on the
    // prefix pair or collect a sibling's dirs
    assert(t.fsck().isEmpty, s"fsck on prefix pair: ${t.fsck()}")
    assert(t.vacuum(olderThanMs = 0L).isEmpty,
      "vacuum collected a prefix-sibling branch's dirs")
    t.expire(keepLast = 1, olderThanMs = 0L)
    assert(state(t.readBranch("daily_v2")).size == 3, "expire ate a branch dir")
    // dropping the shorter name must not delete the longer one's manifests
    t.dropBranch("daily")
    assert(t.branches.map(_._1) == Seq("daily_v2"),
      "dropBranch('daily') destroyed daily_v2")
    assert(state(t.readBranch("daily_v2")).size == 3)
  }

  test("commitMerge and commitMergeMor refuse duplicate source keys") {
    // SQL MERGE raises on multiple source matches per key; a silent
    // double-insert is the divergence class the engine refuses loudly
    // (same contract as operators.Merge.upsert)
    val t = new SnapshotTable(spark, freshRoot("snap_dupkey"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    val dup = frame((2, 2024, 2, 2.0), (2, 2024, 2, 9.0))
    intercept[IllegalArgumentException] { t.commitMerge(dup, Seq("id")) }
    intercept[IllegalArgumentException] { t.commitMergeMor(dup, Seq("id")) }
    // the refusal fires before any write: state, history, disk untouched
    assert(state(t.read()) == Set((1, 2024, 1, 1.0)))
    assert(t.history.size == 1)
    assert(t.vacuum(olderThanMs = 0L).isEmpty, "refused merge left debris")
    // a deduplicated batch then lands normally on either path
    t.commitMerge(frame((2, 2024, 2, 2.0)), Seq("id"))
    assert(state(t.read()) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
  }

  test("an empty streaming micro-batch commits nothing and stays idempotent") {
    val t = new SnapshotTable(spark, freshRoot("snap_emptyb"))
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    val empty = frame((1, 2024, 1, 1.0)).limit(0)
    // a trigger with no new rows: no commit, no data-file-less _data
    // dir for fsck to flag — but the batch still reports handled
    assert(graft.streaming.StreamingEvents.appendApplyBatch(t, empty, 5L))
    assert(t.history.size == 1, "empty batch landed a commit")
    assert(t.fsck().isEmpty, s"empty batch left damage: ${t.fsck()}")
    // a later non-empty batch lands and advances the high-water mark
    assert(graft.streaming.StreamingEvents.appendApplyBatch(t, frame((2, 2024, 2, 2.0)), 6L))
    assert(!graft.streaming.StreamingEvents.appendApplyBatch(t, frame((2, 2024, 2, 2.0)), 6L))
    assert(t.read().count() == 2)
  }
}

/** RawLocalFileSystem wearing the `s3a` scheme — the shim that lets the
  * commit-safety probe's refusal path run in-sandbox (the probe keys on
  * the SCHEME's rename/create semantics, not the implementation behind
  * it). */
class FakeS3Fs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("s3a:///")
}

/** RawLocalFileSystem mounted at a second URI scheme (`raw://`) — the
  * in-sandbox stand-in for a non-default store: no CRC shadow files,
  * its own rename/create code paths. RawLocalFileSystem hardcodes
  * `file:///` as its URI, so the remount needs the override. */
class RawSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("raw:///")
}
