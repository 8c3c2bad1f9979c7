package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.SnapshotTable

/** Column-mapping contract (metadata-only RENAME/DROP COLUMN): one
  * commit, zero data movement, era-correct time travel, loud refusals
  * for every case the read-time fold cannot disambiguate, and
  * compaction as the mapping's materialization point. */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: (Int, Int, Int, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "year", "month", "fare")
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_colmap_$tag").toString + "/tbl"

  test("rename: one metadata commit, mixed-era dirs align, time travel era-correct") {
    val t = new SnapshotTable(spark, freshRoot("ren"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val preDirs = t.dataDirs(1)
    val v = t.renameColumn("fare", "fare_amt")
    assert(t.currentVersion.contains(v))
    assert(t.dataDirs(v) == preDirs, "rename moved data")
    assert(t.history.last._2 == "rename_column_fare_to_fare_amt")

    // old physical dirs read under the new logical name
    assert(t.read().columns.toSet == Set("id", "year", "month", "fare_amt"))
    assert(t.read().agg(sum(col("fare_amt"))).head().getDouble(0) == 30.0)
    // time travel: the pre-rename version keeps its era's name
    assert(t.readVersion(1).columns.contains("fare"))

    // a new append under the NEW name joins seamlessly (mixed eras)
    import spark.implicits._
    t.commitAppend(Seq((3, 2024, 3, 30.0)).toDF("id", "year", "month", "fare_amt"))
    assert(t.read().agg(sum(col("fare_amt"))).head().getDouble(0) == 60.0)

    // chained rename: a -> b -> c folds old dirs all the way forward
    t.renameColumn("fare_amt", "fare_usd")
    assert(t.read().columns.contains("fare_usd"))
    assert(t.read().agg(sum(col("fare_usd"))).head().getDouble(0) == 60.0)
    assert(t.columnOps.size == 2)
  }

  test("retired names refuse on write until compaction materializes the mapping") {
    val t = new SnapshotTable(spark, freshRoot("ret"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.renameColumn("fare", "fare_amt")
    // writing with the OLD name refuses (the fold would re-map it)
    val e = intercept[Exception] { t.commitAppend(frame((2, 2024, 2, 20.0))) }
    assert(e.getMessage.contains("renamed or dropped"))
    // compaction rewrites under logical names and CLEARS the history
    t.commitCompactFiles()
    assert(t.columnOps.isEmpty)
    assert(t.read().columns.contains("fare_amt"))
    // the retired name is free again (a brand-new column)
    t.commitAppend(frame((2, 2024, 2, 20.0)))
    assert(t.read().columns.toSet ==
      Set("id", "year", "month", "fare_amt", "fare"))
  }

  test("drop: column hidden everywhere current, era-visible in time travel") {
    val t = new SnapshotTable(spark, freshRoot("drop"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val v = t.dropColumn("fare")
    assert(t.read().columns.toSet == Set("id", "year", "month"))
    assert(t.readVersion(v - 1).columns.contains("fare"))
    // re-adding the dropped name refuses until compaction
    val e = intercept[Exception] { t.commitAppend(frame((3, 2024, 3, 30.0))) }
    assert(e.getMessage.contains("renamed or dropped"))
    t.commitCompactFiles()
    t.commitAppend(frame((3, 2024, 3, 30.0)))
    assert(t.read().columns.contains("fare"))
    // the pre-compaction rows read NULL for the re-added column
    assert(t.read().filter(col("fare").isNull).count() == 2)
  }

  test("refusals: partition column, existing target, constraint/delete references") {
    val t = new SnapshotTable(spark, freshRoot("ref"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    assert(intercept[Exception] { t.renameColumn("month", "m") }
      .getMessage.contains("partition column"))
    assert(intercept[Exception] { t.dropColumn("year") }
      .getMessage.contains("partition column"))
    assert(intercept[Exception] { t.renameColumn("fare", "id") }
      .getMessage.contains("already exists"))
    assert(intercept[Exception] { t.renameColumn("nope", "x") }
      .getMessage.contains("no column"))
    t.addConstraint("pos", "fare > 0")
    assert(intercept[Exception] { t.renameColumn("fare", "f2") }
      .getMessage.contains("CHECK constraint"))
    assert(intercept[Exception] { t.dropColumn("fare") }
      .getMessage.contains("CHECK constraint"))
    t.dropConstraint("pos")
    t.commitDeleteMor(col("fare") < 0)
    assert(intercept[Exception] { t.renameColumn("fare", "f2") }
      .getMessage.contains("predicate delete"))
    // a column the predicate does NOT reference renames fine
    t.renameColumn("id", "row_id")
    assert(t.read().columns.contains("row_id"))
  }

  test("SQL verbs + format read: fast path falls back, general path folds") {
    val root = freshRoot("sql")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val name = "graft_colmap_sql"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      val v = spark.sql(
        s"ALTER TABLE $name RENAME COLUMN fare TO fare_amt").head().getInt(0)
      assert(t.currentVersion.contains(v))
      // the format read (general path — fold active) shows the new name
      val viaFormat = spark.read.format("graft").load(root)
      assert(viaFormat.columns.contains("fare_amt"))
      assert(viaFormat.agg(sum(col("fare_amt"))).head().getDouble(0) == 30.0)
      // versionAsOf the pre-rename era shows the old name
      assert(spark.read.format("graft").option("versionAsOf", v - 1)
        .load(root).columns.contains("fare"))
      spark.sql(s"ALTER TABLE $name DROP COLUMN fare_amt")
      assert(!spark.read.format("graft").load(root).columns.contains("fare_amt"))
      // after OPTIMIZE the mapping is materialized: fast path serves
      // (one FileSourceScanExec) under the final schema
      spark.sql(s"OPTIMIZE $name")
      assert(t.columnOps.isEmpty)
      val plan = spark.read.format("graft").load(root)
        .queryExecution.executedPlan.toString
      assert(plan.contains("FileScan"), s"fast path not restored:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("widen: old dirs read-cast up, narrow late arrivals fold, refusals loss-free only") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("wid"))
    t.commitOverwrite(Seq((1, 2024, 1, 10)).toDF("id", "year", "month", "cnt"))
    assert(t.read().schema("cnt").dataType.catalogString == "int")
    val v = t.widenColumn("cnt", "bigint")
    assert(t.history.last._2 == "widen_column_cnt_to_bigint")
    // the old dir reads as bigint; a wide append unions seamlessly
    assert(t.read().schema("cnt").dataType.catalogString == "bigint")
    t.commitAppend(Seq((2, 2024, 2, 3000000000L)).toDF("id", "year", "month", "cnt"))
    assert(t.read().agg(sum(col("cnt"))).head().getLong(0) == 3000000010L)
    // a NARROW late arrival still folds up (no retired-name refusal)
    t.commitAppend(Seq((3, 2024, 3, 5)).toDF("id", "year", "month", "cnt"))
    assert(t.read().schema("cnt").dataType.catalogString == "bigint")
    assert(t.read().count() == 3)
    // time travel: the pre-widen era keeps its narrow type
    assert(t.readVersion(1).schema("cnt").dataType.catalogString == "int")
    // refusals: narrowing, lossy long->double, partition col, no column
    assert(intercept[Exception] { t.widenColumn("cnt", "int") }
      .getMessage.contains("not a loss-free widening"))
    assert(intercept[Exception] { t.widenColumn("cnt", "double") }
      .getMessage.contains("not a loss-free widening"))
    assert(intercept[Exception] { t.widenColumn("year", "bigint") }
      .getMessage.contains("partition column"))
    assert(intercept[Exception] { t.widenColumn("nope", "bigint") }
      .getMessage.contains("no column"))
    // compaction materializes the wide type and clears the mapping
    t.commitCompactFiles()
    assert(t.columnOps.isEmpty)
    assert(t.read().schema("cnt").dataType.catalogString == "bigint")
    assert(t.read().agg(sum(col("cnt"))).head().getLong(0) == 3000000015L)
  }

  test("widen: a narrow OVERWRITE after the widen lands wide (write-time cast)") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("widow"))
    t.commitOverwrite(Seq((1, 2024, 1, 10)).toDF("id", "year", "month", "cnt"))
    t.widenColumn("cnt", "bigint")
    // a still-narrow SINGLE-ENTRY rewrite: without the write-time cast
    // this dir would be stamped at the post-widen era (fold skips it)
    // and the table would read the NARROW type — disagreeing with the
    // declared schema; multi-dir tables only agreed via unionByName
    // coercion
    t.commitOverwrite(Seq((2, 2024, 2, 7)).toDF("id", "year", "month", "cnt"))
    assert(t.read().schema("cnt").dataType.catalogString == "bigint",
      "narrow overwrite was stamped wide but written narrow")
    assert(t.read().agg(sum(col("cnt"))).head().getLong(0) == 7L)
    // staged writes conform too
    val w = t.stageAppend(Seq((3, 2024, 3, 9)).toDF("id", "year", "month", "cnt"), "wid")
    t.publishStaged(w)
    assert(t.read().schema("cnt").dataType.catalogString == "bigint")
    assert(t.read().agg(sum(col("cnt"))).head().getLong(0) == 16L)
  }

  test("widen SQL verb: catalog schema follows; format fast path falls back then restores") {
    import spark.implicits._
    val root = freshRoot("widsql")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(Seq((1, 2024, 1, 10)).toDF("id", "year", "month", "cnt"))
    val name = "graft_colmap_widsql"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      spark.sql(s"ALTER TABLE $name ALTER COLUMN cnt TYPE bigint")
      assert(spark.table(name).schema("cnt").dataType.catalogString == "bigint")
      // general path (fold active): the format read serves bigint
      assert(spark.read.format("graft").load(root)
        .schema("cnt").dataType.catalogString == "bigint")
      spark.sql(s"OPTIMIZE $name")
      val df = spark.read.format("graft").load(root)
      assert(df.schema("cnt").dataType.catalogString == "bigint")
      assert(df.queryExecution.executedPlan.toString.contains("FileScan"),
        "fast path not restored after compaction")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("add column: old dirs read typed nulls; drop-then-re-add is era-safe") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshRoot("add"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.addColumn("tip", "double")
    assert(t.history.last._2 == "add_column_tip")
    assert(t.read().columns.contains("tip"))
    assert(t.read().filter(col("tip").isNull).count() == 1)
    // later writes carry real values; the old dir still reads null
    t.commitAppend(Seq((2, 2024, 2, 20.0, 3.5)).toDF("id", "year", "month", "fare", "tip"))
    assert(t.read().agg(sum(col("tip"))).head().getDouble(0) == 3.5)
    assert(intercept[Exception] { t.addColumn("tip", "double") }
      .getMessage.contains("already exists"))

    // the era mechanism: drop 'fare', re-add it, append real values —
    // old-era fare stays hidden, the re-added column starts fresh
    t.dropColumn("fare")
    assert(!t.read().columns.contains("fare"))
    t.addColumn("fare", "double")
    t.commitAppend(Seq((3, 2024, 3, 7.0, 0.0)).toDF("id", "year", "month", "fare", "tip"))
    val fares = t.read().select(col("id"), col("fare")).collect()
      .map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(fares(3).contains(7.0), "post-re-add write lost its value")
    assert(fares(1).isEmpty && fares(2).isEmpty,
      "old-era fare leaked through the drop (era fold broken)")
  }

  test("versioned TBLPROPERTIES: set/unset commits, time travel, DESCRIBE DETAIL") {
    val root = freshRoot("props")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    val name = "graft_colmap_props"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      val v1 = spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES" +
        "('team'='data-eng', 'retention.hours'='168')").head().getInt(0)
      assert(t.properties == Map("team" -> "data-eng", "retention.hours" -> "168"))
      // upsert overwrites; properties carry through unrelated commits
      spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES('team'='ml-platform')")
      t.commitAppend(frame((2, 2024, 2, 20.0)))
      assert(t.properties("team") == "ml-platform")
      // time travel: the earlier era keeps its value
      assert(t.currentVersion.isDefined)
      val d = spark.sql(s"DESCRIBE DETAIL $name").head()
      assert(d.getString(d.fieldIndex("properties"))
        .contains("team=ml-platform"))
      spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES('retention.hours')")
      assert(t.properties == Map("team" -> "ml-platform"))
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES('nope')") }
      assert(e.getMessage.contains("no such propert"))
      assert(v1 >= 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("ADD COLUMN SQL verb updates the catalog schema") {
    import spark.implicits._
    val root = freshRoot("addsql")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    val name = "graft_colmap_addsql"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      spark.sql(s"ALTER TABLE $name ADD COLUMN surcharge double")
      assert(spark.table(name).columns.contains("surcharge"))
      assert(spark.table(name).filter(col("surcharge").isNull).count() == 1)
      // and the new column takes INSERTed values
      spark.sql("SELECT 2 AS id, 2024 AS year, 2 AS month, " +
        "20.0 AS fare, 1.25 AS surcharge")
        .createOrReplaceTempView("graft_colmap_addsql_src")
      spark.sql(s"INSERT INTO $name BY NAME SELECT * FROM graft_colmap_addsql_src")
      assert(spark.table(name).agg(sum(col("surcharge"))).head().getDouble(0) == 1.25)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("branches carry the fork's column mapping; fast-forward publishes it") {
    val t = new SnapshotTable(spark, freshRoot("br"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.renameColumn("fare", "fare_amt")
    t.createBranch("wip", t.currentVersion.get)
    // the branch reads its pre-rename dir under the LOGICAL name,
    // exactly like main
    assert(t.readBranch("wip").columns.contains("fare_amt"))
    // a branch write under the logical name joins the folded old dir
    import spark.implicits._
    t.commitAppendToBranch("wip",
      Seq((2, 2024, 2, 20.0)).toDF("id", "year", "month", "fare_amt"))
    assert(t.readBranch("wip")
      .agg(sum(col("fare_amt"))).head().getDouble(0) == 30.0)
    // fast-forward publishes the branch state with its mapping intact
    t.fastForward("wip")
    assert(t.read().columns.contains("fare_amt"))
    assert(t.read().agg(sum(col("fare_amt"))).head().getDouble(0) == 30.0)
  }

  test("a branch forked before a main rename writes under its own column names") {
    val t = new SnapshotTable(spark, freshRoot("brfork"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.createBranch("wip", t.currentVersion.get)
    t.renameColumn("fare", "amount")
    // the branch never saw the rename: `fare` is its live name
    t.commitAppendToBranch("wip", frame((2, 2024, 2, 20.0)))
    t.commitOverwritePartitionsToBranch("wip", frame((3, 2024, 3, 30.0)))
    t.commitMergeToBranch("wip", frame((1, 2024, 1, 11.0)), Seq("id"))
    val branch = t.readBranch("wip")
    assert(branch.columns.toSet == Set("id", "year", "month", "fare"))
    assert(branch.agg(sum(col("fare"))).head().getDouble(0) == 61.0)
    // main keeps its own mapping
    assert(t.read().columns.toSet == Set("id", "year", "month", "amount"))
    assert(t.read().agg(sum(col("amount"))).head().getDouble(0) == 10.0)
  }

  test("rollback restores the target era's schema metadata, not the head's") {
    val t = new SnapshotTable(spark, freshRoot("rb"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))           // v1: fare
    t.renameColumn("fare", "fare_amt")                     // v2
    t.setProperties(Seq("owner" -> "x"))                   // v3
    t.addConstraint("pos", "fare_amt > 0")                 // v4
    val rv = t.rollbackTo(1)
    // the restored head reads exactly like the target version
    assert(t.read().columns.contains("fare"))
    assert(!t.read().columns.contains("fare_amt"))
    assert(t.columnOps.isEmpty && t.constraints.isEmpty && t.properties.isEmpty)
    assert(t.readVersion(rv).collect().toSet == t.readVersion(1).collect().toSet)
    // and the rolled-back-over history is still time-travelable
    assert(t.readVersion(2).columns.contains("fare_amt"))
  }

  test("countFast: metadata-only count(*) — exact or absent, never wrong") {
    val t = new SnapshotTable(spark, freshRoot("cnt"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    t.commitAppend(frame((3, 2024, 3, 30.0)))
    assert(t.countFast.contains(3L))
    assert(t.countFast.get == t.read().count())
    // column-mapping ops never change counts
    t.renameColumn("fare", "fare_amt")
    assert(t.countFast.contains(3L))
    // a partition-overwrite MASK makes per-dir totals unusable → decline
    import spark.implicits._
    t.commitOverwritePartitions(
      Seq((9, 2024, 2, 99.0)).toDF("id", "year", "month", "fare_amt"))
    assert(t.countFast.isEmpty)
    // ...and compaction (masks folded into one recorded dir) restores it
    t.commitCompactFiles()
    assert(t.countFast.contains(3L))
    assert(t.countFast.get == t.read().count())
    // a MOR delete declines too; its compaction restores
    t.commitDeleteMor(col("id") === 1)
    assert(t.countFast.isEmpty)
    t.commitCompactFiles()
    assert(t.countFast.contains(2L))
    // DESCRIBE DETAIL surfaces it (and -1 would mean unknown)
    assert(t.detail.numRows == 2L)
  }

  test("changelog across a rename boundary refuses; within an era works") {
    val t = new SnapshotTable(spark, freshRoot("cdc"))
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.commitAppend(frame((2, 2024, 2, 20.0)))
    assert(t.changelog(1, 2).count() == 1)
    val v = t.renameColumn("fare", "fare_amt")
    val e = intercept[Exception] { t.changelog(1, v) }
    assert(e.getMessage.contains("column rename/drop/widen boundary"))
  }
}
