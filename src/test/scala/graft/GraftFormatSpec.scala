package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.SnapshotTable

/** The `graft` DataSource format: `spark.read.format("graft")` and SQL
  * over a registered table must serve the snapshot read path — current,
  * versionAsOf/tag/branch time travel — with the FAST path planning a
  * real FileSourceScanExec (partition pruning through the relation,
  * exclusion masks applied at listing) and the GENERAL path (pending
  * merge-on-read deletes) staying result-identical. */
class GraftFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: (Int, Int, Int, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "year", "month", "fare")
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/tbl"

  private def state(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Int, Double)] =
    df.select(col("id"), col("year"), col("month"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet

  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => fileScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
  }.flatten

  test("pure helpers: timestamp parsing forms and schema unification edges") {
    import graft.sources.GraftDataSource.{parseTimestamp, unifySchemas}
    import org.apache.spark.sql.types._
    // the three accepted timestamp forms agree
    val epoch = 1767225600000L // 2026-01-01T00:00:00Z
    assert(parseTimestamp(epoch.toString) == epoch)
    assert(parseTimestamp("2026-01-01T00:00:00Z") == epoch)
    assert(parseTimestamp(" 42 ") == 42L)
    intercept[Exception] { parseTimestamp("not-a-time") }
    def s(fields: (String, DataType, Boolean)*) =
      StructType(fields.map { case (n, dt, nul) => StructField(n, dt, nul) })
    // identical schemas unify to themselves
    val a = s(("id", IntegerType, false), ("v", DoubleType, true))
    assert(unifySchemas(Seq(a)).contains(a))
    // additive: absent column forced nullable even if declared required
    val b = s(("id", IntegerType, false), ("v", DoubleType, true),
      ("tip", DoubleType, false))
    val u = unifySchemas(Seq(a, b)).get
    assert(u.fieldNames.toSeq == Seq("id", "v", "tip"))
    assert(u("tip").nullable, "era-absent column must unify nullable")
    assert(!u("id").nullable, "everywhere-required column stays required")
    // present-everywhere but nullable in ONE era → nullable
    val a2 = s(("id", IntegerType, true), ("v", DoubleType, true))
    assert(unifySchemas(Seq(a2, a)).get("id").nullable)
    // type flip → None (general path)
    val c = s(("id", LongType, false), ("v", DoubleType, true))
    assert(unifySchemas(Seq(a, c)).isEmpty)
    // disjoint additions (neither is a superset) → None
    val d1 = s(("id", IntegerType, false), ("x", IntegerType, true))
    val d2 = s(("id", IntegerType, false), ("y", IntegerType, true))
    assert(unifySchemas(Seq(d1, d2)).isEmpty)
  }

  test("one read path: Scala reads and the format agree on rows, column order and scan shape") {
    import spark.implicits._
    type Reads = Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]
    def fmt(root: String, opts: (String, String)*) =
      spark.read.format("graft").options(opts.toMap).load(root)
    def current(root: String, t: SnapshotTable): Reads =
      Seq(("readVersion", t.readVersion(t.currentVersion.get), fmt(root)))
    val base = frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 3, 30.0))
    val hiveOrder = Seq("id", "fare", "year", "month")
    // (shape, reads, read()'s column order, served by one file scan)
    val shapes: Seq[(String, () => (Reads, Seq[String], Boolean))] = Seq(
      "plain hive" -> { () =>
        val root = freshRoot("eq_plain"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitAppend(frame((4, 2024, 4, 40.0)))
        (current(root, t), hiveOrder, true)
      },
      "masked partitions" -> { () =>
        val root = freshRoot("eq_mask"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitOverwritePartitions(frame((9, 2024, 2, 99.0)))
        (current(root, t), hiveOrder, true)
      },
      "additive evolution" -> { () =>
        val root = freshRoot("eq_evo"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitAppend(frame((4, 2024, 4, 40.0)).withColumn("tip", lit(2.5)))
        (current(root, t), Seq("id", "fare", "tip", "year", "month"), true)
      },
      "additive evolution, compacted" -> { () =>
        val root = freshRoot("eq_evoc"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitAppend(frame((4, 2024, 4, 40.0)).withColumn("tip", lit(2.5)))
        t.commitCompactFiles()
        (current(root, t), Seq("id", "fare", "tip", "year", "month"), true)
      },
      "key deletes" -> { () =>
        val root = freshRoot("eq_mor"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitMergeMor(frame((2, 2024, 2, 22.0), (5, 2024, 5, 50.0)), Seq("id"))
        (current(root, t), hiveOrder, false)
      },
      "predicate deletes" -> { () =>
        val root = freshRoot("eq_pdel"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.commitDeleteMor(col("fare") > 25.0)
        (current(root, t), hiveOrder, false)
      },
      "live rename" -> { () =>
        val root = freshRoot("eq_ren"); val t = new SnapshotTable(spark, root)
        t.commitOverwrite(base)
        t.renameColumn("fare", "fare_amt")
        (current(root, t), Seq("id", "fare_amt", "year", "month"), false)
      },
      "clustered dir with stats" -> { () =>
        val root = freshRoot("eq_clu"); val t = new SnapshotTable(spark, root)
        t.commitOverwriteClustered((1 to 40).map(i => (i, 2024, i % 3 + 1, i * 1.0))
          .toDF("id", "year", "month", "fare"), "id", nFiles = 4)
        t.commitAppend(frame((41, 2024, 4, 41.0)))
        (current(root, t) :+ (("readSkipping", t.readSkipping("id"), fmt(root))),
          hiveOrder, false)
      },
      "branch head and tag" -> { () =>
        val root = freshRoot("eq_refs"); val t = new SnapshotTable(spark, root)
        val v1 = t.commitOverwrite(base)
        t.tag("audited", v1)
        t.commitAppend(frame((4, 2024, 4, 40.0)))
        t.createBranch("wip", v1)
        t.commitAppendToBranch("wip", frame((7, 2024, 7, 70.0)))
        (Seq(("readTag", t.readTag("audited"), fmt(root, "tag" -> "audited")),
          ("readBranch", t.readBranch("wip"), fmt(root, "branch" -> "wip"))),
          hiveOrder, true)
      })
    def rows(df: org.apache.spark.sql.DataFrame, order: Seq[String]) =
      df.select(order.map(c => col(c)): _*).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    for ((shape, build) <- shapes) {
      val (reads, order, oneScan) = build()
      for ((label, viaApi, viaFmt) <- reads) {
        assert(rows(viaApi, order) == rows(viaFmt, order), s"$shape/$label: rows diverge")
        assert(viaApi.columns.toSeq == order && viaFmt.columns.toSeq == order,
          s"$shape/$label: columns ${viaApi.columns.toSeq} / ${viaFmt.columns.toSeq}")
        if (oneScan) for ((df, via) <- Seq(viaApi -> "api", viaFmt -> "format"))
          assert(fileScans(df.queryExecution.executedPlan).size == 1,
            s"$shape/$label via $via: not one FileSourceScanExec")
      }
    }
  }

  test("fast path: the format's read options reach the parquet relation") {
    val root = freshRoot("fmt_opts")
    new SnapshotTable(spark, root).commitOverwrite(frame((1, 2024, 1, 10.0)))
    val df = spark.read.format("graft").option("ignoreCorruptFiles", "true").load(root)
    val opts = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation => r.options
    }
    assert(opts.exists(_.get("ignoreCorruptFiles").contains("true")), opts.toString)
  }

  test("fast path: one FileSourceScan, masks at listing, partition pruning through the relation") {
    val root = freshRoot("fmt_fast")
    val t = new SnapshotTable(spark, root)
    // v1: months 1-3 (one file per partition); v2: month 2 replaced by
    // a dynamic overwrite — its old file must be masked OUT at listing
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 3, 30.0)))
    t.commitOverwritePartitions(frame((9, 2024, 2, 99.0)))
    val df = spark.read.format("graft").load(root)
    assert(state(df) == state(t.read()), "format read != engine read")
    // the whole snapshot is ONE FileSourceScanExec (not a per-dir union)
    df.collect()
    val scans = fileScans(df.queryExecution.executedPlan)
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    // exclusion mask applied at LISTING: 2 live files from v1 + 1 from
    // v2; the masked month-2 original is not even a candidate
    assert(scans.head.metrics("numFiles").value == 3,
      s"masked file leaked into the listing: ${scans.head.metrics("numFiles").value}")
    // partition pruning THROUGH the relation: month = 2 reads one file
    // (metrics populate only on the executed instance — collect THIS df)
    val pruned = df.filter(col("month") === 2)
    pruned.collect()
    assert(state(df.filter(col("month") === 2)) == Set((9, 2024, 2, 99.0)))
    val ps = fileScans(pruned.queryExecution.executedPlan)
    assert(ps.head.metrics("numFiles").value == 1,
      s"partition pruning failed: ${ps.head.metrics("numFiles").value} files")
    // and the pruning is plan-visible, not a row filter
    assert(ps.head.partitionFilters.nonEmpty, "no PartitionFilters in the scan")
    // data filters push into the parquet scan (codegen + footer stats)
    val dataF = df.filter(col("fare") > 50.0)
    dataF.collect()
    assert(fileScans(dataF.queryExecution.executedPlan)
      .head.dataFilters.nonEmpty, "data filter not pushed to the scan")
    // snapshot isolation: a loaded relation pins its version — commits
    // after load are invisible to THIS DataFrame, visible to a new load
    t.commitAppend(frame((4, 2024, 4, 40.0)))
    assert(df.count() == 3, "loaded relation saw a later commit")
    assert(spark.read.format("graft").load(root).count() == 4)
  }

  test("fast path prunes files through the snapshot's min/max stats indexes") {
    import spark.implicits._
    val root = freshRoot("fmt_skip")
    val t = new SnapshotTable(spark, root)
    // values correlate with partition layout (one file per partition),
    // so the post-hoc index gives per-file disjoint id ranges
    val rows = (1 to 300).map(i => (i, 2024, (i - 1) / 100 + 1, i * 1.0))
      .toDF("id", "year", "month", "fare")
    t.commitOverwrite(rows)
    t.commitOverwritePartitions(
      rows.filter($"month" === 2).withColumn("fare", col("fare") * -1))
    assert(t.buildStatsIndex("id") == 2)
    val df = spark.read.format("graft").load(root)
    val pred = col("id") >= 150 && col("id") <= 160
    val filtered = df.filter(pred)
    filtered.collect()
    // 4 live files exist (3 masked-v1 minus month2 + 1 replacement);
    // the id range lives in one partition per dir → stats prune to <=2
    val scan = fileScans(filtered.queryExecution.executedPlan).head
    assert(scan.metrics("numFiles").value >= 1 && scan.metrics("numFiles").value <= 2,
      s"stats pruning failed through the format: ${scan.metrics("numFiles").value} files")
    // and values equal the engine read exactly (mask honored: negated)
    val viaFmt = filtered.select(col("id"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    val viaRead = t.read().filter(pred).select(col("id"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(viaFmt == viaRead && viaFmt.forall(_._2 < 0),
      s"format skip diverged: $viaFmt vs $viaRead")
  }

  test("additive schema evolution stays on the fast path (typed-null padding, one scan)") {
    import spark.implicits._
    val root = freshRoot("fmt_evo")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    // a later era ADDS a column — the widest sidecar serves both eras
    t.commitAppend(frame((2, 2024, 2, 20.0)).withColumn("tip", lit(2.5)))
    val df = spark.read.format("graft").load(root)
    df.collect()
    assert(fileScans(df.queryExecution.executedPlan).size == 1,
      "additive evolution fell off the fast path")
    val got = df.select("id", "tip").collect()
      .map(r => (r.getInt(0), Option(r.get(1)))).toMap
    assert(got == Map(1 -> None, 2 -> Some(2.5)), s"null padding broke: $got")
    // engine read agrees (select by name — column order differs)
    assert(df.select("id", "year", "month", "fare").collect().map(_.toSeq).toSet ==
      t.read().select("id", "year", "month", "fare").collect().map(_.toSeq).toSet)
    // a NON-additive change (type flip) must fall back, stay correct
    val root2 = freshRoot("fmt_evo2")
    val t2 = new SnapshotTable(spark, root2)
    t2.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t2.commitAppend(Seq(("2", 2024, 2, 20.0)).toDF("id", "year", "month", "fare"))
    val df2 = spark.read.format("graft").load(root2)
    df2.collect()
    assert(fileScans(df2.queryExecution.executedPlan).isEmpty,
      "type-flip evolution wrongly took the file-listing path")
    assert(df2.count() == t2.read().count())
  }

  test("partition columns self-discover from the manifest; a wrong handle fails loudly") {
    import spark.implicits._
    val root = freshRoot("fmt_pcols")
    // non-default layout: partitioned by region only
    val t = new SnapshotTable(spark, root, Seq("region"))
    val rows = Seq((1, "eu", 10.0), (2, "us", 20.0), (3, "eu", 30.0))
      .toDF("id", "region", "v")
    t.commitOverwrite(rows)
    t.commitOverwritePartitions(Seq((9, "us", 99.0)).toDF("id", "region", "v"))
    assert(SnapshotTable.storedPartCols(spark, root).contains(Seq("region")))
    // the format needs NO partcols option — it reads the manifest
    val df = spark.read.format("graft").load(root)
    assert(df.select("id", "v").collect().map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      Set((1, 10.0), (3, 30.0), (9, 99.0)))
    // and a handle opened with the WRONG columns fails loudly instead of
    // evaluating the overwrite's exclusion mask against the wrong column
    intercept[IllegalArgumentException] {
      new SnapshotTable(spark, root, Seq("year", "month")).read() }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("partcols", "id").load(root).collect() }
  }

  test("CDC options: changelogFrom/To and incrementalFrom/To through the format") {
    val root = freshRoot("fmt_cdc")
    val t = new SnapshotTable(spark, root)
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val v2 = t.commitAppend(frame((3, 2024, 3, 30.0)))
    t.commitOverwritePartitions(frame((9, 2024, 2, 99.0)))
    // changelog v1 -> v3: month-2 original deleted, replacement + append inserted
    val log = spark.read.format("graft")
      .option("changelogFrom", v1.toString).load(root)
    val byOp = log.collect()
      .map(r => (r.getAs[String]("op"), r.getAs[Int]("id"))).toSet
    assert(byOp == Set(("delete", 2), ("insert", 9), ("insert", 3)))
    // incremental read along the append-only prefix (v1 -> v2)
    val incr = spark.read.format("graft")
      .option("incrementalFrom", v1.toString)
      .option("incrementalTo", v2.toString).load(root)
    assert(state(incr) == Set((3, 2024, 3, 30.0)))
    // refused across the overwrite (the documented appendsBetween contract)
    intercept[Exception] { spark.read.format("graft")
      .option("incrementalFrom", v1.toString).load(root).collect() }
    intercept[Exception] { spark.read.format("graft")
      .option("incrementalTo", v2.toString).load(root).collect() }
  }

  test("versionAsOf / tag / branch options time-travel through the format") {
    val root = freshRoot("fmt_tt")
    val t = new SnapshotTable(spark, root)
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    t.tag("first", v1)
    t.createBranch("wip", v1)
    t.commitAppendToBranch("wip", frame((3, 2024, 3, 30.0)))
    t.commitAppend(frame((2, 2024, 2, 20.0)))
    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(root)
    }
    assert(state(read()) == state(t.read()))
    assert(state(read("versionAsOf" -> v1.toString)) == Set((1, 2024, 1, 10.0)))
    assert(state(read("tag" -> "first")) == Set((1, 2024, 1, 10.0)))
    assert(state(read("branch" -> "wip")) ==
      Set((1, 2024, 1, 10.0), (3, 2024, 3, 30.0)))
    intercept[Exception] { read("tag" -> "nope").collect() }
    intercept[Exception] {
      read("versionAsOf" -> "1", "tag" -> "first").collect() }
  }

  test("timestampAsOf resolves commit wall-clock order; metadata tables serve introspection") {
    val root = freshRoot("fmt_ts")
    val t = new SnapshotTable(spark, root)
    val v1 = t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    Thread.sleep(5) // distinct commit stamps
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    val v2 = t.commitAppend(frame((2, 2024, 2, 20.0)))
    // engine-level resolution
    assert(t.versionAt(mid).contains(v1))
    assert(t.versionAt(System.currentTimeMillis()).contains(v2))
    assert(t.versionAt(0L).isEmpty)
    assert(state(t.readAsOf(mid)) == Set((1, 2024, 1, 10.0)))
    // format option: epoch millis and ISO instant forms
    assert(state(spark.read.format("graft")
      .option("timestampAsOf", mid.toString).load(root)) == Set((1, 2024, 1, 10.0)))
    assert(state(spark.read.format("graft")
      .option("timestampAsOf", java.time.Instant.ofEpochMilli(mid).toString)
      .load(root)) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)).filter(_._1 == 1))
    intercept[Exception] { spark.read.format("graft")
      .option("timestampAsOf", "1970-01-01T00:00:00Z").load(root).collect() }
    // metadata tables: history / tags / branches / fsck as relations
    t.tag("good", v1)
    t.createBranch("wip", v1)
    def meta(kind: String) =
      spark.read.format("graft").option("metadata", kind).load(root)
    assert(meta("history").select("version", "op").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "overwrite"), (2, "append")))
    assert(meta("tags").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("good", v1)))
    assert(meta("branches").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("wip", 1)))
    assert(meta("fsck").count() == 0) // healthy table: zero problem rows
    // detail / constraints / properties / colops through the option
    // surface (the SQL verbs' twins)
    t.addConstraint("pos", "fare > 0")
    t.setProperties(Seq("owner" -> "eng"))
    t.renameColumn("id", "row_id") // 'fare' is constraint-referenced: unmappable
    val d = meta("detail").head()
    assert(d.getString(d.fieldIndex("format")) == "graft")
    assert(d.getInt(d.fieldIndex("num_entries")) == 2)
    assert(meta("constraints").collect()
      .map(r => r.getString(0)).toSeq == Seq("pos"))
    assert(meta("properties").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("owner", "eng")))
    assert(meta("colops").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq ==
      Seq(("rename", "id", "row_id")))
    intercept[Exception] { meta("nope").collect() }
  }

  test("general path: pending MOR deletes read identically through the format") {
    val root = freshRoot("fmt_gen")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    t.commitMergeMor(frame((2, 2024, 2, 22.0)), Seq("id"))
    t.commitDeleteMor(col("fare") < 5.0)
    val df = spark.read.format("graft").load(root)
    assert(state(df) == state(t.read()), "general path diverged from engine read")
    assert(state(df) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 22.0)))
    // filters + projection through the DSv1 bridge stay correct
    assert(df.filter(col("month") === 2).count() == 1)
    assert(df.select("fare").collect().map(_.getDouble(0)).sorted.toSeq == Seq(10.0, 22.0))
    assert(df.count() == 2) // empty-projection (count) path
  }

  test("write path: save modes map onto commits; branch append; INSERT INTO refused") {
    val root = freshRoot("fmt_write")
    val t = new SnapshotTable(spark, root)
    // initial load: the default (ErrorIfExists) commits v1
    frame((1, 2024, 1, 10.0)).write.format("graft").save(root)
    assert(t.currentVersion.contains(1))
    frame((2, 2024, 2, 20.0)).write.format("graft").mode("append").save(root)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    // a second default-mode save refuses; ignore no-ops
    intercept[Exception] {
      frame((9, 2024, 9, 9.0)).write.format("graft").save(root) }
    frame((9, 2024, 9, 9.0)).write.format("graft").mode("ignore").save(root)
    assert(t.read().count() == 2)
    // dynamic partition overwrite replaces ONLY the batch's partition
    frame((8, 2024, 2, 80.0)).write.format("graft").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").save(root)
    assert(state(t.read()) == Set((1, 2024, 1, 10.0), (8, 2024, 2, 80.0)))
    assert(t.history.size == 3) // every save was a snapshot commit
    assert(state(t.readVersion(2)).size == 2) // pre-overwrite time travel
    // branch-targeted append: main untouched (the WAP load shape)
    t.createBranch("wip", t.currentVersion.get)
    frame((5, 2024, 5, 50.0)).write.format("graft").mode("append")
      .option("branch", "wip").save(root)
    assert(state(t.read()).size == 2)
    assert(state(t.readBranch("wip")).size == 3)
    // full overwrite: fresh state, history preserved
    frame((7, 2024, 7, 70.0)).write.format("graft").mode("overwrite").save(root)
    assert(state(t.read()) == Set((7, 2024, 7, 70.0)))
    // SQL INSERT INTO lands THROUGH the commit protocol (the graft.sql
    // DML rule lowers it onto commitAppend — without the rule it would
    // write raw files into an immutable dir, which is why un-extended
    // sessions refuse it); full SQL DML coverage lives in GraftSqlSpec
    spark.sql("DROP TABLE IF EXISTS graft_fmt_ins")
    try {
      spark.sql(s"CREATE TABLE graft_fmt_ins USING graft OPTIONS (path '$root')")
      spark.sql("INSERT INTO graft_fmt_ins VALUES (9, 9.0, 2024, 9)")
      assert(state(t.read()) == Set((7, 2024, 7, 70.0), (9, 2024, 9, 9.0)))
      assert(t.describeHistory().collect().map(_.getString(1)).last == "append",
        "SQL INSERT must be an append commit")
      assert(t.fsck().isEmpty, s"INSERT damaged the table: ${t.fsck()}")
    } finally spark.sql("DROP TABLE IF EXISTS graft_fmt_ins")
  }

  test("streaming source: initial snapshot + increments, table-to-table exactly-once, loud refusal") {
    val srcRoot = freshRoot("fmt_ssrc")
    val dstRoot = freshRoot("fmt_sdst")
    val ckpt = freshRoot("fmt_sckpt")
    val src = new SnapshotTable(spark, srcRoot)
    src.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    val dst = new SnapshotTable(spark, dstRoot)
    def hop(): Unit = graft.streaming.StreamingEvents.appendStream(
      spark.readStream.format("graft")
        .option("startingVersion", "earliest").load(srcRoot),
      dst, ckpt).awaitTermination()
    // first run: the initial snapshot lands as one batch
    hop()
    assert(state(dst.read()) == state(src.read()))
    // two source commits later: the resumed stream pulls ONLY the
    // appended rows (appendsBetween under the hood), exactly once
    src.commitAppend(frame((3, 2024, 3, 30.0)))
    src.commitAppend(frame((4, 2024, 4, 40.0)))
    hop()
    assert(state(dst.read()) == state(src.read()))
    assert(state(dst.read()).size == 4)
    // nothing new: no batch, no commit
    val before = dst.history.size
    hop()
    assert(dst.history.size == before, "an empty resume landed a commit")
    // a non-append commit in the streamed interval fails the query
    // loudly (appendsBetween's refusal) instead of streaming wrong rows
    src.commitOverwritePartitions(frame((9, 2024, 1, 99.0)))
    src.commitAppend(frame((5, 2024, 5, 50.0)))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] { hop() }
    assert(state(dst.read()).size == 4, "rows leaked past the refusal")
  }

  test("default-start stream pins its start durably: restarts deliver commits made while down") {
    val srcRoot = freshRoot("fmt_dlate")
    val src = new SnapshotTable(spark, srcRoot)
    src.commitOverwrite(frame((1, 2024, 1, 10.0)))
    val dst = new SnapshotTable(spark, freshRoot("fmt_dlate_dst"))
    val ckpt = freshRoot("fmt_dlate_ckpt")
    def hop(): Unit = graft.streaming.StreamingEvents.appendStream(
      spark.readStream.format("graft").load(srcRoot), dst, ckpt).awaitTermination()
    // first run, default start: nothing streams (only future commits),
    // but the start position checkpoints as an empty batch
    hop()
    assert(dst.currentVersion.isEmpty, "default start streamed pre-existing data")
    // two commits land WHILE THE QUERY IS DOWN — a restart must deliver
    // both (re-pinning the start to the then-current version would
    // silently skip them)
    src.commitAppend(frame((2, 2024, 2, 20.0)))
    src.commitAppend(frame((3, 2024, 3, 30.0)))
    hop()
    assert(state(dst.read()) == Set((2, 2024, 2, 20.0), (3, 2024, 3, 30.0)),
      "commits made while the stream was down were skipped")
    src.commitAppend(frame((4, 2024, 4, 40.0)))
    hop()
    assert(state(dst.read()).map(_._1) == Set(2, 3, 4))
  }

  test("fast path: a column nullable in one era stays nullable in the unified schema") {
    val root = freshRoot("fmt_nul")
    val t = new SnapshotTable(spark, root)
    // era 1 declares tip nullable and WRITES a null; era 2 declares it
    // NOT NULL — a required-typed unified read would fold IS NULL to
    // false and lose era 1's row
    t.commitOverwrite(frame((1, 2024, 1, 10.0))
      .withColumn("tip", lit(null).cast("double")))
    t.commitAppend(frame((2, 2024, 2, 20.0)).withColumn("tip", lit(2.5)))
    val df = spark.read.format("graft").load(root)
    df.collect()
    assert(fileScans(df.queryExecution.executedPlan).size == 1,
      "nullable-vs-required evolution fell off the fast path")
    assert(df.schema("tip").nullable, "unified schema lost era-1 nullability")
    assert(df.filter(col("tip").isNull).count() == 1,
      "IS NULL row lost to a required-typed read plan")
  }

  test("streaming source startingTimestamp resolves the starting version by wall-clock") {
    val srcRoot = freshRoot("fmt_sts")
    val src = new SnapshotTable(spark, srcRoot)
    src.commitOverwrite(frame((1, 2024, 1, 10.0)))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    src.commitAppend(frame((2, 2024, 2, 20.0)))
    src.commitAppend(frame((3, 2024, 3, 30.0)))
    // start at `mid` (= v1 live then): only the appends after it stream
    val dst = new SnapshotTable(spark, freshRoot("fmt_sts_dst"))
    graft.streaming.StreamingEvents.appendStream(
      spark.readStream.format("graft")
        .option("startingTimestamp", mid.toString).load(srcRoot),
      dst, freshRoot("fmt_sts_ckpt")).awaitTermination()
    assert(state(dst.read()) == Set((2, 2024, 2, 20.0), (3, 2024, 3, 30.0)))
    // a timestamp before all history degrades to earliest (full snapshot)
    val dst2 = new SnapshotTable(spark, freshRoot("fmt_sts_dst2"))
    graft.streaming.StreamingEvents.appendStream(
      spark.readStream.format("graft")
        .option("startingTimestamp", "1970-01-01T00:00:00Z").load(srcRoot),
      dst2, freshRoot("fmt_sts_ckpt2")).awaitTermination()
    assert(state(dst2.read()) == state(src.read()))
    // both options together: refused at stream START (source creation
    // is lazy — load() alone builds no source)
    intercept[Exception] {
      graft.streaming.StreamingEvents.appendStream(
        spark.readStream.format("graft")
          .option("startingVersion", "1")
          .option("startingTimestamp", mid.toString).load(srcRoot),
        dst2, freshRoot("fmt_sts_ckpt3")).awaitTermination()
    }
  }

  test("maxVersionsPerTrigger bounds each micro-batch; files metadata table") {
    val srcRoot = freshRoot("fmt_rate")
    val src = new SnapshotTable(spark, srcRoot)
    src.commitOverwrite(frame((1, 2024, 1, 10.0)))
    src.commitAppend(frame((2, 2024, 2, 20.0)))
    src.commitAppend(frame((3, 2024, 3, 30.0)))
    src.commitAppend(frame((4, 2024, 4, 40.0)))
    val dst = new SnapshotTable(spark, freshRoot("fmt_rate_dst"))
    graft.streaming.StreamingEvents.appendStream(
      spark.readStream.format("graft")
        .option("startingVersion", "earliest")
        .option("maxVersionsPerTrigger", "1").load(srcRoot),
      dst, freshRoot("fmt_rate_ckpt")).awaitTermination()
    assert(state(dst.read()) == state(src.read()))
    // one source version per micro-batch → one dst commit per version
    // (AvailableNow keeps draining until the pinned end; the cap bounds
    // batch SIZE, never completeness)
    assert(dst.history.size == 4,
      s"expected 4 rate-limited batches, got ${dst.history.map(_._2)}")
    // files metadata table: the snapshot's physical composition
    val files = spark.read.format("graft").option("metadata", "files").load(srcRoot)
    assert(files.count() == 4) // one file per single-partition commit
    assert(files.collect().forall(r => r.getAs[Long]("size_bytes") > 0))
  }

  test("files metadata: ancestor walk terminates at the data dir even with '=' in the root") {
    // a root path containing '=' is the trap: the walk compares each
    // ancestor against the data dir's path, and an unqualified string
    // compare never matches listFiles' fully-qualified paths — the walk
    // would then collect the root's own 'odd=name' segment into every
    // value tuple, breaking mask matching (masked files listed as live)
    val root = java.nio.file.Files.createTempDirectory("graft_fmt_eq")
      .toString + "/odd=name/tbl"
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
    t.commitOverwritePartitions(frame((9, 2024, 2, 9.0)))
    val files = spark.read.format("graft").option("metadata", "files").load(root)
    // v1 wrote 2 files (one per partition) of which month=2 is masked
    // by the dynamic overwrite; v2 wrote its 1 replacement → 2 live
    assert(files.count() == 2,
      s"masked file leaked back as live: ${files.collect().mkString(", ")}")
  }

  test("streaming SINK: writeStream.format(\"graft\") — exactly-once hop, replay skipped, refusals") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val srcRoot = freshRoot("fmt_sink_src")
    val dstRoot = freshRoot("fmt_sink_dst")
    val ckpt = freshRoot("fmt_sink_ckpt")
    val src = new SnapshotTable(spark, srcRoot)
    src.commitOverwrite(frame((1, 2024, 1, 10.0)))
    def hop(): Unit =
      spark.readStream.format("graft").option("startingVersion", "earliest")
        .load(srcRoot)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dstRoot)
        .awaitTermination()
    // initial load, then an incremental era — both through the NATIVE
    // sink (no foreachBatch), both transactional edges
    hop()
    val dst = new SnapshotTable(spark, dstRoot)
    assert(state(dst.read()) == state(src.read()))
    src.commitAppend(frame((2, 2024, 2, 20.0)))
    hop()
    assert(state(dst.read()) == state(src.read()))
    // an idle re-run lands nothing: no new offsets → no empty commits
    val before = dst.history.size
    hop()
    assert(dst.history.size == before, s"idle hop committed: ${dst.history}")
    // a REPLAYED batch id (crash between commit and checkpoint write —
    // the at-least-once case) is recognized from the op tag and
    // skipped, never double-appended; the next id lands normally
    val sink = new graft.sources.GraftDataSource().createSink(spark.sqlContext,
      Map("path" -> dstRoot), Seq.empty, OutputMode.Append())
    sink.addBatch(1, frame((9, 2024, 9, 99.0))) // ids 0,1 already applied
    assert(state(dst.read()) == state(src.read()), "replayed batch double-applied")
    sink.addBatch(2, frame((3, 2024, 3, 30.0)))
    assert(state(dst.read()) == state(src.read()) + ((3, 2024, 3, 30.0)))
    // refusals: non-Append output mode; partitionBy disagreeing with
    // the table's recorded layout
    intercept[IllegalArgumentException] {
      new graft.sources.GraftDataSource().createSink(spark.sqlContext,
        Map("path" -> dstRoot), Seq.empty, OutputMode.Complete())
    }
    intercept[IllegalArgumentException] {
      new graft.sources.GraftDataSource().createSink(spark.sqlContext,
        Map("path" -> dstRoot), Seq("id"), OutputMode.Append())
    }
  }

  test("streaming source refuses a beyond-head start; missing-branch writes name the branch") {
    val root = freshRoot("fmt_guards")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 1.0)))
    // a typo'd startingVersion past the head would checkpoint a future
    // offset and silently stream nothing until that version exists —
    // refuse at createSource instead
    val e = intercept[IllegalArgumentException] {
      new graft.sources.GraftDataSource().createSource(spark.sqlContext,
        freshRoot("fmt_guards_meta"), None, "graft",
        Map("path" -> root, "startingVersion" -> "100"))
    }
    assert(e.getMessage.contains("v100") && e.getMessage.contains("v1"),
      s"refusal must name both versions: ${e.getMessage}")
    // an AT-head start is valid (streams only future commits)
    new graft.sources.GraftDataSource().createSource(spark.sqlContext,
      freshRoot("fmt_guards_meta2"), None, "graft",
      Map("path" -> root, "startingVersion" -> "1")).stop()
    // a write naming a branch that doesn't exist says so — not a
    // misleading SaveMode refusal
    val err = intercept[RuntimeException] {
      frame((2, 2024, 2, 2.0)).write.format("graft").mode("ignore")
        .option("branch", "nope").save(root)
    }
    assert(err.getMessage.contains("branch 'nope' does not exist"),
      s"wrong refusal: ${err.getMessage}")
  }

  test("racing format appends both land (commitWithRetry through the write path)") {
    val root = freshRoot("fmt_race")
    frame((0, 2024, 1, 0.0)).write.format("graft").save(root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ws = Seq(1, 2).map { id =>
      new Thread(() => {
        try frame((id, 2024, id, id * 1.0)).write.format("graft")
          .mode("append").save(root)
        catch { case e: Throwable => errs.add(e); () }
      })
    }
    ws.foreach(_.start()); ws.foreach(_.join(60000))
    assert(errs.isEmpty, s"a racing append failed: ${errs.peek()}")
    val t = new SnapshotTable(spark, root)
    assert(state(t.read()) ==
      Set((0, 2024, 1, 0.0), (1, 2024, 1, 1.0), (2, 2024, 2, 2.0)),
      "a racing append lost its rows")
    assert(t.currentVersion.contains(3))
    assert(t.fsck().isEmpty, s"post-race fsck: ${t.fsck()}")
  }

  test("SQL: CREATE TABLE USING graft, then plain SELECT reaches the snapshot") {
    val root = freshRoot("fmt_sql")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    spark.sql("DROP TABLE IF EXISTS graft_fmt_sql")
    try {
      spark.sql(s"CREATE TABLE graft_fmt_sql USING graft OPTIONS (path '$root')")
      val got = spark.sql(
        "SELECT id, fare FROM graft_fmt_sql WHERE month = 2")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == Set((2, 20.0)))
      // a new commit is visible after refreshTable — the same freshness
      // contract as any file-based table in the session catalog (the
      // catalog caches resolved relations; REFRESH TABLE drops the entry)
      t.commitAppend(frame((3, 2024, 3, 30.0)))
      spark.catalog.refreshTable("graft_fmt_sql")
      assert(spark.sql("SELECT count(*) AS n FROM graft_fmt_sql").head().getLong(0) == 3)
    } finally spark.sql("DROP TABLE IF EXISTS graft_fmt_sql")
  }

  test("CAS-mode tables reach the format and SQL through a registered pointer store") {
    import graft.write.{GraftStores, InMemoryConditionalStore}
    val root = freshRoot("fmt_cas")
    val store = InMemoryConditionalStore(s"fmt_cas_$root")
    GraftStores.register("fmt_cas_test", store)
    spark.sql("DROP TABLE IF EXISTS graft_fmt_cas")
    try {
      val t = new SnapshotTable(spark, root, Seq("year", "month"), Some(store))
      t.commitOverwrite(frame((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
      // format read arbitrates through the named store
      val df = spark.read.format("graft").option("pointer", "fmt_cas_test").load(root)
      assert(state(df) == Set((1, 2024, 1, 1.0), (2, 2024, 2, 2.0)))
      // catalog table: the pointer option rides storage properties, so
      // every SQL verb opens the table in CAS mode
      spark.sql(s"CREATE TABLE graft_fmt_cas USING graft " +
        s"OPTIONS (path '$root', pointer 'fmt_cas_test')")
      assert(spark.table("graft_fmt_cas").count() == 2)
      spark.sql("INSERT INTO graft_fmt_cas BY NAME " +
        "SELECT 3 AS id, 3.0 AS fare, 2024 AS year, 3 AS month")
      assert(t.currentVersion.contains(2), "SQL INSERT must commit via the CAS store")
      assert(spark.table("graft_fmt_cas").count() == 3)
      spark.sql("DELETE FROM graft_fmt_cas WHERE id = 1")
      assert(t.currentVersion.contains(3))
      assert(state(t.read()).map(_._1) == Set(2, 3))
      // an unregistered store name refuses with the registration hook
      val e = intercept[Exception] {
        spark.read.format("graft").option("pointer", "nope").load(root) }
      assert(e.getMessage.contains("GraftStores.register"), e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_fmt_cas")
      GraftStores.unregister("fmt_cas_test")
    }
  }

  test("streaming edges arbitrate through the pointer store: CAS source to CAS sink") {
    import graft.write.{GraftStores, InMemoryConditionalStore}
    val srcRoot = freshRoot("fmt_cas_ssrc")
    val dstRoot = freshRoot("fmt_cas_sdst")
    val ckpt = freshRoot("fmt_cas_sckpt")
    val srcStore = InMemoryConditionalStore(s"cas_$srcRoot")
    val dstStore = InMemoryConditionalStore(s"cas_$dstRoot")
    GraftStores.register("fmt_cas_ssrc", srcStore)
    GraftStores.register("fmt_cas_sdst", dstStore)
    try {
      val src = new SnapshotTable(spark, srcRoot, Seq("year", "month"), Some(srcStore))
      src.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
      // the table-to-table hop with BOTH edges in CAS mode: the source
      // resolves its head through the store (no CURRENT file exists),
      // the sink's exactly-once append commits CAS through its own
      def hop(): Unit = spark.readStream.format("graft")
        .option("pointer", "fmt_cas_ssrc")
        .option("startingVersion", "earliest").load(srcRoot)
        .writeStream.format("graft")
        .option("pointer", "fmt_cas_sdst")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dstRoot).awaitTermination()
      hop()
      val dst = new SnapshotTable(spark, dstRoot, Seq("year", "month"), Some(dstStore))
      assert(state(dst.read()) == state(src.read()))
      // an increment streams exactly once; the dest head moved via CAS
      src.commitAppend(frame((3, 2024, 3, 30.0)))
      hop()
      assert(state(dst.read()) == state(src.read()))
      assert(dst.fsck().isEmpty, s"fsck: ${dst.fsck()}")
      // replay: nothing new, no commit (batch-id dedup through the CAS head)
      val before = dst.history.size
      hop()
      assert(dst.history.size == before, "an empty resume landed a CAS commit")
    } finally {
      GraftStores.unregister("fmt_cas_ssrc")
      GraftStores.unregister("fmt_cas_sdst")
    }
  }
}
