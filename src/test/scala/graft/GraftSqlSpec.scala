package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.write.SnapshotTable

/** The SQL surface over snapshot tables (graft.sql rules, injected via
  * GraftExtensions): literal `VERSION AS OF` / `TIMESTAMP AS OF` time
  * travel, and DELETE / UPDATE / MERGE / INSERT lowering onto the
  * commit protocol. Every statement must be result-identical to its
  * Scala-API twin, refuse unsupported shapes loudly, and leave
  * non-graft tables with Spark's stock behavior. */
class GraftSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def frame(rows: (Int, Int, Int, Double)*) = {
    import spark.implicits._
    rows.toDF("id", "year", "month", "fare")
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sql_$tag").toString + "/tbl"

  private def state(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Int, Double)] =
    df.select(col("id"), col("year"), col("month"), col("fare"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet

  /** Register `name` over a fresh 2-version table; run body; drop. */
  private def withTable(tag: String)(body: (String, SnapshotTable) => Unit): Unit = {
    val name = s"graft_sql_$tag"
    val root = freshRoot(tag)
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    t.commitAppend(frame((3, 2024, 2, 30.0)))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      body(name, t)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("VERSION AS OF: literal SQL time travel hits each snapshot") {
    withTable("tt") { (name, t) =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 1")
        .head().getLong(0) == 2)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 2")
        .head().getLong(0) == 3)
      // result-identical to the Scala API read of the same version
      assert(state(spark.sql(s"SELECT * FROM $name VERSION AS OF 1")) ==
        state(t.readVersion(1)))
      // projections and filters compose with the travelled relation
      assert(spark.sql(
        s"SELECT id FROM $name VERSION AS OF 2 WHERE month = 2 ORDER BY id")
        .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
      // beyond-head version refuses loudly (the format's own check)
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM $name VERSION AS OF 99").collect() }
      assert(e.getMessage != null)
    }
  }

  test("TIMESTAMP AS OF: a mid-history instant resolves to the version current then") {
    val name = "graft_sql_ts"
    val root = freshRoot("ts")
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0)))
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    t.commitAppend(frame((2, 2024, 2, 20.0)))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      // epoch-millis string literal → v1's state
      assert(spark.sql(s"SELECT count(*) AS n FROM $name TIMESTAMP AS OF '$mid'")
        .head().getLong(0) == 1)
      // an instant after the last commit → current state
      val now = System.currentTimeMillis() + 1000
      assert(spark.sql(s"SELECT count(*) AS n FROM $name TIMESTAMP AS OF '$now'")
        .head().getLong(0) == 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("time travel on a non-graft table keeps Spark's own refusal") {
    val dir = freshRoot("ttpq")
    frame((1, 2024, 1, 1.0)).write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS graft_sql_pq")
    try {
      spark.sql(s"CREATE TABLE graft_sql_pq USING parquet OPTIONS (path '$dir')")
      intercept[Exception] {
        spark.sql("SELECT * FROM graft_sql_pq VERSION AS OF 1").collect() }
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_pq")
  }

  test("DELETE FROM: lowers onto commitDelete, auto-refreshes the catalog relation") {
    withTable("del") { (name, t) =>
      // warm the catalog's relation cache so the refresh is actually exercised
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 3)
      spark.sql(s"DELETE FROM $name WHERE fare > 15.0")
      // visible WITHOUT a manual REFRESH TABLE
      assert(state(spark.sql(s"SELECT * FROM $name")) ==
        Set((1, 2024, 1, 10.0)))
      assert(state(t.read()) == Set((1, 2024, 1, 10.0)), "Scala read agrees")
      assert(t.describeHistory().collect().map(_.getString(1)).contains("delete"))
      assert(t.fsck().isEmpty)
      // pre-delete history stays time-travelable from SQL
      assert(spark.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 2")
        .head().getLong(0) == 3)
    }
  }

  test("DELETE FROM under mergeMode=mor conf: a metadata-only predicate commit") {
    withTable("delmor") { (name, t) =>
      spark.conf.set("spark.graft.sql.deleteMode", "mor")
      try spark.sql(s"DELETE FROM $name WHERE fare > 15.0")
      finally spark.conf.unset("spark.graft.sql.deleteMode")
      assert(state(t.read()) == Set((1, 2024, 1, 10.0)))
      assert(t.describeHistory().collect().map(_.getString(1)).contains("delete_mor"))
    }
  }

  test("DELETE FROM: qualified refs and functions in the condition re-resolve by name") {
    withTable("delq") { (name, t) =>
      spark.sql(s"DELETE FROM $name WHERE $name.month = 2 AND abs($name.fare) >= 30")
      assert(state(t.read()) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    }
  }

  test("DELETE FROM with a subquery condition refuses loudly") {
    withTable("delsub") { (name, _) =>
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM $name WHERE id IN (SELECT id FROM $name WHERE fare > 15)")
      }
      assert(e.getMessage.contains("subqueries are not supported"),
        s"got: ${e.getMessage}")
    }
  }

  test("UPDATE: SET with pre-update RHS, WHERE scoping, Scala-twin parity") {
    withTable("upd") { (name, t) =>
      spark.sql(s"UPDATE $name SET fare = fare * 2 + id WHERE month = 2")
      assert(state(t.read()) ==
        Set((1, 2024, 1, 10.0), (2, 2024, 2, 42.0), (3, 2024, 2, 63.0)))
      assert(t.describeHistory().collect().map(_.getString(1)).contains("update"))
      // no WHERE → every row
      spark.sql(s"UPDATE $name SET fare = 0.0")
      assert(state(t.read()).forall(_._4 == 0.0))
      assert(t.fsck().isEmpty)
    }
  }

  test("MERGE INTO: the canonical upsert shape lowers onto commitMerge") {
    withTable("mrg") { (name, t) =>
      frame((2, 2024, 2, 99.0), (4, 2024, 4, 40.0))
        .createOrReplaceTempView("graft_sql_mrg_src")
      try {
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrg_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(state(t.read()) == Set(
          (1, 2024, 1, 10.0), (2, 2024, 2, 99.0),
          (3, 2024, 2, 30.0), (4, 2024, 4, 40.0)))
        assert(t.describeHistory().collect().map(_.getString(1)).contains("merge"))
      } finally spark.catalog.dropTempView("graft_sql_mrg_src")
    }
  }

  test("MERGE INTO: matched DELETE + conditional clauses (general surface)") {
    withTable("mrgg") { (name, t) =>
      // fixture rows: (1,2024,1,10.0) (2,2024,2,20.0) (3,2024,2,30.0)
      frame((2, 2024, 2, 99.0), (3, 2024, 2, 1.0),
        (4, 2024, 4, 40.0), (5, 2024, 5, -1.0))
        .createOrReplaceTempView("graft_sql_mrgg_src")
      try {
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgg_src AS s ON $name.id = s.id
             |WHEN MATCHED AND s.fare < 5 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED AND s.fare > 0 THEN INSERT *""".stripMargin)
        // id=2 matched, first clause FALSE → updated; id=3 matched,
        // s.fare=1 < 5 → deleted (first-match wins over the update);
        // id=4 inserted; id=5 fails the insert condition → dropped;
        // id=1 untouched
        assert(state(t.read()) == Set(
          (1, 2024, 1, 10.0), (2, 2024, 2, 99.0), (4, 2024, 4, 40.0)))
        assert(t.describeHistory().collect().map(_.getString(1)).contains("merge"))
        assert(t.fsck().isEmpty)
        // pre-merge versions stay time-travelable (COW masks, no rewrite
        // of history)
        assert(state(t.readVersion(2)).map(_._1) == Set(1, 2, 3))
        // the keys-only tombstone-feed shape: a source carrying nothing
        // but the key column drives a pure matched-DELETE merge
        import spark.implicits._
        Seq(4).toDF("id").createOrReplaceTempView("graft_sql_mrgg_tomb")
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgg_tomb AS s ON $name.id = s.id
             |WHEN MATCHED THEN DELETE""".stripMargin)
        assert(state(t.read()).map(_._1) == Set(1, 2))
      } finally spark.catalog.dropTempView("graft_sql_mrgg_src")
    }
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE THEN DELETE prunes source-absent rows") {
    withTable("mrgbs") { (name, t) =>
      frame((2, 2024, 2, 99.0)).createOrReplaceTempView("graft_sql_mrgbs_src")
      try {
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgbs_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED BY SOURCE AND month = 2 THEN DELETE""".stripMargin)
        // id=3 (month 2, absent from source) deleted; id=1 (month 1)
        // survives its false condition; id=2 updated
        assert(state(t.read()) == Set((1, 2024, 1, 10.0), (2, 2024, 2, 99.0)))
        assert(t.fsck().isEmpty)
      } finally spark.catalog.dropTempView("graft_sql_mrgbs_src")
    }
  }

  test("MERGE INTO: conditional UPDATE SET assignments see both sides pre-merge") {
    withTable("mrgu") { (name, t) =>
      frame((2, 2024, 2, 99.0), (3, 2024, 2, 2.0))
        .createOrReplaceTempView("graft_sql_mrgu_src")
      try {
        val before = t.currentVersion.get
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgu_src AS s ON $name.id = s.id
             |WHEN MATCHED AND s.fare > 50
             |  THEN UPDATE SET fare = $name.fare + s.fare""".stripMargin)
        // id=2: 20+99; id=3 matched but conditioned out → unchanged
        assert(state(t.read()) == Set(
          (1, 2024, 1, 10.0), (2, 2024, 2, 119.0), (3, 2024, 2, 30.0)))
        // a merge where NO clause fires anywhere is a no-op commit-wise
        frame((99, 2024, 9, 1.0)).createOrReplaceTempView("graft_sql_mrgu_none")
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgu_none AS s ON $name.id = s.id
             |WHEN MATCHED AND s.fare > 50
             |  THEN UPDATE SET fare = $name.fare + s.fare""".stripMargin)
        assert(t.currentVersion.contains(before + 1),
          "no-clause-fired merge must not mint an empty commit")
      } finally spark.catalog.dropTempView("graft_sql_mrgu_src")
    }
  }

  test("MERGE INTO: explicit INSERT column lists and BY SOURCE UPDATE") {
    withTable("mrgx") { (name, t) =>
      // fixture rows: (1,2024,1,10.0) (2,2024,2,20.0) (3,2024,2,30.0)
      frame((2, 2024, 2, 99.0), (7, 2024, 7, 70.0))
        .createOrReplaceTempView("graft_sql_mrgx_src")
      try {
        spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgx_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN
             |  INSERT (id, year, month, fare) VALUES (s.id, s.year, s.month, s.fare * 10)
             |WHEN NOT MATCHED BY SOURCE AND month = 1
             |  THEN UPDATE SET fare = fare + 1000""".stripMargin)
        // id=2 updated from source; id=7 inserted with fare*10; id=1
        // (month 1, source-absent) takes the BY SOURCE update; id=3
        // (month 2, source-absent, condition false) untouched
        assert(state(t.read()) == Set(
          (1, 2024, 1, 1010.0), (2, 2024, 2, 99.0),
          (3, 2024, 2, 30.0), (7, 2024, 7, 700.0)))
        assert(t.fsck().isEmpty)
        // an explicit insert list that omits a partition column refuses
        // loudly (a NULL partition cannot be masked)
        frame((8, 2024, 8, 80.0)).createOrReplaceTempView("graft_sql_mrgx_src2")
        val e = intercept[Exception] { spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgx_src2 AS s ON $name.id = s.id
             |WHEN NOT MATCHED THEN INSERT (id, fare) VALUES (s.id, s.fare)""".stripMargin) }
        assert(e.getMessage.contains("NULL partition"), e.getMessage)
      } finally {
        spark.catalog.dropTempView("graft_sql_mrgx_src")
        spark.catalog.dropTempView("graft_sql_mrgx_src2")
      }
    }
  }

  test("MERGE INTO WITH SCHEMA EVOLUTION: new source columns land; catalog follows") {
    withTable("mrgse") { (name, t) =>
      import spark.implicits._
      // source carries a NEW column (tip) the table lacks
      Seq((2, 2024, 2, 99.0, 5.5), (8, 2024, 8, 80.0, 8.8))
        .toDF("id", "year", "month", "fare", "tip")
        .createOrReplaceTempView("graft_sql_mrgse_src")
      try {
        spark.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $name
             |USING graft_sql_mrgse_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        // the catalog table read must see the evolved schema
        val rows = spark.table(name)
          .select(col("id"), col("fare"), col("tip"))
          .collect().map(r => (r.getInt(0), r.getDouble(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
        // updated row carries its tip, inserted row carries its tip,
        // untouched rows read NULL
        assert(rows == Set(
          (1, 10.0, None), (2, 99.0, Some(5.5)),
          (3, 30.0, None), (8, 80.0, Some(8.8))), rows.toString)
        assert(t.fsck().isEmpty)
      } finally spark.catalog.dropTempView("graft_sql_mrgse_src")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION / ADD COLUMN then OPTIMIZE: column order survives compaction") {
    import spark.implicits._
    val (name, root) = ("graft_sql_mrgopt", freshRoot("mrgopt"))
    val t = new SnapshotTable(spark, root)
    t.commitOverwrite(frame((1, 2024, 1, 10.0), (2, 2024, 2, 20.0)))
    t.commitAppend(frame((3, 2024, 2, 30.0)))
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Seq((2, 2024, 2, 99.0, 5.5)).toDF("id", "year", "month", "fare", "tip")
      .createOrReplaceTempView("graft_sql_mrgopt_src")
    try {
      spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$root')")
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $name
           |USING graft_sql_mrgopt_src AS s ON $name.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      def check(stage: String, order: String*): Unit =
        for ((via, df) <- Seq("catalog" -> spark.table(name),
            "format" -> spark.read.format("graft").load(root)))
          assert(df.columns.toSeq == order && df.count() == 3,
            s"$stage/$via: ${df.columns.toSeq}")
      check("merged", "id", "fare", "tip", "year", "month")
      spark.sql(s"OPTIMIZE $name")
      check("optimized", "id", "fare", "tip", "year", "month")
      spark.sql(s"ALTER TABLE $name ADD COLUMN note STRING")
      check("added", "id", "fare", "tip", "note", "year", "month")
      spark.sql(s"OPTIMIZE $name")
      check("re-optimized", "id", "fare", "tip", "note", "year", "month")
      val rows = spark.table(name).select(col("id"), col("tip")).collect()
        .map(r => (r.getInt(0), Option(r.get(1)))).toSet
      assert(rows == Set((1, None), (2, Some(5.5)), (3, None)), rows.toString)
    } finally {
      spark.catalog.dropTempView("graft_sql_mrgopt_src")
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION: explicit SET/INSERT lists may name new columns") {
    withTable("mrgsex") { (name, t) =>
      import spark.implicits._
      Seq((2, 2024, 2, 99.0, 5.5), (8, 2024, 8, 80.0, 8.8))
        .toDF("id", "year", "month", "fare", "tip")
        .createOrReplaceTempView("graft_sql_mrgsex_src")
      try {
        // WITHOUT the flag an explicit list naming a new column refuses
        // with the fix named — the Fs-era behavior, now with a hint
        val e = intercept[Exception] { spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgsex_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET tip_total = s.tip * 2""".stripMargin) }
        assert(e.getMessage.contains("SCHEMA EVOLUTION"), e.getMessage)
        // WITH the flag, the explicitly-assigned new column joins the
        // schema (Delta semantics): updated rows carry the assigned
        // value, inserts may assign it too, and every survivor reads a
        // typed NULL
        spark.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $name
             |USING graft_sql_mrgsex_src AS s ON $name.id = s.id
             |WHEN MATCHED THEN UPDATE SET tip_total = s.tip * 2
             |WHEN NOT MATCHED THEN
             |  INSERT (id, year, month, fare, tip_total)
             |  VALUES (s.id, s.year, s.month, s.fare, s.tip)""".stripMargin)
        val rows = spark.table(name)
          .select(col("id"), col("fare"), col("tip_total"))
          .collect().map(r => (r.getInt(0), r.getDouble(1),
            Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
        // id=2 keeps its fare (only tip_total assigned) and reads the
        // doubled tip; id=8 inserted with its tip; survivors read NULL
        assert(rows == Set(
          (1, 10.0, None), (2, 20.0, Some(11.0)),
          (3, 30.0, None), (8, 80.0, Some(8.8))), rows.toString)
        // the evolved column is typed (double), survivors read NULL
        assert(spark.table(name).schema("tip_total").dataType ==
          org.apache.spark.sql.types.DoubleType)
        assert(t.fsck().isEmpty)
      } finally spark.catalog.dropTempView("graft_sql_mrgsex_src")
    }
  }

  test("MERGE INTO: general-surface refusals name the fix") {
    withTable("mrgref") { (name, _) =>
      frame((2, 2024, 2, 99.0)).createOrReplaceTempView("graft_sql_mrgref_src")
      try {
        // non-equi ON stays refused
        val e1 = intercept[Exception] { spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgref_src AS s ON $name.id > s.id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
        assert(e1.getMessage.contains("key equalities"), e1.getMessage)
        // ambiguous bare column in a matched condition: both sides have
        // `fare` — refuse with the fix named, never silently pick a side
        val e2 = intercept[Exception] { spark.sql(
          s"""MERGE INTO $name USING graft_sql_mrgref_src AS s ON $name.id = s.id
             |WHEN MATCHED AND fare > 50 THEN DELETE""".stripMargin).collect() }
        assert(e2.getMessage.contains("ambiguous"), e2.getMessage)
        // general clauses under mergeMode=mor refuse (COW only)
        spark.conf.set("spark.graft.sql.mergeMode", "mor")
        try {
          val e3 = intercept[Exception] { spark.sql(
            s"""MERGE INTO $name USING graft_sql_mrgref_src AS s ON $name.id = s.id
               |WHEN MATCHED THEN DELETE""".stripMargin) }
          assert(e3.getMessage.contains("copy-on-write"), e3.getMessage)
        } finally spark.conf.unset("spark.graft.sql.mergeMode")
        // duplicate source keys: SQL MERGE's multiple-match error (the
        // in-plan guard firing through the general-merge locate join),
        // with nothing committed and no debris left behind
        frame((2, 2024, 2, 99.0), (2, 2024, 2, 1.0))
          .createOrReplaceTempView("graft_sql_mrgref_dup")
        try {
          val e4 = intercept[Exception] { spark.sql(
            s"""MERGE INTO $name USING graft_sql_mrgref_dup AS s ON $name.id = s.id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
          def chain(x: Throwable) = Iterator.iterate(x)(_.getCause)
            .takeWhile(_ != null).map(c => Option(c.getMessage).getOrElse("")).toSeq
          assert(chain(e4).exists(_.contains("multiple rows for key")), e4.getMessage)
          assert(state(spark.table(name)) == Set(
            (1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 2, 30.0)),
            "refused merge mutated the table")
        } finally spark.catalog.dropTempView("graft_sql_mrgref_dup")
      } finally spark.catalog.dropTempView("graft_sql_mrgref_src")
    }
  }

  test("INSERT INTO: positional append through the commit protocol (not raw files)") {
    withTable("ins") { (name, t) =>
      // catalog schema order is the fast path's: data cols (id, fare)
      // first, partition cols (year, month) last
      val cols = spark.table(name).schema.fieldNames.toSeq
      assert(cols == Seq("id", "fare", "year", "month"), cols.toString)
      spark.sql(s"INSERT INTO $name VALUES (9, 90.0, 2024, 9)")
      assert(state(t.read()) == Set(
        (1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 2, 30.0),
        (9, 2024, 9, 90.0)))
      assert(t.describeHistory().collect().map(_.getString(1)).contains("append"))
      assert(t.fsck().isEmpty, s"INSERT must be a commit: ${t.fsck()}")
      // SQL sees the append immediately (auto-refresh)
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 4)
      // arity mismatch is loud, and the failed statement commits nothing
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $name VALUES (10, 1.0, 2024)") }
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 4)
    }
  }

  test("INSERT INTO ... BY NAME reorders; OVERWRITE maps to full / dynamic overwrite") {
    withTable("insbn") { (name, t) =>
      spark.sql(s"INSERT INTO $name BY NAME " +
        "SELECT 2024 AS year, 9 AS month, 9 AS id, CAST(90.0 AS double) AS fare")
      assert(state(t.read()).contains((9, 2024, 9, 90.0)))
      // dynamic partition overwrite: only month=9 replaced
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try spark.sql(s"INSERT OVERWRITE $name VALUES (99, 91.0, 2024, 9)")
      finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      assert(state(t.read()) == Set(
        (1, 2024, 1, 10.0), (2, 2024, 2, 20.0), (3, 2024, 2, 30.0),
        (99, 2024, 9, 91.0)))
      assert(t.describeHistory().collect().map(_.getString(1))
        .contains("overwrite_partitions"))
      // static INSERT OVERWRITE: fresh state
      spark.sql(s"INSERT OVERWRITE $name VALUES (7, 70.0, 2024, 7)")
      assert(state(t.read()) == Set((7, 2024, 7, 70.0)))
    }
  }

  test("DML on non-graft/temp-view targets keeps Spark's stock refusals") {
    val dir = freshRoot("dmlpq")
    frame((1, 2024, 1, 1.0)).write.parquet(dir)
    spark.sql("DROP TABLE IF EXISTS graft_sql_dmlpq")
    try {
      spark.sql(s"CREATE TABLE graft_sql_dmlpq USING parquet OPTIONS (path '$dir')")
      val e = intercept[Exception] {
        spark.sql("DELETE FROM graft_sql_dmlpq WHERE id = 1") }
      assert(e.getMessage.contains("does not support DELETE"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_dmlpq")
    // temp view: never matched by the graft rules
    frame((1, 2024, 1, 1.0)).createOrReplaceTempView("graft_sql_dmlv")
    try intercept[Exception] {
      spark.sql("DELETE FROM graft_sql_dmlv WHERE id = 1") }
    finally spark.catalog.dropTempView("graft_sql_dmlv")
  }
}
