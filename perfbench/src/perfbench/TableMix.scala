package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.TransientCache
import graft.model.Staging
import graft.sources.TaxiDerive
import graft.write.SnapshotTable

/** `table_query_mix`: one `SnapshotTable` of staged yellow trips under a
  * seeded op log — merge upserts, deletes, updates and month appends
  * beside current-state reads (Scala `read()`) and SQL `VERSION AS OF`
  * time travel, with compaction + expiry as periodic maintenance — and,
  * beside the table, the read-only analytic queries of [[QueryMix]] over
  * the generated corpus. Every table op is scoped to one seeded
  * (year, month).
  *
  * An independent driver-side model replays the same op log on plain
  * Scala maps; after the loop a fresh table handle must pass `fsck()`,
  * sit at the version the acknowledged commits predict, and hold exactly
  * the model's rows. The queries' results are checked by `run.py`.
  *
  * Set-up is the seed load (`commitOverwrite`) followed by
  * [[QueryMix.resultsPass]] (which also warms the JIT).
  *
  * Inputs: `<data>/table` holds the lineitem the table derives from,
  * `<data>/corpus` the corpus the queries read. */
object TableMix {

  /** One round of the op log: 20% merge, 10% delete, 10% update, 10%
    * append, 30% read, 20% time travel, in a fixed order (so an op's
    * cost does not depend on where the seed put it since the last
    * compaction); the seed picks each op's month and row slice. A
    * maintenance cycle (compaction, then expiry) follows the table ops,
    * then every query once, in a seeded order. A run does whole rounds
    * until its time is up, one at least. */
  val Round: Seq[String] = Seq("merge", "read", "time_travel", "delete", "read", "update",
    "time_travel", "merge", "read", "append")
  val MaintainEvery: Int = Round.size
  val KeepLast = 4
  /** Months held out of the seed load, appended by `append` ops (a
    * round past the last one reads instead). */
  val Holdout = 8
  /** Rounds a run does at least; a traced run does exactly these, so its
    * counters repeat. */
  val MinRounds = 1
  val SqlName = "perfbench_trips"

  /** `pick` chooses the op's month among the live ones, `k` its row
    * slice, `back` how many versions a time travel goes back. */
  final case class Op(kind: String, pick: Int, k: Int, back: Int)

  /** The model: trip_id → row, in the table's column order. */
  final class Model(cols: Seq[String], rows: Iterable[Row]) {
    private val ix = cols.zipWithIndex.toMap
    val byKey: mutable.Map[String, Row] = mutable.Map.from(rows.map(r => r.getString(ix("trip_id")) -> r))
    def i(c: String): Int = ix(c)
    def inMonth(r: Row, ym: (Int, Int)): Boolean =
      r.getInt(ix("year")) == ym._1 && r.getInt(ix("month")) == ym._2
    def months: Seq[(Int, Int)] =
      byKey.values.map(r => (r.getInt(ix("year")), r.getInt(ix("month")))).toSeq.distinct.sorted
    def set(r: Row, changes: (String, Any)*): Row = {
      val a = r.toSeq.toArray
      changes.foreach { case (c, v) => a(ix(c)) = v }
      Row.fromSeq(a.toSeq)
    }
  }

  private def plus(r: Row, i: Int, d: Double): Any = if (r.isNullAt(i)) null else r.getDouble(i) + d

  /** Round `r` of the op log for `seed`: the same seed, the same ops. */
  def round(seed: Long, r: Int): Seq[Op] = {
    val rnd = new Random(seed * 1000 + r)
    Round.map(kind => Op(kind, rnd.nextInt(1 << 20), rnd.nextInt(10), rnd.nextInt(KeepLast)))
  }

  def run(spark: SparkSession, tr: Tracer, a: Main.Args): Main.Outcome = {
    val root = s"${a.root}/table"
    val corpus = s"${a.data}/corpus"
    val staged = Staging.yellow(TaxiDerive.yellow(spark.read.parquet(s"${a.data}/table/lineitem.parquet")))
    val schema = staged.schema
    val cols = schema.fieldNames.toSeq
    // every staged row once, on the driver: the seed load, the held-out
    // months and the model's start all come from this one collect, so
    // their `loaded_at` stamps agree
    val byMonth = staged.collect().toSeq.groupBy(r => (r.getAs[Int]("year"), r.getAs[Int]("month")))
    val held = byMonth.keys.toSeq.sorted.takeRight(Holdout)
    def frame(rows: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val seedRows = byMonth.filter { case (ym, _) => !held.contains(ym) }.values.flatten.toSeq

    val errors = Seq.newBuilder[String]
    val path = s"$root/tbl"
    val t = new SnapshotTable(spark, path)
    val (v0, setupS) = Main.setUp {
      val v = t.commitOverwrite(frame(seedRows))
      QueryMix.resultsPass(spark, corpus, s"${a.root}/results", errors)
      v
    }
    var version = v0
    var acked = 1
    spark.sql(s"CREATE TABLE $SqlName USING graft OPTIONS (path '$path')")
    val model = new Model(cols, seedRows)
    val pending = mutable.Queue.from(held)
    Main.log("table seeded")

    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var cycles = 0

    var i = 0 // ops run so far
    def timed(kind: String)(body: => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime
      try body catch { case e: Exception => errors += s"$kind: $e" }
      val dt = (System.nanoTime - t0) / 1e9
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      Main.log(f"$kind $dt%.3f s")
    }
    def scoped(ym: (Int, Int)) = col("year") === ym._1 && col("month") === ym._2

    /** Run one op, then maintenance if a round ended. */
    def step(op0: Op): Unit = {
      def commit(kind: String)(body: => Int): Unit = {
        val v = tr.span(s"write.snapshot.$kind")(body)
        if (v > version) { acked += 1; version = v }
      }
      val n = i
      val live = model.months
      val ym = live(op0.pick % live.size)
      val op = if (op0.kind == "append" && pending.isEmpty) op0.copy(kind = "read") else op0
      op.kind match {
        case "merge" =>
          val mine = model.byKey.values.filter(model.inMonth(_, ym)).toSeq
          val fare = model.i("fare_amount")
          val pu = model.i("pickup_location_id")
          val updates = mine.filter(_.getLong(pu) % 5 == op.k % 5)
            .map(r => model.set(r, "fare_amount" -> plus(r, fare, 2.0)))
          val inserts = mine.filter(_.getLong(pu) % 50 == op.k)
            .map(r => model.set(r, "trip_id" -> s"${r.getString(model.i("trip_id"))}~$n"))
          val batch = frame(updates ++ inserts)
          timed("merge")(commit("merge")(t.commitMerge(batch, Seq("trip_id"))))
          (updates ++ inserts).foreach(r => model.byKey(r.getString(model.i("trip_id"))) = r)
        case "delete" =>
          timed("delete")(commit("delete")(
            t.commitDelete(scoped(ym) && pmod(col("pickup_location_id"), lit(10L)) === op.k)))
          val pu = model.i("pickup_location_id")
          model.byKey.filterInPlace((_, r) => !(model.inMonth(r, ym) && r.getLong(pu) % 10 == op.k))
        case "update" =>
          timed("update")(commit("update")(t.commitUpdate(
            scoped(ym) && pmod(col("dropoff_location_id"), lit(10L)) === op.k,
            Seq("fare_amount" -> (col("fare_amount") + 1.0),
              "total_amount" -> (col("total_amount") + 1.0)))))
          val (dol, fare, tot) = (model.i("dropoff_location_id"), model.i("fare_amount"), model.i("total_amount"))
          model.byKey.mapValuesInPlace { (_, r) =>
            if (model.inMonth(r, ym) && !r.isNullAt(dol) && r.getLong(dol) % 10 == op.k)
              model.set(r, "fare_amount" -> plus(r, fare, 1.0), "total_amount" -> plus(r, tot, 1.0))
            else r
          }
        case "append" =>
          val rows = byMonth(pending.dequeue())
          timed("append")(commit("append")(t.commitAppend(frame(rows))))
          rows.foreach(r => model.byKey(r.getString(model.i("trip_id"))) = r)
        case "read" =>
          timed("read")(tr.span("sources.snapshot_read") {
            t.read().filter(scoped(ym)).write.format("noop").mode("overwrite").save()
          })
        case "time_travel" =>
          val v = math.max(1, version - op.back)
          timed("time_travel")(tr.span("sql.time_travel") {
            spark.sql(s"SELECT * FROM $SqlName VERSION AS OF $v WHERE year = ${ym._1} AND month = ${ym._2}")
              .write.format("noop").mode("overwrite").save()
          })
      }
      i += 1
      if (i % MaintainEvery == 0) {
        // maintenance runs inside the measured window but is not an op
        try {
          commit("compact")(t.commitCompactFiles())
          tr.span("write.snapshot.expire")(t.expire(KeepLast))
          cycles += 1
        } catch { case e: Exception => errors += s"maintenance: $e" }
      }
    }

    val env = Env.stamp(spark)
    val t0 = System.nanoTime
    val deadline = t0 + (a.seconds * 1e9).toLong
    def more(done: Int) = done < MinRounds || (!tr.enabled && System.nanoTime < deadline)
    Iterator.from(0).takeWhile(more).foreach { r =>
      round(a.seed, r).foreach(step)
      QueryMix.order(a.seed, r).foreach { n =>
        timed(n)(QueryMix.timedCall(spark, tr, corpus, n))
        TransientCache.drain()
      }
    }
    val measured = (System.nanoTime - t0) / 1e9
    Main.log("timed part done")

    // verdict from a fresh handle, outside the timing
    val fresh = new SnapshotTable(spark, path)
    val problems = fresh.fsck()
    if (problems.nonEmpty) errors += s"fsck: ${problems.mkString("; ")}"
    if (!fresh.currentVersion.contains(acked))
      errors += s"version ${fresh.currentVersion} after $acked acknowledged commits"
    val got = fresh.read().select(cols.map(col): _*).collect()
    val gotMap = got.map(r => r.getString(model.i("trip_id")) -> r).toMap
    if (got.length != gotMap.size || gotMap != model.byKey.toMap)
      errors += s"table holds ${got.length} rows, model ${model.byKey.size}; " +
        s"${gotMap.count { case (k, r) => !model.byKey.get(k).contains(r) }} differ"

    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val disk = fs.getContentSummary(new Path(path)).getLength.toDouble
    val live = fresh.detail.sizeBytes.toDouble
    val dirs = fs.listStatus(new Path(s"$path/_data")).count(_.isDirectory).toDouble
    spark.sql(s"DROP TABLE IF EXISTS $SqlName")
    Main.Outcome(setupS, env, measured, times.view.mapValues(_.toSeq).toMap, attempted,
      errors.result(), Map("space_amp" -> disk / live, "maintenance_cycles" -> cycles.toDouble,
        "rows" -> model.byKey.size.toDouble, "table.disk_mb" -> disk / 1e6,
        "table.live_mb" -> live / 1e6, "table.data_dirs" -> dirs))
  }
}
