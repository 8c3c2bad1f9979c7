package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.expr.Functions.{stableAvg, stableRoundedSum, stableSum}
import graft.oracle.TaxiSql.Dialect.{decSum, rnd, rndSum, stableAvg => oStableAvg}

/** General relational-operator entries over the TPC-H-ish corpus: hash
  * aggregation, shuffled and broadcast joins, semi/anti joins, window
  * top-k, sort/limit, distinct aggregates — the operator families a user
  * of the engine composes beyond the reference's declared models.
  *
  * Scale notes: the `nation`/`region` sides are broadcast explicitly
  * (dimension tables, O(10²) rows — a shuffle there would be pure
  * overhead at 100 TB); fact-fact joins shuffle on their keys and rely on
  * AQE for skew; aggregates keep map-side partial aggregation by grouping
  * on low-cardinality keys.
  */
object TpchEntries {

  private def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => { GraftSession.tune(s); f(s, d) }

  /** The deterministic merge fixture shared by `tpch_merge_upsert` and
    * `tpch_table_diff`: every 7th key updated (status 'U', price +10%),
    * every 21st deleted, every 11th re-inserted under a shifted key. */
  private def mergedOrders(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val target = orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        round(col("o_totalprice") * 1.1, 2).as("o_totalprice"),
        (col("o_orderkey") % 21 === 0).as("_del"))
    val inserts = orders.filter(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        lit(false).as("_del"))
    graft.operators.Merge.upsert(target, updates.unionAll(inserts),
      "o_orderkey", deleteCol = Some("_del"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = EntryMap(
    // TPC-H Q1-shaped pricing summary: the canonical partial-agg pipeline.
    "tpch_q1_pricing" -> q { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          stableRoundedSum(col("l_extendedprice"), 2).as("sum_base_price"),
          stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(stableAvg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    // Fact ⋈ dim ⋈ dim with the dims broadcast.
    "tpch_join_nation_revenue" -> q { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("order_cnt"),
          stableRoundedSum(col("o_totalprice"), 2).as("revenue"))
    },
    // Clustered-layout roundtrip: orders rewritten range-clustered on
    // o_totalprice (disjoint per-file ranges — the min/max pruning
    // precondition), then scanned back through a range predicate that
    // can skip non-covering files at footer time.
    "tpch_clustered_scan" -> q { (s, d) =>
      val dir = Scratch.tmpPath("clustered_orders", d, s)
      graft.write.IncrementalWriter.overwriteClustered(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderdate"),
        dir, "o_totalprice", nFiles = 8)
      Tables.parquet(s, dir).filter(col("o_totalprice") > 300000)
    },
    // FILE-level min/max data skipping (the Delta/Iceberg stats-index
    // capability): orders clustered on o_custkey, a persisted per-file
    // (min, max) index built once, then a selective range scan resolved
    // through MinMaxFileIndex — non-overlapping files drop at PLANNING
    // time, before any footer is opened. Values graded against the
    // plain filter; the fewer-files-scanned plan property is pinned in
    // ScaleToolsSpec.
    "tpch_fileskip_scan" -> q { (s, d) =>
      val dir = Scratch.tmpPath("fileskip_orders", d, s)
      val (dataP, statsP) = (s"$dir/data", s"$dir/stats")
      graft.write.IncrementalWriter.overwriteClustered(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        dataP, "o_custkey", nFiles = 8)
      graft.sources.DataSkipping.buildStats(s, dataP, "o_custkey", statsP)
      graft.sources.DataSkipping.read(s, dataP, "o_custkey", statsP)
        .filter(col("o_custkey") >= 100 && col("o_custkey") < 200)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          stableRoundedSum(col("o_totalprice"), 2).as("total"))
    },
    // Bloom-filter file skipping: point lookups on an UNCLUSTERED
    // layout, where every file spans the full key range and min/max
    // stats never prune — per-file Bloom filters prove the probed keys
    // absent and drop those files at planning time (parquet's
    // bloom_filter_enabled at the table-format level). Values graded
    // against the plain IN filter; the ~1-of-8-files point-lookup plan
    // property is pinned in ScaleToolsSpec.
    "tpch_bloomskip_point" -> q { (s, d) =>
      val dir = Scratch.tmpPath("bloomskip_orders", d, s)
      val (dataP, statsP) = (s"$dir/data", s"$dir/stats")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(8).write.parquet(dataP)
      graft.sources.DataSkipping.buildBloomStats(s, dataP, "o_orderkey", statsP,
        expectedPerFile = 1000000L, fpp = 0.01)
      graft.sources.DataSkipping.readBloom(s, dataP, "o_orderkey", statsP)
        .filter(col("o_orderkey").isin(1L, 2L, 3L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
    // Snapshot versioning COMPOSED with the stats index (the
    // Iceberg-style table-format story): clustered commits build a
    // per-dir min/max index at COMMIT time, and readSkipping resolves
    // each data dir through it, pruning non-overlapping files at
    // planning time — versioned data + planning-time skipping from one
    // handle. Values graded against the plain filter over the same
    // rows; the pruned-file-count plan property is pinned in
    // SnapshotSpec.
    "tpch_snapshot_skip" -> q { (s, d) =>
      val root = Scratch.tmpPath("snapskip_orders", d, s)
      val t = new graft.write.SnapshotTable(s, root)
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      t.commitOverwriteClustered(
        ord.filter(col("o_orderkey") % 2 === 0), "o_custkey", nFiles = 8)
      t.commitAppendClustered(
        ord.filter(col("o_orderkey") % 2 === 1), "o_custkey", nFiles = 8)
      t.readSkipping("o_custkey")
        .filter(col("o_custkey") >= 100 && col("o_custkey") < 200)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          stableRoundedSum(col("o_totalprice"), 2).as("total"))
    },
    // TPC-H Q3 shape (shipping priority): selective dim filter, two
    // fact joins with date predicates pushed to both scans, top-10 by
    // revenue — the classic join+agg+TakeOrdered composite.
    "tpch_q3_shipping" -> q { (s, d) =>
      val cut = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },
    // TPC-H Q5 shape (local supplier volume): five-way join where the
    // supplier must share the customer's nation — the extra equality
    // rides the supplier join as a residual, nation broadcasts.
    "tpch_q5_local_supplier" -> q { (s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1997)
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
            .as("revenue"))
    },
    // Sort/limit → TakeOrderedAndProject (no global sort materialized).
    "tpch_topk_orders" -> q { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },
    // Group-wise top-k via ranking window.
    "tpch_window_topk" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
    },
    // Skew-safe group-wise top-k: the salted two-stage formulation
    // (local top-k per sub-group, exact re-rank of the k·salts
    // survivors) — must equal the plain-window result row-for-row, so
    // the tpch_window_topk-shaped oracle grades the rewrite's
    // exactness. Group = customer nation via a fact-side join.
    "tpch_salted_topk" -> q { (s, d) =>
      val joined = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
      graft.operators.SkewJoin.saltedTopK(joined, Seq("c_nationkey"),
          orderCol = "o_totalprice", tieCol = "o_orderkey", k = 3)
        .select("c_nationkey", "rn", "o_orderkey", "o_totalprice")
    },
    // Left-semi: orders having at least one high-quantity line.
    "tpch_semi_join" -> q { (s, d) =>
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48).select("l_orderkey"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    // Left-anti: customers with no orders at all.
    "tpch_anti_join" -> q { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    },
    // Set operations (INTERSECT/EXCEPT are DISTINCT-semantics in both
    // engines, like SQL).
    "tpch_set_intersect" -> q { (s, d) =>
      Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
        .intersect(Tables.orders(s, d).filter(col("o_totalprice") > 200000)
          .select(col("o_custkey").as("c_custkey")))
    },
    "tpch_set_except" -> q { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .except(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")))
    },
    // Rollup with subtotal rows (grouping-null keys labeled 'ALL').
    "tpch_rollup" -> q { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          stableRoundedSum(col("o_totalprice"), 2).as("revenue"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"), col("revenue"))
    },
    // Analytic windows: running total (deterministic decimal accumulation),
    // rank, and lag within a customer's order history.
    "tpch_window_running" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val hist = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val running = hist.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice").cast("decimal(38,10)")).over(running), 2)
          .cast("double").as("running_total"),
        rank().over(hist).as("order_seq"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(hist)).as("days_since_prev"))
    },
    // Global sort (RangePartitioning), no limit.
    "tpch_global_sort" -> q { (s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },
    // Exact interpolated percentiles per group.
    "tpch_percentiles" -> q { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
    },
    // Sketch-based percentiles with a PINNED rank-error contract — the
    // 100 TB escape hatch for exact percentile, whose per-group value
    // buffer is unbounded (all values of a group on one node); the
    // approx_percentile sketch is bounded by the accuracy parameter and
    // guarantees rank error <= n/accuracy REGARDLESS of partition merge
    // order. The graded output carries the EXACT percentiles
    // (engine-portable) plus per-group within-bound flags the oracle
    // pins true — sketch values themselves are engine-specific, their
    // accuracy contract is not (same grading pattern as the HLL entry
    // taxi_daily_approx). A second pass computes each approx value's
    // true rank; the rank join broadcasts the group-sized sketch output.
    "tpch_approx_quantiles" -> q { (s, d) =>
      val acc = 1000
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice"))
      val ap = base.groupBy(col("o_orderpriority")).agg(
        expr(s"approx_percentile(o_totalprice, array(0.5, 0.9), $acc)").as("ap"),
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
      base.join(broadcast(ap), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(
          first(col("n")).as("n"),
          first(col("p50")).as("p50"),
          first(col("p90")).as("p90"),
          sum(when(col("o_totalprice") <= col("ap")(0), 1L).otherwise(0L)).as("r50"),
          sum(when(col("o_totalprice") <= col("ap")(1), 1L).otherwise(0L)).as("r90"))
        .select(col("o_orderpriority"), col("n"), col("p50"), col("p90"),
          (abs(col("r50") - lit(0.5) * col("n")) <= col("n").cast("double") / acc + 2)
            .as("p50_within_bound"),
          (abs(col("r90") - lit(0.9) * col("n")) <= col("n").cast("double") / acc + 2)
            .as("p90_within_bound"))
    },
    // CUBE: all grouping-set combinations with subtotal rows.
    "tpch_cube" -> q { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"))
    },
    // S7/S9: namespace DDL + managed-table CTAS round-trip through the
    // session catalog.
    "cat_table_roundtrip" -> q { (s, d) =>
      graft.catalog.Catalog.materializeTable(
        Tables.customer(s, d).filter(col("c_acctbal") > 0), "graft_db", "customers_pos")
      graft.catalog.Catalog.readTable(s, "graft_db", "customers_pos")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(stableAvg(col("c_acctbal")), 2).as("avg_bal"))
    },
    // Multi-session table identity: materialize under a durable
    // path-catalog name, then resolve and read through a FRESH catalog
    // handle over the same warehouse dir — the re-open a second session
    // performs. Graded on the aggregate read through the re-opened
    // handle, so a broken registration, resolution, or location flip
    // all surface as a wrong/missing result.
    "cat_path_roundtrip" -> q { (s, d) =>
      val wh = Scratch.tmpPath("pathcat_wh", d, s)
      val loc = s"$wh/data/customers_pos"
      Tables.customer(s, d).filter(col("c_acctbal") > 0)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.parquet(loc)
      new graft.catalog.PathCatalog(s, wh).register("sales", "customers_pos", loc)
      // fresh handle = a second session re-opening the warehouse
      new graft.catalog.PathCatalog(s, wh).read("sales", "customers_pos")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust_pos"),
          round(stableAvg(col("c_acctbal")), 2).as("avg_bal_pos"))
    },
    // Exact distinct aggregate per segment.
    "tpch_distinct_agg" -> q { (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          countDistinct(col("c_nationkey")).as("n_nations"),
          round(stableAvg(col("c_acctbal")), 2).as("avg_bal"))
    },
    // Bucketed tables end-to-end: both sides materialized bucketed on
    // the join key, read back through the catalog, joined and
    // aggregated — VALUES graded against a plain join oracle. (The
    // harness consumes the returned frame through its own
    // QueryExecution, so a conf toggled here cannot pin the graded
    // plan; the zero-shuffle bucketed-join PLAN property is pinned in
    // ScaleToolsSpec, which inspects the plan it builds.)
    "tpch_bucketed_join" -> q { (s, d) =>
      import graft.catalog.Catalog
      Catalog.materializeBucketed(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "graft_db", "bkt_customer", "c_custkey", 8)
      Catalog.materializeBucketed(
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
        "graft_db", "bkt_orders", "c_custkey", 8)
      Catalog.readTable(s, "graft_db", "bkt_customer")
        .join(Catalog.readTable(s, "graft_db", "bkt_orders"), "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          graft.expr.Functions.stableRoundedSum(col("o_totalprice"), 2).as("revenue"))
    },
    // Correlated scalar subquery, de-correlated the scalable way: the
    // per-nation average becomes a broadcast aggregate joined back —
    // the big side is scanned twice but never shuffled. stableAvg keeps
    // the comparison boundary bit-identical across engines.
    "tpch_scalar_subquery" -> q { (s, d) =>
      val c = Tables.customer(s, d)
      val natAvg = c.groupBy(col("c_nationkey"))
        .agg(stableAvg(col("c_acctbal")).as("nat_avg"))
      c.join(broadcast(natAvg), Seq("c_nationkey"))
        .filter(col("c_acctbal") > col("nat_avg"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_above"))
    },
    // Salted skew join: the fact side's hot keys are scattered across 8
    // deterministic salts, the dim side replicated once per salt — the
    // operator's contract is result equality with the plain join, which
    // is exactly what the oracle grades.
    "tpch_skew_join" -> q { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      val supp = Tables.supplier(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.SkewJoin.saltedJoin(li, supp, "l_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
            .as("revenue"))
    },
    // Row-level MERGE: deterministic source derived from orders —
    // every 7th key updated (status 'U', price +10%), every 21st
    // deleted, every 11th re-inserted under a shifted key — applied via
    // one full-outer join; output is the post-merge table.
    "tpch_merge_upsert" -> q((s, d) => mergedOrders(s, d)),
    // Keyed table diff (reconciliation): the pre-merge orders table
    // diffed against the post-merge one — updates surface as
    // `changed`, deletes as `only_left`, shifted-key inserts as
    // `only_right`; the untouched mass is never emitted.
    "tpch_table_diff" -> q { (s, d) =>
      val target = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.operators.Merge.tableDiff(target, mergedOrders(s, d), "o_orderkey")
    },
    // ROLLUP with grouping() flags — unlike tpch_rollup's 'ALL'
    // labeling, the flags disambiguate REAL null keys from subtotal
    // rows (the label trick is lossy when a key can itself be null).
    // Same one-Expand-one-aggregation pass.
    "tpch_grouping_flags" -> q { (s, d) =>
      Tables.customer(s, d)
        .rollup(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          stableRoundedSum(col("c_acctbal"), 2).as("sum_bal"),
          grouping(col("c_mktsegment")).cast("int").as("g_seg"),
          grouping(col("c_nationkey")).cast("int").as("g_nat"))
    },
    // Bloom-pruned semi-join: high-balance customers' keys build a
    // distributed Bloom filter that prunes the orders probe map-side
    // BEFORE its shuffle; the residual exact semi-join removes false
    // positives, so the output is exactly orders ⋉ customers.
    "tpch_bloom_semi" -> q { (s, d) =>
      val probe = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val build = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.BloomJoin.bloomSemiJoin(probe, build, "o_custkey",
        expectedItems = 10000L, fpp = 0.01)
    },
    // TPC-H Q4 shape (order priority checking): orders with at least
    // one line shipped >90 days after the order date — an EXISTS whose
    // predicate spans both tables, so the semi-join carries the
    // inequality as a residual condition on the equi-join. One shuffle
    // pair on the order key; the count group-by is low-cardinality.
    "tpch_q4_late_orders" -> q { (s, d) =>
      val late = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d)
        .join(late, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },
    // TPC-H Q17 shape (small-quantity revenue): a correlated scalar avg
    // subquery, de-correlated into a per-part aggregate joined back —
    // the brand slice of lineitem is scanned twice but never shuffled
    // wide (the per-part cut is small after the brand filter, and the
    // final agg is a single global row). stableAvg keeps the
    // l_quantity < 0.2·avg comparison boundary bit-identical.
    "tpch_q17_small_qty" -> q { (s, d) =>
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#1").select("p_partkey")
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(brandParts, col("l_partkey") === col("p_partkey"))
      val cuts = li.groupBy(col("l_partkey").as("cut_partkey"))
        .agg((lit(0.2) * stableAvg(col("l_quantity"))).as("qty_cut"))
      li.join(cuts, col("l_partkey") === col("cut_partkey"))
        .filter(col("l_quantity") < col("qty_cut"))
        .agg(round(stableSum(col("l_extendedprice")).cast("double") / 7.0, 2)
          .as("avg_yearly"))
    },
    // TPC-H Q18 shape (large-volume orders): HAVING on a grouped sum
    // feeding an IN-subquery join — expressed as the aggregate joined
    // back to orders/customer, top-100 by order value. The quantity
    // HAVING boundary rides the order-independent decimal sum.
    "tpch_q18_large_orders" -> q { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(stableSum(col("l_quantity")).cast("double").as("total_qty"))
        .filter(col("total_qty") > 250)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
    },
    // TPC-H Q22 shape (dormant high-value customers): a GLOBAL scalar
    // subquery (avg positive balance — one broadcast row) gating the
    // filter, composed with a NOT EXISTS anti-join — customers above
    // the global average with no 1998 order, per nation. The year
    // filter pushes below the anti-join's shuffle; stableAvg keeps the
    // comparison boundary bit-identical across engines.
    "tpch_q22_dormant" -> q { (s, d) =>
      val cust = Tables.customer(s, d)
      val posAvg = cust.filter(col("c_acctbal") > 0)
        .agg(stableAvg(col("c_acctbal")).as("pos_avg"))
      cust.crossJoin(broadcast(posAvg))
        .filter(col("c_acctbal") > col("pos_avg"))
        .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1998)
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          stableRoundedSum(col("c_acctbal"), 2).as("total_bal"))
    },
    // TPC-H Q6 shape (forecast revenue change): the canonical
    // pure-filter scan aggregate — every predicate pushes to the
    // parquet reader, no join, no group-by key.
    "tpch_q6_forecast" -> q { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(col("l_extendedprice") * col("l_discount"), 2)
            .as("revenue"))
    },
    // TPC-H Q19 shape (disjunctive discounted revenue): OR-of-ANDs
    // predicate spanning both join sides — the planner must push the
    // part-only disjuncts below the join while keeping the residual
    // mixed condition on it.
    "tpch_q19_disjunctive" -> q { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(21, 30) &&
            col("l_quantity").between(20, 40)))
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
            .as("revenue"))
    },
    // Join-key skew profiler — the ops step BEFORE choosing a salted
    // join: per-key row counts with each hot key's multiple of the mean
    // (the frame under the global window is the key-count profile,
    // bounded by the dimension's cardinality, never the fact table).
    "tpch_skew_profile" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_rows"))
        .withColumn("x_mean", round(col("n_rows").cast("double") /
          avg(col("n_rows")).over(Window.partitionBy()), 4))
        .orderBy(col("n_rows").desc, col("l_suppkey")).limit(10)
    },
    // Range join (bucketed, not nested-loop): orders counted into 90-day
    // windows sliding every 30 days — overlapping on purpose, so each
    // order matches up to 3 windows and the operator is a real interval
    // join, not a disguised group-by.
    "tpch_range_join" -> q { (s, d) =>
      val windows = s.range(85).select(
        date_add(to_date(lit("1992-01-01")), (col("id") * 30).cast("int")).as("ws"),
        date_add(to_date(lit("1992-01-01")), (col("id") * 30 + 89).cast("int")).as("we"))
      val pts = Tables.orders(s, d).select(col("o_orderdate"))
        .withColumn("day", unix_date(to_date(col("o_orderdate"))))
      val ivs = windows
        .withColumn("ds", unix_date(col("ws")))
        .withColumn("de", unix_date(col("we")))
      graft.operators.RangeJoin.pointInInterval(pts, "day", ivs, "ds", "de",
          bucketWidth = 64)
        .groupBy(col("ws"), col("we"))
        .agg(count(lit(1)).as("n_orders"))
    },
    // ---- the remaining TPC-H query shapes (Q2/Q7–Q16/Q20/Q21), adapted
    // to this corpus's reduced schema: there is no partsupp table, so
    // Q2/Q11/Q16/Q20 derive the part–supplier relation from lineitem
    // (distinct pairs; unit cost = min extendedprice/quantity), and
    // comment/phone/shipmode-based predicates substitute columns that
    // exist (documented per entry). With these, all 22 TPC-H shapes have
    // a graded entry. ----
    // Z-ordered (Morton-curve) layout roundtrip: orders rewritten
    // clustered on BOTH (o_custkey, o_totalprice), then scanned through
    // a two-column predicate — min/max footer pruning bites on both
    // dimensions, where 1-D clustering prunes only its own column. The
    // graded result is the content (layout is a performance property);
    // the per-file range narrowing is pinned in ScaleToolsSpec.
    "tpch_zorder_scan" -> q { (s, d) =>
      val dir = Scratch.tmpPath("zorder_orders", d, s)
      graft.write.IncrementalWriter.overwriteZOrdered(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        dir, Seq("o_custkey", "o_totalprice"), nFiles = 16)
      Tables.parquet(s, dir).filter(col("o_custkey") < 200 && col("o_totalprice") > 200000)
    },
    // Z-ordered compaction of a VERSIONED table (Delta OPTIMIZE ZORDER
    // BY shape): orders committed as a snapshot, rewritten into one
    // Z-ordered dir with a stats index per clustered column, then read
    // through file skipping with a predicate on BOTH dimensions —
    // graded on the rows (layout is a performance property; values are
    // invariant). File-count pruning per dimension is pinned in
    // SnapshotSpec.
    "tpch_snapshot_zorder" -> q { (s, d) =>
      val t = new graft.write.SnapshotTable(s,
        Scratch.tmpPath("snap_zorder", d, s), Seq("o_orderpriority"))
      t.commitOverwrite(Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
      t.commitCompactZ(Seq("o_custkey", "o_totalprice"), nFiles = 16)
      t.readSkipping("o_custkey")
        .filter(col("o_custkey") < 200 && col("o_totalprice") > 200000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
    },
    // Q2: min-cost supplier per part within a region — correlated-min
    // (window) over the derived supply relation, dims broadcast.
    "tpch_q2_min_cost" -> q { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cost = Tables.lineitem(s, d).filter(col("l_quantity") > 0)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      val eur = cost
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
      // per-part min over the region's suppliers; the window shuffles on
      // the part key only once (supply is pairs-sized, not fact-sized)
      val best = eur
        .withColumn("min_cost", min(col("unit_cost")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("unit_cost") === col("min_cost"))
      best.join(Tables.part(s, d).filter(col("p_type") === "STANDARD" && col("p_size") <= 15),
          col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          round(col("unit_cost"), 6).as("cost"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(100)
    },
    // Q7: volume shipping between two nations, either direction, by year
    // — double-dim join with a pair predicate, dims broadcast.
    "tpch_q7_volume" -> q { (s, d) =>
      val n1 = Tables.nation(s, d).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
            .as("volume"))
    },
    // Q8: a nation's market share inside a region's market by year —
    // the conditional-sum ratio over a 6-way join, order-independent
    // via decimal accumulation on BOTH numerator and denominator.
    "tpch_q8_market_share" -> q { (s, d) =>
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(Tables.part(s, d).filter(col("p_type") === "ECONOMY").select("p_partkey"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
          .filter(year(col("o_orderdate")).between(1995, 1996))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))),
          col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          round(stableSum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)))
            .cast("double") / stableSum(vol).cast("double"), 6).as("mkt_share"))
    },
    // Q9: profit by supplier nation × order year over parts matching a
    // name pattern. No partsupp ⇒ supply cost is proxied as 1% of
    // retail price × quantity (deterministic, engine-mirrorable).
    "tpch_q9_profit" -> q { (s, d) =>
      val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
        col("p_retailprice") * col("l_quantity") * lit(0.01)
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").like("%red%"))
          .select("p_partkey", "p_retailprice"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          stableRoundedSum(amount, 2).as("sum_profit"))
    },
    // Q10: returned-item revenue per customer for one quarter, top 20 —
    // join + agg + TakeOrdered with the custkey tiebreak.
    "tpch_q10_returns" -> q { (s, d) =>
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
    },
    // Q11: parts whose supply value from one nation exceeds a fraction
    // of that nation's total — HAVING against a broadcast scalar, value
    // from the lineitem-derived supply relation.
    "tpch_q11_important_parts" -> q { (s, d) =>
      val supply = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
      val perPart = supply.groupBy(col("l_partkey"))
        .agg(stableSum(col("l_extendedprice")).cast("double").as("value_d"))
      val total = perPart.agg(stableSum(col("value_d")).cast("double").as("total_d"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_d") > col("total_d") * lit(0.001))
        .select(col("l_partkey"), round(col("value_d"), 2).as("part_value"))
    },
    // Q12 shape: lineitem attribute groups × order-priority urgency
    // split (the corpus has no l_shipmode/commitdate; l_returnflag is
    // the grouping stand-in and the late predicate rides l_shipdate).
    "tpch_q12_priority_split" -> q { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag")
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    },
    // Q13: customer order-count distribution — outer join with a
    // join-side predicate, then a histogram of the per-customer counts.
    "tpch_q13_order_dist" -> q { (s, d) =>
      Tables.customer(s, d).select("c_custkey")
        .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "5-LOW")
          .select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    // Q14: promo revenue share in one month — conditional-sum ratio,
    // decimal-accumulated on both sides.
    "tpch_q14_promo" -> q { (s, d) =>
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(Tables.part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n_lines"),
          round(lit(100.0) * stableSum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0)))
            .cast("double") / stableSum(vol).cast("double"), 6).as("promo_share"))
    },
    // Q15: top supplier(s) by quarter revenue — revenue view + max
    // scalar + equality keep, rounded BEFORE the compare on both sides.
    "tpch_q15_top_supplier" -> q { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(stableRoundedSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2)
          .as("total_rev"))
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_rev") === col("max_rev"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    },
    // Q16: supplier count per (brand, type, size) bucket over the
    // derived supply pairs, excluding flagged suppliers (negative
    // balance proxies the comment-based complaint filter) via anti join.
    "tpch_q16_supplier_cnt" -> q { (s, d) =>
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
        .join(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 17, 25, 33, 41, 49)),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d).filter(col("s_acctbal") < 0).select("s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
    // Q20: suppliers in one nation that shipped a significant volume of
    // matching parts in one year — nested IN-subqueries as broadcast
    // semi joins over the derived supply relation.
    "tpch_q20_excess_supply" -> q { (s, d) =>
      val partKeys = Tables.part(s, d).filter(col("p_name").like("small%"))
        .select("p_partkey")
      val shipped = Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1997)
        .join(broadcast(partKeys), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(stableSum(col("l_quantity")).cast("double").as("qty"))
        .filter(col("qty") > 40.0)
        .select("l_suppkey").distinct()
      Tables.supplier(s, d)
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
    },
    // Q21 shape: suppliers alone responsible for a late line in a
    // multi-supplier finished order. The classic 4-way self-join is
    // re-expressed as ONE per-order profile aggregation (distinct
    // suppliers / distinct late suppliers) — exists/not-exists become
    // n_supps >= 2 AND n_late = 1, which shuffles lineitem once instead
    // of three times (the formulation that survives a 100 TB fact).
    // "Late" adapts to this schema as shipped > 60 days after order.
    "tpch_q21_waiting" -> q { (s, d) =>
      val lo = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("late", col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      val prof = lo.groupBy(col("l_orderkey").as("po"))
        .agg(countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(when(col("late"), col("l_suppkey"))).as("n_late"))
      lo.filter(col("late"))
        .select("l_orderkey", "l_suppkey").distinct()
        .join(prof, col("l_orderkey") === col("po"))
        .filter(col("n_supps") >= 2 && col("n_late") === 1)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    })

  val oracleSql: Map[String, String] = EntryMap(
    "tpch_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${rndSum("o_totalprice", 2)} AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |GROUP BY 1""".stripMargin,
    "tpch_scalar_subquery" ->
      s"""SELECT c_nationkey, count(*) AS n_above
         |FROM customer c
         |WHERE c_acctbal > (SELECT ${oStableAvg("c_acctbal")}
         |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
         |GROUP BY 1""".stripMargin,
    "tpch_range_join" ->
      """WITH w AS (SELECT (DATE '1992-01-01' + CAST(i * 30 AS INTEGER)) AS ws,
        |                  (DATE '1992-01-01' + CAST(i * 30 + 89 AS INTEGER)) AS we
        |           FROM range(85) t(i))
        |SELECT ws, we, count(*) AS n_orders
        |FROM w JOIN orders ON o_orderdate BETWEEN ws AND we
        |GROUP BY 1, 2""".stripMargin,
    "tpch_set_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000""".stripMargin,
    "tpch_set_except" ->
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "tpch_rollup" ->
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
         |  coalesce(o_orderstatus, 'ALL') AS status,
         |  count(*) AS n_orders, ${rndSum("o_totalprice", 2)} AS revenue
         |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
    "tpch_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,10)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
        |  CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS order_seq,
        |  CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS INTEGER) AS days_since_prev
        |FROM orders""".stripMargin,
    "tpch_global_sort" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey",
    "tpch_percentiles" ->
      s"""SELECT o_orderpriority,
         |  ${rnd("quantile_cont(o_totalprice, 0.5)", 4)} AS p50,
         |  ${rnd("quantile_cont(o_totalprice, 0.9)", 4)} AS p90,
         |  ${rnd("quantile_cont(o_totalprice, 0.99)", 4)} AS p99
         |FROM orders GROUP BY 1""".stripMargin,
    // exact percentiles pinned by value; the sketch's rank-error
    // contract pinned by flags that must be true at any merge order
    "tpch_approx_quantiles" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |  ${rnd("quantile_cont(o_totalprice, 0.5)", 4)} AS p50,
         |  ${rnd("quantile_cont(o_totalprice, 0.9)", 4)} AS p90,
         |  true AS p50_within_bound,
         |  true AS p90_within_bound
         |FROM orders GROUP BY 1""".stripMargin,
    "tpch_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n_orders
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,
        "cat_table_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n,
         |  ${rnd(oStableAvg("c_acctbal"), 2)} AS avg_bal
         |FROM customer WHERE c_acctbal > 0 GROUP BY 1""".stripMargin,
    "cat_path_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n_cust_pos,
         |  ${rnd(oStableAvg("c_acctbal"), 2)} AS avg_bal_pos
         |FROM customer WHERE c_acctbal > 0 GROUP BY 1""".stripMargin,
    "tpch_q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${rnd("sum(l_quantity)", 2)} AS sum_qty,
         |  ${rndSum("l_extendedprice", 2)} AS sum_base_price,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS sum_disc_price,
         |  ${rnd("avg(l_quantity)", 2)} AS avg_qty,
         |  ${rnd(oStableAvg("l_discount"), 4)} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "tpch_join_nation_revenue" ->
      s"""SELECT n.n_name AS nation, count(*) AS order_cnt,
         |  ${rndSum("o.o_totalprice", 2)} AS revenue
         |FROM orders o
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |GROUP BY 1""".stripMargin,
    "tpch_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "tpch_window_topk" ->
      """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    // the salted rewrite must be indistinguishable from the plain window
    "tpch_salted_topk" ->
      """SELECT c_nationkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT c.c_nationkey, o.o_orderkey, o.o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c.c_nationkey
        |         ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INTEGER) AS rn
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |WHERE rn <= 3""".stripMargin,
    "tpch_skew_join" ->
      s"""SELECT s_nationkey, count(*) AS n_lines,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1""".stripMargin,
    "tpch_clustered_scan" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_totalprice > 300000""".stripMargin,
    // bloom skipping must be value-transparent too
    "tpch_bloomskip_point" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (1, 2, 3)""".stripMargin,
    // versioned reads through the commit-time stats index must be
    // value-transparent too: both clustered commits together hold
    // exactly the orders table
    "tpch_snapshot_skip" ->
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${rndSum("o_totalprice", 2)} AS total
         |FROM orders WHERE o_custkey >= 100 AND o_custkey < 200
         |GROUP BY 1""".stripMargin,
    // skipping must be value-transparent: the index only prunes files
    // the predicate could never match
    "tpch_fileskip_scan" ->
      s"""SELECT o_custkey, count(*) AS n_orders,
         |  ${rndSum("o_totalprice", 2)} AS total
         |FROM orders WHERE o_custkey >= 100 AND o_custkey < 200
         |GROUP BY 1""".stripMargin,
    "tpch_q3_shipping" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-01'
         |  AND l_shipdate > TIMESTAMP '1998-06-01'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "tpch_q5_local_supplier" ->
      s"""SELECT n_name AS nation, count(*) AS n_lines,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE year(o_orderdate) = 1997
         |GROUP BY 1""".stripMargin,
    "tpch_merge_upsert" -> mergeResultSql,
    "tpch_table_diff" ->
      s"""WITH merged AS ($mergeResultSql),
         |t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
         |j AS (SELECT t.o_orderkey AS lk, m.o_orderkey AS rk,
         |        CASE WHEN m.o_orderkey IS NULL THEN 'only_left'
         |             WHEN t.o_orderkey IS NULL THEN 'only_right'
         |             WHEN NOT (t.o_orderstatus IS NOT DISTINCT FROM m.o_orderstatus
         |                       AND t.o_totalprice IS NOT DISTINCT FROM m.o_totalprice)
         |             THEN 'changed' END AS diff_status
         |      FROM t FULL OUTER JOIN merged m ON t.o_orderkey = m.o_orderkey)
         |SELECT coalesce(lk, rk) AS o_orderkey, diff_status
         |FROM j WHERE diff_status IS NOT NULL""".stripMargin,
    "tpch_grouping_flags" ->
      s"""SELECT c_mktsegment, c_nationkey, count(*) AS n_cust,
         |  ${rndSum("c_acctbal", 2)} AS sum_bal,
         |  CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
         |  CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat
         |FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)""".stripMargin,
    // the bloom is pruning-only: the graded result is the exact semi-join
    "tpch_bloom_semi" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9000)""".stripMargin,
    "tpch_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)""".stripMargin,
    "tpch_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "tpch_distinct_agg" ->
      s"""SELECT c_mktsegment, count(*) AS n_cust,
         |  count(DISTINCT c_nationkey) AS n_nations,
         |  ${rnd(oStableAvg("c_acctbal"), 2)} AS avg_bal
         |FROM customer GROUP BY 1""".stripMargin,
    "tpch_q6_forecast" ->
      s"""SELECT count(*) AS n_lines,
         |  ${rndSum("l_extendedprice * l_discount", 2)} AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,
    "tpch_q19_disjunctive" ->
      s"""SELECT count(*) AS n_lines,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
         |         AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20
         |         AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30
         |         AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "tpch_skew_profile" ->
      s"""WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1)
         |SELECT l_suppkey, n_rows,
         |  ${rnd("CAST(n_rows AS DOUBLE) / avg(n_rows) OVER ()", 4)} AS x_mean
         |FROM c ORDER BY n_rows DESC, l_suppkey LIMIT 10""".stripMargin,
    "tpch_q22_dormant" ->
      s"""SELECT c_nationkey, count(*) AS n_cust,
         |  ${rndSum("c_acctbal", 2)} AS total_bal
         |FROM customer
         |WHERE c_acctbal > (SELECT ${oStableAvg("c_acctbal")}
         |                   FROM customer WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND year(o_orderdate) = 1998)
         |GROUP BY 1""".stripMargin,
    "tpch_q4_late_orders" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1""".stripMargin,
    "tpch_q17_small_qty" ->
      s"""WITH li AS (
         |  SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_brand = 'Brand#1'),
         |cuts AS (
         |  SELECT l_partkey AS cut_partkey,
         |    0.2 * (${oStableAvg("l_quantity")}) AS qty_cut
         |  FROM li GROUP BY 1)
         |SELECT ${rnd(s"CAST(${decSum("l_extendedprice")} AS DOUBLE) / 7.0", 2)} AS avg_yearly
         |FROM li JOIN cuts ON l_partkey = cut_partkey
         |WHERE l_quantity < qty_cut""".stripMargin,
    "tpch_q18_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, CAST(${decSum("l_quantity")} AS DOUBLE) AS total_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(${decSum("l_quantity")} AS DOUBLE) > 250)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
         |FROM orders
         |JOIN big ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "tpch_zorder_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_custkey < 200 AND o_totalprice > 200000""".stripMargin,
    "tpch_snapshot_zorder" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_custkey < 200 AND o_totalprice > 200000""".stripMargin,
    "tpch_q2_min_cost" ->
      s"""WITH cost AS (
         |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
         |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
         |eur AS (
         |  SELECT * FROM cost
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |best AS (SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
         |         FROM eur)
         |SELECT s_acctbal, s_name, n_name, p_partkey,
         |  ${rnd("unit_cost", 6)} AS cost
         |FROM best JOIN part ON l_partkey = p_partkey
         |WHERE p_type = 'STANDARD' AND p_size <= 15 AND unit_cost = min_cost
         |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100""".stripMargin,
    "tpch_q7_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  count(*) AS n_lines,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS volume
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         |GROUP BY 1, 2, 3""".stripMargin,
    "tpch_q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  count(*) AS n_lines,
         |  ${rnd(
             s"CAST(${decSum("CASE WHEN ns.n_name = 'NATION_3' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS DOUBLE)" +
             s" / CAST(${decSum("l_extendedprice * (1.0 - l_discount)")} AS DOUBLE)", 6)} AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |JOIN region ON nc.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
         |  AND year(o_orderdate) BETWEEN 1995 AND 1996
         |GROUP BY 1""".stripMargin,
    "tpch_q9_profit" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  count(*) AS n_lines,
         |  ${rndSum(
             "l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity * CAST(0.01 AS DOUBLE)",
             2)} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%red%'
         |GROUP BY 1, 2""".stripMargin,
    "tpch_q10_returns" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-04-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "tpch_q11_important_parts" ->
      s"""WITH v AS (
         |  SELECT l_partkey, CAST(${decSum("l_extendedprice")} AS DOUBLE) AS value_d
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_7'
         |  GROUP BY 1),
         |t AS (SELECT CAST(${decSum("value_d")} AS DOUBLE) AS total_d FROM v)
         |SELECT l_partkey, ${rnd("value_d", 2)} AS part_value
         |FROM v, t WHERE value_d > total_d * CAST(0.001 AS DOUBLE)""".stripMargin,
    "tpch_q12_priority_split" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,
    "tpch_q13_order_dist" ->
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM c GROUP BY 1""".stripMargin,
    "tpch_q14_promo" ->
      s"""SELECT count(*) AS n_lines,
         |  ${rnd(
             s"(CAST(100.0 AS DOUBLE) * CAST(${decSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS DOUBLE))" +
             s" / CAST(${decSum("l_extendedprice * (1.0 - l_discount)")} AS DOUBLE)", 6)} AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
         |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    "tpch_q15_top_supplier" ->
      s"""WITH r AS (
         |  SELECT l_suppkey, ${rndSum("l_extendedprice * (1.0 - l_discount)", 2)} AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_rev
         |FROM r JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = (SELECT max(total_rev) FROM r)""".stripMargin,
    "tpch_q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 17, 25, 33, 41, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "tpch_q20_excess_supply" ->
      s"""SELECT s_suppkey, s_name
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_5'
         |  AND s_suppkey IN (
         |    SELECT l_suppkey FROM lineitem
         |    WHERE year(l_shipdate) = 1997
         |      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
         |    GROUP BY l_partkey, l_suppkey
         |    HAVING CAST(${decSum("l_quantity")} AS DOUBLE) > 40.0)""".stripMargin,
    "tpch_q21_waiting" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |prof AS (
        |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supps,
        |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        |  FROM lo GROUP BY 1),
        |w AS (
        |  SELECT DISTINCT lo.l_orderkey, l_suppkey
        |  FROM lo JOIN prof USING (l_orderkey)
        |  WHERE late AND n_supps >= 2 AND n_late = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM w
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)

  /** Post-merge orders — the `tpch_merge_upsert` oracle, reused as a
    * CTE by the `tpch_table_diff` oracle. */
  private lazy val mergeResultSql =
    s"""WITH src AS (
       |  SELECT o_orderkey, 'U' AS o_orderstatus,
       |    ${rnd("o_totalprice * 1.1", 2)} AS o_totalprice,
       |    o_orderkey % 21 = 0 AS del
       |  FROM orders WHERE o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 1000000000, 'N', 1.0, false
       |  FROM orders WHERE o_orderkey % 11 = 0),
       |m AS (
       |  SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
       |         ELSE t.o_orderstatus END AS o_orderstatus,
       |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
       |         ELSE t.o_totalprice END AS o_totalprice,
       |    s.del
       |  FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) t
       |  FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
       |SELECT o_orderkey, o_orderstatus, o_totalprice FROM m
       |WHERE del IS DISTINCT FROM true""".stripMargin
}
