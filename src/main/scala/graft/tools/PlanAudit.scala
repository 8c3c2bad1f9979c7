package graft.tools

import graft.{GraftSession, SparkEntry}

/** Generate the plan-audit document (`docs/plans.md`): the FORMATTED
  * physical plan of a curated set of headline queries, each annotated
  * with the scale property it demonstrates — pushed filters reaching
  * the parquet scan, broadcast joins on small dims, candidate pruning
  * below aggregations, zero-exchange bucketed joins, single-pass
  * windows. Like [[Lineage]], the document derives from the RUNNING
  * code (the plans Catalyst actually produces over the fixture data),
  * so regenerating after an operator change can never drift from the
  * engine; several of the properties shown here are also
  * build-failures-on-regression via the `ScaleToolsSpec` plan pins.
  *
  * Usage: `sbt "runMain graft.tools.PlanAudit [out.md] [sfDir]"`.
  * Plans are rendered at sf0.001 — plan SHAPE is what the document
  * records, and the static plan (pushdowns, join strategies, exchange
  * placement) does not depend on the scale factor; AQE may further
  * improve them at runtime. */
object PlanAudit {

  /** (entry, the property a reader should verify in the plan). Only
    * pure queries — no entry here commits table state. */
  val audited: Seq[(String, String)] = Seq(
    "taxi_stg_yellow" -> ("Scan hygiene: the staging validity filters reach the parquet scan " +
      "as `PushedFilters` and `ReadSchema` lists only the projected columns — the reference's " +
      "staging SQL re-expressed so Catalyst can push it (stg_yellow_taxi.sql)."),
    "taxi_fct_daily" -> ("Aggregation shape: `HashAggregate(partial)` under the exchange, " +
      "`HashAggregate(final)` above it — map-side combine means the shuffle carries " +
      "(group, partial-state) rows, never the fact table."),
    "tpch_q3_shipping" -> ("Join strategy: customer and orders predicates are pushed to their " +
      "scans; the dimension side rides a `BroadcastHashJoin` so lineitem — the 100 TB side — " +
      "is never shuffled for the join."),
    "tpch_bucketed_join" -> ("Co-located join: both sides are bucketed on the join key, so the " +
      "`SortMergeJoin` has NO `Exchange` beneath it — the layout, not the planner, paid for " +
      "the co-location once at write time. (Rendered with auto-broadcast disabled: at fixture " +
      "scale the planner would broadcast the small side instead; at 100 TB both sides exceed " +
      "the threshold and THIS is the plan — the shape `ScaleToolsSpec` pins the same way.)"),
    "tpch_salted_topk" -> ("Skew handling: the hot-group top-k runs a salted local window " +
      "under a global one — two bounded passes instead of one partition absorbing the hot key."),
    "dedup_minhash_lsh" -> ("Near-dup candidates: pairs come from a band-bucket self-join over " +
      "minhash signatures (the `band`/`sig` keys in the join condition) — pair space is " +
      "Σ bucket², and no `CartesianProduct` appears anywhere."),
    "sim_ivf_ann" -> ("ANN search shape: query vectors probe only their nearest IVF lists " +
      "(the list-id equi-join below the distance evaluation) — the corpus is partitioned by " +
      "learned list, never brute-forced."),
    "text_bm25" -> ("Retrieval pruning: the query-term `IN`-filter sits BELOW the tf " +
      "aggregation, directly above the token explode — only candidate (doc, term) state " +
      "survives the corpus pass (plan-pinned in ScaleToolsSpec)."),
    "text_textrank" -> ("Iterative graph shape: every PageRank round joins the " +
      "vocabulary-sized score vector to the PERSISTED symmetric edge list " +
      "(`InMemoryTableScan`) — the corpus pair aggregation runs once, not once per round."),
    "ev_sessionize" -> ("Window shape: sessionization runs one shuffle and one sort; the " +
      "session-id assignment and the per-session aggregate reuse the same partitioning."))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/plans.md")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, render(spark, sfDir).getBytes("UTF-8"))
    println(s"[planaudit] wrote ${audited.size} plans to $out")
    spark.stop()
  }

  /** Renumber expression IDs (`col#1234`) per plan in first-appearance
    * order: Catalyst draws them from a JVM-global counter, so the raw
    * rendering depends on how many queries ran before in the session —
    * normalized, the SAME plan shape renders byte-identically however
    * the generating JVM got here, which is what lets `PlanAuditSpec`
    * diff a regeneration against the committed doc byte-for-byte. */
  private def normalizeIds(plan: String): String = {
    val id = "#(\\d+)".r
    val mapping = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    id.findAllMatchIn(plan).foreach { m =>
      if (!mapping.contains(m.group(1))) mapping(m.group(1)) = mapping.size + 1
    }
    val byExpr = id.replaceAllIn(plan, m => "#" + mapping(m.group(1)))
    // plan_id is drawn from the same kind of JVM-global counter as
    // expression IDs but was not normalized until round 18 — one plan
    // growing or shrinking shifted every LATER section's plan_ids, so a
    // single real change produced thousands of noise diff lines.
    val pid = "plan_id=(\\d+)".r
    val pidMap = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    pid.findAllMatchIn(byExpr).foreach { m =>
      if (!pidMap.contains(m.group(1))) pidMap(m.group(1)) = pidMap.size + 1
    }
    pid.replaceAllIn(byExpr, m => "plan_id=" + pidMap(m.group(1)))
  }

  /** The full document text — pure function of the running code and the
    * fixture tables (see [[normalizeIds]] for why it is deterministic
    * regardless of prior session activity). */
  def render(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    val sb = new StringBuilder
    sb.append("# Plan audit — headline physical plans\n\n")
    sb.append("GENERATED by `sbt \"runMain graft.tools.PlanAudit\"` from the running\n")
    sb.append("code over the sf0.001 fixture tables — do not edit by hand. Each\n")
    sb.append("section states the scale property the plan demonstrates, then the\n")
    sb.append("`explain(\"formatted\")` output Catalyst actually produced. Plan SHAPE\n")
    sb.append("(pushdowns, join strategies, exchange placement) is scale-independent;\n")
    sb.append("AQE can only improve on it at runtime. Several properties are also\n")
    sb.append("pinned as build failures in `ScaleToolsSpec`, and `PlanAuditSpec`\n")
    sb.append("re-renders this whole document in-suite — a stale doc (any plan\n")
    sb.append("shape drifting from what is committed here) fails the build.\n")
    // catalog tables (the bucketed join's) render their location under
    // the session's warehouse root, which is wherever the checkout is —
    // masked like the JVM-global IDs, so the doc is checkout-independent
    val warehouse = {
      val p = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    }
    audited.foreach { case (name, note) =>
      // the bucketed-join entry renders the AT-SCALE shape: with fixture
      // stats the planner broadcasts the small side, which hides exactly
      // the zero-exchange property the bucketing exists for
      val noBroadcast = name == "tpch_bucketed_join"
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan0 =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        finally if (noBroadcast)
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      // current_timestamp() folds to a literal at plan time; normalize
      // it so regenerating the doc diffs only when a PLAN changes.
      // Scoped to the aliasing sites of the two generated-at columns
      // (`... AS loaded_at` / `... AS created_at`) — a genuine
      // timestamp literal that is part of query logic must keep
      // rendering, or a real plan change would hide in the diff
      val plan = normalizeIds(plan0.replaceAll(
        "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}\\.\\d+" +
          "(?= AS (?:loaded_at|created_at))", "<generated-at>")
        .replace(warehouse, "<warehouse>"))
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
      graft.TransientCache.drain()
    }
    sb.toString
  }
}
