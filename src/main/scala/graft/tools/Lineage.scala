package graft.tools

/** Generate the model-lineage document (`docs/lineage.md`) — the
  * engine's analogue of the reference's dbt docs/lineage graph
  * (`/root/reference/docs/dbt-lineage.png`, `dbt docs generate`): a
  * mermaid DAG of the medallion models plus the per-model quality-check
  * inventory, derived from the RUNNING code, not a hand-maintained
  * list — the model edges mirror [[graft.Pipeline.buildModels]]'s
  * wiring and the check names come from the actual
  * [[graft.quality.Checks.all]] set built over the fixture feeds (zero
  * data is scanned; only the lazy plans and check NAMES are used), so
  * regenerating after a model change can never drift from the code.
  *
  * Usage: `sbt "runMain graft.tools.Lineage [out.md]"`. */
object Lineage {

  /** The model DAG as (node, upstream nodes) — one entry per model
    * [[graft.Pipeline.buildModels]] builds, in its wiring order, plus
    * the raw sources. Kept adjacent to the builder it mirrors. */
  val edges: Seq[(String, Seq[String])] = Seq(
    "raw_yellow" -> Seq.empty,
    "raw_green" -> Seq.empty,
    "raw_fhv" -> Seq.empty,
    "raw_fhvhv" -> Seq.empty,
    "stg_yellow" -> Seq("raw_yellow"),
    "stg_green" -> Seq("raw_green"),
    "stg_fhv" -> Seq("raw_fhv"),
    "stg_fhvhv" -> Seq("raw_fhvhv"),
    "int_unified" -> Seq("stg_yellow", "stg_green", "stg_fhv", "stg_fhvhv"),
    "int_enriched" -> Seq("int_unified"),
    "int_cleaned" -> Seq("int_enriched"),
    "fct_trips" -> Seq("int_cleaned"),
    "fct_daily" -> Seq("fct_trips"),
    "fct_monthly" -> Seq("fct_trips"))

  /** Check-name prefix → lineage node (check names are
    * `<model>.<column>.<test>`). */
  private val checkModel: Map[String, String] = Map(
    "stg_yellow" -> "stg_yellow", "int_unified" -> "int_unified",
    "int_enriched" -> "int_enriched", "int_cleaned" -> "int_cleaned",
    "fct_trips" -> "fct_trips", "fct_daily" -> "fct_daily",
    "fct_monthly" -> "fct_monthly")

  def render(checkNames: Seq[String]): String = {
    val byModel = checkNames.groupBy(n => n.split("\\.", 2).head)
    val layers = Seq(
      "raw" -> Seq("raw_yellow", "raw_green", "raw_fhv", "raw_fhvhv"),
      "staging" -> Seq("stg_yellow", "stg_green", "stg_fhv", "stg_fhvhv"),
      "intermediate" -> Seq("int_unified", "int_enriched", "int_cleaned"),
      "marts" -> Seq("fct_trips", "fct_daily", "fct_monthly"))
    val mermaid = new StringBuilder("```mermaid\nflowchart LR\n")
    layers.foreach { case (layer, nodes) =>
      mermaid.append(s"  subgraph $layer\n")
      nodes.foreach { n =>
        val nChecks = byModel.get(checkModel.getOrElse(n, "")).map(_.size).getOrElse(0)
        val label = if (nChecks > 0) s"$n<br/>$nChecks checks" else n
        mermaid.append(s"""    $n["$label"]\n""")
      }
      mermaid.append("  end\n")
    }
    edges.foreach { case (node, ups) =>
      ups.foreach(u => mermaid.append(s"  $u --> $node\n"))
    }
    mermaid.append("```\n")
    val checkRows = checkNames.sorted.map { n =>
      val parts = n.split("\\.", 3)
      s"| ${parts(0)} | ${parts.lift(1).getOrElse("")} | ${parts.lift(2).getOrElse("")} |"
    }.mkString("\n")
    // assembled WITHOUT stripMargin: the markdown table's leading '|'
    // is exactly the margin character stripMargin would eat
    Seq(
      "# Model lineage",
      "",
      "Generated by `sbt \"runMain graft.tools.Lineage\"` — the DAG",
      "mirrors `Pipeline.buildModels`'s wiring and the check inventory",
      s"is read from the live `Checks.all` set (${checkNames.size}",
      "checks). Regenerate after changing either.",
      "",
      mermaid.toString,
      "## Quality checks by model",
      "",
      "| model | column | test |",
      "|---|---|---|",
      checkRows,
      "").mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("docs/lineage.md")
    val spark = graft.GraftSession.local(2)
    spark.sparkContext.setLogLevel("ERROR")
    val m = graft.Pipeline.buildModels(
      graft.TaxiFixturesData.rawYellow(spark),
      graft.TaxiFixturesData.rawGreen(spark),
      graft.TaxiFixturesData.rawFhv(spark),
      graft.TaxiFixturesData.rawFhvhv(spark))
    // names only — the violation frames stay lazy, nothing executes
    val names = graft.quality.Checks.all(m.stgYellow, m.unified, m.enriched,
      m.cleaned, m.fctTrips, m.fctDaily, m.fctMonthly).map(_.name)
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, render(names).getBytes("UTF-8"))
    println(s"[lineage] wrote $out (${names.size} checks)")
    spark.stop()
  }
}
