package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, Pipeline, Tables}
import graft.ingest.Ingest

/** End-to-end pipeline driver: ingest raw feeds (from parquet files laid
  * out by the caller, or self-generated demo data) into a medallion
  * warehouse directory, run staging→marts, run all 37 checks, print a
  * summary. Usage: `runMain graft.tools.RunPipeline [warehouseDir]`. */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val root = args.headOption.getOrElse(
      Files.createTempDirectory("graft_warehouse").toString)
    val layout = Pipeline.Layout(root)

    // stage demo raw inputs (one monthly file per feed) and ingest them
    val srcDir = s"$root/_incoming"
    writeDemoFeeds(spark, srcDir)
    for (feed <- Seq("yellow", "green", "fhv", "fhvhv"); month <- Seq(1, 2)) {
      val r = Ingest.ingestMonth(spark, s"$srcDir/${feed}_2024-$month.parquet",
        layout.raw(feed), feed, 2024, month)
      println(s"[ingest] $feed 2024-$month: ${r.action} rows=${r.rows}")
    }

    val failed = Pipeline.run(spark, layout)
    println(s"[pipeline] failed checks: ${if (failed.isEmpty) "none" else failed.mkString(", ")}")

    for (m <- Seq("fct_trips", "fct_trips_daily", "fct_trips_monthly")) {
      val df = Tables.parquet(spark, layout.mart(m))
      println(s"[mart] $m rows=${df.count()} cols=${df.columns.length}")
    }
    Tables.parquet(spark, layout.mart("fct_trips_monthly"))
      .orderBy("year", "month", "taxi_type").show(20, truncate = false)
    println(s"[done] warehouse at $root")
    spark.stop()
  }

  /** Split the test fixtures into per-(feed, month) raw files, mimicking
    * the reference's monthly CDN downloads. */
  private def writeDemoFeeds(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, month => monthOf}
    val feeds = Map(
      "yellow" -> ("tpep_pickup_datetime", graft.TaxiFixturesData.rawYellow(spark)),
      "green" -> ("lpep_pickup_datetime", graft.TaxiFixturesData.rawGreen(spark)),
      "fhv" -> ("pickup_datetime", graft.TaxiFixturesData.rawFhv(spark)),
      "fhvhv" -> ("pickup_datetime", graft.TaxiFixturesData.rawFhvhv(spark)))
    feeds.foreach { case (feed, (_, df)) =>
      Seq(1, 2).foreach { m =>
        df.filter(col("month") === m).drop("year", "month", "loaded_at")
          .write.mode("overwrite").parquet(s"$dir/${feed}_2024-$m.parquet")
      }
    }
  }
}
