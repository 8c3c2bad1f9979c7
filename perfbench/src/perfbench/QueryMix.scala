package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, TransientCache}

/** The read-only analytic queries of `table_query_mix`: the [[Entries]],
  * each of which redoes its work on every call (no session memo after
  * the first call, no scratch-directory writes), over the generated
  * corpus.
  *
  * The set-up runs [[resultsPass]] (it is also the queries' warm-up),
  * which writes every result to parquet with its DuckDB oracle SQL
  * beside it; `run.py` checks them after the JVM exits. Each round of
  * the timed part runs every entry once, in a seeded [[order]], forced
  * through a `noop` write as `graft.Bench` does ([[timedCall]]). */
object QueryMix {

  val Families: Seq[String] = Seq("tpch", "text", "dedup", "emb", "graph", "corpus", "ev")
  /** One entry per family: the TPC-H three-way join and one entry per
    * operator family. */
  val Entries: Seq[String] = Seq("tpch_q3_shipping", "text_top_ngrams", "dedup_exact",
    "emb_centroids", "graph_triangles", "corpus_e2e", "ev_funnel_steps")

  def family(name: String): String = name.takeWhile(_ != '_')

  /** Every entry in its listed order, each result written to
    * `results/<entry>`, and the oracle SQL to `results/oracle_sql.json`.
    * An entry that throws is an error. */
  def resultsPass(spark: SparkSession, data: String, results: String,
                  errors: mutable.Growable[String]): Unit = {
    Entries.foreach { n =>
      try SparkEntry.queries(n)(spark, data).write.parquet(s"$results/$n")
      catch { case e: Exception => errors += s"$n: $e" }
      TransientCache.drain()
    }
    Files.writeString(Paths.get(s"$results/oracle_sql.json"),
      Json.render(Entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
  }

  /** The entries in the order of round `r` for `seed`. */
  def order(seed: Long, r: Int): Seq[String] = new Random(seed * 1000 + r).shuffle(Entries)

  /** Entry `n` forced through a `noop` write, in its family's span. */
  def timedCall(spark: SparkSession, tr: Tracer, data: String, n: String): Unit =
    tr.span(s"query.${family(n)}") {
      SparkEntry.queries(n)(spark, data).write.format("noop").mode("overwrite").save()
    }
}
