package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.operators.Analytics.lift6

/** Similarity search over an embedding column — the capability the
  * reference implies but never implements (pgvectorscale is installed
  * and never queried, `src/rag/sqlx.rs:26-29`; the only read is
  * `SELECT *`, `:84-92`).
  *
  * Scale design (100 TB): top-k against a single probe is a
  * TakeOrderedAndProject (no full sort, no shuffle of the corpus —
  * per-partition heaps + driver merge of k rows). A probe SET is
  * broadcast so the corpus is scanned once, never shuffled; per-probe
  * top-k uses a window only over (probe × candidates-in-bucket) after
  * the LSH prefilter. Brute force is the correctness baseline; the
  * banded-hyperplane bucket join is the scale path (candidates per
  * vector ≈ corpus/2^bandBits × nBands, tunable).
  */
object Similarity {

  /** Target partition count for explicit exchanges (explicit so AQE
    * does not coalesce them away on small inputs). */
  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Exact top-k by cosine against one probe vector (array literal).
    * `ORDER BY sim DESC LIMIT k` plans as TakeOrderedAndProject. */
  def topKCosine(corpus: DataFrame, vecCol: String, probe: Seq[Double], k: Int,
      idCol: String): DataFrame = {
    val probeCol = VectorOps.vecLit(probe)
    corpus
      .withColumn("sim", VectorOps.cosine6(col(vecCol), probeCol))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Maximal-marginal-relevance rerank — the RAG serving step after
    * retrieval: from the `n` most relevant candidates, greedily pick
    * `k` that balance relevance against redundancy,
    *
    *   score(c) = λ·rel(c) − (1−λ)·max_{s∈picked} cos(c, s)
    *
    * so two near-duplicate chunks never both reach the prompt (the
    * retrieval twin of SemDeDup: q88 dedups the corpus offline, this
    * dedups the answer set online). The distributed part is the full
    * relevance scan + TakeOrdered top-n; the greedy loop runs on the
    * driver over the n collected candidates — bounded state by
    * construction (n ≤ 4096 enforced), the same deliberate-collect
    * contract as the hot-key cache and prefix-scan partials.
    *
    * Determinism: rel and every pairwise cosine go through the 6-dp
    * kernel discipline, then all selection arithmetic is EXACT
    * integers — 1e6-lifted scores combined at permille λ (score_nano
    * = λ‰·relL − (1000−λ‰)·divL), ties by smaller id — so the picked
    * set is bit-reproducible across engines (Python replica oracle)
    * and partitionings. Returns (rank 1..k, id, rel, score_nano). */
  def mmrRerank(candidates: DataFrame, probe: DataFrame, idCol: String,
      vecCol: String, n: Int, k: Int, lambdaPermille: Int): DataFrame = {
    require(n >= k && k >= 1 && n <= 4096, s"bad n/k: $n/$k")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      s"lambdaPermille must be in [0, 1000]: $lambdaPermille")
    val spark = candidates.sparkSession
    import spark.implicits._
    val probeCol = probe.columns.head
    val top = candidates
      .crossJoin(broadcast(probe.select(col(probeCol).as("__probe"))))
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"),
        VectorOps.cosine6(col(vecCol), col("__probe")).as("__rel"))
      .orderBy(col("__rel").desc, col("__id"))
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    // driver replica of the 6-dp cosine kernel (dot → norms → round)
    def dotD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      val v = dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))
      BigDecimal.decimal(v)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def lift(x: Double): Long =
      (BigDecimal.decimal(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        * 1000000).toLong
    val lam = lambdaPermille.toLong
    val remaining = scala.collection.mutable.ArrayBuffer.from(top)
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Array[Float], (Int, Long, Double, Long))]
    while (picked.size < k && remaining.nonEmpty) {
      var best: (Long, Long, Array[Float], Double) = null // (score, id, vec, rel)
      for ((id, vec, rel) <- remaining) {
        val div =
          if (picked.isEmpty) 0L
          else picked.iterator.map(p => lift(cos6(vec, p._1))).max
        val score = lam * lift(rel) - (1000L - lam) * div
        if (best == null || score > best._1 ||
            (score == best._1 && id < best._2))
          best = (score, id, vec, rel)
      }
      picked += ((best._3,
        (picked.size + 1, best._2, best._4, best._1)))
      val idx = remaining.indexWhere(_._1 == best._2)
      remaining.remove(idx)
    }
    picked.map(_._2).toSeq.toDF("rank", idCol, "rel", "score_nano")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space member
    * of the contamination family (binary lexical q63, fuzzy lexical
    * q99, graded q127): flag corpus vectors whose cosine against ANY
    * benchmark vector reaches `minCos` — paraphrased eval leakage that
    * shares no shingle survives the lexical filters but not this one.
    * Returns (id, n_matches, max_cos) for flagged corpus rows only.
    *
    * The benchmark side is an EVAL SET — small by construction — so it
    * broadcasts and the corpus side never shuffles (the q99 posture):
    * norms precompute once per row on each side, one broadcast
    * cross-join stage, cosine rounded to 6 dp BEFORE the threshold
    * (the q99 rounding rule, so the oracle replays the same sequential
    * fold), one map-side-combinable aggregate. Zero-norm vectors drop
    * BEFORE the join (ANSI division would throw); null id/vector rows
    * drop. */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, vecCol: String, minCos: Double): DataFrame = {
    val c = corpus
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("__cid"), col(vecCol).as("__cv"),
        VectorOps.norm2(col(vecCol)).as("__cn"))
      .filter(col("__cn") > 0.0) // ANSI: a zero norm would throw, not NaN
    val b = benchmark.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__bv"),
        VectorOps.norm2(col(vecCol)).as("__bn"))
      .filter(col("__bn") > 0.0)
    c.crossJoin(broadcast(b))
      .withColumn("__cs",
        round(VectorOps.dot(col("__cv"), col("__bv"))
          / (col("__cn") * col("__bn")), 6))
      .filter(col("__cs") >= minCos)
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_matches"), max(col("__cs")).as("max_cos"))
      .select(col("__cid").as(idCol), col("n_matches"), col("max_cos"))
      .orderBy(col(idCol))
  }

  /** Exact per-probe top-k: broadcast the (small) probe set against the
    * corpus, rank within each probe. The corpus side stays pipelined —
    * the only shuffle is the window's hash partition by probe id, whose
    * cardinality is |probes| × |corpus|, bounded by keeping probe sets
    * small (the documented contract; unbounded probe sets go through
    * `annJoin`). */
  def knnJoin(probes: DataFrame, corpus: DataFrame, probeId: String,
      corpusId: String, vecCol: String, k: Int): DataFrame = {
    // Norms are computed once per input row BEFORE the pairwise join
    // (|P|+|C| norms instead of 3·|P|·|C| folds inside it).
    val p = probes.select(col(probeId).as("probe_id"), col(vecCol).as("__pvec"),
      VectorOps.norm2(col(vecCol)).as("__pn"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(vecCol).as("__cvec"),
      VectorOps.norm2(col(vecCol)).as("__cn"))
    val scored = c
      .crossJoin(broadcast(p))
      .withColumn("sim",
        round(VectorOps.dot(col("__cvec"), col("__pvec")) / (col("__cn") * col("__pn")), 6))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Approximate NN via banded hyperplane LSH: vectors sharing any
    * band's bit-signature become candidates; exact cosine + rank runs
    * only inside buckets. This is the 100 TB path — the bucket join is
    * an equi-join on (band, signature), so Spark hash-partitions both
    * sides by bucket and the quadratic blow-up is bounded per bucket.
    */
  def annJoin(probes: DataFrame, corpus: DataFrame, probeId: String,
      corpusId: String, vecCol: String, k: Int,
      nBands: Int = 4, bandBits: Int = 8): DataFrame = {
    // signature + norm computed once per row behind a compute-once
    // exchange (CollapseProject would re-inline the kernel per band)
    def withSig(df: DataFrame, id: String): DataFrame = df
      .repartition(par(df), col(id))
      .withColumn("__norm", VectorOps.norm2(col(vecCol)))
      .withColumn("__bits", VectorOps.hyperplaneBits(col(vecCol), nBands * bandBits))
      .repartition(par(df), col(id))
    // Late materialization (same pattern as nearDupPairsLsh): only
    // (band, sig, id) flows through the candidate equi-join — the
    // vector payload would multiply the shuffle by nBands and ride
    // along on every bucket collision. Distinct candidate pairs are
    // aggregated from the narrow stream first; vectors and norms are
    // fetched afterwards by id, so payload moves once per SURVIVING
    // pair, not once per collision.
    def banded(df: DataFrame, id: String): DataFrame =
      df.select(col(id),
        Dedup.bandKeys(col("__bits"), nBands, bandBits, "").as(Seq("band", "sig")))
    val p = withSig(probes.select(col(probeId).as("probe_id"), col(vecCol)), "probe_id")
    val c = withSig(corpus.select(col(corpusId).as("neighbor_id"), col(vecCol)), "neighbor_id")
    val pairs = banded(p, "probe_id").join(banded(c, "neighbor_id"), Seq("band", "sig"))
      .select(col("probe_id"), col("neighbor_id"))
      .distinct()
    val cands = pairs
      .join(p.select(col("probe_id"), col(vecCol).as("__pvec"),
        col("__norm").as("__pn")), Seq("probe_id"))
      .join(c.select(col("neighbor_id"), col(vecCol).as("__cvec"),
        col("__norm").as("__cn")), Seq("neighbor_id"))
      .withColumn("sim",
        round(VectorOps.dot(col("__cvec"), col("__pvec")) / (col("__cn") * col("__pn")), 6))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** MLlib-based approximate similarity join (SURVEY §2.9 V5's
    * suggested path): BucketedRandomProjectionLSH with a fixed seed —
    * euclidean-distance buckets, `approxSimilarityJoin` under a
    * distance threshold. Kept alongside the custom hyperplane `annJoin`
    * as the library-standard alternative; the custom path exists
    * because cosine (not euclidean) is the reference's implied metric
    * and because deterministic planes need no fitted model object. */
  def mllibAnnJoin(probes: DataFrame, corpus: DataFrame, probeId: String,
      corpusId: String, vecCol: String, distThreshold: Double,
      numTables: Int = 3, bucketLength: Double = 2.0): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val c = corpus.select(col(corpusId).as("neighbor_id"),
      array_to_vector(col(vecCol)).as("features"))
    val p = probes.select(col(probeId).as("probe_id"),
      array_to_vector(col(vecCol)).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
      .fit(c)
    model.approxSimilarityJoin(p, c, distThreshold, "dist")
      .select(col("datasetA.probe_id"), col("datasetB.neighbor_id"),
        round(col("dist"), 6).as("dist"))
  }

  /** Per-label centroids of an embedding column: explode to
    * (label, pos, value), average per cell, exact-typed group keys.
    * One shuffle on (label, pos) with map-side partial aggregation —
    * at 100 TB this is the canonical scalable formulation (no
    * collect_list of whole vectors). */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid_val"))

  /** Embedding-space drift between two snapshots, per group — the
    * vector analogue of `Analytics.drift`'s scalar PSI: where PSI bins
    * a numeric column, this compares the per-group MEAN EMBEDDING of
    * snapshot A vs snapshot B (cosine + L2 between the two centroids).
    * The corpus-curation use is detecting embedding-distribution shift
    * between crawl snapshots / pipeline versions before SemDeDup or
    * IVF training bakes the old geometry in.
    *
    * Cross-engine determinism, end to end: per-dim sums as exact
    * DECIMAL(28,12) (the q21 centroid discipline — partition-order
    * independent), each centroid component rounded to 6 dp and lifted
    * to a 1e6-scaled BIGINT through DECIMAL(18,6) (the q104 lift — a
    * double CAST would truncate in Spark and round in DuckDB), then
    * dot/norms as EXACT integer sums, and only the final
    * cosine/sqrt/division in IEEE double with the same op order both
    * engines. Zero centroids yield NULL cosine (not NaN).
    *
    * One shuffle on (group, pos) with map-side combine, then a
    * group-bounded reduce — the row stream never reaches the drift
    * fold, so the cost is flat in N for bounded dims. */
  def centroidDrift(df: DataFrame, groupCol: String, vecCol: String,
      splitA: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val cells = df
      .select(col(groupCol).as("cd_g"), splitA.cast("boolean").as("cd_a"),
        posexplode(col(vecCol)).as(Seq("cd_pos", "cd_v")))
      .filter(col("cd_a").isNotNull)
      .groupBy(col("cd_g"), col("cd_pos"))
      .agg(
        sum(when(col("cd_a"), col("cd_v").cast("double").cast(dec))).as("sa"),
        sum(when(col("cd_a"), 1L)).as("na"),
        sum(when(!col("cd_a"), col("cd_v").cast("double").cast(dec))).as("sb"),
        sum(when(!col("cd_a"), 1L)).as("nb"))
      // a group entirely on one side has no centroid pair to compare
      .filter(col("na").isNotNull && col("nb").isNotNull)
      .select(col("cd_g"), col("na"), col("nb"),
        lift6(col("sa").cast("double") / col("na")).as("la"),
        lift6(col("sb").cast("double") / col("nb")).as("lb"))
    val agg = cells.groupBy(col("cd_g")).agg(
      first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
      sum(col("la") * col("lb")).as("dot"),
      sum(col("la") * col("la")).as("a2"),
      sum(col("lb") * col("lb")).as("b2"),
      sum((col("la") - col("lb")) * (col("la") - col("lb"))).as("d2"))
    agg.select(col("cd_g").as(groupCol), col("n_a"), col("n_b"),
      when(col("a2") === 0L || col("b2") === 0L, lit(null))
        .otherwise(round(col("dot").cast("double") /
          sqrt(col("a2").cast("double")) / sqrt(col("b2").cast("double")), 6))
        .as("cos_drift"),
      round(sqrt(col("d2").cast("double")) / lit(1e6), 6).as("l2_drift"))
      .orderBy(col(groupCol))
  }

  /** Quantizer-freshness audit (q200) — the DETECT half of the
    * detect→mitigate pattern ([[graft.operators.Scale.autoSaltedJoin]]'s
    * posture applied to index freshness): given the TRAINING snapshot a
    * store's coarse quantizer was fit on and the CURRENT corpus, train
    * the quantizer ([[kMeans]], deterministic — exact 1e12-long sums,
    * lowest-id seeds), assign BOTH snapshots to its cells with the same
    * argmin-L2 kernel probes use, and measure (1) cell-POPULATION
    * drift as PSI over the assignment histogram (the q143
    * exact-integer discipline: add-one smoothing over the union cell
    * support) and (2) WITHIN-cell centroid movement via
    * [[centroidDrift]] keyed by assigned cell. Returns ONE row:
    * (n_train, n_current, n_cells, psi, min_cos_drift,
    * n_cells_compared, decision) with decision = 'retrain' when
    * psi > psiThreshold OR the worst within-cell cosine falls below
    * cosThreshold, else 'keep'.
    *
    * The measured WHY (SCALING.md RecallScale rows): recall under a
    * stale/untrained coarse quantizer collapses (0.23 untrained vs
    * 0.84 trained at m10; 0.16 vs 0.90 at m30) — this is the trigger
    * that says WHEN the retrain pays. Both decision branches are
    * result-preserving for exact probes (exhaustive IVF == brute force
    * under ANY centroid set — SimilaritySpec pins it on both the stale
    * and refreshed sets), so acting on the decision can never change
    * correctness, only recall at a probe budget.
    *
    * Null and wrong-dimension vectors are excluded on both sides (the
    * q185 guard). The assigned union frame is localCheckpoint'ed ONCE —
    * it feeds three 1-row reduction branches (train counts, current
    * counts, per-cell drift) and the q144 lesson applies (each branch
    * would otherwise recompute the scan + assignment kernel). */
  def quantizerDriftAudit(train: DataFrame, current: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, maxIter: Int = 10,
      psiThreshold: Double = 0.25, cosThreshold: Double = 0.98): DataFrame =
    auditWithCentroids(train, current, idCol, vecCol, dim, k, maxIter,
      psiThreshold, cosThreshold)._1

  private def auditWithCentroids(train: DataFrame, current: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, maxIter: Int,
      psiThreshold: Double, cosThreshold: Double)
      : (DataFrame, IndexedSeq[Array[Double]]) = {
    require(dim > 0 && k > 0, s"dim/k must be positive: $dim/$k")
    def ok(df: DataFrame): DataFrame =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
    val trainF = ok(train)
    val cents = kMeans(trainF, idCol, vecCol, k, maxIter).centroids
    val asg = trainF.withColumn("__qa", lit(true))
      .select(col(vecCol), col("__qa"))
      .unionByName(ok(current).withColumn("__qa", lit(false))
        .select(col(vecCol), col("__qa")))
      .withColumn("__cell", assignExprAuto(col(vecCol), cents))
      .localCheckpoint()
    def sideCounts(a: Boolean): DataFrame = asg
      .filter(if (a) col("__qa") else !col("__qa"))
      .groupBy(lit("all").as("dd_g"), col("__cell").as("dd_b"))
      .agg(count(lit(1)).as("c"))
    val psiRow = Analytics.driftFromCounts(
      sideCounts(true), sideCounts(false), "grp")
    val driftRow = centroidDrift(asg, "__cell", vecCol, col("__qa"))
      .agg(min(col("cos_drift")).as("min_cos_drift"),
        count(col("cos_drift")).as("n_cells_compared"))
    val audit = psiRow
      .select(col("n_a").as("n_train"), col("n_b").as("n_current"),
        col("n_buckets").as("n_cells"), col("psi"))
      .crossJoin(driftRow)
      .withColumn("decision",
        when(col("psi") > lit(psiThreshold) ||
          col("min_cos_drift") < lit(cosThreshold), lit("retrain"))
          .otherwise(lit("keep")))
    (audit, cents)
  }

  /** The MITIGATE half: run [[quantizerDriftAudit]] and, on a
    * 'retrain' decision, refit the coarse quantizer on the CURRENT
    * snapshot; on 'keep', return the stale centroids unchanged.
    * Returns (centroids, retrained?). Exact probe semantics are
    * preserved on BOTH branches (exhaustive scan == brute force under
    * any centroid set); what the retrain buys is recall at a fixed
    * probe budget on the drifted corpus — measured in SCALING.md's
    * quantizer-refresh row (planted drift: stale vs refreshed recall
    * at equal nProbe). */
  def refreshQuantizerIfDrifted(train: DataFrame, current: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, maxIter: Int = 10,
      psiThreshold: Double = 0.25, cosThreshold: Double = 0.98)
      : (IndexedSeq[Array[Double]], Boolean) = {
    val (auditDf, staleCents) = auditWithCentroids(train, current, idCol,
      vecCol, dim, k, maxIter, psiThreshold, cosThreshold)
    val retrain = auditDf.collect()(0).getAs[String]("decision") == "retrain"
    if (retrain)
      (kMeans(current.filter(col(vecCol).isNotNull &&
        size(col(vecCol)) === dim), idCol, vecCol, k, maxIter).centroids,
        true)
    else (staleCents, false)
  }

  /** Pairwise GROUP-centroid affinity matrix — which domains live near
    * each other in embedding space (the mixing-recipe input next to
    * [[graft.operators.Curation.vocabDivergence]]'s token view and
    * q134's shingle overlap): one row per unordered group pair with
    * centroid cosine and L2 distance. [[centroidDrift]]'s exact-integer
    * discipline, taken across groups instead of across snapshots:
    * per-(group, dim) DECIMAL(28,12) sums → 6-dp-lifted integer
    * centroids → exact BIGINT dot/norms → one IEEE cosine per pair.
    * The centroid frame (|groups| × dim rows) is localCheckpoint'ed
    * ONCE — it feeds both sides of the pair join and the norm join
    * (the q144 multi-branch recompute lesson); the pair join is
    * |groups|²·dim rows, group count being small by construction
    * (sources/domains, never documents). Zero-norm centroids give a
    * NULL cosine; groups are ordered (group_a < group_b), each pair
    * once. */
  def embeddingAffinity(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val cells = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("ea_g"),
        posexplode(col(vecCol)).as(Seq("ea_pos", "ea_v")))
      .groupBy(col("ea_g"), col("ea_pos"))
      .agg(sum(col("ea_v").cast("double").cast(dec)).as("s"),
        count(lit(1)).as("n"))
      .select(col("ea_g"), col("ea_pos"), col("n"),
        lift6(col("s").cast("double") / col("n")).as("l6"))
      .localCheckpoint()
    val norms = cells.groupBy(col("ea_g"))
      .agg(max(col("n")).as("n"), sum(col("l6") * col("l6")).as("nrm2"))
    val dots = cells.select(col("ea_g").as("group_a"), col("ea_pos"),
        col("l6").as("la"))
      .join(cells.select(col("ea_g").as("group_b"), col("ea_pos"),
        col("l6").as("lb")), Seq("ea_pos"))
      .filter(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(col("la") * col("lb")).as("dot"),
        sum((col("la") - col("lb")) * (col("la") - col("lb"))).as("d2"))
    dots
      .join(broadcast(norms.select(col("ea_g").as("group_a"),
        col("n").as("n_a"), col("nrm2").as("a2"))), Seq("group_a"))
      .join(broadcast(norms.select(col("ea_g").as("group_b"),
        col("n").as("n_b"), col("nrm2").as("b2"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        when(col("a2") === 0L || col("b2") === 0L, lit(null))
          .otherwise(round(col("dot").cast("double") /
            sqrt(col("a2").cast("double")) / sqrt(col("b2").cast("double")),
            6)).as("cos_sim"),
        round(sqrt(col("d2").cast("double")) / lit(1e6), 6).as("l2_dist"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** IVF-style approximate nearest neighbors: partition the corpus
    * into `nList` cells by nearest seed centroid (seeds = deterministic
    * corpus sample: the `nList` vectors with the smallest ids — at
    * production scale, k-means centroids; the cell-join machinery is
    * identical), then search each probe only in its `nProbe` nearest
    * cells. The cell assignment is a broadcast map-side classify; the
    * search is an equi-join on cell id — corpus scanned once, candidate
    * count ≈ |corpus|·nProbe/nList per probe. The second named scale
    * path from the brief alongside hyperplane-LSH `annJoin`. */
  def ivfJoin(probes: DataFrame, corpus: DataFrame, probeId: String,
      corpusId: String, vecCol: String, k: Int,
      nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val seeds = corpus.orderBy(col(corpusId)).limit(nList)
      .select(col(corpusId).as("cell"), col(vecCol).as("__seed"))
    ivfWithSeeds(probes, corpus, probeId, corpusId, vecCol, k, seeds, nProbe)
  }

  /** IVF with a TRAINED coarse quantizer: the cells are [[kMeans]]
    * centroids instead of `ivfJoin`'s raw lowest-id seed vectors — the
    * standard production IVF recipe (train the quantizer on a sample,
    * then index the corpus against it). Same candidate machinery, so
    * the two differ only in cell placement quality. */
  def ivfJoinTrained(probes: DataFrame, corpus: DataFrame, probeId: String,
      corpusId: String, vecCol: String, k: Int,
      centroids: Seq[Array[Double]], nProbe: Int = 4): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val seeds = centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cell", "__seed")
    ivfWithSeeds(probes, corpus, probeId, corpusId, vecCol, k, seeds, nProbe)
  }

  private def ivfWithSeeds(probes: DataFrame, corpus: DataFrame,
      probeId: String, corpusId: String, vecCol: String, k: Int,
      seeds: DataFrame, nProbe: Int): DataFrame = {
    // n-nearest-cells for the (small) probe side: window ranking is fine
    // there. The CORPUS side is argmin (n=1) and uses min_by instead —
    // one hash aggregate with map-side partials, no window sort. Ties on
    // __d break to the lowest cell id via the (d, cell) struct ordering
    // (unique per row, so the aggregate is deterministic).
    def assignN(df: DataFrame, id: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(id)).orderBy(col("__d"), col("cell"))
      df.crossJoin(broadcast(seeds))
        .withColumn("__d", VectorOps.l2DistSq(col(vecCol), col("__seed")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .drop("__seed", "__d", "__rn")
    }
    def assignArgmin(df: DataFrame, id: String): DataFrame =
      df.crossJoin(broadcast(seeds))
        .withColumn("__d", VectorOps.l2DistSq(col(vecCol), col("__seed")))
        .groupBy(col(id))
        .agg(min_by(
          struct(col("cell"), col(vecCol)),
          struct(col("__d"), col("cell"))).as("__m"))
        .select(col(id), col("__m.cell").as("cell"), col(s"__m.$vecCol").as(vecCol))
    val c = assignArgmin(
      corpus.select(col(corpusId).as("neighbor_id"), col(vecCol)), "neighbor_id")
      .withColumn("__cn", VectorOps.norm2(col(vecCol)))
      .withColumnRenamed(vecCol, "__cvec")
    val p = assignN(
      probes.select(col(probeId).as("probe_id"), col(vecCol)), "probe_id", nProbe)
      .withColumn("__pn", VectorOps.norm2(col(vecCol)))
      .withColumnRenamed(vecCol, "__pvec")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    p.join(c, Seq("cell"))
      .withColumn("sim",
        round(VectorOps.dot(col("__cvec"), col("__pvec")) / (col("__cn") * col("__pn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Nearest-centroid assignment (one k-means classification step):
    * compute per-label centroids (exact decimal mean — deterministic
    * under any partial-aggregation order), broadcast them against the
    * corpus, and pick the argmin squared-euclidean centroid per vector
    * (ties break to the lowest label). The centroid set is tiny — the
    * corpus is scanned once and never shuffled; at 100 TB this is a
    * map-side classify. */
  def assignToCentroids(df: DataFrame, idCol: String, labelCol: String,
      vecCol: String): DataFrame = {
    val cellMeans = df
      .select(col(labelCol).as("__clabel"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("__clabel"), col("pos"))
      .agg((sum(col("v").cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double") / count(col("v"))).as("cv"))
    val cents = cellMeans.groupBy(col("__clabel"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
        .getField("cv").as("__cvec"))
    val scored = df.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("dist2", round(VectorOps.l2DistSq(col(vecCol), col("__cvec")), 6))
    // argmin centroid via min_by — a hash aggregate with map-side
    // partial combine (|corpus| groups), replacing a row_number window
    // that had to shuffle AND sort |corpus|×|centroids| rows. The
    // (dist2, label) struct ordering is unique per vector, so the
    // aggregate is deterministic; ties on dist2 break to lowest label.
    scored.groupBy(col(idCol), col(labelCol))
      .agg(min_by(
        struct(col("__clabel"), col("dist2")),
        struct(col("dist2"), col("__clabel"))).as("__m"))
      .select(col(idCol), col(labelCol).as("true_label"),
        col("__m.__clabel").as("assigned_label"), col("__m.dist2").as("dist2"))
  }

  /** Final state of [[kMeans]]: centroids ordered by cluster id, and
    * how many Lloyd iterations ran before the fixpoint. */
  final case class KMeansResult(centroids: IndexedSeq[Array[Double]],
      iterations: Int)

  /** The assignment projection for a FIXED centroid set: squared L2 to
    * each of the k centroids (codegen'd kernel per centroid — the
    * centroids are plan literals, so this is a pure map, NO shuffle and
    * no join), argmin via first-match `array_position` (ties break to
    * the lowest cluster id). */
  def assignExpr(vecCol: Column, centroids: Seq[Array[Double]]): Column = {
    val dists = array(centroids.map(c =>
      VectorOps.l2DistSq(vecCol, array(c.toIndexedSeq.map(lit): _*))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Literal-vs-kernel switchover (r9 verdict #3): the plan-literal
    * [[assignExpr]] materializes k×dim `Literal` AST nodes — fine for
    * the fixture-scale quantizers (k ≤ 16), but analysis/codegen cost
    * explodes around k ≈ 10⁴, which a real 100 TB IVF coarse quantizer
    * needs. Past this cell budget, assignment switches to the
    * single-reference-object `NearestCentroid` kernel (one tight
    * codegen'd loop, matrix shipped once with the task binary — the
    * broadcast posture without leaving the expression layer).
    * Bit-identical to the literal path, tie-breaks included
    * (SimilaritySpec asserts parity at k=1024 with planted duplicate
    * centroids). */
  // r18: default 0 — the reference-object kernel wins at EVERY k, not
  // just past the r9 plan-explosion bound. A code-cache probe measured the
  // literal ladders at 2.2 MB of generated source across the PQ family
  // (q83 alone inlined 2.2 MB into 2 classes) vs 1.2 MB with the
  // kernel, and the Janino/JIT churn those megabyte classes cost
  // dominated the cold store builds: q168 21.0→2.9 s, q163 9.6→4.3 s,
  // q93 17.2→1.8 s, q88 3.6→1.1 s (fresh-JVM A/B, same machine). Values
  // are bit-identical either way (SimilaritySpec k=1024 tie parity +
  // every trained-store expected-parquet pin). The env override exists
  // for measurement, not production.
  private val LiteralAssignMaxCells =
    sys.env.get("SPARK_GRAFT_LITERAL_ASSIGN_MAX").map(_.toInt)
      .getOrElse(0)

  private def cells(centroids: Seq[Array[Double]]): Long =
    centroids.length.toLong * (if (centroids.isEmpty) 0 else centroids.head.length)

  /** struct(cluster, dist2) against a fixed centroid set via the
    * reference-object kernel — the large-k assignment path. */
  def nearestCentroid(vecCol: Column, centroids: Seq[Array[Double]]): Column =
    graft.expressions.VectorExpressions.nearestCentroid(vecCol, centroids)

  /** [[assignExpr]] below the cell budget, the [[nearestCentroid]]
    * kernel above it — same values either way. */
  def assignExprAuto(vecCol: Column, centroids: Seq[Array[Double]]): Column =
    if (cells(centroids) <= LiteralAssignMaxCells) assignExpr(vecCol, centroids)
    else nearestCentroid(vecCol, centroids).getField("cluster")

  /** Assignments (id, cluster, dist2) for a fixed centroid set —
    * one linear scan, map-side only; large centroid sets switch to the
    * reference-object kernel automatically. */
  def kMeansAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]]): DataFrame =
    if (cells(centroids) <= LiteralAssignMaxCells)
      df.select(col(idCol), assignExpr(col(vecCol), centroids).as("cluster"),
        round(array_min(array(centroids.map(c =>
          VectorOps.l2DistSq(col(vecCol), array(c.toIndexedSeq.map(lit): _*))): _*)), 6)
          .as("dist2"))
    else {
      val nc = nearestCentroid(col(vecCol), centroids)
      df.select(col(idCol), nc.getField("cluster").as("cluster"),
        round(nc.getField("dist2"), 6).as("dist2"))
    }

  /** Collect threshold below which the iterative trainers run their
    * DRIVER-LOCAL twin (the `connectedComponents` size-adaptive
    * precedent, r17): every per-iteration reduction in the distributed
    * loops is an exact 1e12-quantized long sum and every decision an
    * exact double/integer comparison, so a driver loop summing the
    * same longs in any order is BIT-IDENTICAL — verified end-to-end by
    * the q74/q78/q81/q83/q93/q163/q168 expected-parquet pins, which
    * compare both paths against the same independent Python replica.
    * What the local path buys is the per-iteration Spark-job overhead
    * (AQE stage churn dominated the cold map: q93/q163/q168 together
    * ~50 s of the r16 cold total at 2 000 rows). 1M rows × 64 dims ≈
    * 0.5 GB — comfortably driver-resident; production corpora above
    * the limit take the distributed loop unchanged (quantizer training
    * at 100 TB is sample-based anyway — cap the sample, not the
    * corpus). */
  val LocalTrainCollectLimit = 1000000L

  /** Local path applies only to integral ids (the seed order must
    * match the distributed orderBy) and bounded inputs. One count()
    * job decides — column-pruned, far cheaper than one training
    * iteration. */
  private[graft] def localTrainEligible(df: DataFrame, idCol: String,
      collectLimit: Long): Boolean = {
    import org.apache.spark.sql.types._
    if (collectLimit <= 0) false
    else df.select(col(idCol)).schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        df.count() <= collectLimit
      case _ => false
    }
  }

  private[graft] def collectVecs(df: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (i, v) => (i, v.toArray) }
  }

  /** Sequential-fold squared L2 — the exact op order of the replica's
    * `l2_dist_sq` and the assignment kernels. */
  private[graft] def l2Local(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** argmin cell, strict-< first-match tie-break (lowest cell id) —
    * `assignExpr`'s contract. */
  private[graft] def assignLocal(v: Array[Double],
      cents: IndexedSeq[Array[Double]]): Int = {
    var bi = 0
    var best = Double.NaN
    var i = 0
    while (i < cents.length) {
      val d = l2Local(v, cents(i))
      if (i == 0 || d < best) { best = d; bi = i }
      i += 1
    }
    bi
  }

  /** Driver-local Lloyd's loop — bit-identical to the distributed
    * [[kMeans]] body (same lowest-id seeds, same Math.round(v*1e12)
    * long sums, same `s.toDouble / 1e12 / n` mean, same exact-fixpoint
    * convergence; sums are order-independent by exactness). */
  private[graft] def kMeansLocal(items: Array[(Long, Array[Double])],
      k: Int, maxIter: Int): KMeansResult = {
    val sorted = items.sortBy(_._1)
    var cents: IndexedSeq[Array[Double]] =
      sorted.take(k).map(_._2).toIndexedSeq
    val dim = if (cents.nonEmpty) cents(0).length else 0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val sums = new Array[Array[Long]](cents.length)
      val counts = new Array[Long](cents.length)
      items.foreach { case (_, v) =>
        val ci = assignLocal(v, cents)
        if (sums(ci) == null) sums(ci) = new Array[Long](dim)
        val s = sums(ci)
        var j = 0
        while (j < dim) { s(j) += Math.round(v(j) * 1e12); j += 1 }
        counts(ci) += 1
      }
      val updated = cents.indices.map { ci =>
        if (counts(ci) == 0L) cents(ci)
        else sums(ci).map(s => s.toDouble / 1e12 / counts(ci))
      }
      converged = cents.indices.forall(c =>
        java.util.Arrays.equals(cents(c), updated(c)))
      cents = updated
      iter += 1
    }
    KMeansResult(cents, iter)
  }

  /** Driver-local per-subspace codebook training — bit-identical to
    * the joint [[kMeansSubspaces]] loop (whose scaladoc pins the
    * joint-vs-per-subspace equivalence). */
  private[graft] def kMeansSubspacesLocal(
      items: Array[(Long, Array[Double])], dim: Int, m: Int, k: Int,
      maxIter: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val dsub = dim / m
    (0 until m).map { j =>
      kMeansLocal(items.map { case (i, v) =>
        (i, java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      }, k, maxIter).centroids
    }
  }

  /** Iterative Lloyd's k-means over an embedding column — the loop the
    * one-step `assignToCentroids` classifier was built for (SURVEY
    * "centroid assignment (k-means step)"); IVF coarse quantizers
    * (`ivfJoin`) train with exactly this.
    *
    * Every per-iteration quantity that leaves the cluster is k×dim
    * doubles: assignment is a broadcast-free map ([[assignExprAuto]] —
    * plan-literal distances for fixture-scale k, the single
    * reference-object `NearestCentroid` kernel past ~4096 k×dim cells,
    * so a 100 TB IVF quantizer with k ≈ 10⁴ no longer explodes the
    * plan), the per-cluster mean is the
    * 12-dp-quantized long-sum mean (`CentroidScaledAggregator` —
    * order-independent partials at DECIMAL(28,12) resolution, one
    * k-wide buffer per partition through ONE shuffle instead of the
    * (group, pos) explode), and ONE job per iteration materializes
    * the k new centroids to the driver (bounded model state, like the
    * probe-vector `head()`s — never corpus-sized; spec-verified with a
    * query-execution listener). Convergence is the exact centroid fixpoint checked
    * driver-side — unlike q65's distributed labels, the model here is
    * already driver-resident, so an accumulator probe would add a job,
    * not save one. Seeds: the k lowest-id vectors (deterministic).
    * Empty clusters keep their previous centroid. `localCheckpoint`
    * bounds the input lineage (reliable checkpointing on a real
    * cluster). */
  def kMeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 25,
      collectLimit: Long = LocalTrainCollectLimit): KMeansResult = {
    if (localTrainEligible(df, idCol, collectLimit))
      return kMeansLocal(collectVecs(df, idCol, vecCol), k, maxIter)
    val base = df.select(col(idCol).as("__kid"), col(vecCol).as("__kvec"))
      .repartition(par(df), col("__kid"))
      .localCheckpoint()
    var cents: IndexedSeq[Array[Double]] = base.orderBy(col("__kid")).limit(k)
      .select(col("__kvec")).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray).toIndexedSeq
    var iter = 0
    var converged = false
    val spark = df.sparkSession
    import spark.implicits._
    val dim = if (cents.nonEmpty) cents(0).length else 0
    val centroidAgg = new graft.functions.CentroidScaledAggregator(dim)
      .toColumn.name("__cvec")
    while (!converged && iter < maxIter) {
      // one-shuffle per-cluster mean: 12-dp-quantized LONG sums
      // (CentroidScaledAggregator) are merge-order-independent, so the
      // fixpoint is identical under any partition count
      val next = base
        .select(assignExprAuto(col("__kvec"), cents).as("__kcl"),
          col("__kvec").cast("array<double>").as("__kvec"))
        .as[(Int, Seq[Double])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(centroidAgg)
        .collect()
        .map { case (cl, cv) => cl -> cv.toArray }.toMap
      val updated = cents.indices.map(c => next.getOrElse(c, cents(c)))
      converged = cents.indices.forall(c =>
        java.util.Arrays.equals(cents(c), updated(c)))
      cents = updated
      iter += 1
    }
    KMeansResult(cents, iter)
  }

  /** Joint per-subspace Lloyd's k-means — the PQ-codebook trainer:
    * where m independent [[kMeans]] calls cost m×(checkpoint + seed +
    * maxIter) driver-synchronous jobs over the SAME rows (the r14 cold
    * map: q93 23.1 s, q83 8.3 s — almost all AQE stage churn), this
    * trains ALL m subspaces with ONE checkpoint, ONE seed collect and
    * ONE aggregate job per iteration: each row explodes into its m
    * (subspace, cluster, subvector) assignments and the per-(j, cl)
    * means come back through a single shuffle.
    *
    * BIT-IDENTICAL to the per-subspace loops (the expected-parquet
    * oracles on q81/q83/q93 pin this): the seeds are the k lowest-id
    * rows' slices (the same rows for every subspace), the sums are the
    * same merge-order-independent 12-dp-quantized longs keyed by
    * (subspace, cluster), empty clusters keep their previous centroid
    * per subspace, and a subspace that reaches its fixpoint before the
    * others simply recomputes a no-op update on later iterations —
    * Lloyd fixpoints are stable, so running "extra" iterations cannot
    * move it. */
  def kMeansSubspaces(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, maxIter: Int,
      collectLimit: Long = LocalTrainCollectLimit)
      : IndexedSeq[IndexedSeq[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    if (localTrainEligible(df, idCol, collectLimit))
      return kMeansSubspacesLocal(collectVecs(df, idCol, vecCol), dim, m,
        k, maxIter)
    val dsub = dim / m
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("__kid"), col(vecCol).as("__kvec"))
      .repartition(par(df), col("__kid"))
      .localCheckpoint()
    var cents: IndexedSeq[IndexedSeq[Array[Double]]] = {
      val rows = base.orderBy(col("__kid")).limit(k)
        .select(col("__kvec")).collect()
        .map(_.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
      (0 until m).map(j =>
        rows.map(v => v.slice(j * dsub, (j + 1) * dsub)).toIndexedSeq)
    }
    val centroidAgg = new graft.functions.CentroidScaledAggregator(dsub)
      .toColumn.name("__cvec")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val perSub = array((0 until m).map { j =>
        struct(
          assignExprAuto(slice(col("__kvec"), j * dsub + 1, dsub), cents(j))
            .as("cl"),
          slice(col("__kvec"), j * dsub + 1, dsub).cast("array<double>")
            .as("sv"))
      }: _*)
      val next = base.select(posexplode(perSub).as(Seq("__j", "__s")))
        .select(col("__j"), col("__s.cl").as("__cl"), col("__s.sv").as("__sv"))
        .as[(Int, Int, Seq[Double])]
        .groupByKey(t => (t._1, t._2))
        .mapValues(_._3)
        .agg(centroidAgg)
        .collect()
        .map { case ((j, cl), cv) => (j, cl) -> cv.toArray }.toMap
      val updated = (0 until m).map(j => cents(j).indices.map(c =>
        next.getOrElse((j, c), cents(j)(c))).toIndexedSeq)
      converged = (0 until m).forall(j => cents(j).indices.forall(c =>
        java.util.Arrays.equals(cents(j)(c), updated(j)(c))))
      cents = updated
      iter += 1
    }
    cents
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`; pairs
    * emitted once (idA < idB). Exact all-pairs — the correctness
    * baseline over a BOUNDED input; the production path is
    * `nearDupPairsLsh` (bucketed candidate generation + exact verify). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per row, codegen'd dot per pair (identical arithmetic
    // to cosine6 — same sequential double fold, same rounding)
    // repartition spreads the streamed side of the nested-loop join
    // across cores (single-row-group fixture files scan as 1 partition)
    val withNorm = df.select(col(idCol), col(vecCol))
      .repartition(par(df), col(idCol))
      .withColumn("__n", VectorOps.norm2(col(vecCol)))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      col("__n").as("__na"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      col("__n").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim",
        round(VectorOps.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Scale path for near-duplicate pairs: hyperplane-LSH band bucketing
    * generates candidates via an EQUI-join on (band, signature); exact
    * cosine verifies each distinct candidate pair, so emitted pairs are
    * bit-identical to the all-pairs definition — the only approximation
    * is recall of the candidate stage.
    *
    * Banding math (p = 1 - θ/π is per-plane agreement for a pair at
    * angle θ): P(pair missed) = (1 - p^bandBits)^nBands.
    *   - The DEFAULTS below are the production/100 TB regime (threshold
    *     0.8, θ ≤ 37°, p ≥ 0.79): wide bands prune hard — 8 bands ×
    *     8 bits miss < 1e-3 while bucket sizes shrink ~2^-8 per band,
    *     so candidate volume stays near-linear in rows.
    *   - The fixture regime (threshold 0.3, θ ≈ 72°, p ≈ 0.6) sits near
    *     the theoretical floor where near-dups are barely distinguishable
    *     from random 64-dim vectors; q48 pins (16 × 1-bit bands) at the
    *     call site to hold per-pair miss ≈ 0.4^16 ≈ 4e-7 so the output
    *     equals the all-pairs baseline on the fixtures (asserted in
    *     SimilaritySpec), at the cost of coarse buckets. That setting is
    *     for fixture-exact recall only — it cannot prune at scale.
    * Either way the all-pairs product never materializes: candidates are
    * bounded per bucket, deduped by (id_a, id_b) before the verify. */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.8, nBands: Int = 8, bandBits: Int = 8): DataFrame = {
    // signature + norm computed once per row behind a compute-once
    // exchange (CollapseProject would re-inline the kernel per band)
    val withSig = df.select(col(idCol), col(vecCol))
      .repartition(par(df), col(idCol))
      .withColumn("__n", VectorOps.norm2(col(vecCol)))
      .withColumn("__bits", VectorOps.hyperplaneBits(col(vecCol), nBands * bandBits))
      .repartition(par(df), col(idCol))
    // candidates share a (band, sig) key; vectors and norms join back
    // per candidate pair (Catalyst broadcasts the payload side when it
    // is small, a hash join on the 8-byte id at cluster scale)
    val banded = withSig.select(col(idCol).as("doc"),
      Dedup.bandKeys(col("__bits"), nBands, bandBits, "").as(Seq("band", "sig")))
    val pairs = Dedup.sharedKeyPairs(banded, Nil, Seq("band", "sig"))
      .select(col("id_a"), col("id_b"))
    val payload = withSig.select(col(idCol), col(vecCol), col("__n"))
    pairs
      .join(payload.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(payload.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("sim",
        round(VectorOps.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication that confines
    * the quadratic cosine verify to k-means cluster blocks. All-pairs
    * near-dup over N rows is N²; clustering first makes it
    * Σ_c |c|² ≈ N²/k — the trick that made embedding dedup tractable
    * on LAION/web-crawl scale corpora. Within each cluster, pairs with
    * cosine ≥ `tau` dedup keep-first (a row is dropped iff a
    * lower-id peer in ITS cluster matches it — q47's canonicalization
    * rule). Cross-cluster near-dups are missed by construction; that
    * recall loss is the documented SemDeDup tradeoff, and
    * [[nearDupPairsLsh]] remains the recall-exact path.
    *
    * The assignment is the broadcast-free plan-literal map
    * ([[assignExpr]]); the pair stage is an EQUI-join on the cluster
    * id, so Catalyst shuffles both sides once on a bounded key —
    * never a cartesian. Centroids come from the caller so the same
    * trained coarse quantizer can serve the ANN index AND the dedup
    * pass (the production pattern — one clustering, many uses).
    * Returns (id, cluster, kept) for every row.
    *
    * PRODUCTION REGIME (r10, mirroring `nearDupPairsLsh`'s fixture/
    * production split): k must scale WITH the corpus — pick
    * k ≈ N / blockTarget so the within-cluster pair stage does
    * ≈ N · blockTarget work instead of N²/k with a fixed k (a fixed
    * k=16 over 10¹⁰ rows is 10¹⁹ pairs — the quadratic confinement
    * only holds if block sizes stay bounded as N grows). Production
    * tau is 0.95+ (the SemDeDup paper's regime); the fixture's 0.3 is
    * the random-64-dim setting. The price is recall: a near-dup pair
    * split across cluster boundaries is missed BY CONSTRUCTION —
    * SimilaritySpec measures this on a planted straddling pair (and
    * shows the exact path catching it); corpora needing recall-exact
    * dedup run [[nearDupPairsLsh]]. */
  def semDedupWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], tau: Double): DataFrame = {
    val assigned = df.select(col(idCol), col(vecCol))
      .repartition(par(df), col(idCol))
      .withColumn("cluster", assignExprAuto(col(vecCol), centroids))
      .withColumn("__n", VectorOps.norm2(col(vecCol)))
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        round(VectorOps.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("sim") >= tau)
      .select(col("id_b").as(idCol))
      .distinct()
      .withColumn("__dropped", lit(true))
    assigned.select(col(idCol), col("cluster"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        col("__dropped").isNull.as("kept"))
  }

  /** [[semDedupWithCentroids]] with the quantizer trained in place
    * (Lloyd's loop, deterministic seeds, pinned iteration budget). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      tau: Double, maxIter: Int = 10): DataFrame =
    semDedupWithCentroids(df, idCol, vecCol,
      kMeans(df, idCol, vecCol, k, maxIter).centroids, tau)

  /** Hard-negative triplet mining — the data-prep step for training
    * retrieval/embedding models (contrastive loss wants (anchor,
    * positive, hard negative) rows; the standard recipe mines both
    * from the anchor's kNN list): the positive is the nearest
    * neighbor (the NNCLR-style self-supervised positive), and the
    * hard negative is the BEST-ranked neighbor at least `margin`
    * cosine below the positive — the most confusable candidate that
    * is still separated from the match, which is exactly what a
    * contrastive margin loss needs. Anchors whose top-k list has no
    * neighbor clearing the margin emit no triplet.
    *
    * Built on [[knnJoin]]'s ranked list; the negative is picked with
    * a `min_by` hash aggregate over the margin-filtered list (q40's
    * argmin pattern — no second window). All rows are
    * (anchor-count × k)-bounded, so every stage past the kNN scoring
    * is broadcast-sized. */
  def tripletMine(anchors: DataFrame, corpus: DataFrame, anchorId: String,
      corpusId: String, vecCol: String, k: Int, margin: Double): DataFrame = {
    val knn = knnJoin(anchors, corpus, anchorId, corpusId, vecCol, k)
    val pos = knn.filter(col("rank") === 1)
      .select(col("probe_id").as("anchor_id"),
        col("neighbor_id").as("pos_id"), col("sim").as("pos_sim"))
    knn.join(pos, col("probe_id") === col("anchor_id"))
      .filter(col("sim") <= col("pos_sim") - lit(margin))
      .groupBy(col("anchor_id"), col("pos_id"), col("pos_sim"))
      .agg(min_by(struct(col("neighbor_id"), col("sim")), col("rank")).as("__neg"))
      .select(col("anchor_id"), col("pos_id"), col("pos_sim"),
        col("__neg.neighbor_id").as("neg_id"), col("__neg.sim").as("neg_sim"))
  }
}
