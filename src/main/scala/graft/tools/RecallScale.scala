package graft.tools

import org.apache.spark.sql.functions._

/** ANN quality-at-scale harness (SCALING.md): measures recall@k of the
  * IVF paths against the exact top-k as the corpus grows, with the
  * cell count scaled ∝ N (constant expected cell SIZE, fixed nProbe) —
  * the production IVF regime, where the candidate count per probe is
  * held constant while the corpus grows. The question a time-only
  * scaling curve cannot answer: does the ANSWER stay good at 10× data,
  * or does flat latency hide collapsing recall?
  *
  * Usage: `runMain graft.tools.RecallScale <sfDir> <nList> [nProbe] [k]`
  * — e.g. nList 16 at m1 and 160 at m10 keeps ~|corpus|/nList vectors
  * per cell constant across the pair of runs.
  */
object RecallScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nList = args(1).toInt
    val nProbe = if (args.length > 2) args(2).toInt else 4
    val k = if (args.length > 3) args(3).toInt else 5
    val spark = graft.Session.local()
    import spark.implicits._

    val e = graft.Tables.embeddings(spark, sfDir)
    val probes = e.filter(col("vec_id") < 64)
    val corpus = e.filter(col("vec_id") >= 64)
    val nCorpus = corpus.count()

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("probe_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet

    val exact = pairs(graft.operators.Similarity.knnJoin(
      probes, corpus, "vec_id", "vec_id", "embedding", k))

    def recall(df: org.apache.spark.sql.DataFrame): Double =
      pairs(df).intersect(exact).size.toDouble / exact.size

    val rIvf = recall(graft.operators.Similarity.ivfJoin(
      probes, corpus, "vec_id", "vec_id", "embedding", k, nList, nProbe))
    val cents = graft.operators.Similarity.kMeans(
      e, "vec_id", "embedding", nList, maxIter = 5).centroids
    val rIvfT = recall(graft.operators.Similarity.ivfJoinTrained(
      probes, corpus, "vec_id", "vec_id", "embedding", k, cents, nProbe))

    println(f"[recall] corpus=$nCorpus nList=$nList nProbe=$nProbe k=$k  " +
      f"candFrac=${nProbe.toDouble / nList}%.3f  " +
      f"ivfJoin=$rIvf%.3f  ivfJoinTrained=$rIvfT%.3f")

    // --- PQ-store recall at EQUAL probe cost: residual IVF-PQ (the
    // q93 recipe) vs its OPQ-rotated composition (q163's trained
    // rotation applied to the corpus, then the SAME residual
    // machinery over rotated vectors; rerank cosine is
    // rotation-invariant so recall sets compare directly). Same
    // nList/nProbe/mCand on both sides. 16 probes (store probes are
    // per-probe driver plans, 64 would quadruple the wall). ---
    import graft.operators.Pq
    val mCand = 50
    val probeVecs = probes.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().map { case (i, v) => (i, v.map(_.toDouble).toSeq) }
    val exact16 = exact.filter(_._1 < 16)

    def pqRecall(src: org.apache.spark.sql.DataFrame, vecCol: String,
        rot: Option[Array[Array[Double]]]): Double = {
      val cents = graft.operators.Similarity.kMeans(
        src, "vec_id", vecCol, nList, maxIter = 5).centroids
      val model = Pq.trainResidual(src, "vec_id", vecCol, cents, 64,
        m = 8, k = 16, maxIter = 5)
      val path = java.nio.file.Files.createTempDirectory("graft_rs_pq").toString
      Pq.writeStoreIvfResidual(src, "vec_id", vecCol, path, model, cents)
      val got = probeVecs.flatMap { case (pid, pv0) =>
        val pv = rot.map(r => Pq.rotateVec(r, pv0)).getOrElse(pv0)
        Pq.topKIvfResidual(spark, path, src, "vec_id", vecCol, pv, model,
            cents, k, mCand, nProbe)
          .select(col("vec_id")).as[Long].collect().map(n => (pid, n))
      }.toSet
      got.intersect(exact16).size.toDouble / exact16.size
    }

    val rResid = pqRecall(corpus, "embedding", None)
    val opq = Pq.trainOpq(corpus, "vec_id", "embedding", 64,
      m = 8, k = 16, maxIter = 5, opqIters = 1)
    val rotCorpus = corpus.select(col("vec_id"),
      Pq.rotateExpr(col("embedding"), opq.rotation).as("rx"))
      .localCheckpoint()
    val rOpq = pqRecall(rotCorpus, "rx", Some(opq.rotation))
    println(f"[recall-pq] nList=$nList nProbe=$nProbe mCand=$mCand k=$k  " +
      f"residIvfPq=$rResid%.3f  opqResidIvfPq=$rOpq%.3f")

    // --- Vamana (q172) recall at the SAME rerank budget (k, mCand):
    // fixed nShards so shard size grows ∝ N — the graph-search
    // promise is that the beam (L) holds recall while per-shard probe
    // work stays sublinear in shard size. args(4) = nShards. ---
    val nShards = if (args.length > 4) args(4).toInt else 4
    // args(5) = beam width L — the graph-search recall knob: per-shard
    // probe work is O(L·R·dim) regardless of shard size, so growing L
    // (not the shard count) is how recall is held as shards grow
    val beamL = if (args.length > 5) args(5).toInt else 32
    val vp = graft.operators.Vamana.Params(l = beamL, nShards = nShards)
    val vPath = java.nio.file.Files
      .createTempDirectory("graft_rs_vam").toString
    val tb0 = System.nanoTime()
    graft.operators.Vamana.writeStore(corpus, "vec_id", "embedding",
      vPath, vp)
    val buildS = (System.nanoTime() - tb0) / 1e9
    val tp0 = System.nanoTime()
    val gotV = probeVecs.flatMap { case (pid, pv) =>
      graft.operators.Vamana.topK(spark, vPath, corpus, "vec_id",
          "embedding", pv, vp, k, mCand)
        .select(col("vec_id")).as[Long].collect().map(n => (pid, n))
    }.toSet
    val probeS = (System.nanoTime() - tp0) / 1e9
    val rVam = gotV.intersect(exact16).size.toDouble / exact16.size
    println(f"[recall-vamana] nShards=$nShards r=${vp.r} l=${vp.l} " +
      f"mCand=$mCand k=$k  vamana=$rVam%.3f  " +
      f"build=$buildS%.1fs  probes16=$probeS%.1fs")

    // --- Streaming VamanaStore (q189): the SAME corpus drained as
    // three FreshDiskANN insertion batches — does the incremental
    // graph hold the batch build's recall? Probes go through the
    // probe-frame form (one shard materialization for all 16). ---
    val sPath = java.nio.file.Files
      .createTempDirectory("graft_rs_vamstore").toString
    val ids = corpus.select(min(col("vec_id")), max(col("vec_id")))
      .as[(Long, Long)].head()
    val cut1 = ids._1 + (ids._2 - ids._1) / 3
    val cut2 = ids._1 + 2 * (ids._2 - ids._1) / 3
    val ts0 = System.nanoTime()
    graft.sources.VamanaStore.processBatch(
      corpus.filter(col("vec_id") <= cut1), "b0", 0L, "vec_id",
      "embedding", sPath, vp)
    graft.sources.VamanaStore.processBatch(
      corpus.filter(col("vec_id") > cut1 && col("vec_id") <= cut2),
      "b1", 1L, "vec_id", "embedding", sPath, vp)
    graft.sources.VamanaStore.processBatch(
      corpus.filter(col("vec_id") > cut2), "b2", 2L, "vec_id",
      "embedding", sPath, vp)
    val sBuildS = (System.nanoTime() - ts0) / 1e9
    val probesDf = spark.createDataset(probeVecs.toSeq)
      .toDF("probe_id", "pvec")
    val tq0 = System.nanoTime()
    val gotS = graft.sources.VamanaStore.topKFrame(spark, sPath,
        probesDf, "probe_id", "pvec", corpus, "vec_id", "embedding",
        vp, k, mCand)
      .select(col("probe_id"), col("vec_id"))
      .as[(Long, Long)].collect().toSet
    val sProbeS = (System.nanoTime() - tq0) / 1e9
    val rStore = gotS.intersect(exact16).size.toDouble / exact16.size
    println(f"[recall-vamana-store] nShards=$nShards l=${vp.l} " +
      f"mCand=$mCand k=$k  incremental=$rStore%.3f (batch=$rVam%.3f)  " +
      f"build3=$sBuildS%.1fs  probeFrame16=$sProbeS%.1fs")

    // --- CHURN (FreshDiskANN's actual claim — stable recall under
    // insert/delete cycles): tombstone ~20% of the corpus
    // (vec_id % 5 == 0), probe MASKED (deleted nodes still route, the
    // pre-compaction regime), then compact() (canonical per-shard
    // rebuild over survivors) and probe again. Ground truth is the
    // exact top-k over the SURVIVING corpus. The delta between the
    // masked and compacted rows is the price of deferring compaction;
    // the compacted row vs the pre-churn row is the recall cost of the
    // churn cycle itself. ---
    val survivors = corpus.filter(col("vec_id") % 5 =!= 0)
    val deadIds = corpus.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"))
    val nDead = deadIds.count()
    graft.sources.VamanaStore.delete(spark, sPath, deadIds)
    val exactSurv = pairs(graft.operators.Similarity.knnJoin(
      probes.filter(col("vec_id") < 16), survivors, "vec_id", "vec_id",
      "embedding", k))
    def storeRecallSurv(): (Double, Double) = {
      val t0 = System.nanoTime()
      val got = graft.sources.VamanaStore.topKFrame(spark, sPath,
          probesDf, "probe_id", "pvec", corpus, "vec_id", "embedding",
          vp, k, mCand)
        .select(col("probe_id"), col("vec_id"))
        .as[(Long, Long)].collect().toSet
      require(!got.exists(g => g._2 % 5 == 0),
        "a tombstoned id surfaced in a search result")
      (got.intersect(exactSurv).size.toDouble / exactSurv.size,
        (System.nanoTime() - t0) / 1e9)
    }
    val (rMasked, tMasked) = storeRecallSurv()
    val tc0 = System.nanoTime()
    graft.sources.VamanaStore.compact(spark, sPath, vp)
    val compactS = (System.nanoTime() - tc0) / 1e9
    val (rCompacted, tCompacted) = storeRecallSurv()
    println(f"[recall-vamana-churn] nShards=$nShards l=${vp.l} " +
      f"mCand=$mCand k=$k deleted=$nDead  masked=$rMasked%.3f " +
      f"(probe=$tMasked%.1fs)  compacted=$rCompacted%.3f " +
      f"(probe=$tCompacted%.1fs)  compact=$compactS%.1fs  " +
      f"prechurn=$rStore%.3f")
    spark.stop()
  }
}
