package graft.tools

import org.apache.spark.sql.functions._

/** Quantizer-refresh recall proof (q200's measured WHY): plant a
  * distribution drift and measure recall@k at a fixed probe budget
  * under (a) the stale centroids and (b) the centroids
  * [[graft.operators.Similarity.refreshQuantizerIfDrifted]] returns.
  * Two drift modes:
  *
  * - `shift` (the POSITIVE case): the current corpus adds +1.5 to the
  *   first 32 of 64 dims — a genuine distribution shift (points crowd
  *   a half-space, the stale cells go lopsided); the audit must fire
  *   'retrain' and the refreshed quantizer must recover recall.
  * - `reverse` (the NEGATIVE control): dimensions reversed — on the
  *   iid-uniform fixture dims this is DISTRIBUTION-PRESERVING
  *   (exchangeable coordinates), so at large N the audit must read
  *   'keep' and retraining would buy nothing. Measured r20: at m10
  *   the audit correctly keeps (psi 0.001, min_cos 0.988) where the
  *   m1 small-sample run still fires (min_cos 0.905) — sample size is
  *   part of the trigger's calibration story.
  *
  * Run at the scale fixtures (`tools/gen_scale_fixtures.py`) for the
  * SCALING.md rows.
  *
  * Usage: runMain graft.tools.DriftRecall <sfDir> [mode] [nList] [nProbe] [k]
  */
object DriftRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = if (args.length > 1) args(1) else "shift"
    val nList = if (args.length > 2) args(2).toInt else 16
    val nProbe = if (args.length > 3) args(3).toInt else 4
    val k = if (args.length > 4) args(4).toInt else 5
    val spark = graft.Session.local()
    import spark.implicits._

    val train = graft.Tables.embeddings(spark, sfDir)
    val current = mode match {
      case "reverse" =>
        train.withColumn("embedding", reverse(col("embedding")))
      case "shift" =>
        train.withColumn("embedding",
          expr("transform(embedding, (x, i) -> " +
            "IF(i < 32, CAST(x + 1.5 AS FLOAT), x))"))
      case other => sys.error(s"unknown drift mode: $other")
    }

    val audit = graft.operators.Similarity.quantizerDriftAudit(
      train, current, "vec_id", "embedding", 64, nList, maxIter = 5)
      .collect()(0)
    println(s"[drift] audit: n_train=${audit.getAs[Long]("n_train")} " +
      s"psi=${audit.getAs[Double]("psi")} " +
      s"min_cos=${audit.getAs[Double]("min_cos_drift")} " +
      s"decision=${audit.getAs[String]("decision")}")

    val stale = graft.operators.Similarity.kMeans(
      train, "vec_id", "embedding", nList, maxIter = 5).centroids
    val (chosen, retrained) =
      graft.operators.Similarity.refreshQuantizerIfDrifted(
        train, current, "vec_id", "embedding", 64, nList, maxIter = 5)

    val probes = current.filter(col("vec_id") < 64)
    val corpus = current.filter(col("vec_id") >= 64)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("probe_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
    val exact = pairs(graft.operators.Similarity.knnJoin(
      probes, corpus, "vec_id", "vec_id", "embedding", k))
    def recall(cents: IndexedSeq[Array[Double]]): Double =
      pairs(graft.operators.Similarity.ivfJoinTrained(
        probes, corpus, "vec_id", "vec_id", "embedding", k, cents, nProbe))
        .intersect(exact).size.toDouble / exact.size

    // Scanned fraction: recall alone flatters a DEGENERATE stale index
    // (under a crowding drift one stale cell holds ~everything, so
    // probing it is near-brute-force — recall 1.0 at ~100% scan cost).
    // Report mean over probes of |corpus in probed cells| / |corpus|.
    def scanFraction(cents: IndexedSeq[Array[Double]]): Double = {
      val cellCounts = corpus
        .select(graft.operators.Similarity
          .assignExprAuto(col("embedding"), cents).as("cell"))
        .groupBy("cell").count()
        .as[(Int, Long)].collect().toMap
      val nC = cellCounts.values.sum.toDouble
      val probeVecs = probes.select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val fracs = probeVecs.map { p =>
        val nearest = cents.zipWithIndex
          .map { case (c, i) =>
            (i, c.zip(p).map { case (a, b) => (a - b) * (a - b) }.sum) }
          .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1)
        nearest.map(cellCounts.getOrElse(_, 0L)).sum / nC
      }
      fracs.sum / fracs.length
    }

    val rStale = recall(stale)
    val rChosen = recall(chosen)
    val fStale = scanFraction(stale)
    val fChosen = scanFraction(chosen)
    println(f"[drift] corpus=${corpus.count()} nList=$nList nProbe=$nProbe " +
      f"k=$k retrained=$retrained  stale recall=$rStale%.3f " +
      f"scan=$fStale%.3f  refreshed recall=$rChosen%.3f scan=$fChosen%.3f")
    spark.stop()
  }
}
