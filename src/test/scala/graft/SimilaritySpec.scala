package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("large-k assignment kernel == plan-literal path bit-for-bit (k=1024, dup ties)") {
    val e = Tables.embeddings(spark, sf)
    val base = e.select($"vec_id", $"embedding").collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    // 1024 centroids built by cycling the corpus — EXACT duplicates by
    // construction (i and i+500 are the same centroid), so equal
    // distances arise and the first-match tie-break is exercised
    val cents = (0 until 1024).map(i => base(i % base.length)).toIndexedSeq
    // r18 policy: auto picks the reference-object kernel at EVERY k by
    // default (a code-cache probe measured the literal ladders costing MBs
    // of generated source + cold Janino/JIT churn with zero runtime
    // win); the literal path stays only behind the measurement
    // override, and this test keeps proving the two bit-identical
    assert(Similarity.assignExprAuto($"embedding", cents).toString
      .contains("nearest_centroid"),
      "auto must pick the reference-object kernel at k=1024")
    assert(Similarity.assignExprAuto($"embedding", cents.take(8)).toString
      .contains("nearest_centroid"),
      "auto must pick the reference-object kernel at k=8 too (r18)")
    val nc = Similarity.nearestCentroid($"embedding", cents)
    val kernel = e.select($"vec_id",
        nc.getField("cluster").as("c"), round(nc.getField("dist2"), 6).as("d"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    // literal path at k=1024: 65k Literal nodes — slow to analyze but
    // valid; this is exactly the cliff the kernel removes
    val literal = e.select($"vec_id",
        Similarity.assignExpr($"embedding", cents).as("c"),
        round(array_min(array(cents.map(c => graft.functions.VectorOps
          .l2DistSq($"embedding", array(c.toIndexedSeq.map(lit): _*))): _*)), 6).as("d"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(kernel === literal)
    // every duplicated centroid pair ties to the LOWER id: cluster < 500
    assert(kernel.forall(_._2 < base.length))
    // kMeansAssign auto-switches to the kernel above the cell budget and
    // agrees with the small-k literal formulation on a truncated set
    val small = cents.take(8)
    val viaSmall = Similarity.kMeansAssign(e, "vec_id", "embedding", small)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    val viaKernel = e.select($"vec_id",
        Similarity.nearestCentroid($"embedding", small).getField("cluster").as("c"),
        round(Similarity.nearestCentroid($"embedding", small).getField("dist2"), 6).as("d"))
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(viaSmall === viaKernel)
  }

  test("semDedup production regime: k ∝ N bounds blocks; the cross-cluster miss is measured") {
    // 8 well-separated topics × 25 members, k = N/25: every member of a
    // topic is a planted near-dup of its peers (cos ≈ 0.999 >= 0.95)
    val n = 200
    val rows = (0 until n).map { i =>
      val t = i % 8
      val v = Array.fill(8)(0.001f)
      v(t) = 1.0f
      v((t + 1) % 8) = 0.001f * (1 + i / 8 % 3)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("id", "vec")
    val out = Similarity.semDedup(df, "id", "vec", k = n / 25, tau = 0.95,
      maxIter = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // block sizes bounded: no cluster larger than 2 × N/k
    val blocks = out.groupBy(_._2).view.mapValues(_.length)
    assert(blocks.values.max <= 2 * 25,
      s"unbounded block: ${blocks.toMap}")
    // within-topic dups collapse: exactly one kept row per topic
    val kept = out.filter(_._3).map(_._1)
    assert(kept.length === 8, s"kept ${kept.toSeq}")
    assert(kept.map(_ % 8).toSet.size === 8)
    // the documented miss: an identical-grade pair STRADDLING a cell
    // boundary (forced via caller centroids) is kept on both sides —
    // measured miss rate 1/1 here — while the exact path catches it
    val a = Seq(0.72f, 0.69f); val b = Seq(0.69f, 0.72f)
    val pairDf = Seq((1L, a), (2L, b)).toDF("id", "vec")
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val split = Similarity.semDedupWithCentroids(pairDf, "id", "vec", cents,
      tau = 0.95).collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(split.map(_._2).toSet.size === 2, "pair must land in different cells")
    assert(split.forall(_._3), "cross-cluster near-dup is missed by construction")
    assert(Similarity.nearDupPairs(pairDf, "id", "vec", 0.95).count() === 1,
      "the recall-exact path catches the straddling pair")
  }

  test("mmrRerank: diversity displaces a redundant high-rel candidate; rank 1 is argmax rel") {
    // probe along e0. a1/a2 nearly identical high-rel pair; b moderately
    // relevant but diverse. Plain top-2 = {a1, a2}; MMR at λ=0.5 must
    // pick {a1, b}: a2's max-sim-to-picked ≈ 1 wipes out its relevance.
    val probe = Seq(Seq(1.0f, 0.0f, 0.0f, 0.0f)).toDF("embedding")
    val cands = Seq(
      (1L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),   // a1: rel ~1
      (2L, Seq(1.0f, 0.011f, 0.0f, 0.0f)),  // a2: rel ~1, near-dup of a1
      (3L, Seq(0.5f, 0.0f, 0.9f, 0.0f)))    // b: rel ~0.49, diverse
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(cands.repartition(3), probe, "vec_id",
      "embedding", n = 3, k = 2, lambdaPermille = 500)
      .as[(Int, Long, Double, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(1, 2))
    assert(out.map(_._2) === Seq(1L, 3L), out.toString)
    // rank 1 is pure argmax rel (score = λ·relL), tie broken by id:
    // a1 beats a2 only on rel; verify its score is λ·lift(rel)
    assert(out.head._4 === 500L * math.round(out.head._3 * 1e6))
    // k > candidates: returns all candidates, ranks stay dense
    val all = Similarity.mmrRerank(cands, probe, "vec_id", "embedding",
      n = 3, k = 3, lambdaPermille = 500).collect()
    assert(all.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  test("knnJoin: each probe gets exactly k ranked neighbors, best first") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.knnJoin(
      e.filter($"vec_id" < 3), e.filter($"vec_id" >= 3),
      "vec_id", "vec_id", "embedding", 4)
    val byProbe = out.groupBy($"probe_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(byProbe.values.forall(_ == 4) && byProbe.size == 3)
    // rank ordering consistent with sim
    val bad = out.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).values.map { rows =>
        val sorted = rows.sortBy(_._4)
        sorted.sliding(2).forall {
          case Array(a, b) => a._3 >= b._3
          case _ => true
        }
      }
    assert(bad.forall(identity))
  }

  test("annJoin results are a subset of brute-force candidates with matching sims") {
    val e = Tables.embeddings(spark, sf)
    val probes = e.filter($"vec_id" < 3)
    val corpus = e.filter($"vec_id" >= 3)
    val exact = Similarity.knnJoin(probes, corpus, "vec_id", "vec_id", "embedding", 1000000)
      .select($"probe_id", $"neighbor_id", $"sim")
      .as[(Long, Long, Double)].collect()
      .map { case (p, n, s) => (p, n) -> s }.toMap
    val ann = Similarity.annJoin(probes, corpus, "vec_id", "vec_id", "embedding", 10)
      .select($"probe_id", $"neighbor_id", $"sim")
      .as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    assert(ann.forall { case (p, n, s) => exact.get((p, n)).contains(s) })
  }

  test("recall differentials (q27/q42/q78): every ANN candidate stage retains the " +
      "exact top-k at full-recall settings; fixture settings keep useful recall") {
    val e = Tables.embeddings(spark, sf)
    val probes = e.filter($"vec_id" < 5)
    val corpus = e.filter($"vec_id" >= 5)
    val k = 5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id", $"neighbor_id", $"sim", $"rank")
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val exact = rows(Similarity.knnJoin(probes, corpus, "vec_id", "vec_id",
      "embedding", k))
    assert(exact.size === 5 * k)

    // annJoin at the full-recall banding (16 × 1-bit — the q48 regime:
    // per-pair candidate-miss ≈ 0.4^16 ≈ 4e-7 on random 64-dim vectors)
    // must EQUAL the exact top-k — candidate set ⊇ exact top-k, and the
    // verify stage scores/ranks identically
    val ann = rows(Similarity.annJoin(probes, corpus, "vec_id", "vec_id",
      "embedding", k, nBands = 16, bandBits = 1))
    assert(ann === exact)

    // IVF with nProbe == nList (exhaustive cells) must EQUAL the exact
    // top-k — proves the cell assignment/join machinery itself loses
    // nothing; the ONLY approximation in ivfJoin is probing fewer cells
    val ivfFull = rows(Similarity.ivfJoin(probes, corpus, "vec_id", "vec_id",
      "embedding", k, nList = 16, nProbe = 16))
    assert(ivfFull === exact)
    val cents = Similarity.kMeans(e, "vec_id", "embedding", 16, maxIter = 5).centroids
    val ivfTFull = rows(Similarity.ivfJoinTrained(probes, corpus, "vec_id",
      "vec_id", "embedding", k, cents, nProbe = 16))
    assert(ivfTFull === exact)

    // at the PINNED fixture settings (nProbe = 4 of 16 — exactly q42/q78)
    // the deterministic measured recall@5 must stay useful: scanning
    // ~4/16 of the corpus should not degrade to chance (k/|corpus|)
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    def recallAt(out: Seq[(Long, Long, Double, Int)]): Double =
      out.map(r => (r._1, r._2)).toSet.intersect(exactSet).size.toDouble / exactSet.size
    val rIvf = recallAt(rows(Similarity.ivfJoin(probes, corpus, "vec_id",
      "vec_id", "embedding", k, nList = 16, nProbe = 4)))
    val rIvfT = recallAt(rows(Similarity.ivfJoinTrained(probes, corpus,
      "vec_id", "vec_id", "embedding", k, cents, nProbe = 4)))
    // deterministic on the fixed fixtures — measured 0.44 / 0.84: the
    // trained quantizer nearly DOUBLES recall at identical probe cost,
    // which is exactly why q78 trains it
    assert(rIvf >= 0.3, s"ivfJoin fixture recall@5 = $rIvf")
    assert(rIvfT >= 0.6, s"ivfJoinTrained fixture recall@5 = $rIvfT")
    assert(rIvfT >= rIvf, "training the quantizer must not hurt recall here")
    info(f"fixture recall@5: ivfJoin=$rIvf%.2f ivfJoinTrained=$rIvfT%.2f")
  }

  test("centroids: 64 positions per label, values bounded by data range") {
    val out = Tables.embeddings(spark, sf)
      .transform(df => Similarity.centroids(df, "label", "embedding"))
    val counts = out.groupBy($"label").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    assert(counts.size === 10 && counts.values.forall(_ == 64))
  }

  test("nearDupPairsLsh equals the all-pairs baseline on both fixtures") {
    // recall check backing the q48 oracle: with 16 × 1-bit bands the
    // per-pair candidate-miss probability is ~0.4^16 ≈ 4e-7, and on the
    // fixed fixtures the LSH path must reproduce the exact all-pairs
    // output (the driver compares q48 against the all-pairs SQL oracle)
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val e = Tables.embeddings(spark, dir)
      val exact = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
        .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
      val lsh = Similarity.nearDupPairsLsh(e, "vec_id", "embedding",
        threshold = 0.3, nBands = 16, bandBits = 1)
        .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
      assert(exact.nonEmpty)
      assert(lsh === exact)
    }
  }

  test("production defaults (0.8, 8 × 8-bit bands) find planted near-dups") {
    // the operator's defaults are the 100 TB regime; plant 20 high-
    // similarity pairs (cosine ≈ 0.999) among the random fixture
    // vectors — per-pair candidate-miss ≈ (1 - 0.97^8)^8 ≈ 1e-5, and
    // hyperplaneBits is seeded so the outcome is deterministic
    val base = Tables.embeddings(spark, sf).filter($"vec_id" < 20)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val planted = base.flatMap { case (id, v) =>
      val dup = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
      Seq((id, v), (id + 1000L, dup))
    }.toSeq.toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairsLsh(planted, "vec_id", "embedding")
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect()
    val exact = Similarity.nearDupPairs(planted, "vec_id", "embedding", 0.8)
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect().toSet
    // precision is structurally exact (verify stage is exact cosine)
    assert(pairs.toSet.subsetOf(exact))
    // every planted (id, id+1000) twin survives the candidate stage
    val found = pairs.map(p => (p._1, p._2)).toSet
    base.foreach { case (id, _) => assert(found.contains((id, id + 1000L)), s"missed twin $id") }
  }

  test("nearDupPairs emits each pair once with id_a < id_b") {
    val out = Similarity.nearDupPairs(
      Tables.embeddings(spark, sf).limit(100), "vec_id", "embedding", 0.2)
    val rows = out.select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(rows.forall { case (a, b) => a < b })
    assert(rows.toSet.size === rows.length)
  }

  test("ivfJoinTrained: k-means quantizer cells behave like ivfJoin's — " +
      "self ranks first, ranks dense, sims consistent") {
    val e = Tables.embeddings(spark, sf)
    val res = Similarity.kMeans(e, "vec_id", "embedding", 8, maxIter = 5)
    val probes = e.filter($"vec_id" < 3)
    val out = Similarity.ivfJoinTrained(probes, e, "vec_id", "vec_id",
        "embedding", k = 5, res.centroids, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect()
    val byProbe = out.groupBy(_._1)
    assert(byProbe.keySet === Set(0L, 1L, 2L))
    byProbe.foreach { case (pid, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to rows.length))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq)
      // the probe is in the corpus: its own cell is always probed, so
      // self must surface at rank 1 with sim 1.0
      assert(sorted.head._2 === pid && sorted.head._3 === 1.0)
    }
  }

  test("kMeans: planted clusters recovered, centroids are exact member means, " +
      "one materializing job per iteration") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 3 well-separated centers, 20 points each, deterministic jitter;
    // ids interleaved (id % 3 = planted center) so the lowest-id seeds
    // start one per planted cluster
    val pts = for (c <- 0 until 3; i <- 0 until 20) yield {
      val v = Array.fill(4)(c * 10.0)
      v(i % 4) += (i % 5) * 0.1
      ((c + 3 * i).toLong, c, v.toSeq)
    }
    val df = pts.toDF("vec_id", "planted", "embedding")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val res =
      try Similarity.kMeans(df, "vec_id", "embedding", 3)
      finally {
        Thread.sleep(500) // let the async listener buses drain
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(qeListener)
      }
    assert(res.iterations >= 2 && res.iterations < 25)
    // ONE materializing action per iteration (plus the seed collect;
    // the localCheckpoint is an RDD action, not a query execution) —
    // a convergence-probe count()/isEmpty would show up here
    assert(actions.get() <= res.iterations + 2,
      s"${actions.get()} actions for ${res.iterations} iterations")
    // AQE materializes each shuffle query stage as its own Spark job,
    // so the raw job count is a loose multiple of the action count
    assert(jobs.get() <= 5 * res.iterations + 4,
      s"${jobs.get()} jobs for ${res.iterations} iterations")
    // every planted cluster maps to exactly one k-means cluster
    val asg = Similarity.kMeansAssign(df, "vec_id", "embedding", res.centroids)
      .join(df.select($"vec_id", $"planted"), "vec_id")
      .select($"planted", $"cluster").as[(Int, Int)].collect()
    val byPlanted = asg.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    assert(byPlanted.values.forall(_.size == 1))
    assert(byPlanted.values.flatten.toSet.size === 3)
    // centroids equal the exact elementwise mean of their members
    val members = asg.groupBy(_._2).map { case (cl, xs) => cl -> xs.length }
    val vecsByCluster = Similarity
      .kMeansAssign(df, "vec_id", "embedding", res.centroids)
      .join(df.select($"vec_id", $"embedding"), "vec_id")
      .select($"cluster", $"embedding").as[(Int, Seq[Double])].collect()
      .groupBy(_._1)
    vecsByCluster.foreach { case (cl, rows) =>
      val mean = rows.map(_._2.toIndexedSeq).toIndexedSeq.transpose
        .map(c => c.sum / c.length)
      res.centroids(cl).zip(mean).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cluster $cl centroid drift")
      }
      assert(rows.length === members(cl))
    }
  }

  test("tripletMine: positive is rank 1, negative is best-ranked below the margin") {
    val e = Tables.embeddings(spark, sf)
    val anchors = e.filter($"vec_id" < 6)
    val corpus = e.filter($"vec_id" >= 6)
    val knn = Similarity.knnJoin(anchors, corpus, "vec_id", "vec_id", "embedding", 15)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap
    val got = Similarity.tripletMine(anchors, corpus, "vec_id", "vec_id",
        "embedding", k = 15, margin = 0.05)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    knn.foreach { case (anchor, rows) =>
      val (_, posId, posSim, _) = rows.head
      rows.find(_._3 <= posSim - 0.05) match {
        case Some((_, negId, negSim, _)) =>
          assert(got(anchor) === ((anchor, posId, posSim, negId, negSim)))
        case None =>
          assert(!got.contains(anchor))
      }
    }
    assert(got.nonEmpty)
    // the margin actually separates every emitted triplet
    got.values.foreach { case (_, _, ps, _, ns) => assert(ns <= ps - 0.05) }
  }

  test("tripletMine with k=1 emits nothing (no candidate can clear the margin)") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.tripletMine(
      e.filter($"vec_id" < 3), e.filter($"vec_id" >= 3),
      "vec_id", "vec_id", "embedding", k = 1, margin = 0.05)
    assert(out.count() === 0)
  }

  test("semDedup drops exactly keep-first over within-cluster near-dup pairs") {
    val e = Tables.embeddings(spark, sf)
    val cents = Similarity.kMeans(e, "vec_id", "embedding", 8, maxIter = 5).centroids
    val out = Similarity.semDedupWithCentroids(e, "vec_id", "embedding", cents, 0.3)
      .as[(Long, Int, Boolean)].collect().toSeq
    assert(out.length === e.count())
    val dropped = out.filter(!_._3).map(_._1).toSet

    // expected: cluster assignments + all-pairs near-dups restricted to
    // same-cluster, keep-first (id_b of any surviving pair is dropped)
    val clusterOf = Similarity.kMeansAssign(e, "vec_id", "embedding", cents)
      .select($"vec_id", $"cluster").as[(Long, Int)].collect().toMap
    val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.3)
      .as[(Long, Long, Double)].collect()
    val expectDropped = pairs
      .filter { case (a, b, _) => clusterOf(a) == clusterOf(b) }
      .map(_._2).toSet
    assert(dropped === expectDropped)
    assert(expectDropped.nonEmpty) // fixture regime actually dedups
    // the assignment column matches the reference assignment
    out.foreach { case (id, cl, _) => assert(cl === clusterOf(id)) }
  }

  test("embeddingAffinity: planted orthogonal groups read 0.0, aligned " +
      "groups 1.0, zero-norm group NULL; each pair once, ordered; " +
      "partition independence") {
    // group A along e1, B along e1 scaled (cos 1.0 with A), C along e2
    // (orthogonal to both), Z all-zero (NULL cosine with everyone)
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val rows = Seq(
      ("A", vec(2, 0)), ("A", vec(4, 0)),
      ("B", vec(1, 0)),
      ("C", vec(0, 3)), ("C", vec(0, 5)),
      ("Z", vec(0, 0)))
    val df = rows.toDF("g", "v")
    def run(parts: Int) =
      Similarity.embeddingAffinity(df.repartition(parts), "g", "v")
        .as[(String, String, Long, Long, Option[Double], Double)]
        .collect().toSeq
    val got = run(3)
    // centroids: A=(3,0), B=(1,0), C=(0,4), Z=(0,0)
    assert(got === Seq(
      ("A", "B", 2L, 1L, Some(1.0), 2.0),
      ("A", "C", 2L, 2L, Some(0.0), 5.0),
      ("A", "Z", 2L, 1L, None, 3.0),
      ("B", "C", 1L, 2L, Some(0.0), 4.123106), // sqrt(17) @ 6 dp
      ("B", "Z", 1L, 1L, None, 1.0),
      ("C", "Z", 2L, 1L, None, 4.0)))
    assert(run(1) === got && run(6) === got)
  }

  test("semanticDecontaminate: planted parallel/orthogonal/opposite " +
      "cases, rounding-before-threshold, zero-norm and null drop, " +
      "partition independent") {
    import graft.operators.Similarity
    val bench = Seq(
      (100L, Seq(1f, 0f, 0f, 0f)),
      (101L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(2f, 0f, 0f, 0f)),   // parallel to b100: cos 1.0
      (2L, Seq(1f, 1f, 0f, 0f)),   // cos 0.707107 to both
      (3L, Seq(0f, 0f, 1f, 0f)),   // orthogonal to both
      (4L, Seq(-1f, 0f, 0f, 0f)),  // opposite: cos -1
      (5L, Seq(0f, 0f, 0f, 0f)))   // zero norm: NaN, drops
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 1L, 1.0), (2L, 2L, 0.707107)))
    // threshold exactly at a rounded value keeps it (rounded BEFORE)
    val exact = Similarity.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", 0.707107)
      .as[(Long, Long, Double)].collect().toSeq
    assert(exact === Seq((1L, 1L, 1.0), (2L, 2L, 0.707107)))
    val p1 = Similarity.semanticDecontaminate(
      corpus.repartition(1), bench, "vec_id", "embedding", 0.5)
      .collect().map(_.toString).toSeq
    val p7 = Similarity.semanticDecontaminate(
      corpus.repartition(7), bench.repartition(3), "vec_id",
      "embedding", 0.5)
      .collect().map(_.toString).toSeq
    assert(p1 === p7)
  }
}
