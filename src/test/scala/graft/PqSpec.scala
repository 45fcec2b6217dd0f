package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Pq
import graft.sources.VectorStore

/** Product quantization (operators/Pq.scala): trained model shape,
  * valid codes, ADC + exact rerank equals the full-precision probe
  * when every candidate is reranked (the only approximations are the
  * codes, washed out by the rerank, and bucket pruning, identical on
  * both sides), and the PQ store is strictly smaller on disk than the
  * int8 store (m bytes vs dim bytes per vector).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val nBits = 4
  private lazy val src = Tables.embeddings(spark, sf)
  private lazy val model = Pq.train(src, "vec_id", "embedding", 64,
    m = 8, k = 16, maxIter = 5)

  test("model shape and deterministic valid codes") {
    assert(model.m === 8 && model.dsub === 8)
    assert(model.codebooks.forall(b => b.length === 16 && b.forall(_.length === 8)))
    val codes = src.select(Pq.encodeExpr($"embedding", model).as("c"))
      .as[Seq[Byte]].collect()
    assert(codes.forall(c => c.length === 8 && c.forall(b => b >= 0 && b < 16)))
    val again = src.select(Pq.encodeExpr($"embedding", model).as("c"))
      .as[Seq[Byte]].collect()
    assert(codes.toSeq === again.toSeq)
  }

  test("IVF-PQ: exhaustive settings equal brute-force top-k; cell directories prune at plan time") {
    import graft.operators.Similarity
    val cents = Similarity.kMeans(src, "vec_id", "embedding", 16, maxIter = 5).centroids
    val path = Files.createTempDirectory("graft_ivfpq").toString
    Pq.writeStoreIvf(src, "vec_id", "embedding", path, model, cents)
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    // nProbe = nList + mCand = corpus: the ONLY approximations (cell
    // pruning, code-ordered candidates) are disabled → exact equality
    val exact = Similarity.topKCosine(src, "embedding", probe, 10, "vec_id")
      .as[(Long, Double)].collect().toSeq
    val full = Pq.topKIvf(spark, path, src, "vec_id", "embedding", probe,
        model, cents, k = 10, mCand = src.count().toInt, nProbe = 16)
      .as[(Long, Double)].collect().toSeq
    assert(full === exact)
    // plan-time pruning: the cell filter reaches PartitionFilters
    val cells = Pq.probeCells(probe, cents, 4)
    assert(cells.length === 4 && cells.distinct.length === 4)
    val plan = spark.read.parquet(path).filter($"cell".isin(cells: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.split("PartitionFilters")(1).contains("cell"), plan)
    // pruned probe: the probe's own cell is its nearest, so self is
    // never pruned and reranks first at sim 1.0
    val pruned = Pq.topKIvf(spark, path, src, "vec_id", "embedding", probe,
        model, cents, k = 10, mCand = 50, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(pruned.head === ((0L, 1.0)))

    // incremental maintenance: bulk build == append-built store, and
    // cell-store compaction keeps probes bit-identical with fewer files
    val inc = Files.createTempDirectory("graft_ivfpq_inc").toString + "/s"
    Pq.writeStoreIvf(src.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
      inc, model, cents)
    (0 until 3).foreach { i =>
      val before = VectorStoreSpec.parquetFilesPerDir(inc)
      // 4 writing tasks, each holding rows of most cells
      Pq.appendIvf(
        src.filter($"vec_id" % 2 === 1 && $"vec_id" % 3 === i).repartition(4),
        "vec_id", "embedding", inc, model, cents)
      val added = VectorStoreSpec.parquetFilesPerDir(inc)
        .map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
      assert(added.values.sum > 1 && added.values.forall(_ <= 1),
        s"append $i: files added per cell dir: $added")
    }
    def probeInc() = Pq.topKIvf(spark, inc, src, "vec_id", "embedding", probe,
        model, cents, k = 10, mCand = 50, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(probeInc() === pruned)
    def nFiles(): Int = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(inc)).iterator().asScala
        .count(f => f.toString.endsWith(".parquet"))
    }
    val before = nFiles()
    VectorStore.compact(spark, inc, nBits = 4, partCol = "cell")
    assert(probeInc() === pruned)
    assert(nFiles() < before, s"$before -> ${nFiles()}")
  }

  test("ADC + exact rerank with full mCand equals the full-precision store probe; " +
      "PQ store smaller on disk than int8 store") {
    val full = Files.createTempDirectory("graft_pq_full").toString
    VectorStore.write(src, "vec_id", "embedding", full, nBits)
    val int8 = Files.createTempDirectory("graft_pq_int8").toString
    VectorStore.writeQuantized(src, "vec_id", "embedding", int8, nBits)
    val pq = Files.createTempDirectory("graft_pq_store").toString
    Pq.writeStore(src, "vec_id", "embedding", pq, model, nBits)

    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val exact = VectorStore.topK(spark, full, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    val reranked = Pq.topK(spark, pq, src, "vec_id", "embedding", probe, model,
        k = 10, mCand = src.count().toInt, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(reranked === exact)

    // the probe's own row survives the ADC stage well inside top-50:
    // its ADC distance is just its own quantization error, far below
    // inter-point distances
    val approx50 = Pq.topKApprox(spark, pq, "vec_id", probe, model, 50, nBits)
      .as[(Long, Double)].collect()
    assert(approx50.map(_._1).contains(0L))
    assert(approx50.forall(_._2 >= 0.0))

    def parquetBytes(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
    val pqB = parquetBytes(pq)
    val int8B = parquetBytes(int8)
    assert(pqB < int8B, s"PQ store not smaller: $pqB vs int8 $int8B")
  }

  test("residual IVF-PQ: lower ADC error than raw codes; exhaustive equals brute force") {
    import graft.operators.Similarity
    val cents = Similarity.kMeans(src, "vec_id", "embedding", 16, maxIter = 5).centroids
    val residModel = Pq.trainResidual(src, "vec_id", "embedding", cents, 64,
      m = 8, k = 16, maxIter = 5)
    val rawPath = Files.createTempDirectory("graft_ivfpq_raw").toString
    val resPath = Files.createTempDirectory("graft_ivfpq_res").toString
    Pq.writeStoreIvf(src, "vec_id", "embedding", rawPath, model, cents)
    Pq.writeStoreIvfResidual(src, "vec_id", "embedding", resPath, residModel, cents)
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq

    // mean |ADC - true squared L2| over the whole corpus: the residual
    // codes quantize the (small) residual cloud with the same m x k
    // budget, so their distance estimate is strictly tighter
    val vecs = src.select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def trueD2(v: Array[Double]) =
      v.zip(probe).map { case (a, b) => (a - b) * (a - b) }.sum
    def meanErr(path: String, m: Pq.Model, residual: Boolean): Double = {
      val nList = cents.length
      val adc =
        (if (residual)
          Pq.topKIvfResidualAdc(spark, path, "vec_id", probe, m, cents, nList)
        else
          spark.read.parquet(path)
            .select($"vec_id", Pq.adcDistExpr($"codes", probe, m).as("adc_dist")))
        .as[(Long, Double)].collect()
      adc.map { case (id, d) => math.abs(d - trueD2(vecs(id))) }.sum / adc.length
    }
    val rawErr = meanErr(rawPath, model, residual = false)
    val resErr = meanErr(resPath, residModel, residual = true)
    assert(resErr < rawErr, s"residual ADC err $resErr !< raw $rawErr")

    // exhaustive settings -> exact brute-force equality (rerank covers all)
    val exact = Similarity.topKCosine(src, "embedding", probe, 10, "vec_id")
      .as[(Long, Double)].collect().toSeq
    val got = Pq.topKIvfResidual(spark, resPath, src, "vec_id", "embedding",
        probe, residModel, cents, k = 10, mCand = src.count().toInt,
        nProbe = cents.length)
      .as[(Long, Double)].collect().toSeq
    assert(got === exact)
    // per-branch plan-time pruning on the probed cell directories
    val pruned = Pq.topKIvfResidual(spark, resPath, src, "vec_id", "embedding",
        probe, residModel, cents, k = 10, mCand = 50, nProbe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(pruned.head === ((0L, 1.0)))
  }

  test("OPQ: orthonormal trained rotation; partition-independent model; " +
    "strict quantization-error win on variance-concentrated data; " +
    "exhaustive probe equals brute force") {
    import graft.operators.Similarity
    // planted correlated corpus: energy concentrated in 8 of 64 dims.
    // An identity subspace split gives ALL the energy to subspace 0
    // (16 codes for 8 hot dims) and wastes the other 7 books on noise;
    // the eigenvalue-allocation rotation routes one hot eigendirection
    // to each subspace.
    val rnd = new java.util.Random(7)
    val planted = (0L until 256L).map { i =>
      i -> (0 until 64).map(j =>
        if (j < 8) (rnd.nextDouble() * 2 - 1).toFloat
        else ((rnd.nextDouble() * 2 - 1) * 0.01f).toFloat)
    }.toDF("vec_id", "embedding")
    val opq = Pq.trainOpq(planted, "vec_id", "embedding", 64,
      m = 8, k = 16, maxIter = 5, opqIters = 1)
    val plain = Pq.train(planted, "vec_id", "embedding", 64,
      m = 8, k = 16, maxIter = 5)

    // trained rotation is orthonormal
    val r = opq.rotation
    for (i <- 0 until 64; j <- i until 64) {
      val d = (0 until 64).map(k => r(i)(k) * r(j)(k)).sum
      // 1e-6: the Procrustes polar inherits Jacobi's precision on an
      // ill-conditioned MᵀM (8 dominant eigenvalues vs 56 tiny ones on
      // the planted data); determinism is exact, orthonormality is
      // numerical
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-6,
        s"rotation not orthonormal at ($i,$j): $d")
    }

    // partition independence: exact integer reductions + driver math
    // mean the model is bit-identical at any layout
    val opq3 = Pq.trainOpq(planted.repartition(3), "vec_id", "embedding",
      64, m = 8, k = 16, maxIter = 5, opqIters = 1)
    assert(opq3.rotation.map(_.toSeq).toSeq === r.map(_.toSeq).toSeq)
    assert(opq3.pq.codebooks.map(_.map(_.toSeq)) ===
      opq.pq.codebooks.map(_.map(_.toSeq)))

    // total squared quantization error (rotation preserves norms, so
    // rotated-space and original-space errors are directly comparable)
    val vecs = planted.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (_, v) => v.map(_.toDouble).toArray }
    def reconErr(rot: Option[Array[Array[Double]]], m: Pq.Model): Double =
      vecs.map { v0 =>
        val v = rot.map(rr => Pq.rotateVec(rr, v0.toSeq).toArray).getOrElse(v0)
        (0 until m.m).map { j =>
          val sub = v.slice(j * m.dsub, (j + 1) * m.dsub)
          m.codebooks(j).map(c =>
            sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum
    val opqErr = reconErr(Some(r), opq.pq)
    val pqErr = reconErr(None, plain)
    assert(opqErr < pqErr * 0.5,
      s"OPQ error $opqErr not well below plain PQ $pqErr on correlated data")

    // exhaustive probe == brute force on the fixture corpus (the q81
    // invariant, unchanged by the rotation)
    val fixOpq = Pq.trainOpq(src, "vec_id", "embedding", 64,
      m = 8, k = 16, maxIter = 5, opqIters = 1)
    val path = Files.createTempDirectory("graft_opq").toString
    // nBits = 0 on BOTH sides: one bucket → full scan, so with
    // mCand = corpus the only would-be approximations are disabled
    Pq.writeStoreOpq(src, "vec_id", "embedding", path, fixOpq, nBits = 0)
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val exact = Similarity.topKCosine(src, "embedding", probe, 10, "vec_id")
      .as[(Long, Double)].collect().toSeq
    val got = Pq.topKOpq(spark, path, src, "vec_id", "embedding", probe,
        fixOpq, k = 10, mCand = src.count().toInt, nBits = 0)
      .as[(Long, Double)].collect().toSeq
    assert(got === exact)

    // IVF-OPQ (q168 composition): exhaustive settings == brute force
    val rot = src.select($"vec_id",
      Pq.rotateExpr($"embedding", fixOpq.rotation).as("__rx"))
      .localCheckpoint()
    val centsR = Similarity.kMeans(rot, "vec_id", "__rx", 16,
      maxIter = 5).centroids
    val modelR = Pq.trainResidual(rot, "vec_id", "__rx", centsR, 64,
      m = 8, k = 16, maxIter = 5)
    val ivfPath = Files.createTempDirectory("graft_opq_ivf").toString
    Pq.writeStoreIvfOpq(src, "vec_id", "embedding", ivfPath, fixOpq,
      modelR, centsR)
    val gotIvf = Pq.topKIvfOpq(spark, ivfPath, src, "vec_id", "embedding",
        probe, fixOpq, modelR, centsR, k = 10,
        mCand = src.count().toInt, nProbe = centsR.length)
      .as[(Long, Double)].collect().toSeq
    assert(gotIvf === exact)
  }
}
