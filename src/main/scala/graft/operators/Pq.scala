package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.sources.VectorStore

/** Product quantization (PQ) with asymmetric-distance scoring — the
  * compression step past the int8 store (`VectorStore.writeQuantized`):
  * instead of 1 byte per DIMENSION, each vector stores `m` bytes TOTAL
  * (one codebook index per `dsub`-dim subspace), the standard IVF-PQ
  * building block. Codebooks are trained by the existing distributed
  * Lloyd's loop ([[Similarity.kMeans]]) run per subspace over sliced
  * vectors — deterministic (quantized-long means), bounded driver
  * state (m × k × dsub doubles).
  *
  * Probe-side scoring is classic ADC: the probe precomputes, on the
  * driver, one k-entry table of squared distances per subspace
  * (m × k doubles — model-sized), and every stored vector's
  * approximate squared L2 distance is the SUM of m table lookups on
  * its codes. The tables ride the plan as literals, so the scan side
  * is a pure codegen'd projection — no join, no shuffle, no vector
  * payload read. Each probe is this scorer and a candidate filter in
  * the ANN probe protocol (`VectorStore.committedRead`).
  */
object Pq {

  /** Trained PQ model: `codebooks(j)(c)` is the `dsub`-dim centroid
    * `c` of subspace `j`. */
  final case class Model(m: Int, dsub: Int,
      codebooks: IndexedSeq[IndexedSeq[Array[Double]]]) {
    require(codebooks.length == m)
  }

  /** Train per-subspace codebooks on (a sample of) the corpus: for
    * each of the `m` subspaces, run [[Similarity.kMeans]] over the
    * sliced `dsub`-dim sub-vectors. Sequential over subspaces (m is
    * small, each pass is a full distributed Lloyd's loop). */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, k: Int = 16, maxIter: Int = 5): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    // ONE joint loop for all m subspaces (1 job/iteration) instead of m
    // independent kMeans loops (m×maxIter jobs over the same rows) —
    // bit-identical codebooks, ~m× less driver-synchronous stage churn
    // on the cold store-build path (see kMeansSubspaces scaladoc)
    val books = Similarity.kMeansSubspaces(df, idCol, vecCol, dim, m, k,
      maxIter)
    Model(m, dsub, books)
  }

  /** PQ encoding column: `array<tinyint>` of `m` codebook indices —
    * per subspace, the argmin-distance centroid via the same
    * plan-literal [[Similarity.assignExpr]] the k-means loop uses
    * (codegen'd map, no join). */
  def encodeExpr(vecCol: Column, model: Model): Column =
    array(model.codebooks.zipWithIndex.map { case (book, j) =>
      Similarity.assignExprAuto(
        slice(vecCol, j * model.dsub + 1, model.dsub), book).cast("byte")
    }: _*)

  /** ADC approximate squared-L2 distance of stored codes to `probe`:
    * Σ_j lut_j(codes(j)) where lut_j(c) = ‖probe_j − codebook_j(c)‖²,
    * computed once on the driver and inlined as m k-entry literal
    * arrays. Left-fold sum in subspace order, rounded to 6 dp —
    * deterministic. */
  def adcDistExpr(codesCol: Column, probe: Seq[Double], model: Model): Column = {
    val luts = model.codebooks.zipWithIndex.map { case (book, j) =>
      book.map { cent =>
        var s = 0.0
        var i = 0
        while (i < model.dsub) {
          val d = probe(j * model.dsub + i) - cent(i)
          s += d * d
          i += 1
        }
        s
      }
    }
    val terms = luts.zipWithIndex.map { case (lut, j) =>
      element_at(typedlit(lut.toIndexedSeq),
        codesCol.getItem(j).cast("int") + 1)
    }
    round(terms.reduceLeft(_ + _), 6)
  }

  /** Write the corpus PQ-encoded, partitionBy the same hyperplane-LSH
    * bucket as the full-precision/int8 stores (bucket computed from the
    * ORIGINAL vector → identical pruning behavior; m bytes of codes per
    * row instead of `dim`), one file per bucket. */
  def writeStore(df: DataFrame, idCol: String, vecCol: String, path: String,
      model: Model, nBits: Int = 4): Unit =
    writeLayout(df.select(col(idCol),
        VectorStore.bucketOf(col(vecCol), nBits).as("bucket"),
        encodeExpr(col(vecCol), model).as("codes")),
      "bucket", path, "overwrite", "Pq writeStore")

  /** Every PQ store write: [[graft.sources.StoreFs.writePartitioned]]
    * under the `VectorStore` lease, since `VectorStore.compact` is what
    * compacts these stores and `VectorStore.delete` deletes from them. */
  private def writeLayout(df: DataFrame, partCol: String, path: String,
      mode: String, what: String): Unit =
    graft.sources.StoreFs.writePartitioned(df, partCol, path, mode,
      VectorStore.lockPath(path), what)

  /** Pruned-probe approximate top-`mCand` by ADC distance (ascending;
    * ties break to the lowest id). */
  def topKApprox(spark: SparkSession, path: String, idCol: String,
      probe: Seq[Double], model: Model, mCand: Int,
      nBits: Int = 4): DataFrame =
    VectorStore.approxTop(spark, path,
      VectorStore.readCandidates(spark, path,
          VectorStore.probeBuckets(spark, probe, nBits))
        .select(col(idCol), adcDistExpr(col("codes"), probe, model).as("adc_dist")),
      idCol, col("adc_dist"), mCand)

  // --- IVF-PQ: trained coarse cells as the partition key -------------

  /** The probe's `nProbe` nearest coarse cells — pure driver math over
    * model state (nList × dim doubles), no Spark job; ties break to the
    * lowest cell id, mirroring `Similarity.assignExpr`. */
  def probeCells(probe: Seq[Double], centroids: Seq[Array[Double]],
      nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < c.length) { val d = probe(j) - c(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy(t => (t._1, t._2)).take(nProbe).map(_._2)

  /** Write the corpus as a full IVF-PQ index: partitioned by TRAINED
    * coarse cell (the [[Similarity.kMeans]] centroids q78 trains —
    * measured 0.84 recall@5 vs the hyperplane buckets' 0.44 at equal
    * probe cost on the fixtures) with `m` PQ code bytes per row. The
    * standard billion-scale ANN layout: the coarse quantizer prunes
    * DIRECTORIES at plan time, the codes score what remains, exact
    * vectors are fetched only per surviving id. */
  def writeStoreIvf(df: DataFrame, idCol: String, vecCol: String,
      path: String, model: Model, centroids: Seq[Array[Double]]): Unit =
    writeLayout(ivfRows(df, idCol, vecCol, model, centroids), "cell", path,
      "overwrite", "Pq writeStoreIvf")

  /** Incremental IVF-PQ index maintenance: append a (micro-)batch —
    * same cells, same codebooks, ONE new file inside each cell
    * directory the batch touches (the posture of `VectorStore.append`:
    * per-file cost dominates a small append, so files are counted per
    * (batch, cell), not per (task, cell)); run
    * `VectorStore.compact(spark, path, nBits, partCol = "cell")`
    * periodically to restore one file per cell. The MODEL is frozen at
    * train time — the standard IVF-PQ operating regime (retrain +
    * rebuild is an offline operation, not an append). */
  def appendIvf(df: DataFrame, idCol: String, vecCol: String,
      path: String, model: Model, centroids: Seq[Array[Double]]): Unit =
    writeLayout(ivfRows(df, idCol, vecCol, model, centroids), "cell", path,
      "append", "Pq appendIvf")

  private def ivfRows(df: DataFrame, idCol: String, vecCol: String,
      model: Model, centroids: Seq[Array[Double]]): DataFrame =
    df.select(col(idCol),
      Similarity.assignExprAuto(col(vecCol), centroids).as("cell"),
      encodeExpr(col(vecCol), model).as("codes"))

  /** IVF-PQ probe: read ONLY the `nProbe` nearest cell directories
    * (Catalyst `PartitionFilters` — spec-guarded) and ADC-score their
    * codes. With nProbe = nList and mCand ≥ corpus this EQUALS the
    * exact brute-force top-k (spec-asserted) — the only approximations
    * are probing fewer cells and trusting the codes for candidate
    * order. */
  def topKIvf(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], model: Model,
      centroids: Seq[Array[Double]], k: Int, mCand: Int,
      nProbe: Int): DataFrame =
    VectorStore.rerank(VectorStore.approxTop(spark, path,
        VectorStore.committedRead(spark, path)
          .filter(col("cell").isin(probeCells(probe, centroids, nProbe): _*))
          .select(col(idCol), adcDistExpr(col("codes"), probe, model).as("adc_dist")),
        idCol, col("adc_dist"), mCand),
      source, idCol, vecCol, VectorOps.vecLit(probe), k)

  // --- residual IVF-PQ (the Jégou et al. recipe) ---------------------

  /** Residual of a vector against its nearest coarse centroid —
    * v − c(cell(v)), computed in-plan: the cell comes from the same
    * plan-literal argmin the index uses, the centroid matrix rides as
    * one typedlit, and zip_with does the element-wise subtract. The
    * zip_with is interpreted (HOF), but it runs ONCE per row per
    * training/encode pass, never inside the probe's hot scoring path
    * (probes subtract on the driver). */
  def residualExpr(vecCol: Column, centroids: Seq[Array[Double]]): Column = {
    // coarse cells scale with N — the literal expression at nList=480
    // measured a Catalyst plan blow-up (janino 64KB fallback + driver
    // OOM at m30); assignExprAuto switches to the NearestCentroid
    // kernel past the cell budget, bit-identically (r17)
    val cell = Similarity.assignExprAuto(vecCol, centroids)
    val centLit = typedlit(centroids.map(_.toIndexedSeq).toIndexedSeq)
    zip_with(vecCol.cast("array<double>"), element_at(centLit, cell + 1),
      (a, b) => a - b)
  }

  /** Train PQ codebooks on coarse-cell RESIDUALS — the actual IVF-PQ
    * recipe: the coarse centroid absorbs the vector's location, so the
    * codebooks only have to cover the (much smaller) residual cloud,
    * and the same m×k budget buys a finer quantization grid. One
    * shared residual codebook set across cells (standard; per-cell
    * books would be nList× the model state for marginal gain). */
  def trainResidual(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Double]], dim: Int, m: Int = 8, k: Int = 16,
      maxIter: Int = 5): Model = {
    val resid = df.select(col(idCol),
      residualExpr(col(vecCol), centroids).as("__res"))
    train(resid, idCol, "__res", dim, m, k, maxIter)
  }

  /** IVF-PQ store with residual codes: partitioned by the trained
    * coarse cell, each row carrying the PQ codes of its RESIDUAL. */
  def writeStoreIvfResidual(df: DataFrame, idCol: String, vecCol: String,
      path: String, model: Model, centroids: Seq[Array[Double]]): Unit =
    writeLayout(df.select(col(idCol),
        Similarity.assignExprAuto(col(vecCol), centroids).as("cell"),
        encodeExpr(residualExpr(col(vecCol), centroids), model).as("codes")),
      "cell", path, "overwrite", "Pq writeStoreIvfResidual")

  /** The scoring stage of [[topKIvfResidual]] (no mask, cut or
    * rerank): per-cell branches of one committed read, each a
    * single-directory scan (`cell = c` prunes at plan time) with its
    * OWN literal ADC tables, built from the probe's residual against
    * THAT cell's centroid (driver math — the tables differ per cell,
    * which is the price of residual encoding), unioned. Exposed so
    * specs can measure ADC error. */
  def topKIvfResidualAdc(spark: SparkSession, path: String, idCol: String,
      probe: Seq[Double], model: Model, centroids: Seq[Array[Double]],
      nProbe: Int): DataFrame = {
    val rows = VectorStore.committedRead(spark, path)
    probeCells(probe, centroids, nProbe).map { c =>
      val pres = probe.zip(centroids(c).toIndexedSeq)
        .map { case (p, ce) => p - ce }
      rows.filter(col("cell") === c)
        .select(col(idCol), adcDistExpr(col("codes"), pres, model).as("adc_dist"))
    }.reduce(_.union(_))
  }

  /** Residual IVF-PQ probe over the per-cell branches of
    * [[topKIvfResidualAdc]]. With nProbe = nList and mCand ≥ corpus
    * this equals the brute-force top-k. */
  def topKIvfResidual(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], model: Model,
      centroids: Seq[Array[Double]], k: Int, mCand: Int,
      nProbe: Int): DataFrame =
    VectorStore.rerank(ivfResidualTop(spark, path, idCol, probe, model,
      centroids, mCand, nProbe), source, idCol, vecCol, VectorOps.vecLit(probe), k)

  /** The approximate stage [[topKIvfResidual]] and [[topKIvfOpq]]
    * share: the masked top-`mCand` of [[topKIvfResidualAdc]]. */
  private def ivfResidualTop(spark: SparkSession, path: String,
      idCol: String, probe: Seq[Double], model: Model,
      centroids: Seq[Array[Double]], mCand: Int, nProbe: Int): DataFrame =
    VectorStore.approxTop(spark, path,
      topKIvfResidualAdc(spark, path, idCol, probe, model, centroids, nProbe),
      idCol, col("adc_dist"), mCand)

  /** ADC probe over the bucket-partitioned PQ store. With mCand ≥ the
    * candidate-set size this EQUALS the full-precision probe
    * (spec-asserted); smaller mCand trades recall for fetch volume
    * against the PQ quantization error. */
  def topK(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], model: Model,
      k: Int, mCand: Int, nBits: Int = 4): DataFrame =
    VectorStore.rerank(topKApprox(spark, path, idCol, probe, model, mCand, nBits),
      source, idCol, vecCol, VectorOps.vecLit(probe), k)

  /** IVF-OPQ store: the complete modern recipe — OPQ rotation, then
    * the residual IVF-PQ machinery entirely in ROTATED space (coarse
    * cells trained on rotated vectors, residual codebooks on rotated
    * residuals). `centsR`/`modelR` must be trained on the rotated
    * corpus (see the q168 cache in SparkEntry). */
  def writeStoreIvfOpq(df: DataFrame, idCol: String, vecCol: String,
      path: String, opq: OpqModel, modelR: Model,
      centsR: Seq[Array[Double]]): Unit =
    writeStoreIvfResidual(
      df.select(col(idCol), rotateExpr(col(vecCol), opq.rotation).as("__rx")),
      idCol, "__rx", path, modelR, centsR)

  /** IVF-OPQ probe: [[topKIvfResidual]]'s approximate stage on the
    * rotated probe (identical fold), reranked on the ORIGINAL probe and
    * vectors — the rotation is invisible in the final cosines (q163's
    * contract). */
  def topKIvfOpq(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], opq: OpqModel,
      modelR: Model, centsR: Seq[Array[Double]], k: Int, mCand: Int,
      nProbe: Int): DataFrame =
    VectorStore.rerank(ivfResidualTop(spark, path, idCol,
        rotateVec(opq.rotation, probe), modelR, centsR, mCand, nProbe),
      source, idCol, vecCol, VectorOps.vecLit(probe), k)

  // --- OPQ: optimized product quantization (Ge et al., CVPR 2013) ----

  /** Trained OPQ model: an orthonormal `rotation` (row-major dim×dim)
    * applied before the subspace split, plus the PQ codebooks trained
    * on the ROTATED vectors. */
  final case class OpqModel(rotation: Array[Array[Double]], pq: Model)

  /** In-plan rotation y = R·x — the [[graft.expressions.MatVec]]
    * kernel (single reference object, codegen'd, sequential fold per
    * output component). */
  def rotateExpr(vecCol: Column, rotation: Array[Array[Double]]): Column =
    graft.expressions.VectorExpressions.matVec(vecCol, rotation)

  /** Driver-side rotation of a probe vector — ARITHMETIC-IDENTICAL to
    * [[rotateExpr]] (same sequential fold), so probe-side and
    * store-side values live in the same rotated space bit-for-bit. */
  def rotateVec(rotation: Array[Array[Double]], v: Seq[Double]): Seq[Double] =
    rotation.toIndexedSeq.map { row =>
      var acc = 0.0
      var i = 0
      while (i < row.length) { acc += row(i) * v(i); i += 1 }
      acc
    }

  /** Exact 1e6-lifted first/second moments of the vector column:
    * (Σ x6 x6ᵀ row-major, Σ x6, n) with per-partition `addExact` long
    * partials merged on the driver — partition-count independent by
    * exactness (the CentroidScaledAggregator discipline applied to a
    * matrix), ANSI-faithful on overflow — the per-row lifted products
    * use `multiplyExact` too, so a component with |v| ≳ 3037 (whose
    * 1e6-lift squares past Long.MaxValue) THROWS instead of silently
    * wrapping into a corrupt covariance (Python-replica side needs no
    * guard: its ints are exact). One single-stage job. */
  private[graft] def liftedMoments(df: DataFrame, vecCol: String,
      dim: Int): (Array[Long], Array[Long], Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(col(vecCol).cast("array<double>")).as[Seq[Double]]
      .mapPartitions { it =>
        val sxx = new Array[Long](dim * dim)
        val sx = new Array[Long](dim)
        var n = 0L
        it.foreach { v =>
          require(v.length == dim, s"vector length ${v.length} != dim $dim")
          val x6 = new Array[Long](dim)
          var i = 0
          while (i < dim) { x6(i) = Math.round(v(i) * 1e6); i += 1 }
          i = 0
          while (i < dim) {
            var j = 0
            val base = i * dim
            while (j < dim) {
              sxx(base + j) =
                Math.addExact(sxx(base + j), Math.multiplyExact(x6(i), x6(j)))
              j += 1
            }
            sx(i) = Math.addExact(sx(i), x6(i))
            i += 1
          }
          n += 1
        }
        Iterator.single((sxx, sx, n))
      }.collect()
    val sxx = new Array[Long](dim * dim)
    val sx = new Array[Long](dim)
    var n = 0L
    parts.foreach { case (pxx, px, pn) =>
      var i = 0
      while (i < dim * dim) { sxx(i) = Math.addExact(sxx(i), pxx(i)); i += 1 }
      i = 0
      while (i < dim) { sx(i) = Math.addExact(sx(i), px(i)); i += 1 }
      n += pn
    }
    (sxx, sx, n)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — FIXED
    * `sweeps` full sweeps, no early exit, no thresholds: the operation
    * sequence depends only on the input values, so the Python replica
    * (tools/replica.py `jacobi_eigen`) reproduces it bit-for-bit
    * (IEEE doubles, correctly-rounded sqrt, identical op order).
    * Returns (eigenvalues = final diagonal, V with `V(i)(j)` =
    * component i of eigenvector j). 12 sweeps drive a 64×64
    * off-diagonal below any double's resolution. */
  private[graft] def jacobiEigen(mIn: Array[Array[Double]],
      sweeps: Int = 12): (Array[Double], Array[Array[Double]]) = {
    val n = mIn.length
    val a = Array.tabulate(n, n)((i, j) => mIn(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < sweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0.0) 1.0 / (theta + math.sqrt(1.0 + theta * theta))
              else 1.0 / (theta - math.sqrt(1.0 + theta * theta))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** The OPQ eigenvalue-allocation rotation (Ge et al. §4, the
    * parametric init): eigenvectors of the covariance, assigned in
    * descending-eigenvalue order to the m subspace buckets, each
    * assignment going to the non-full bucket with the smallest exact
    * eigenvalue PRODUCT (balanced per-subspace variance — the property
    * PQ needs for equal-bit subspaces). Products compare in EXACT
    * BigDecimal arithmetic (a double is an exact rational; comparing
    * via floating log-sums could flip an allocation between engines),
    * negative (numerically) eigenvalues clamp to zero, ties break to
    * the lowest bucket. Row r = j·dsub+slot of the rotation is the
    * eigenvector in bucket j, slot order = assignment order. */
  private[graft] def allocationRotation(eigVals: Array[Double],
      eigVecs: Array[Array[Double]], dim: Int, m: Int): Array[Array[Double]] = {
    val dsub = dim / m
    val order = eigVals.indices.sortBy(j => (-eigVals(j), j))
    val prod = Array.fill(m)(java.math.BigDecimal.ONE)
    val cnt = new Array[Int](m)
    val rows = new Array[Array[Double]](dim)
    order.foreach { j =>
      val lam = math.max(eigVals(j), 0.0)
      var best = -1
      var b = 0
      while (b < m) {
        if (cnt(b) < dsub &&
          (best < 0 || prod(b).compareTo(prod(best)) < 0)) best = b
        b += 1
      }
      prod(best) = prod(best).multiply(new java.math.BigDecimal(lam))
      rows(best * dsub + cnt(best)) =
        Array.tabulate(dim)(i => eigVecs(i)(j))
      cnt(best) += 1
    }
    rows
  }

  /** Exact 1e6-lifted cross-moment M = Σ y6 x6ᵀ between each vector's
    * PQ RECONSTRUCTION in rotated space (y = concat of assigned
    * centroids) and its ORIGINAL vector — the Procrustes input of the
    * OPQ alternation. Same single-job addExact-partials discipline as
    * [[liftedMoments]]. */
  private[graft] def reconstructionCross(df: DataFrame, vecCol: String,
      rotation: Array[Array[Double]], model: Model,
      dim: Int): Array[Long] = {
    val spark = df.sparkSession
    import spark.implicits._
    val books = model.codebooks.map(_.toArray).toArray
    val dsub = model.dsub
    val parts = df.select(col(vecCol).cast("array<double>")).as[Seq[Double]]
      .mapPartitions { it =>
        val acc = new Array[Long](dim * dim)
        it.foreach { v =>
          val rx = new Array[Double](dim)
          var r = 0
          while (r < dim) {
            val row = rotation(r)
            var s = 0.0
            var i = 0
            while (i < dim) { s += row(i) * v(i); i += 1 }
            rx(r) = s
            r += 1
          }
          val y = new Array[Double](dim)
          var j = 0
          while (j < books.length) {
            val book = books(j)
            var best = Double.PositiveInfinity
            var bi = 0
            var c = 0
            while (c < book.length) {
              var d2 = 0.0
              var i = 0
              while (i < dsub) {
                val d = rx(j * dsub + i) - book(c)(i)
                d2 += d * d
                i += 1
              }
              if (d2 < best) { best = d2; bi = c }
              c += 1
            }
            System.arraycopy(book(bi), 0, y, j * dsub, dsub)
            j += 1
          }
          var a = 0
          while (a < dim) {
            val y6 = Math.round(y(a) * 1e6)
            var b = 0
            val base = a * dim
            while (b < dim) {
              acc(base + b) = Math.addExact(acc(base + b),
                Math.multiplyExact(y6, Math.round(v(b) * 1e6)))
              b += 1
            }
            a += 1
          }
        }
        Iterator.single(acc)
      }.collect()
    val out = new Array[Long](dim * dim)
    parts.foreach { p =>
      var i = 0
      while (i < out.length) { out(i) = Math.addExact(out(i), p(i)); i += 1 }
    }
    out
  }

  /** Orthogonal Procrustes solution R = U Vᵀ from the SVD of M,
    * computed rank-aware: [[jacobiEigen]] of MᵀM gives V and σ² = λ;
    * U columns come from M·v/σ for eigenvalues ABOVE λmax·1e−10 only —
    * below that, λ is double-rounding noise of the dominant scale (the
    * reconstruction cross-moment is genuinely low-rank when codebooks
    * barely vary in noise subspaces; a raw M(MᵀM)^(−1/2) polar factor
    * measured 0.40 off orthogonal there), MGS-cleaned, then
    * deterministically COMPLETED to a full orthonormal basis from
    * standard-basis candidates in index order (any completion is
    * Procrustes-optimal on the null space). All driver doubles over an
    * EXACT integer M — deterministic and replica-reproducible
    * (tools/replica.py `polar_rotation`). An all-zero M yields the
    * identity. */
  private[graft] def polarRotation(mLong: Array[Long],
      dim: Int): Array[Array[Double]] = {
    val md = Array.tabulate(dim, dim)((i, j) => mLong(i * dim + j).toDouble)
    val mtm = Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0
      var k = 0
      while (k < dim) { s += md(k)(i) * md(k)(j); k += 1 }
      s
    }
    val (vals, v) = jacobiEigen(mtm)
    var lmax = 0.0
    vals.foreach(l => if (l > lmax) lmax = l)
    if (lmax <= 0.0)
      return Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val order = vals.indices.sortBy(j => (-vals(j), j))
    val ucols = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val usedOrder = scala.collection.mutable.ArrayBuffer[Int]()
    order.foreach { j =>
      if (vals(j) > lmax * 1e-10) {
        val sigma = math.sqrt(vals(j))
        val u = Array.tabulate(dim) { i =>
          var s = 0.0
          var k = 0
          while (k < dim) { s += md(i)(k) * v(k)(j); k += 1 }
          s / sigma
        }
        ucols += u
        usedOrder += j
      }
    }
    // V columns in the SAME (used-then-unused) order as U's
    order.foreach(j => if (!(vals(j) > lmax * 1e-10)) usedOrder += j)
    // clean the computed columns, then complete from standard-basis
    // candidates (index order; a candidate joins iff its residual
    // keeps more than half its mass — deterministic, always fills)
    val uArr = ucols.toArray
    gramSchmidtRows(uArr)
    val all = scala.collection.mutable.ArrayBuffer[Array[Double]](uArr: _*)
    while (all.length < dim) {
      // the standard-basis candidate with the LARGEST residual after
      // projecting out the held columns (strict >, first index wins) —
      // max residual² ≥ (dim − held)/dim > 0, so this always fills
      var bestW: Array[Double] = null
      var bestN2 = -1.0
      var t = 0
      while (t < dim) {
        val w = Array.tabulate(dim)(i => if (i == t) 1.0 else 0.0)
        all.foreach { u =>
          var d = 0.0
          var k = 0
          while (k < dim) { d += w(k) * u(k); k += 1 }
          k = 0
          while (k < dim) { w(k) = w(k) - d * u(k); k += 1 }
        }
        var n2 = 0.0
        var k = 0
        while (k < dim) { n2 += w(k) * w(k); k += 1 }
        if (n2 > bestN2) { bestN2 = n2; bestW = w }
        t += 1
      }
      val inv = 1.0 / math.sqrt(bestN2)
      var k = 0
      while (k < dim) { bestW(k) = bestW(k) * inv; k += 1 }
      all += bestW
    }
    // R = U Vᵀ: R(i)(j) = Σ_p U(i)(p) · V(j)(order_p)
    val r = Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0
      var p = 0
      while (p < dim) { s += all(p)(i) * v(j)(usedOrder(p)); p += 1 }
      s
    }
    gramSchmidtRows(r)
    r
  }

  /** Modified Gram-Schmidt over rows IN ROW ORDER — restores
    * machine-precision orthonormality after the polar step (squaring M
    * into MᵀM squares its condition number; Jacobi's eigenvector error
    * leaves the raw polar factor only ~1e−5 orthogonal on
    * ill-conditioned data). Deterministic sequential folds; a
    * (numerically) zero row is left untouched rather than divided. */
  private[graft] def gramSchmidtRows(r: Array[Array[Double]]): Unit = {
    val dim = r.length
    var i = 0
    while (i < dim) {
      var p = 0
      while (p < i) {
        var dotv = 0.0
        var k = 0
        while (k < dim) { dotv += r(i)(k) * r(p)(k); k += 1 }
        k = 0
        while (k < dim) { r(i)(k) = r(i)(k) - dotv * r(p)(k); k += 1 }
        p += 1
      }
      var n2 = 0.0
      var k = 0
      while (k < dim) { n2 += r(i)(k) * r(i)(k); k += 1 }
      if (n2 > 0.0) {
        val inv = 1.0 / math.sqrt(n2)
        k = 0
        while (k < dim) { r(i)(k) = r(i)(k) * inv; k += 1 }
      }
      i += 1
    }
  }

  /** Train an OPQ model: covariance eigendecomposition → eigenvalue-
    * allocation rotation (the paper's parametric init — already the
    * variance-balancing step that delivers most of the recall lift) →
    * PQ codebooks on rotated vectors; then `opqIters` optional
    * alternations of (Procrustes rotation update from the exact
    * reconstruction cross-moment, codebook retrain). Every distributed
    * reduction is an exact integer sum and every driver step is a
    * fixed-op-order double computation, so the model is
    * partition-count independent (spec-asserted) and differentially
    * oracle-able (tools/replica.py replays it bit-for-bit). */
  def trainOpq(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, k: Int = 16, maxIter: Int = 5,
      opqIters: Int = 0): OpqModel = {
    val (sxx, sx, n) = liftedMoments(df, vecCol, dim)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      (sxx(i * dim + j).toDouble -
        sx(i).toDouble * sx(j).toDouble / n.toDouble) / n.toDouble
    }
    val (vals, vecs) = jacobiEigen(cov)
    var rot = allocationRotation(vals, vecs, dim, m)
    def trainBooks(r: Array[Array[Double]]): Model =
      train(df.select(col(idCol), rotateExpr(col(vecCol), r).as("__rx")),
        idCol, "__rx", dim, m, k, maxIter)
    var model = trainBooks(rot)
    var t = 0
    while (t < opqIters) {
      rot = polarRotation(reconstructionCross(df, vecCol, rot, model, dim),
        dim)
      model = trainBooks(rot)
      t += 1
    }
    OpqModel(rot, model)
  }

  /** OPQ store: the q81 layout over ROTATED vectors (bucket and codes
    * both computed in rotated space — probes rotate too, so pruning
    * behavior is self-consistent). */
  def writeStoreOpq(df: DataFrame, idCol: String, vecCol: String,
      path: String, opq: OpqModel, nBits: Int = 4): Unit =
    writeStore(
      df.select(col(idCol), rotateExpr(col(vecCol), opq.rotation).as("__rx")),
      idCol, "__rx", path, opq.pq, nBits)

  /** OPQ probe: [[topKApprox]] on the rotated probe (identical fold),
    * reranked on the ORIGINAL probe and vectors — rotation is invisible
    * in the final cosines. */
  def topKOpq(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], opq: OpqModel,
      k: Int, mCand: Int, nBits: Int = 4): DataFrame =
    VectorStore.rerank(topKApprox(spark, path, idCol,
        rotateVec(opq.rotation, probe), opq.pq, mCand, nBits),
      source, idCol, vecCol, VectorOps.vecLit(probe), k)
}
