package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Persisted vector store with a partition-pruned probe path — the
  * disk-layout upgrade of the reference's pgvector table
  * (`src/rag/sqlx.rs:42`, read back whole by `SELECT *`,
  * `src/rag/sqlx.rs:84-92`) for a corpus where "read back whole" is
  * 100 TB. Vectors are written `partitionBy` their hyperplane-LSH
  * bucket, so a probe reads ONLY its own bucket directory plus the
  * `nprobe` hamming-adjacent ones: Catalyst prunes every other
  * partition at planning time (`PartitionFilters` on the scan — the
  * spec asserts it), and the exact-rerank cosine join runs over
  * buckets/2^bits of the data instead of all of it.
  *
  * The bucket function is the same deterministic hyperplane signature
  * the in-memory ANN path uses (`Similarity.annJoin`), so recall
  * behavior is identical; the store only changes WHERE the candidate
  * set lives (directory layout vs a shuffled join side).
  */
object VectorStore extends MaintainedStore {

  protected def storeName = "VectorStore"

  /** Bucket id: the `nBits`-bit hyperplane signature packed MSB-first
    * into an int (0 .. 2^nBits-1). One kernel pass per row — the
    * sum-of-element_at formulation re-evaluated the signature kernel
    * nBits times on the full-corpus write path. */
  def bucketOf(vec: Column, nBits: Int): Column =
    graft.expressions.VectorExpressions.hyperplaneBucket(vec, nBits)

  /** Write the corpus partitioned by bucket, one file per bucket
    * directory ([[StoreFs.writePartitioned]]: per-file cost, not
    * bytes, dominates a small store write). At scale each bucket
    * directory holds ~N/2^nBits vectors; `nBits` sizes the pruning
    * ratio (4 bits → 16 directories → a 1-probe read touches ~6% of
    * the store). */
  def write(df: DataFrame, idCol: String, vecCol: String, path: String,
      nBits: Int = 4): Unit =
    StoreFs.writePartitioned(withBucket(df, idCol, vecCol, nBits), "bucket",
      path, "overwrite", lockPath(path), "VectorStore write")

  /** Incremental index maintenance: append a (micro-)batch of vectors
    * — same layout, same bucket function, ONE new file inside each
    * bucket directory the batch touches, so probes see them with no
    * reorganization. One file per (batch, bucket) rather than per
    * (task, bucket), because every file's footer, `.crc` and
    * permission calls cost more than a micro-batch's bytes
    * ([[StoreFs.writePartitioned]]). This is the `foreachBatch` body
    * of a streaming ingest ([[appendStream]]). It appends plainly, so a
    * replayed batch appends its rows again: delivery into the store is
    * at-least-once. */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String,
      nBits: Int = 4): Unit =
    StoreFs.writePartitioned(withBucket(df, idCol, vecCol, nBits), "bucket",
      path, "append", lockPath(path), "VectorStore append")

  private def withBucket(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int): DataFrame =
    df.select(col(idCol), col(vecCol), bucketOf(col(vecCol), nBits).as("bucket"))

  /** Streaming index build: drain `stream` into the store with
    * AvailableNow (the reference's drain-then-stop ingest shape,
    * `src/signal/poll.rs` per SURVEY §2.8). Each micro-batch is one
    * [[append]], so it adds one file per bucket directory it touches,
    * whatever the batch's task count. A store built by streaming
    * micro-batches equals a batch-built store — asserted in
    * VectorStoreSpec. Delivery is AT-LEAST-ONCE: a batch whose append
    * landed but whose checkpoint commit did not (a crash between the
    * two) is appended again on restart, so its rows are stored twice.
    * The keyed stores' replay rule ([[StoreFs]]) would need an `ingest`
    * level under `bucket`, a layout change. */
  def appendStream(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String,
      nBits: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.drain(stream, checkpoint) { (batch, _) =>
      append(batch, idCol, vecCol, path, nBits)
    }

  // --- deletes (the StoreFs protocol) ---------------------------------

  /** The id rule: a delete names the id column itself (probe outputs
    * feed deletes), and probes rename the tombstone column to theirs,
    * so a column the store lacks would pass every probe and fail
    * compaction. The store schema comes from one footer on the driver:
    * no job fires. */
  override protected def tombstoneIds(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val c = ids.columns.head
    StoreFs.readCommitted(spark, path).foreach { store =>
      require(store.columns.contains(c),
        s"delete id column '$c' not in store schema " +
          store.columns.mkString(","))
    }
    ids
  }

  /** Compact the store in place ([[MaintainedStore.compactWith]]):
    * rewrite every bucket directory to ONE file (all rows of a bucket
    * hash to the same task under `repartition(n, bucket)`). A daily
    * [[appendStream]] accretes one file per (batch, bucket); probe
    * scans degrade linearly with file count even when partition
    * pruning works. The compacted layout gives BIT-IDENTICAL probe
    * results (same rows, same schema; spec-asserted). Works unchanged
    * on the quantized and `Pq` stores: every non-partition column
    * passes through. The lease also excludes [[write]],
    * [[writeQuantized]] and the `Pq` store writers. */
  def compact(spark: SparkSession, path: String, nBits: Int = 4,
      partCol: String = "bucket"): Unit =
    compactWith(spark, path) { (_, rows, staged) =>
      StoreFs.writer(rows.repartition(1 << nBits, col(partCol)))
        .partitionBy(partCol).mode("overwrite").parquet(staged)
    }

  /** The probe's bucket plus its `1+nBits` hamming≤1 neighbors —
    * multi-probe compensates for boundary vectors the way the
    * in-memory LSH path's extra bands do. The probe's own bucket is a
    * constant: the bucket kernel is evaluated on the driver over the
    * probe literal (the interpreted path `ConstantFolding` would run,
    * bit-identical to the per-row [[bucketOf]]), so no job fires. */
  def probeBuckets(spark: SparkSession, probe: Seq[Double], nBits: Int = 4): Seq[Int] = {
    val b = graft.expressions.HyperplaneBucketExpr(
      GraftShims.expression(VectorOps.vecLit(probe)), nBits).eval().asInstanceOf[Int]
    b +: (0 until nBits).map(i => b ^ (1 << i))
  }

  /** Read ONLY the probe's bucket directories — the filter on the
    * partition column never touches row data (no bucket column exists
    * inside the files), so the scan's `PartitionFilters` does all the
    * work and pruned directories are never opened. */
  def readCandidates(spark: SparkSession, path: String,
      buckets: Seq[Int]): DataFrame =
    committedRead(spark, path).filter(col("bucket").isin(buckets: _*))

  /** End-to-end probe: top-k by exact cosine over the pruned candidate
    * set. */
  def topK(spark: SparkSession, path: String, idCol: String, vecCol: String,
      probe: Seq[Double], k: Int, nBits: Int = 4): DataFrame =
    exactTop(withoutDeleted(spark, path,
        readCandidates(spark, path, probeBuckets(spark, probe, nBits)), idCol),
      idCol, vecCol, VectorOps.vecLit(probe), k)

  // --- the ANN probe protocol -----------------------------------------

  /** The ANN probe protocol. Every vector-index probe ([[topK]],
    * [[topKQuantized]], the five `Pq` probes, `Vamana.topK`,
    * `VamanaStore`'s) is one pruning-and-verification frame (REPOSE,
    * ICDE 2021); an index supplies only its candidate filter (buckets,
    * cells, per-cell residual branches or graph beams) and its
    * approximate scorer:
    *  1. this committed read, with the index's partition filter;
    *  2. [[withoutDeleted]], once per probe before the `mCand` cut —
    *     store-read indexes mask the rows they read, graph indexes
    *     their beams, because deleted nodes still route;
    *  3. [[approxTop]]: the top `mCand` by the approximate score;
    *  4. [[rerank]]: only the survivors fetch their exact vectors from
    *     `source`, the system of record; top `k` by 6-dp cosine
    *     (sim desc, id). With `mCand` ≥ the candidate set this equals
    *     the full-precision probe (spec-asserted per index).
    * The store and tombstone schemas come from one footer each, so
    * building a single probe fires no job. With no committed data the
    * read falls through to `spark.read.parquet`, whose path error is
    * what [[withReadRetry]] retries mid-swap. */
  private[graft] def committedRead(spark: SparkSession,
      path: String): DataFrame =
    StoreFs.readCommitted(spark, path).getOrElse(spark.read.parquet(path))

  /** `rows` without the logically deleted ids of the store at `path`.
    * The tombstone frame's single column is renamed to `idCol`, so the
    * caller's column naming at probe time always wins. */
  private[graft] def withoutDeleted(spark: SparkSession, path: String,
      rows: DataFrame, idCol: String): DataFrame =
    StoreFs.tombstones(spark, path).fold(rows) { t =>
      rows.join(broadcast(t.toDF(idCol)), Seq(idCol), "left_anti")
    }

  /** The masked approximate stage: the top `mCand` of `scored` by
    * (`order`, id). */
  private[graft] def approxTop(spark: SparkSession, path: String,
      scored: DataFrame, idCol: String, order: Column,
      mCand: Int): DataFrame =
    withoutDeleted(spark, path, scored, idCol)
      .orderBy(order, col(idCol))
      .limit(mCand)

  /** The exact rerank of `cands` against `probe`: top `k` by
    * (sim desc, id), or top `k` per `perProbe` key when `cands` holds
    * several probes' candidates and `probe` is their vector column. */
  private[graft] def rerank(cands: DataFrame, source: DataFrame,
      idCol: String, vecCol: String, probe: Column, k: Int,
      perProbe: Option[String] = None): DataFrame =
    exactTop(cands.join(source.select(col(idCol), col(vecCol)), Seq(idCol)),
      idCol, vecCol, probe, k, perProbe)

  private def exactTop(rows: DataFrame, idCol: String, vecCol: String,
      probe: Column, k: Int, perProbe: Option[String] = None): DataFrame = {
    val scored = rows.select(perProbe.map(col).toSeq ++ Seq(col(idCol),
      VectorOps.cosine6(col(vecCol), probe).as("sim")): _*)
    perProbe.fold(scored.orderBy(col("sim").desc, col(idCol)).limit(k)) { p =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col(p))
        .orderBy(col("sim").desc, col(idCol))
      scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k).drop("__rk")
    }
  }

  // --- int8-quantized store (4× smaller on disk) ----------------------

  /** Write the corpus int8-quantized: same partitionBy(bucket) layout
    * (one file per bucket, through [[StoreFs.writePartitioned]]),
    * but each vector is stored as 1 byte per dimension (packed BINARY
    * codes + per-vector affine vmin/scale — `Int8Encode` kernel, one
    * pass) instead of 4-byte floats. This is the "compress before
    * indexing" step a 100 TB embedding corpus takes: the probe scores
    * candidates from the codes directly and the exact vectors are only
    * fetched per surviving top-M id ([[topKQuantized]]). The bucket is
    * computed from the ORIGINAL vector, so pruning behavior is
    * identical to the full-precision store. */
  def writeQuantized(df: DataFrame, idCol: String, vecCol: String,
      path: String, nBits: Int = 4): Unit = {
    val enc = graft.expressions.VectorExpressions.int8Encode(col(vecCol))
    StoreFs.writePartitioned(
      df.select(col(idCol),
        bucketOf(col(vecCol), nBits).as("bucket"),
        enc.getField("codes").as("codes"),
        enc.getField("vmin").as("vmin"),
        enc.getField("scale").as("scale")),
      "bucket", path, "overwrite", lockPath(path), "VectorStore writeQuantized")
  }

  /** Approximate top-m over the quantized store: partition-pruned read,
    * cosine computed straight from the packed codes (`Int8Cosine`
    * kernel — dequantized values never materialize as an array). */
  def topKQuantizedApprox(spark: SparkSession, path: String, idCol: String,
      probe: Seq[Double], m: Int, nBits: Int = 4): DataFrame =
    approxTop(spark, path,
      readCandidates(spark, path, probeBuckets(spark, probe, nBits))
        .select(col(idCol),
          round(graft.expressions.VectorExpressions.int8Cosine(
            col("codes"), col("vmin"), col("scale"), probe), 6).as("qsim")),
      idCol, col("qsim").desc, m)

  /** Quantized-store probe: [[topKQuantizedApprox]], then the exact
    * [[rerank]]. Smaller `m` trades recall for fetch volume against the
    * quantization error bound (scale/2 per dimension). */
  def topKQuantized(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], k: Int,
      m: Int, nBits: Int = 4): DataFrame =
    rerank(topKQuantizedApprox(spark, path, idCol, probe, m, nBits), source,
      idCol, vecCol, VectorOps.vecLit(probe), k)
}
