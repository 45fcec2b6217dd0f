package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Persisted MinHash signature store + incremental (batch-vs-corpus)
  * near-dup dedup — the daily operation of a real training pipeline,
  * and the reference's documented failure mode: its ingest has no
  * unique key, so re-running re-inserts every row
  * (`src/rag/sqlx.rs:34-45`, SURVEY §2.8 ST7). All corpus-self dedup
  * ops (`Dedup.minhashNearDups` et al.) rescan the whole corpus; this
  * store lets a NEW batch be deduped against 100 TB of already-ingested
  * corpus by reading only the shards its candidate buckets live in.
  *
  * Layout under `path`:
  *   bands/    (doc, band, bucket)  partitionBy(ingest, shard)
  *   shingles/ (doc, sh)            partitionBy(ingest)
  * where shard = pmod(hash(bucket), nShards) and `ingest` identifies
  * the write that produced the rows ("base" for bulk builds, a
  * (stream, batchId)-derived key for streaming micro-batches). A small
  * batch touches few distinct (band, bucket) pairs, hence few shards —
  * the probe collects its shard set (bounded by nShards, a driver-side
  * constant, never corpus-sized) and Catalyst prunes every other shard
  * directory at planning time (`PartitionFilters`, spec-asserted). The
  * shingle sets — the bulk of the bytes — never ride the candidate
  * join: they rejoin per SURVIVING pair from `shingles/`, the same
  * late-materialization shape as `minhashNearDups` (r2 q48 finding).
  *
  * The `ingest` partition level makes streaming ingest crash-replay
  * idempotent under the keyed-ingest contract ([[StoreFs]]). With plain
  * appends, a crash between the store append and the accepted append
  * made the replayed rows near-dups of their own prior insertion: they
  * dropped out and never reached the accepted sink (the r8 data-loss
  * window).
  *
  * Maintenance is the [[StoreFs]] protocol over two surfaces, `bands/`
  * and `shingles/`, with the lease at `<path>/_compact_lock` and the
  * tombstones at `<path>/_tombstones` (by `doc`; a deleted doc never
  * acts as dedup evidence).
  */
object SignatureStore extends MaintainedStore {

  protected def storeName = "SignatureStore"
  override private[graft] def lockPath(path: String): String =
    path + "/_compact_lock"
  override protected def surfaces(path: String): Seq[String] =
    Seq(path + "/bands", path + "/shingles")
  override protected def idColumn = Some("doc")

  /** Banding parameters; MUST match between store build and probe
    * (defaults = the production 0.8-threshold regime of
    * `Similarity.nearDupPairsLsh`; fixture callers pin 16×1 per the
    * r2 banding-math note). */
  final case class Params(shingleK: Int = 3, nBands: Int = 8,
      rowsPerBand: Int = 2, nShards: Int = 32)

  /** Parallelize-first exchange for the kernel passes: fixture files
    * are single-row-group (one scan partition), and at scale the fan
    * spreads the shingle/minhash compute regardless of file layout. */
  private def fanned(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc"))

  private def banded(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame = {
    val nHashes = p.nBands * p.rowsPerBand
    fanned(df, idCol, textCol)
      .select(col("doc"),
        Dedup.shingles(col("__text"), p.shingleK).as("sh"))
      .select(col("doc"),
        Dedup.minhashSignature(col("sh"), nHashes).as("sig"))
      .select(col("doc"),
        Dedup.bandKeys(col("sig"), p.nBands, p.rowsPerBand, ":")
          .as(Seq("band", "bucket")))
      .withColumn("shard", pmod(hash(col("bucket")), lit(p.nShards)))
  }

  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
      p: Params): DataFrame =
    fanned(df, idCol, textCol)
      .select(col("doc"), Dedup.shingles(col("__text"), p.shingleK).as("sh"))

  /** The two surfaces' rows for one write of `df`, each with its
    * surface dir and its partition columns below `ingest`. The index
    * re-exchanges on `shard` so each shard directory gets one file per
    * write, not one per compute task. */
  private def surfaceRows(df: DataFrame, idCol: String, textCol: String,
      p: Params): Seq[(String, DataFrame, Seq[String])] = Seq(
    ("/bands", banded(df, idCol, textCol, p)
      .repartition(p.nShards, col("shard")), Seq("shard")),
    ("/shingles", shingleRows(df, idCol, textCol, p), Nil))

  /** Build (or extend, with mode=append) the store from a document
    * frame — two linear passes over the input (banded index, then
    * shingle payload), both under `ingest=base`. */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
      p: Params = Params(), mode: String = "overwrite"): Unit = {
    // writer-vs-compact exclusion: fail fast instead of writing into a
    // surface compact() is about to rename away (see StoreFs lease note)
    failIfLeased(df.sparkSession, path, "base")
    surfaceRows(df, idCol, textCol, p).foreach { case (surface, rows, parts) =>
      StoreFs.writer(rows.withColumn("ingest", lit("base")))
        .partitionBy("ingest" +: parts: _*).mode(mode)
        .parquet(path + surface)
    }
  }

  /** Incremental index maintenance — new files land inside the existing
    * `ingest=base` directories, no reorganization (same posture as
    * `VectorStore.append`; run [[compact]] periodically). */
  def append(df: DataFrame, idCol: String, textCol: String, path: String,
      p: Params = Params()): Unit =
    write(df, idCol, textCol, path, p, mode = "append")

  /** Idempotent per-micro-batch write: both store surfaces land under
    * `ingest=<key>` through [[MaintainedStore.writeIngest]]. */
  private[graft] def appendBatch(df: DataFrame, idCol: String,
      textCol: String, path: String, ingest: String,
      p: Params = Params()): Unit =
    surfaceRows(df, idCol, textCol, p).foreach { case (surface, rows, parts) =>
      writeIngest(path, ingest, rows, parts, surface)
    }

  /** Streaming ingest into the signature store (AvailableNow drain —
    * the reference's drain-then-stop shape). Replay-idempotent per the
    * keyed-ingest contract ([[StoreFs]]). */
  def appendStream(stream: DataFrame, idCol: String, textCol: String,
      path: String, checkpoint: String,
      p: Params = Params()): org.apache.spark.sql.streaming.StreamingQuery =
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      appendBatch(batch, idCol, textCol, path, ingest, p)
    }

  /** Near-dup pairs between a NEW batch and the persisted corpus:
    * (id_new, id_stored, jaccard ≥ threshold). The batch's banded rows
    * equi-join the store's banded index on (band, bucket) — restricted,
    * at planning time, to the shards the batch's buckets hash into —
    * then exact Jaccard verifies each surviving DISTINCT pair over
    * shingle sets (batch side recomputed, store side read from
    * `shingles/`). Never compares batch-internal pairs (run
    * `Dedup.minhashNearDups` on the batch for those).
    * `excludeIngest` drops one ingest partition from the probe's view —
    * [[ingestDedup]] passes the current batch's own key so a replay
    * decides against exactly the pre-batch store state.
    *
    * 100 TB cost: the candidate join ships only (band, bucket, id)
    * triples from the pruned shards; the driver materializes only the
    * DISTINCT shard list (≤ nShards ints). */
  def dedupAgainstStore(batch: DataFrame, idCol: String, textCol: String,
      path: String, p: Params = Params(),
      jaccardThreshold: Double = 0.8,
      excludeIngest: Option[String] = None): DataFrame =
    storePairsRaw(batch, idCol, textCol, path, p, excludeIngest)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_new"), col("id_stored"),
        round(col("jaccard"), 6).as("jaccard"))

  /** The shard-pruned candidate join + exact-Jaccard verify shared by
    * [[dedupAgainstStore]] (raw-threshold, its long-standing contract)
    * and [[decontaminateAgainstStore]] (round-then-threshold, the q99
    * rule): (id_new, id_stored, jaccard) UNfiltered and UNrounded. */
  private def storePairsRaw(batch: DataFrame, idCol: String,
      textCol: String, path: String, p: Params,
      excludeIngest: Option[String]): DataFrame = {
    val spark = batch.sparkSession
    // logically deleted docs never act as dedup evidence
    def visible(df: DataFrame): DataFrame =
      replayVisible(spark, path, df, excludeIngest)
    val batchBanded = banded(batch, idCol, textCol, p)
    val shards = batchBanded.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val stored = visible(spark.read.parquet(path + "/bands"))
      .filter(col("shard").isin(shards: _*))
    val candidates = batchBanded
      .select(col("band"), col("bucket"), col("doc").as("id_new"))
      .join(stored.select(col("band"), col("bucket"), col("doc").as("id_stored")),
        Seq("band", "bucket"))
      .select(col("id_new"), col("id_stored"))
      .distinct()
    val batchSh = shingleRows(batch, idCol, textCol, p)
    candidates
      .join(batchSh.select(col("doc").as("id_new"), col("sh").as("__sha")), "id_new")
      .join(visible(spark.read.parquet(path + "/shingles"))
        .select(col("doc").as("id_stored"), col("sh").as("__shb")), "id_stored")
      .withColumn("jaccard", Dedup.jaccard(col("__sha"), col("__shb")))
  }

  /** Store-to-store decontamination — the batch form of the
    * contamination surfaces (q63/q84/q99/q127/q185) when the BENCHMARK
    * lives as a persisted SignatureStore rather than a frame: eval
    * suites are curated once and probed by every pretraining run, so
    * the production shape is "corpus vs committed store", not "corpus
    * vs recomputed frame". Flags corpus documents that near-dup-match
    * (exact Jaccard ≥ `jaccardThreshold` over word k-shingle sets) any
    * COMMITTED, non-tombstoned benchmark document, reading only the
    * shards the corpus's candidate buckets hash into (the
    * [[dedupAgainstStore]] partition-pruned probe). Semantics are
    * IDENTICAL to `Curation.decontaminateFuzzy(corpus, benchFrame)` at
    * the same `Params` — same banding, same round-BEFORE-threshold
    * keep rule (the q99 bit-stability discipline), same output
    * (id, n_matches, max_jaccard) — spec-pinned equal; a tombstoned
    * benchmark doc stops flagging immediately (the delete contract).
    * 100 TB posture: the benchmark side is eval-suite-sized by
    * construction; the corpus side streams through one banded pass +
    * the pruned equi-join, shingle payloads late-materialized per
    * surviving DISTINCT pair. */
  def decontaminateAgainstStore(corpus: DataFrame, idCol: String,
      textCol: String, path: String, p: Params = Params(),
      jaccardThreshold: Double = 0.8): DataFrame =
    storePairsRaw(corpus, idCol, textCol, path, p, None)
      .withColumn("__j", round(col("jaccard"), 6))
      .filter(col("__j") >= jaccardThreshold)
      .groupBy(col("id_new"))
      .agg(count(lit(1)).as("n_matches"), max(col("__j")).as("max_jaccard"))
      .select(col("id_new").as(idCol), col("n_matches"), col("max_jaccard"))

  /** The store read a probe performs, exposed for plan inspection
    * (the spec asserts `PartitionFilters` carries the shard filter). */
  def readShards(spark: SparkSession, path: String, shards: Seq[Int]): DataFrame =
    spark.read.parquet(path + "/bands").filter(col("shard").isin(shards: _*))

  /** The keep decision for one micro-batch: collapse exact within-batch
    * duplicates (deterministic keep-lowest-id), then drop documents
    * that near-dup-match the ALREADY-COMMITTED corpus — excluding this
    * batch's own ingest partition, so a crash-replay decides against
    * exactly the same store state the original attempt saw.
    * `localCheckpoint` because both sink writes scan the result and the
    * second must not recompute against a store the first just changed. */
  private[graft] def decideKept(batch: DataFrame, ingest: String,
      idCol: String, textCol: String, path: String, p: Params,
      jaccardThreshold: Double): DataFrame = {
    val exact = Dedup.exact(batch, idCol, textCol)
    val keep =
      if (!StoreFs.hasCommittedData(batch.sparkSession, path + "/bands")) exact
      else {
        val dupIds = dedupAgainstStore(exact, idCol, textCol, path, p,
          jaccardThreshold, excludeIngest = Some(ingest))
          .select(col("id_new").as(idCol)).distinct()
        exact.join(dupIds, Seq(idCol), "left_anti")
      }
    keep.localCheckpoint()
  }

  /** One micro-batch of [[ingestDedup]], exposed so the crash-replay
    * spec can reproduce a partial state (store written, accepted sink
    * not) and then replay. Both writes are keyed by `ingest` and
    * overwrite their own partitions, so any replay — after a crash
    * between the two writes included — converges to exactly one copy
    * of every survivor in both sinks. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      idCol: String, textCol: String, path: String, acceptedPath: String,
      p: Params, jaccardThreshold: Double): Unit = {
    val kept = decideKept(batch, ingest, idCol, textCol, path, p,
      jaccardThreshold)
    if (!kept.isEmpty) {
      appendBatch(kept, idCol, textCol, path, ingest, p)
      writeSideSink(kept, acceptedPath, ingest)
    }
  }

  /** The daily operation end-to-end, streaming: drain `stream` with
    * AvailableNow, and for each micro-batch KEEP only documents that
    * are NOT near-dups of the already-ingested corpus — survivors are
    * written to both the signature store and `acceptedPath`, so a
    * re-ingest of the same data inserts nothing (the exact failure the
    * reference ships, `src/rag/sqlx.rs:34-45`: its ingest re-inserts
    * every row). Batch→batch ordering is serial under AvailableNow.
    *
    * Crash-replay idempotence (the r8 defect, fixed) is the keyed-ingest
    * contract ([[StoreFs]]): a replayed batch re-derives the identical
    * survivor set and overwrites its own partitions, whether the crash
    * hit before, between, or after the two writes. */
  def ingestDedup(stream: DataFrame, idCol: String, textCol: String,
      path: String, acceptedPath: String, checkpoint: String,
      p: Params = Params(), jaccardThreshold: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      processBatch(batch, ingest, idCol, textCol, path, acceptedPath, p,
        jaccardThreshold)
    }

  /** Compact the store in place ([[MaintainedStore.compactWith]]):
    * rewrite both surfaces into the single `ingest=base` partition at
    * one file per shard (bands) / a bounded file count (shingles). A
    * daily [[appendStream]]/[[ingestDedup]] accretes one ingest
    * partition with up to nShards files per batch; probe scans degrade
    * with file count even when pruning works. The compacted layout
    * gives BIT-IDENTICAL probe results (same rows, same schema;
    * spec-asserted). The tombstone dir lives outside both surfaces, so
    * the snapshot's files are removed only after both swaps commit: a
    * crash between them leaves the delete in force, and a re-run
    * re-applies it as a no-op. */
  def compact(spark: SparkSession, path: String, p: Params = Params()): Unit =
    compactWith(spark, path) { (live, rows, staged) =>
      if (live == path + "/bands")
        StoreFs.writer(rows.select(col("doc"), col("band"), col("bucket"),
            col("shard"))
          .withColumn("ingest", lit("base"))
          .repartition(p.nShards, col("shard")))
          .partitionBy("ingest", "shard").mode("overwrite").parquet(staged)
      else
        StoreFs.writer(rows.select(col("doc"), col("sh"))
          .withColumn("ingest", lit("base"))
          .repartition(spark.sparkContext.defaultParallelism))
          .partitionBy("ingest").mode("overwrite").parquet(staged)
    }
}
