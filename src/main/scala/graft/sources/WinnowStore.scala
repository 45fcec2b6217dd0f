package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming winnowing (MOSS) fingerprint store — the incremental
  * continuation of `Dedup.winnowingFingerprints`/`winnowedNearDups`
  * (q170/q171), the ST7 pattern every other dedup family already has
  * (SignatureStore for MinHash, MediaDedupStore for perceptual hashes,
  * ParagraphStore for boilerplate df): each micro-batch's selected
  * fingerprints are matched against the committed store, emitted
  * near-dup PAIRS land beside it, and the batch's selections join the
  * store for future batches.
  *
  * Store layout under `path`: `ingest=<key>/shard=<s>/` parquet rows
  * (fp = selected 32-hex md5 fingerprint, doc = document id), shard =
  * pmod(hash(fp), nShards). Rows are (fp, doc) FACTS, not counts —
  * probes read them DISTINCT, so [[compact]]'s distinct fold into
  * `ingest=base` is probe-identical by construction.
  *
  * Matching semantics, pinned: a batch emits every pair (id_a < id_b,
  * at least one side in the batch) sharing ≥ `minShared` fingerprints
  * whose CUMULATIVE df (visible store + this batch) is ≤ `maxFpDf` —
  * the q171 rule applied to the corpus-so-far. Incremental posture
  * (the ParagraphStore precedent): a fingerprint whose df grows past
  * the cap in a LATER batch keeps the pairs it already produced —
  * early matches survive. [[matchStore]] runs the exact q171 matching
  * over the drained store (it shares `winnowedPairsFromSelections`
  * with the batch operator), so whole-corpus answers are available at
  * any time and are IDENTICAL to `Dedup.winnowedNearDups` on the same
  * documents (spec-asserted).
  *
  * Crash replay follows the keyed-ingest contract ([[StoreFs]]), and
  * maintenance is the [[StoreFs]] protocol. Deletes are by DOC id (single column `doc`):
  * a deleted document stops matching at once. */
object WinnowStore extends MaintainedStore {

  protected def storeName = "WinnowStore"
  override protected def idColumn = Some("doc")

  /** `k`/`w`/`nShards` MUST match between ingests of one store. */
  final case class Params(k: Int = 8, w: Int = 4, maxFpDf: Int = 64,
      minShared: Int = 30, nShards: Int = 32)

  private def shardOf(fp: org.apache.spark.sql.Column, n: Int) =
    pmod(hash(fp), lit(n))

  /** This batch's distinct (fp, doc) winnowed selections (q170's
    * selection stage verbatim). */
  private[graft] def batchSelections(batch: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame =
    Dedup.winnowedSelections(batch, idCol, textCol, p.k, p.w)
      .select(substring(col("__mk"), 1, 32).as("fp"), col("doc"))
      .distinct()

  /** Idempotent per-micro-batch store write, one file per shard
    * directory ([[MaintainedStore.writeIngest]]). */
  private[graft] def appendBatch(sel: DataFrame, path: String,
      ingest: String, p: Params): Unit =
    writeIngest(path, ingest, sel
      .withColumn("shard", shardOf(col("fp"), p.nShards))
      .repartition(p.nShards, col("shard")), Seq("shard"))

  /** The store's visible distinct (fp, doc) rows: shard-pruned to the
    * probe's fingerprints when given, `excludeIngest` scopes a replay
    * to the pre-batch state, tombstoned DOCS never match. */
  private[graft] def visibleSelections(spark: SparkSession, path: String,
      p: Params, probeFps: Option[DataFrame],
      excludeIngest: Option[String]): DataFrame = {
    val stored0 = probeFps match {
      case Some(fps) =>
        val shards = fps
          .select(shardOf(col("fp"), p.nShards).as("s")).distinct()
          .collect().map(_.getInt(0)).toSeq
        spark.read.parquet(path).filter(col("shard").isin(shards: _*))
          .join(fps.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      case None => spark.read.parquet(path)
    }
    replayVisible(spark, path, stored0, excludeIngest)
      .select(col("fp"), col("doc")).distinct()
  }

  /** Cross-batch MOSS matching: pairs (id_a < id_b, n_shared ≥
    * minShared) over the cumulative-df-capped fingerprints, restricted
    * to pairs with at least one side IN THE BATCH (both-old pairs were
    * emitted by their own batches). */
  private[graft] def matchBatch(spark: SparkSession, sel: DataFrame,
      path: String, p: Params, excludeIngest: Option[String]): DataFrame = {
    val stored =
      if (StoreFs.hasCommittedData(spark, path))
        visibleSelections(spark, path, p, Some(sel), excludeIngest)
          .withColumn("__new", lit(false))
      else sel.limit(0).withColumn("__new", lit(false))
    // a doc re-ingested across batches: its stored rows duplicate the
    // batch rows — keep the NEW flag so the pair filter sees it once
    val union = sel.withColumn("__new", lit(true))
      .unionByName(stored.join(sel.select(col("doc")).distinct(),
        Seq("doc"), "left_anti"))
    Dedup.sharedKeyPairs(union, Nil, Seq("fp"), p.maxFpDf,
        pairPredicate = col("a.__new") || col("b.__new"))
      .filter(col("n_shared") >= p.minShared)
  }

  /** One micro-batch: select fingerprints, match against the committed
    * store (excluding this batch's own partition), write the pair
    * decisions and the batch's selections, each under the batch's
    * ingest key. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      idCol: String, textCol: String, path: String, pairsPath: String,
      p: Params): Unit = {
    val spark = batch.sparkSession
    val sel = batchSelections(batch, idCol, textCol, p).localCheckpoint()
    val pairs = matchBatch(spark, sel, path, p, Some(ingest))
      .localCheckpoint() // decide ONCE, before either write
    if (!pairs.isEmpty) writeSideSink(pairs, pairsPath, ingest)
    if (!sel.isEmpty) appendBatch(sel, path, ingest, p)
  }

  /** Drain a document stream with AvailableNow: per batch, near-dup
    * pairs against the corpus-so-far land under
    * `pairsPath/ingest=<key>` and the batch's selections join the
    * store. Replay-idempotent per the store contract. */
  def ingestMatch(stream: DataFrame, idCol: String, textCol: String,
      path: String, pairsPath: String, checkpoint: String,
      p: Params = Params())
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      processBatch(batch, ingest, idCol, textCol, path, pairsPath, p)
    }

  /** Whole-store q171 matching — IDENTICAL to
    * `Dedup.winnowedNearDups` over the ingested documents (same
    * shared matching code over the same per-doc selections; the df
    * cap is the store-wide df, not the incremental one). */
  def matchStore(spark: SparkSession, path: String,
      p: Params = Params()): DataFrame =
    Dedup.winnowedPairsFromSelections(
      visibleSelections(spark, path, p, None, None)
        .select(col("doc"), col("fp").as("__fp")),
      p.maxFpDf, p.minShared)

  /** Compact ([[MaintainedStore.compactWith]]): fold every per-batch
    * `ingest=` partition into `ingest=base` with DISTINCT (fp, doc)
    * rows. Probes read distinct, so results are identical by
    * construction (spec-asserted). */
  def compact(spark: SparkSession, path: String,
      p: Params = Params()): Unit =
    compactWith(spark, path) { (_, rows, staged) =>
      StoreFs.writer(rows.select(col("fp"), col("doc")).distinct()
        .withColumn("shard", shardOf(col("fp"), p.nShards))
        .withColumn("ingest", lit("base"))
        .repartition(p.nShards, col("shard")))
        .partitionBy("ingest", "shard").mode("overwrite")
        .parquet(staged)
    }
}
