package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming char-gram duplication scoring — the incremental (ST7)
  * continuation of the char-level dedup family (q87 `duplicatedSpans`,
  * q190 `sharedSubstringPairs`), the one dedup family that had no
  * store until r19: a persisted store of char `k`-gram document
  * frequencies (md5 digests, ADDITIVE counts — exactly
  * [[ParagraphStore]]'s contract over gram digests instead of
  * paragraph digests) lets each new micro-batch score its documents'
  * duplicated-substring fraction against the CUMULATIVE corpus
  * (prior ingests + the batch itself) without rescanning 100 TB.
  *
  * Store layout under `path`: `ingest=<key>/shard=<s>/` parquet rows
  * (h = md5 hex of the char k-gram — the q170/q190 digest idiom, cnt =
  * batch docs containing the gram; grams are DISTINCT per doc, so the
  * count IS the batch df). shard = pmod(hash(h), nShards); a probe
  * collects its own shard set (≤ nShards ints, driver-bounded) and
  * Catalyst prunes every other shard directory. Counts are ADDITIVE:
  * probes SUM across ingest partitions, so [[compact]]'s re-aggregation
  * into `ingest=base` is probe-identical BY CONSTRUCTION.
  *
  * Incremental semantics, pinned: a batch document's score counts a
  * gram as duplicated iff its CUMULATIVE df (batches 0..i) ≥ 2 — i.e.
  * batch i's scored rows equal `Dedup.duplicatedSpans` over the
  * CONCATENATION of batches 0..i restricted to batch i's docs
  * (spec-asserted bit-identical); earlier batches' scores do NOT
  * retro-update when later copies arrive — the standard incremental
  * posture (re-run the corpus as one batch for the symmetric answer).
  *
  * Crash replay follows the keyed-ingest contract ([[StoreFs]]), and
  * maintenance is the [[StoreFs]] protocol. Deletes are by gram digest (single column
  * `h`, the md5 hex of the char k-gram): known boilerplate stops
  * counting at once.
  */
object SubstringStore extends DigestCountStore {

  protected def storeName = "SubstringStore"

  /** `k`/`nShards` MUST match between ingests of one store. */
  final case class Params(k: Int = 32, nShards: Int = 32)

  /** This batch's (doc, h) gram-digest stream: DISTINCT char k-grams
    * per doc (the q87 span semantics), md5-digested. Docs shorter than
    * k have no gram and are excluded — the q87 contract. */
  private def batchGrams(batch: DataFrame, idCol: String,
      textCol: String, p: Params): DataFrame =
    Dedup.spanStream(batch, idCol, textCol, p.k)
      .select(col("doc"), md5(col("span")).as("h"))

  /** Idempotent per-micro-batch store write ([[writeCounts]]). */
  private[graft] def appendBatch(counts: DataFrame, path: String,
      ingest: String, p: Params): Unit =
    writeCounts(counts, path, ingest, p.nShards)

  /** Prior corpus df for exactly the digests in `hashes`
    * ([[digestPrior]]). */
  private[graft] def priorDf(spark: SparkSession, path: String,
      hashes: DataFrame, p: Params,
      excludeIngest: Option[String]): DataFrame =
    digestPrior(spark, path, hashes, p.nShards, excludeIngest)

  /** One micro-batch: digest grams, decide duplication against the
    * CUMULATIVE df (committed store excluding this batch's own
    * partition, + the batch's own counts), write per-doc scores
    * (id, total_spans, dup_spans, dup_ppm — exact integers) and the
    * batch's df rows, each under the batch's ingest key. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      idCol: String, textCol: String, path: String, scoredPath: String,
      p: Params): Unit = {
    val spark = batch.sparkSession
    // NO eager checkpoint on the gram-mass frames (the r5/q96 lessons,
    // re-measured r20): grams ≈ Σ doc-len rows — localCheckpointing
    // that twice through block storage cost 702 s at m30 where the
    // shape below reads ~q87's batch cost. grams recomputes its
    // charShingles+md5 kernel per consumer (cheaper than
    // materializing); counts (consumed by the shard collect, the
    // scoring join and the store append) gets a LAZY serialized
    // persist — it materializes inside the first consumer's job
    // instead of paying a separate pass. Every aggregate is
    // exact-integer, so recompute is bit-identical by construction.
    val grams = batchGrams(batch, idCol, textCol, p)
    val counts = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val totals = withCumulative(spark, path, counts, p.nShards, ingest)
      // agg-then-rejoin over the gram stream: merge hint (the r13 rule —
      // the digest side is gram-mass-sized on mostly-unique text)
      val scored = grams
        .join(totals.select(col("h"), col("__tot")).hint("merge"), Seq("h"))
        .groupBy(col("doc"))
        .agg(count(lit(1)).as("total_spans"),
          sum(when(col("__tot") >= 2L, 1L).otherwise(0L)).as("dup_spans"))
        .select(col("doc").as(idCol), col("total_spans"), col("dup_spans"),
          expr("dup_spans * 1000000L DIV total_spans").as("dup_ppm"))
        .localCheckpoint() // evaluate the decision ONCE, before any write
      val noGrams = scored.isEmpty
      if (!noGrams) writeSideSink(scored, scoredPath, ingest)
      // scored is empty IFF no doc emitted a gram IFF counts is empty
      // (every gram belongs to a doc and every doc with >= 1 gram gets
      // a scored row) — reuse the checkpointed decision instead of
      // re-evaluating the gram aggregation for an emptiness probe
      if (!noGrams) appendBatch(counts, path, ingest, p)
    } finally {
      counts.unpersist()
      ()
    }
  }

  /** Drain a document stream with AvailableNow: per batch, each doc's
    * duplicated-substring score against the cumulative corpus lands
    * under `scoredPath/ingest=<key>`, and the batch's gram-df rows
    * join the store. Replay-idempotent per the store contract. */
  def ingestScore(stream: DataFrame, idCol: String, textCol: String,
      path: String, scoredPath: String, checkpoint: String,
      p: Params = Params())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(p.k >= 1, s"gram length must be >= 1: ${p.k}")
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      processBatch(batch, ingest, idCol, textCol, path, scoredPath, p)
    }
  }

  /** The id rule: every delete must name its column `h`, not just
    * match the first delete's name, so a misnamed column cannot lock
    * the store into an undocumented name. */
  override protected def tombstoneIds(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    require(ids.columns.head == "h",
      s"delete expects the gram-digest column to be named 'h' " +
        s"(md5 hex of the char k-gram), got '${ids.columns.head}'")
    ids
  }

  /** Compact ([[compactCounts]]): probe results are identical by
    * construction (spec-asserted). */
  def compact(spark: SparkSession, path: String,
      p: Params = Params()): Unit =
    compactCounts(spark, path, p.nShards)
}
