package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming paragraph-boilerplate dedup — the incremental continuation
  * of `Dedup.dropDuplicateParagraphs` (q154), the way
  * [[SignatureStore.ingestDedup]] continues the batch near-dup ops and
  * [[MediaDedupStore]] continues the perceptual-hash ones: a persisted
  * store of paragraph DOCUMENT FREQUENCIES lets each new micro-batch
  * drop paragraphs whose CUMULATIVE corpus df (prior ingests + this
  * batch) exceeds `maxDf` — the CCNet boilerplate killer run as the
  * daily operation instead of a whole-corpus rescan.
  *
  * Store layout under `path`: `ingest=<key>/shard=<s>/` parquet rows
  * (h = sha2 paragraph digest, cnt = docs of that ingest containing
  * the paragraph), shard = pmod(hash(h), nShards). A batch probe
  * collects its own shard set (≤ nShards ints, driver-bounded) and
  * Catalyst prunes every other shard directory; counts are ADDITIVE,
  * so probes SUM across ingest partitions and [[compact]]'s
  * re-aggregation into `ingest=base` is probe-identical by
  * construction. df counts each INGESTED DOC once (exactly-once batch
  * semantics — the streaming checkpoint — make the per-batch
  * distinct-doc counts disjoint).
  *
  * Incremental semantics, pinned: a paragraph is kept while cumulative
  * df ≤ maxDf, so EARLY copies survive and later ones drop — the
  * standard incremental posture (re-running the corpus as one batch
  * gives q154's symmetric answer instead). Crash replay follows the
  * keyed-ingest contract ([[StoreFs]]).
  *
  * Maintenance is the [[StoreFs]] protocol. Deletes are by paragraph
  * digest (single column `h`, the sha2 hex of the trimmed paragraph):
  * known boilerplate or PII strings stop counting at once.
  */
object ParagraphStore extends DigestCountStore {

  protected def storeName = "ParagraphStore"

  /** `sep`/`nShards` MUST match between ingests of one store. */
  final case class Params(sep: String = "\n", nShards: Int = 32)

  /** This batch's paragraph document frequencies: (h, cnt) with cnt =
    * DISTINCT batch docs containing the paragraph (q154's df axis). */
  private def batchCounts(segs: DataFrame): DataFrame =
    segs.select(col("__h").as("h"), col("__id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))

  /** Idempotent per-micro-batch store write ([[writeCounts]]). */
  private[graft] def appendBatch(counts: DataFrame, path: String,
      ingest: String, p: Params): Unit =
    writeCounts(counts, path, ingest, p.nShards)

  /** Prior corpus df for exactly the hashes in `hashes`
    * ([[digestPrior]]). */
  private[graft] def priorDf(spark: SparkSession, path: String,
      hashes: DataFrame, p: Params,
      excludeIngest: Option[String]): DataFrame =
    digestPrior(spark, path, hashes, p.nShards, excludeIngest)

  /** One micro-batch: split paragraphs, decide keeps against the
    * CUMULATIVE df (committed store, excluding this batch's own
    * partition, + this batch's counts), write the reassembled cleaned
    * docs and the batch's df rows, each under the batch's ingest key. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      idCol: String, textCol: String, path: String, cleanedPath: String,
      p: Params, maxDf: Long): Unit = {
    val spark = batch.sparkSession
    val segs = Dedup.paragraphSegments(batch, idCol, textCol, p.sep)
      .localCheckpoint() // three consumers: counts, keep join, reassembly
    val counts = batchCounts(segs).localCheckpoint()
    val totals = withCumulative(spark, path, counts, p.nShards, ingest)
    val keep = totals
      .select(col("h").as("__h"), (col("__tot") <= maxDf).as("__keep"))
    val cleaned = Dedup.reassembleKept(batch, idCol,
      segs.join(keep, Seq("__h")), p.sep)
      .localCheckpoint() // evaluate the decision ONCE, before any write
    if (!cleaned.isEmpty) writeSideSink(cleaned, cleanedPath, ingest)
    if (!counts.isEmpty) appendBatch(counts, path, ingest, p)
  }

  /** Drain a document stream with AvailableNow: per batch, paragraphs
    * whose cumulative corpus df exceeds `maxDf` are dropped, cleaned
    * docs land under `cleanedPath/ingest=<key>`, and the batch's df
    * rows join the store. Replay-idempotent per the store contract. */
  def ingestClean(stream: DataFrame, idCol: String, textCol: String,
      path: String, cleanedPath: String, checkpoint: String,
      p: Params = Params(), maxDf: Long = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      processBatch(batch, ingest, idCol, textCol, path, cleanedPath, p,
        maxDf)
    }
  }

  /** Compact ([[compactCounts]]): probe results are identical by
    * construction (spec-asserted). */
  def compact(spark: SparkSession, path: String,
      p: Params = Params()): Unit =
    compactCounts(spark, path, p.nShards)
}

/** A store of ADDITIVE digest counts, (h, cnt) rows under
  * `ingest=<key>/shard=<s>/` with shard = pmod(hash(h), nShards): the
  * shared layer of [[ParagraphStore]] (paragraph digests) and
  * [[SubstringStore]] (char-gram digests). Probes sum `cnt` across
  * ingest partitions, so folding them into `ingest=base` changes no
  * probe. Tombstones mask by `h`. */
private[graft] trait DigestCountStore extends MaintainedStore {

  override protected def idColumn = Some("h")

  protected def shardOf(h: Column, n: Int): Column = pmod(hash(h), lit(n))

  /** One batch's (h, cnt) rows under its own ingest key, one file per
    * shard directory. */
  protected def writeCounts(counts: DataFrame, path: String, ingest: String,
      nShards: Int): Unit =
    writeIngest(path, ingest, counts
      .withColumn("shard", shardOf(col("h"), nShards))
      .repartition(nShards, col("shard")), Seq("shard"))

  /** Prior corpus count per digest in `hashes`: a shard-pruned scan
    * (the probe's shard set is collected, ≤ nShards ints), scoped and
    * masked by [[MaintainedStore.replayVisible]]. */
  protected def digestPrior(spark: SparkSession, path: String,
      hashes: DataFrame, nShards: Int,
      excludeIngest: Option[String]): DataFrame = {
    val shards = hashes
      .select(shardOf(col("h"), nShards).as("s")).distinct()
      .collect().map(_.getInt(0)).toSeq
    replayVisible(spark, path,
      spark.read.parquet(path).filter(col("shard").isin(shards: _*)),
      excludeIngest)
      .join(hashes.select(col("h")).distinct(), Seq("h"), "left_semi")
      .groupBy(col("h")).agg(sum(col("cnt")).as("prior"))
  }

  /** `counts` (h, cnt) with `__tot` = cnt + the prior corpus count
    * outside the batch's own key: the cumulative count a batch decides
    * on. */
  protected def withCumulative(spark: SparkSession, path: String,
      counts: DataFrame, nShards: Int, ingest: String): DataFrame =
    if (!StoreFs.hasCommittedData(spark, path))
      counts.withColumn("__tot", col("cnt"))
    else counts
      .join(digestPrior(spark, path, counts, nShards, Some(ingest)),
        Seq("h"), "left")
      .withColumn("__tot", col("cnt") + coalesce(col("prior"), lit(0L)))

  /** Compact ([[MaintainedStore.compactWith]]): fold every per-batch
    * `ingest=` partition into `ingest=base` with ONE row per surviving
    * digest. */
  protected def compactCounts(spark: SparkSession, path: String,
      nShards: Int): Unit =
    compactWith(spark, path) { (_, rows, staged) =>
      StoreFs.writer(rows.groupBy(col("h")).agg(sum(col("cnt")).as("cnt"))
        .withColumn("shard", shardOf(col("h"), nShards))
        .withColumn("ingest", lit("base"))
        .repartition(nShards, col("shard")))
        .partitionBy("ingest", "shard").mode("overwrite")
        .parquet(staged)
    }
}
