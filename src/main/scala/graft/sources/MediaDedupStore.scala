package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest-dedup for MEDIA binaries — the multimodal member
  * of the ST7 family: where [[SignatureStore.ingestDedup]] keeps a
  * document stream near-dup-free against a persisted MinHash corpus,
  * this keeps an image/audio binary stream near-dup-free against a
  * persisted PERCEPTUAL-HASH corpus (dHash for images, envelope bits
  * for audio — [[Multimodal.imageDHash]] / [[Multimodal.audioFingerprint]]).
  *
  * Store layout: `<path>/ingest=<key>/…` parquet rows
  * (doc, sig, band, bucket) — the 64-bit signature exploded into its
  * four 16-bit bands, so a probe equi-joins on (band, bucket) and
  * verifies hamming on the sigs RIDING the join (the r11
  * verify-before-dedup lesson: every duplicate of a candidate pair
  * carries the same two sigs). Candidate recall is pigeonhole-complete
  * at `maxHamming` ≤ 3, the family contract.
  *
  * Crash replay follows the keyed-ingest contract ([[StoreFs]]).
  */
object MediaDedupStore extends MaintainedStore {

  protected def storeName = "MediaDedupStore"
  override protected def idColumn = Some("doc")

  /** Perceptual 64-bit hash of a media binary: images via dHash, then
    * audio via the envelope fingerprint; `None` if neither decodes. */
  def mediaHash(content: Array[Byte]): Option[Long] =
    Multimodal.imageDHash(content)
      .orElse(Multimodal.audioFingerprint(content))

  /** (doc = path, sig) for every decodable media binary. */
  def hashBinaries(spark: SparkSession, binaries: DataFrame): DataFrame = {
    import spark.implicits._
    binaries.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, c) =>
        mediaHash(c).map(h => (p, h))
      })
      .toDF("doc", "sig")
  }

  private def banded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc"), col("sig"),
      posexplode(graft.operators.Dedup.simhashBands(col("sig")))
        .as(Seq("band", "bucket")))

  /** Idempotent per-micro-batch store write
    * ([[MaintainedStore.writeIngest]]). */
  private[graft] def appendBatch(sigs: DataFrame, path: String,
      ingest: String): Unit =
    writeIngest(path, ingest, banded(sigs))

  /** Near-dup pairs between a batch's signatures and the committed
    * store: band-bucket candidates, hamming verified BEFORE the
    * distinct (sigs ride the join). `excludeIngest` scopes a replay to
    * the pre-batch store state. */
  private[graft] def dedupAgainstStore(sigs: DataFrame, path: String,
      maxHamming: Int, excludeIngest: Option[String]): DataFrame = {
    val spark = sigs.sparkSession
    // logically deleted media never act as dedup evidence — the
    // right-to-be-forgotten contract: a tombstoned image/clip cannot
    // keep suppressing re-ingests of similar content
    val stored = replayVisible(spark, path, spark.read.parquet(path),
      excludeIngest)
    banded(sigs)
      .select(col("band"), col("bucket"), col("doc").as("id_new"),
        col("sig").as("__sa"))
      .join(stored.select(col("band"), col("bucket"),
        col("doc").as("id_stored"), col("sig").as("__sb")),
        Seq("band", "bucket"))
      .withColumn("hamming", graft.operators.Dedup.hamming(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_new"), col("id_stored"), col("hamming"))
      .distinct()
  }

  /** One micro-batch: hash, collapse exact (same-sig) duplicates
    * within the batch keeping the lowest path, drop near-dups of the
    * already-committed corpus (excluding this batch's own partition),
    * then write survivors to both sinks under the batch's key. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      path: String, acceptedPath: String, maxHamming: Int): Unit = {
    val spark = batch.sparkSession
    val sigs = hashBinaries(spark, batch)
    val exact = sigs.groupBy(col("sig")).agg(min(col("doc")).as("doc"))
      .select(col("doc"), col("sig"))
    val keep =
      if (!StoreFs.hasCommittedData(spark, path)) exact
      else {
        val dupIds = dedupAgainstStore(exact, path, maxHamming,
          excludeIngest = Some(ingest))
          .select(col("id_new").as("doc")).distinct()
        exact.join(dupIds, Seq("doc"), "left_anti")
      }
    val kept = keep.localCheckpoint() // both sinks scan it; the second
                                      // must not recompute against a
                                      // store the first just changed
    if (!kept.isEmpty) {
      appendBatch(kept, path, ingest)
      writeSideSink(kept, acceptedPath, ingest)
    }
  }

  /** Drain a binary stream with AvailableNow, keeping only media whose
    * perceptual hash is NOT within `maxHamming` of anything already
    * committed — survivors land in the store and `acceptedPath`. */
  def ingestDedup(stream: DataFrame, path: String, acceptedPath: String,
      checkpoint: String, maxHamming: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestStream(stream, checkpoint) { (batch, ingest, _) =>
      processBatch(batch, ingest, path, acceptedPath, maxHamming)
    }

  // --- maintenance (the StoreFs protocol) -----------------------------
  //
  // Without it the store accretes one `ingest=b<id>_<hash>` partition
  // per micro-batch forever, and media (images of people) could never
  // be forgotten. Deletes are by `doc` (the media path).

  /** Compact the store in place ([[MaintainedStore.compactWith]]):
    * collapse every per-batch `ingest=` partition into the single
    * `ingest=base` partition at a bounded file count; probe results are
    * BIT-IDENTICAL across the rewrite (spec-asserted). */
  def compact(spark: SparkSession, path: String): Unit =
    compactWith(spark, path) { (_, rows, staged) =>
      StoreFs.writer(rows.select(col("doc"), col("sig"), col("band"),
          col("bucket"))
        .withColumn("ingest", lit("base"))
        .repartition(spark.sparkContext.defaultParallelism))
        .partitionBy("ingest").mode("overwrite").parquet(staged)
    }
}
