package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{SignatureStore, StoreFs, SubstringStore}

/** Streaming char-gram duplication store (the ST7 continuation of the
  * q87/q190 char-level family): batch i's scored rows must equal
  * `Dedup.duplicatedSpans` over the CONCATENATION of batches 0..i
  * restricted to batch i's docs (batch == stream bit-identity),
  * crash-replay idempotence (the SignatureStore contract), and the
  * full maintenance surface (compact probe-identity, tombstone delete,
  * lease, crash recovery). */
class SubstringStoreSpec extends SparkSpec {
  import spark.implicits._

  private val p = SubstringStore.Params(k = 8, nShards = 8)

  private def md5of(s: String): String =
    Seq(s).toDF("s").select(md5($"s")).head().getString(0)

  private def writeBatch(src: String, n: Int, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/b$n")

  private def drain(src: String, store: String, scored: String,
      ckpt: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("pathGlobFilter", "*.parquet")
      .parquet(src + "/*")
    SubstringStore.ingestScore(stream, "doc_id", "text", store, scored,
      ckpt, p).awaitTermination()
  }

  private def scores(scored: String): Map[Long, (Long, Long, Long)] =
    spark.read.parquet(scored)
      .select($"doc_id", $"total_spans", $"dup_spans", $"dup_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  /** duplicatedSpans over `docs` projected to the store's exact-integer
    * output shape. */
  private def reference(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] =
    graft.operators.Dedup
      .duplicatedSpans(docs.toDF("doc_id", "text"), "doc_id", "text", p.k)
      .select($"doc_id", $"total_spans", $"dup_spans",
        expr("dup_spans * 1000000L DIV total_spans"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("batch == duplicatedSpans over the concatenation (bit-identity), " +
      "re-drain and batch replay idempotence, compact probe-identity, " +
      "delete masks immediately, lease + crash recovery") {
    val root = Files.createTempDirectory("graft_substore")
    val src = root.resolve("src").toString
    val store = root.resolve("store").toString
    val scored = root.resolve("scored").toString
    val ckpt = root.resolve("ckpt").toString

    val hot = "AAAAAAAA" // the shared 8-gram across batches
    val b0 = Seq(1L -> s"${hot}BBBBCCCC", 2L -> s"ZZZZ${hot}YYYY")
    val b1 = Seq(3L -> s"${hot}QQQQWWWW", 4L -> "totally unique text here")
    writeBatch(src, 0, b0)
    drain(src, store, scored, ckpt)
    val s0 = scores(scored)
    // within-batch duplication counts: both docs see the hot gram at
    // cumulative df 2
    assert(s0 === reference(b0))
    assert(s0(1L)._2 >= 1L && s0(2L)._2 >= 1L)

    writeBatch(src, 1, b1)
    drain(src, store, scored, ckpt)
    val s1 = scores(scored)
    // batch 1 rows == duplicatedSpans over batches 0+1 restricted to
    // batch 1 docs; batch 0 rows DO NOT retro-update
    val ref01 = reference(b0 ++ b1)
    assert(s1(3L) === ref01(3L))
    assert(s1(4L) === ref01(4L))
    assert(s1(3L)._2 >= 1L, "cross-batch duplication must count")
    assert(s1(1L) === s0(1L), "earlier batches' output must not change")

    // re-drain with nothing new: no change
    drain(src, store, scored, ckpt)
    assert(scores(scored) === s1)

    // REPLAY batch 1 directly under its own ingest key: with the key
    // excluded from the decision's store view, the re-run reproduces
    // both sinks bit-for-bit
    val b1Key = new java.io.File(scored).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).sorted
      .find { k =>
        spark.read.parquet(s"$scored/$k")
          .filter($"doc_id" === 3L).count() > 0
      }.get.stripPrefix("ingest=")
    def snapshot() = (
      spark.read.parquet(store).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(scored).collect().map(_.toString).sorted.toSeq)
    val before = snapshot()
    SubstringStore.processBatch(b1.toDF("doc_id", "text"), b1Key,
      "doc_id", "text", store, scored, p)
    assert(snapshot() === before)

    // ---- maintenance ----------------------------------------------------
    val hh = md5of(hot)
    def probe(): Seq[(String, Long)] =
      SubstringStore.priorDf(spark, store,
        Seq(hh, md5of("BBBBCCCC")).toDF("h"), p, None)
        .as[(String, Long)].collect().toSeq.sorted
    val base = probe()
    assert(base.toMap.apply(hh) === 3L, s"hot gram df: $base")
    assert(new java.io.File(store).listFiles()
      .map(_.getName).count(_.startsWith("ingest=")) >= 2)
    SubstringStore.compact(spark, store, p)
    assert(new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).toSeq
      === Seq("ingest=base"))
    assert(probe() === base, "probe drifted across compaction")

    // delete the hot digest: it stops counting IMMEDIATELY — the next
    // batch's copy scores as if it were the first again
    SubstringStore.delete(spark, store, Seq(hh).toDF("h"))
    assert(!probe().toMap.contains(hh))
    writeBatch(src, 2, Seq(5L -> s"${hot}MMMMNNNN"))
    drain(src, store, scored, ckpt)
    // doc 5's hot gram now reads cumulative df 1 (masked) -> not dup;
    // its other grams are unique -> dup_spans == 0
    assert(scores(scored)(5L)._2 === 0L)

    // crash mid-compact: the tombstone survives, recover() + a fresh
    // compact() converge with the delete applied physically
    import graft.sources.StoreFs.SwapCrash
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterMoveOut
    try intercept[SwapCrash.Injected] { SubstringStore.compact(spark, store, p) }
    finally SwapCrash.reset()
    SubstringStore.recover(spark, store)
    assert(!probe().toMap.contains(hh),
      "tombstone must stay in force after a crashed compact")
    SubstringStore.compact(spark, store, p)
    assert(!new java.io.File(store + "/_tombstones").exists())
    assert(spark.read.parquet(store).filter($"h" === hh).count() === 0L)

    // lease: writers fail fast while a compactor holds the store
    StoreFs.acquireLease(spark, store + ".compact_lock")
    try {
      val e = intercept[IllegalStateException] {
        SubstringStore.delete(spark, store, Seq("x").toDF("h"))
      }
      assert(e.getMessage.contains("compact() holds the store lease"))
    } finally StoreFs.releaseLease(spark, store + ".compact_lock")
  }
}
