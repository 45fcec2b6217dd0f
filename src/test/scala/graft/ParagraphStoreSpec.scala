package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{ParagraphStore, SignatureStore, StoreFs}

/** Streaming paragraph-boilerplate store: cumulative-df drops across
  * micro-batches, crash-replay idempotence (the SignatureStore
  * contract), and the full maintenance surface (compact probe-identity,
  * tombstone delete, lease, crash recovery). */
class ParagraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private val p = ParagraphStore.Params(sep = "\n", nShards = 8)

  private def sha(s: String): String =
    Seq(s).toDF("s").select(sha2($"s", 256)).head().getString(0)

  private def writeBatch(src: String, n: Int, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/b$n")

  private def drain(src: String, store: String, cleaned: String,
      ckpt: String): Unit = {
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("pathGlobFilter", "*.parquet")
      .parquet(src + "/*")
    ParagraphStore.ingestClean(stream, "doc_id", "text", store, cleaned,
      ckpt, p, maxDf = 2).awaitTermination()
  }

  private def cleanedTexts(cleaned: String): Map[Long, (Long, Long, String)] =
    spark.read.parquet(cleaned)
      .select($"doc_id", $"n_paragraphs", $"n_kept", $"text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("cumulative-df boilerplate drop across batches, re-drain and " +
      "batch replay idempotence, compact probe-identity, delete masks " +
      "immediately and is applied physically, lease + crash recovery") {
    val root = Files.createTempDirectory("graft_parastore")
    val src = root.resolve("src").toString
    val store = root.resolve("store").toString
    val cleaned = root.resolve("cleaned").toString
    val ckpt = root.resolve("ckpt").toString

    // batch 0: BOILER in two docs — cumulative df 2 <= maxDf 2, kept
    writeBatch(src, 0, Seq(
      1L -> "BOILER\nunique one", 2L -> "BOILER\nunique two"))
    drain(src, store, cleaned, ckpt)
    val c0 = cleanedTexts(cleaned)
    assert(c0(1L) === ((2L, 2L, "BOILER\nunique one")))
    assert(c0(2L) === ((2L, 2L, "BOILER\nunique two")))

    // batch 1: third copy — cumulative df 3 > 2, dropped from doc 3
    writeBatch(src, 1, Seq(3L -> "BOILER\nunique three"))
    drain(src, store, cleaned, ckpt)
    val c1 = cleanedTexts(cleaned)
    assert(c1(3L) === ((2L, 1L, "unique three")))
    assert(c1(1L) === c0(1L), "earlier batches' output must not change")

    // re-drain with nothing new: no change
    drain(src, store, cleaned, ckpt)
    assert(cleanedTexts(cleaned) === c1)

    // REPLAY batch 1 directly under its own ingest key: with the key
    // excluded from the decision's store view, the re-run reproduces
    // both sinks bit-for-bit
    val ingestKeys = new java.io.File(cleaned).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).sorted
    val b1Key = ingestKeys.find { k =>
      spark.read.parquet(s"$cleaned/$k")
        .filter($"doc_id" === 3L).count() > 0
    }.get.stripPrefix("ingest=")
    def snapshot() = (
      spark.read.parquet(store).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(cleaned).collect().map(_.toString).sorted.toSeq)
    val before = snapshot()
    ParagraphStore.processBatch(
      Seq(3L -> "BOILER\nunique three").toDF("doc_id", "text"),
      b1Key, "doc_id", "text", store, cleaned, p, maxDf = 2)
    assert(snapshot() === before)

    // ---- maintenance ----------------------------------------------------
    val bh = sha("BOILER")
    def probe(): Seq[(String, Long)] =
      ParagraphStore.priorDf(spark, store,
        Seq(bh, sha("unique one")).toDF("h"), p, None)
        .as[(String, Long)].collect().toSeq.sorted
    val base = probe()
    assert(base === Seq(bh -> 3L, sha("unique one") -> 1L).sorted)
    val nIngests = new java.io.File(store).listFiles()
      .map(_.getName).count(_.startsWith("ingest="))
    assert(nIngests >= 2)
    ParagraphStore.compact(spark, store, p)
    val dirs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).toSeq
    assert(dirs === Seq("ingest=base"))
    assert(probe() === base, "probe drifted across compaction")

    // delete the boilerplate digest: it stops counting IMMEDIATELY —
    // the next batch's copy is the "first" again and survives
    ParagraphStore.delete(spark, store, Seq(bh).toDF("h"))
    assert(probe() === Seq(sha("unique one") -> 1L))
    writeBatch(src, 2, Seq(4L -> "BOILER\nunique four"))
    drain(src, store, cleaned, ckpt)
    assert(cleanedTexts(cleaned)(4L) === ((2L, 2L, "BOILER\nunique four")))

    // crash mid-compact: the tombstone survives, recover() + a fresh
    // compact() converge with the delete applied physically
    import graft.sources.StoreFs.SwapCrash
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterMoveOut
    try intercept[SwapCrash.Injected] { ParagraphStore.compact(spark, store, p) }
    finally SwapCrash.reset()
    ParagraphStore.recover(spark, store)
    // the post-delete batch-2 BOILER row (cnt 1) is real data; the
    // tombstone only masks rows written BEFORE the delete... a
    // tombstone wins over ALL rows of that digest until compaction —
    // including batch 2's — the documented re-insert contract
    assert(probe() === Seq(sha("unique one") -> 1L))
    ParagraphStore.compact(spark, store, p)
    assert(!new java.io.File(store + "/_tombstones").exists())
    assert(spark.read.parquet(store).filter($"h" === bh).count() === 0L)

    // lease: writers fail fast while a compactor holds the store
    StoreFs.acquireLease(spark, store + ".compact_lock")
    try {
      val e = intercept[IllegalStateException] {
        ParagraphStore.delete(spark, store, Seq("x").toDF("h"))
      }
      assert(e.getMessage.contains("compact() holds the store lease"))
      val e2 = intercept[IllegalStateException] {
        ParagraphStore.compact(spark, store, p)
      }
      assert(e2.getMessage.contains("already"), e2.getMessage)
    } finally StoreFs.releaseLease(spark, store + ".compact_lock")
  }
}
