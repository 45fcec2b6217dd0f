package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.sources.{MediaDedupStore, Multimodal}

/** Streaming multimodal ingest-dedup: near-dups of already-committed
  * media drop, exact (same-sig) duplicates collapse within a batch,
  * modalities coexist in one store, and batch replay is idempotent
  * (the SignatureStore crash-replay contract over perceptual hashes). */
class MediaIngestSpec extends SparkSpec {
  import spark.implicits._

  private val images = "/root/repo/src/test/resources/graft/images"
  private val audio = "/root/repo/src/test/resources/graft/audio"

  private def binStream(dir: String) =
    spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
        "length LONG, content BINARY")
      .load(dir)

  private def drain(src: String, store: String, accepted: String,
      ckpt: String): Unit =
    MediaDedupStore.ingestDedup(binStream(src), store, accepted, ckpt)
      .awaitTermination()

  private def acceptedFiles(accepted: String): Set[String] =
    spark.read.parquet(accepted)
      .select(regexp_extract(col("doc"), "([^/]+)$", 1))
      .collect().map(_.getString(0)).toSet

  test("cross-batch near-dup drop, within-batch exact collapse, " +
      "mixed modalities, idempotent re-drain and batch replay") {
    val root = Files.createTempDirectory("graft_media_ingest")
    val src = root.resolve("src"); Files.createDirectory(src)
    val store = root.resolve("store").toString
    val accepted = root.resolve("accepted").toString
    val ckpt = root.resolve("ckpt").toString
    def stage(from: String, name: String, as: String): Unit =
      Files.copy(Paths.get(s"$from/$name"), src.resolve(as),
        StandardCopyOption.REPLACE_EXISTING)

    // batch 1: a base image, a byte-identical copy (same sig -> exact
    // collapse keeps the lexicographically lowest path), one unique
    stage(images, "img_00.bmp", "a_base.bmp")
    stage(images, "img_00.bmp", "a_copy.bmp")
    stage(images, "img_28.bmp", "u1.bmp")
    drain(src.toString, store, accepted, ckpt)
    assert(acceptedFiles(accepted) === Set("a_base.bmp", "u1.bmp"))

    // batch 2: a near-dup of the committed base (img_01: one-pixel
    // variant, hamming 0 at the dHash), a fresh unique image, and an
    // AUDIO clip (different modality, lives in the same store)
    stage(images, "img_01.bmp", "neardup.bmp")
    stage(images, "img_29.bmp", "u2.bmp")
    stage(audio, "clip_00.wav", "song.wav")
    drain(src.toString, store, accepted, ckpt)
    assert(acceptedFiles(accepted) ===
      Set("a_base.bmp", "u1.bmp", "u2.bmp", "song.wav"))

    // audio near-dup of the committed clip drops too (batch 3)
    stage(audio, "clip_01.wav", "song_v2.wav")
    drain(src.toString, store, accepted, ckpt)
    assert(acceptedFiles(accepted) ===
      Set("a_base.bmp", "u1.bmp", "u2.bmp", "song.wav"))

    // re-drain with nothing new: no change (checkpoint idempotence)
    drain(src.toString, store, accepted, ckpt)
    assert(acceptedFiles(accepted) ===
      Set("a_base.bmp", "u1.bmp", "u2.bmp", "song.wav"))

    // REPLAY the batch that accepted u2/song: with its own ingest
    // partition excluded from the decision, the re-run derives the
    // same survivors and overwrites only its own output bit-for-bit
    val ingestKeys = new java.io.File(accepted).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).sorted
    val u2Key = ingestKeys.find { k =>
      spark.read.parquet(s"$accepted/$k")
        .filter(col("doc").endsWith("u2.bmp")).count() > 0
    }.get.stripPrefix("ingest=")
    val batch2 = Multimodal.readBinaryDir(spark, src.toString, "*")
      .filter(col("path").endsWith("neardup.bmp") ||
        col("path").endsWith("u2.bmp") || col("path").endsWith("song.wav"))
    def snapshot() = (
      spark.read.parquet(store).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(accepted).collect().map(_.toString).sorted.toSeq)
    val before = snapshot()
    MediaDedupStore.processBatch(batch2, u2Key, store, accepted, 3)
    assert(snapshot() === before)
  }

  // ---- maintenance contract (compact / delete / lease / retry) --------
  //
  // The store-maintenance contract inherited from SignatureStore/
  // VectorStore, exercised with the same injections as CompactCrashSpec
  // and ConcurrentCompactSpec: without compact() the store accretes one
  // ingest= partition per micro-batch forever, and media could never be
  // forgotten.

  private def mediaBatch(names: (String, String)*) = {
    val paths = names.map { case (dir, n) => s"$dir/$n" }
    Multimodal.readBinaryDir(spark, images, "*")
      .unionByName(Multimodal.readBinaryDir(spark, audio, "*"))
      .filter(col("path").isin(paths.map("file:" + _) ++ paths: _*))
  }

  /** Two-batch store over image + audio fixtures; returns (store dir,
    * probe thunk) where the probe dedups near-dup variants against the
    * committed store. */
  private def freshMediaStore(): (String, () => Seq[(String, String, Int)]) = {
    val root = Files.createTempDirectory("graft_media_maint")
    val store = root.resolve("store").toString
    val accepted = root.resolve("accepted").toString
    MediaDedupStore.processBatch(
      mediaBatch(images -> "img_00.bmp", images -> "img_28.bmp"),
      "b0_t", store, accepted, 3)
    MediaDedupStore.processBatch(
      mediaBatch(images -> "img_29.bmp", audio -> "clip_00.wav"),
      "b1_t", store, accepted, 3)
    val probeSrc = mediaBatch(images -> "img_01.bmp", audio -> "clip_01.wav")
    val probe = () =>
      MediaDedupStore.dedupAgainstStore(
          MediaDedupStore.hashBinaries(spark, probeSrc), store, 3, None)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSeq.sortBy(t => (t._1, t._2))
    (store, probe)
  }

  private def ingestDirs(store: String): Seq[String] =
    new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("ingest=")).toSeq.sorted

  test("compact collapses per-batch ingest partitions with bit-identical " +
      "probes; delete masks immediately, survives every compact-crash " +
      "window, and the next compaction applies it physically") {
    import graft.sources.StoreFs.SwapCrash
    val (store, probe) = freshMediaStore()
    val baseline = probe()
    // both modalities matched their committed near-dup ancestors
    assert(baseline.exists(_._2.endsWith("img_00.bmp")), baseline.toString)
    assert(baseline.exists(_._2.endsWith("clip_00.wav")), baseline.toString)
    assert(ingestDirs(store) === Seq("ingest=b0_t", "ingest=b1_t"))
    MediaDedupStore.compact(spark, store)
    assert(ingestDirs(store) === Seq("ingest=base"))
    assert(probe() === baseline, "probe drifted across compaction")
    assert(!fsExists(store + ".compact_lock"), "lease not released")

    // right-to-be-forgotten: delete the committed image — it stops
    // acting as dedup evidence IMMEDIATELY (no data file touched)
    val victim = baseline.find(_._2.endsWith("img_00.bmp")).get._2
    MediaDedupStore.delete(spark, store, Seq(victim).toDF("doc"))
    val masked = baseline.filterNot(_._2 == victim)
    assert(probe() === masked)

    // crash at every swap window: the tombstone stays in force, and
    // recover() + a fresh compact() converge to one committed layout
    // with the delete applied physically
    for (pt <- Seq(SwapCrash.AfterStage, SwapCrash.AfterMoveOut,
        SwapCrash.AfterSwapIn)) {
      SwapCrash.reset()
      SwapCrash.point = pt
      try intercept[SwapCrash.Injected] { MediaDedupStore.compact(spark, store) }
      finally SwapCrash.reset()
      MediaDedupStore.recover(spark, store)
      assert(probe() === masked, s"delete lost at crash window $pt")
    }
    MediaDedupStore.compact(spark, store)
    assert(ingestDirs(store) === Seq("ingest=base"))
    assert(!fsExists(store + "/_tombstones"), "tombstones must clear")
    assert(spark.read.parquet(store)
      .filter(col("doc") === victim).count() === 0L, "delete not applied")
    assert(probe() === masked)
  }

  test("writers fail fast on a held lease; a probe racing compact() " +
      "retries through the no-live window bit-identically") {
    import graft.sources.{SignatureStore, StoreFs}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (store, probe) = freshMediaStore()
    val baseline = probe()
    // lease: append and delete are refused with the recover()-naming error
    StoreFs.acquireLease(spark, store + ".compact_lock")
    try {
      for (op <- Seq(
          () => MediaDedupStore.appendBatch(
            MediaDedupStore.hashBinaries(spark,
              mediaBatch(images -> "img_30.bmp")), store, "b9_t"),
          () => MediaDedupStore.delete(spark, store, Seq("x").toDF("doc")))) {
        val e = intercept[IllegalStateException] { op() }
        assert(e.getMessage.contains("compact() holds the store lease"),
          e.getMessage)
      }
    } finally StoreFs.releaseLease(spark, store + ".compact_lock")
    // reader race: hold compact() open between its renames and probe
    // through the window under withReadRetry
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    StoreFs.SwapPause.entered = entered
    StoreFs.SwapPause.gate = gate
    val compaction = Future(MediaDedupStore.compact(spark, store))
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "swap never paused")
      assert(!fsExists(store), "window must hold the live dir absent")
      val probing = Future(
        MediaDedupStore.withReadRetry(spark, store) { probe() })
      Thread.sleep(250) // let it fail at least once inside the window
      gate.countDown()
      assert(Await.result(probing, 60.seconds) === baseline)
    } finally {
      gate.countDown()
      StoreFs.SwapPause.reset()
      Await.result(compaction, 120.seconds)
    }
    assert(probe() === baseline)
    assert(ingestDirs(store) === Seq("ingest=base"))
  }

  private def fsExists(dir: String): Boolean =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
      .exists(new org.apache.hadoop.fs.Path(dir))
}
