package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.operators.Pq
import graft.sources.{SignatureStore, VectorStore}
import graft.sources.StoreFs.SwapPause

/** Concurrent READER vs a running `compact()` — the serving-while-
  * maintaining posture at 100 TB, where compaction cannot take the
  * store offline. CompactCrashSpec proves crash recovery; this spec
  * pins the racing-reader contract: the swap's between-renames window
  * (no live dir) is held open deterministically via [[SwapPause]], a
  * bare probe is shown to fail in that window (the hazard is real),
  * and a `withReadRetry`-wrapped probe retries through it and returns
  * the bit-identical pre-compaction result. */
class ConcurrentCompactSpec extends SparkSpec with StoreCases {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())
  private def exists(dir: String) = fs.exists(new Path(dir))

  /** Run `compactOp` on another thread, paused in the between-renames
    * window; execute `inWindow` while the live dir is absent; release
    * and await compaction; return `inWindow`'s result. */
  private def duringSwapWindow[T](compactOp: () => Unit)(inWindow: => T): T = {
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    SwapPause.entered = entered
    SwapPause.gate = gate
    val compaction = Future(compactOp())
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "swap never reached the window")
      inWindow
    } finally {
      gate.countDown()
      SwapPause.reset()
      Await.result(compaction, 120.seconds)
    }
  }

  // ---- vector store ---------------------------------------------------

  private def probeVec: Seq[Double] =
    Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq

  private def freshVecStore(): String = {
    val p = Files.createTempDirectory("graft_rc_vec").toString
    val e = Tables.embeddings(spark, sf)
    VectorStore.write(e.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding", p)
    VectorStore.append(e.filter($"vec_id" % 3 === 0), "vec_id", "embedding", p)
    p
  }

  private def vecProbe(path: String): Seq[(Long, Double)] =
    VectorStore.topK(spark, path, "vec_id", "embedding", probeVec, 10)
      .as[(Long, Double)].collect().toSeq

  test("vector store: a probe racing compact() retries through the " +
      "no-live window and returns the bit-identical result") {
    val path = freshVecStore()
    val baseline = vecProbe(path)
    assert(baseline.nonEmpty)
    val raced = duringSwapWindow(() => VectorStore.compact(spark, path)) {
      assert(!exists(path), "window must hold the live dir absent")
      // the hazard is real: an unwrapped probe fails in the window
      intercept[Exception] { vecProbe(path) }
      // the contract: the wrapped probe retries until the swap lands.
      // Run it on another thread so the gate release below can happen
      // while it is mid-retry (the race this spec exists to pin).
      val probing = Future(
        VectorStore.withReadRetry(spark, path) { vecProbe(path) })
      Thread.sleep(250) // let it fail at least once inside the window
      probing
    }
    assert(Await.result(raced, 60.seconds) === baseline)
    assert(vecProbe(path) === baseline) // and the store is compacted+intact
  }

  // ---- signature store ------------------------------------------------

  private val p = SignatureStore.Params(shingleK = 3, nBands = 8,
    rowsPerBand = 2, nShards = 32)

  private lazy val sigDocs = Tables.documents(spark, sf)
  private lazy val sigBatch = sigDocs.filter($"doc_id" % 5 === 0)

  private def freshSigStore(): String = {
    val dir = Files.createTempDirectory("graft_rc_sig").toString
    SignatureStore.write(sigDocs.filter($"doc_id" % 5 =!= 0),
      "doc_id", "text", dir, p)
    dir
  }

  private def sigProbe(path: String): Seq[(Long, Long, Double)] =
    SignatureStore.dedupAgainstStore(sigBatch, "doc_id", "text", path, p, 0.5)
      .as[(Long, Long, Double)].collect().toSeq.sorted

  test("signature store: a probe racing compact() retries through the " +
      "bands swap window and returns the bit-identical result") {
    val path = freshSigStore()
    val baseline = sigProbe(path)
    assert(baseline.nonEmpty)
    // the pause holds the FIRST swap (bands) between its renames
    val raced = duringSwapWindow(() => SignatureStore.compact(spark, path, p)) {
      assert(!exists(path + "/bands"), "bands live dir must be absent")
      intercept[Exception] { sigProbe(path) }
      val probing = Future(
        SignatureStore.withReadRetry(spark, path) { sigProbe(path) })
      Thread.sleep(250)
      probing
    }
    assert(Await.result(raced, 60.seconds) === baseline)
    assert(sigProbe(path) === baseline)
  }

  // ---- writer-vs-compact exclusion (the lease) ------------------------

  test("vector store: writers racing compact() fail fast on the lease; " +
      "write/append/delete succeed again after the swap lands") {
    val path = freshVecStore()
    val baseline = vecProbe(path)
    val extra = Tables.embeddings(spark, sf).filter($"vec_id" < 0)
    // the quantized and PQ writers share the store's lease (the cell
    // store is compacted by VectorStore.compact too); the model is
    // never used, the lease probe runs first
    val dim = Tables.embeddings(spark, sf).select(size($"embedding")).head().getInt(0)
    val zero = Array.fill(dim)(0.0)
    val model = Pq.Model(1, dim, IndexedSeq(IndexedSeq(zero)))
    duringSwapWindow(() => VectorStore.compact(spark, path)) {
      for (op <- Seq(
          () => VectorStore.append(extra, "vec_id", "embedding", path),
          () => VectorStore.write(extra, "vec_id", "embedding", path),
          () => VectorStore.writeQuantized(extra, "vec_id", "embedding", path),
          () => Pq.appendIvf(extra, "vec_id", "embedding", path, model, Seq(zero)),
          () => VectorStore.delete(spark, path, Seq(999999L).toDF("vec_id")))) {
        val e = intercept[IllegalStateException] { op() }
        assert(e.getMessage.contains("compact() holds the store lease"),
          e.getMessage)
      }
    }
    // lease released: writers work again, and the store is intact
    // (top-k refills after a delete, so assert absence, not equality)
    VectorStore.delete(spark, path, Seq(baseline.head._1).toDF("vec_id"))
    val after = vecProbe(path)
    assert(!after.exists(_._1 == baseline.head._1))
    assert(after.tail.nonEmpty && after.size === baseline.size)
  }

  test("signature store: writers racing compact() fail fast on the lease") {
    val path = freshSigStore()
    val baseline = sigProbe(path)
    duringSwapWindow(() => SignatureStore.compact(spark, path, p)) {
      for (op <- Seq(
          () => SignatureStore.append(sigBatch, "doc_id", "text", path, p),
          () => SignatureStore.delete(spark, path, Seq(1L).toDF("doc_id")))) {
        val e = intercept[IllegalStateException] { op() }
        assert(e.getMessage.contains("compact() holds the store lease"),
          e.getMessage)
      }
    }
    assert(sigProbe(path) === baseline)
    // lease released: a delete is accepted again
    SignatureStore.delete(spark, path, Seq(baseline.head._2).toDF("doc_id"))
    assert(sigProbe(path) === baseline.filterNot(_._2 == baseline.head._2))
  }

  test("a crashed compactor leaves the lease (writers keep failing with " +
      "a message naming recover()); recover() clears it") {
    import graft.sources.StoreFs.SwapCrash
    val path = freshVecStore()
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterMoveOut
    try intercept[SwapCrash.Injected] { VectorStore.compact(spark, path) }
    finally SwapCrash.reset()
    val e = intercept[IllegalStateException] {
      VectorStore.delete(spark, path, Seq(1L).toDF("vec_id"))
    }
    assert(e.getMessage.contains("recover()"), e.getMessage)
    VectorStore.recover(spark, path)
    VectorStore.delete(spark, path, Seq(1L).toDF("vec_id")) // accepted now
  }

  test("compact-vs-compact exclusion: a second compact() against a held " +
      "lease fails instead of double-owning the store") {
    val path = freshVecStore()
    val baseline = vecProbe(path)
    duringSwapWindow(() => VectorStore.compact(spark, path)) {
      // the first compact() is live (paused mid-swap): a second must be
      // refused at the lease — the old overwrite-acquire let it through,
      // and its releaseLease then unlocked writers while the first swap
      // was still mid-flight
      val e = intercept[IllegalStateException] {
        VectorStore.compact(spark, path)
      }
      assert(e.getMessage.contains("already"), e.getMessage)
    }
    // the first compaction landed intact; the lease is free again
    assert(vecProbe(path) === baseline)
    VectorStore.compact(spark, path)
    assert(vecProbe(path) === baseline)
  }

  // ---- delete-vs-compact tombstone preservation -----------------------

  test("signature store: a tombstone appended AFTER compact's snapshot " +
      "is neither applied nor wiped — it stays in force and the next " +
      "compaction applies it") {
    val path = freshSigStore()
    val before = sigProbe(path)
    assert(before.size >= 2)
    val snapVictim = before.head._2
    val lateVictim = before.filterNot(_._2 == snapVictim).head._2
    SignatureStore.delete(spark, path, Seq(snapVictim).toDF("doc_id"))
    duringSwapWindow(() => SignatureStore.compact(spark, path, p)) {
      // a delete that slipped past the lease's probe-then-write window:
      // write the tombstone file directly (the public delete() would be
      // lease-rejected — this models the unclosed TOCTOU residual)
      Seq(lateVictim).toDF("doc_id").write.mode("append")
        .parquet(path + "/_tombstones")
    }
    // the snapshot delete was applied physically; the late one was NOT
    // wiped: its file survives and it still masks probes
    assert(exists(path + "/_tombstones"),
      "late tombstone dir must survive compaction")
    val masked = before.filterNot(r =>
      r._2 == snapVictim || r._2 == lateVictim)
    assert(sigProbe(path) === masked)
    assert(spark.read.parquet(path + "/bands")
      .filter(col("doc") === snapVictim).count() === 0L)
    // the next compaction applies the late delete physically and clears
    SignatureStore.compact(spark, path, p)
    assert(!exists(path + "/_tombstones"))
    assert(sigProbe(path) === masked)
    assert(spark.read.parquet(path + "/bands")
      .filter(col("doc") === lateVictim).count() === 0L)
  }

  test("vector store: a tombstone appended after the snapshot rides the " +
      "old live dir into the trash and is rescued into the new live " +
      "store, still masking probes") {
    val path = freshVecStore()
    val before = vecProbe(path)
    assert(before.size >= 2)
    val snapVictim = before.head._1
    val lateVictim = before.filterNot(_._1 == snapVictim).head._1
    VectorStore.delete(spark, path, Seq(snapVictim).toDF("vec_id"))
    // pause AFTER the staged rewrite (which applied the snapshot) but
    // BEFORE the move-out, and inject the late tombstone into the live
    // dir — it must ride into .trash and be rescued, not deleted with it
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    SwapPause.enteredStage = entered
    SwapPause.gateStage = gate
    val compaction = Future(VectorStore.compact(spark, path))
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "swap never staged")
      Seq(lateVictim).toDF("vec_id").write.mode("append")
        .parquet(path + "/_tombstones")
    } finally {
      gate.countDown()
      SwapPause.reset()
      Await.result(compaction, 120.seconds)
    }
    assert(exists(path + "/_tombstones"),
      "late tombstone must be rescued out of the trash")
    assert(!exists(path + ".trash"))
    // snapshot victim physically gone; late victim masked logically
    assert(spark.read.parquet(path)
      .filter(col("vec_id") === snapVictim).count() === 0L)
    val probed = vecProbe(path)
    assert(!probed.exists(_._1 == snapVictim))
    assert(!probed.exists(_._1 == lateVictim))
    // next compaction applies the late delete physically
    VectorStore.compact(spark, path)
    assert(!exists(path + "/_tombstones"))
    assert(spark.read.parquet(path)
      .filter(col("vec_id") === lateVictim).count() === 0L)
  }

  // the other single-directory stores: the same rescue, one protocol
  for (c <- storeCases.filter(c =>
      c.surfaces("p") == Seq("p") && c.name != "VectorStore"))
    test(s"${c.name}: a tombstone appended after the snapshot rides the " +
        "old live dir into the trash and is rescued into the new live " +
        "store, still masking probes") {
      val path = c.build()
      val ids = c.stored(path).toSeq.sorted
      val (snapVictim, lateVictim) = (ids(0), ids(1))
      c.delete(path, c.tombstones(Seq(snapVictim)))
      val entered = new CountDownLatch(1)
      val gate = new CountDownLatch(1)
      SwapPause.enteredStage = entered
      SwapPause.gateStage = gate
      val compaction = Future(c.compact(path))
      try {
        assert(entered.await(60, TimeUnit.SECONDS), "swap never staged")
        c.tombstones(Seq(lateVictim)).write.mode("append")
          .parquet(path + "/_tombstones")
      } finally {
        gate.countDown()
        SwapPause.reset()
        Await.result(compaction, 120.seconds)
      }
      assert(exists(path + "/_tombstones"),
        "late tombstone must be rescued out of the trash")
      assert(!exists(path + ".trash"))
      val stored = c.stored(path)
      assert(!stored(snapVictim) && stored(lateVictim))
      assert(!c.visible(path)(lateVictim))
      c.compact(path)
      assert(!exists(path + "/_tombstones"))
      assert(!c.stored(path)(lateVictim))
    }

  test("withReadRetry propagates non-recoverable errors unchanged and " +
      "exhausts attempts on a permanently missing store") {
    // non-recoverable: not retried
    val boom = intercept[IllegalStateException] {
      VectorStore.withReadRetry(spark, "/tmp/graft_rc_nonexistent") {
        throw new IllegalStateException("not a read error")
      }
    }
    assert(boom.getMessage === "not a read error")
    // recoverable but permanent (no compactor will ever land the swap):
    // attempts exhaust and the read error propagates — the documented
    // "run recover() after a crash" boundary
    var calls = 0
    intercept[Exception] {
      VectorStore.withReadRetry(spark, "/tmp/graft_rc_nonexistent",
        attempts = 3) {
        calls += 1
        spark.read.parquet("/tmp/graft_rc_nonexistent").count()
      }
    }
    assert(calls === 3)
  }
}
