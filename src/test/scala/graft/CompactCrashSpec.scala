package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{SignatureStore, VectorStore}
import graft.sources.StoreFs.SwapCrash

/** Compaction crash-injection for both persisted stores: kill the
  * stage-then-swap at every window (staged written / live moved out /
  * swapped in with trash pending), then re-run compaction and assert
  * exactly ONE committed layout with bit-identical probe results.
  * Completes the store trilogy's crash story — ingestDedup and
  * packStream replay are proven in SignatureStoreSpec / PackingSpec;
  * this covers the maintenance operation.
  *
  * The old swap (delete live, then rename staged) had a real loss
  * window: a crash between the two left no live dir and nothing
  * marking the staged dir adoptable. The two-rename protocol plus
  * [[StoreFs.recoverSwap]] closes it; the AfterMoveOut cases
  * here fail against the old implementation.
  */
class CompactCrashSpec extends SparkSpec with StoreCases {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())
  private def exists(dir: String) = fs.exists(new Path(dir))

  /** live dir present, no staging/trash debris. */
  private def oneCommittedLayout(live: String): Unit = {
    assert(exists(live), s"live dir missing: $live")
    assert(!exists(live + ".compact"), s"stage debris left: $live.compact")
    assert(!exists(live + ".trash"), s"trash debris left: $live.trash")
  }

  // ---- vector store ---------------------------------------------------

  private def probeVec: Seq[Double] =
    Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq

  private def freshVecStore(): String = {
    val p = Files.createTempDirectory("graft_cc_vec").toString
    val e = Tables.embeddings(spark, sf)
    VectorStore.write(e.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding", p)
    // accrete extra files so compaction has real work to do
    VectorStore.append(e.filter($"vec_id" % 3 === 0), "vec_id", "embedding", p)
    p
  }

  private def vecProbe(path: String): Seq[(Long, Double)] =
    VectorStore.topK(spark, path, "vec_id", "embedding", probeVec, 10)
      .as[(Long, Double)].collect().toSeq

  test("vector store: crash at each swap window, re-run compact converges") {
    for (pt <- Seq(SwapCrash.AfterStage, SwapCrash.AfterMoveOut,
        SwapCrash.AfterSwapIn)) {
      val path = freshVecStore()
      val baseline = vecProbe(path)
      assert(baseline.nonEmpty)
      SwapCrash.reset()
      SwapCrash.point = pt
      try intercept[SwapCrash.Injected] { VectorStore.compact(spark, path) }
      finally SwapCrash.reset()
      // the window's expected on-disk state
      pt match {
        case SwapCrash.AfterStage =>
          assert(exists(path) && exists(path + ".compact"))
        case SwapCrash.AfterMoveOut =>
          assert(!exists(path), "live should be moved out")
          assert(exists(path + ".compact") && exists(path + ".trash"))
        case _ =>
          assert(exists(path) && exists(path + ".trash"))
          assert(!exists(path + ".compact"))
      }
      // the crashed compactor left its lease: a fresh compact() refuses
      // it (compact-vs-compact exclusion) until recover() clears it
      val lease = intercept[IllegalStateException] {
        VectorStore.compact(spark, path)
      }
      assert(lease.getMessage.contains("recover()"), lease.getMessage)
      VectorStore.recover(spark, path)
      VectorStore.compact(spark, path)
      oneCommittedLayout(path)
      assert(vecProbe(path) === baseline, s"probe drifted after window $pt")
    }
  }

  test("vector store: recover() alone re-commits the moved-out window " +
      "without compacting") {
    val path = freshVecStore()
    val baseline = vecProbe(path)
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterMoveOut
    try intercept[SwapCrash.Injected] { VectorStore.compact(spark, path) }
    finally SwapCrash.reset()
    assert(!exists(path))
    VectorStore.recover(spark, path)
    oneCommittedLayout(path)
    assert(vecProbe(path) === baseline)
  }

  // ---- signature store ------------------------------------------------

  private val p = SignatureStore.Params(shingleK = 3, nBands = 8,
    rowsPerBand = 2, nShards = 32)

  private lazy val sigDocs = Tables.documents(spark, sf)
  private lazy val sigBatch = sigDocs.filter($"doc_id" % 5 === 0)

  private def freshSigStore(): String = {
    val dir = Files.createTempDirectory("graft_cc_sig").toString
    val stored = sigDocs.filter($"doc_id" % 5 =!= 0)
    SignatureStore.write(stored.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir, p)
    SignatureStore.append(stored.filter($"doc_id" % 2 === 0),
      "doc_id", "text", dir, p)
    dir
  }

  private def sigProbe(path: String): Seq[(Long, Long, Double)] =
    SignatureStore.dedupAgainstStore(sigBatch, "doc_id", "text", path, p, 0.5)
      .as[(Long, Long, Double)].collect().toSeq.sorted

  test("signature store: crash in the bands swap and in the shingles swap, " +
      "re-run compact converges") {
    // fireAtCall=1 crashes the bands swap; =2 lets bands complete and
    // crashes the shingles swap — the mixed state (bands compacted,
    // shingles mid-swap) must also recover with identical probes
    for ((call, pt) <- Seq(
        1 -> SwapCrash.AfterStage, 1 -> SwapCrash.AfterMoveOut,
        1 -> SwapCrash.AfterSwapIn,
        2 -> SwapCrash.AfterMoveOut, 2 -> SwapCrash.AfterSwapIn)) {
      val path = freshSigStore()
      val baseline = sigProbe(path)
      assert(baseline.nonEmpty)
      SwapCrash.reset()
      SwapCrash.point = pt
      SwapCrash.fireAtCall = call
      try intercept[SwapCrash.Injected] { SignatureStore.compact(spark, path, p) }
      finally SwapCrash.reset()
      val live = if (call == 1) path + "/bands" else path + "/shingles"
      if (pt == SwapCrash.AfterMoveOut)
        assert(!exists(live) && exists(live + ".compact") && exists(live + ".trash"))
      SignatureStore.recover(spark, path) // clears the crashed lease
      SignatureStore.compact(spark, path, p)
      oneCommittedLayout(path + "/bands")
      oneCommittedLayout(path + "/shingles")
      assert(sigProbe(path) === baseline,
        s"probe drifted after window (call=$call, point=$pt)")
    }
  }

  test("signature store: a crash AFTER both swaps but BEFORE the " +
      "tombstone clear keeps the delete in force; re-run converges") {
    val path = freshSigStore()
    val before = sigProbe(path)
    assert(before.nonEmpty)
    val victim = before.head._2
    SignatureStore.delete(spark,  path, Seq(victim).toDF("doc_id"))
    val masked = before.filterNot(_._2 == victim)
    assert(sigProbe(path) === masked)
    // kill at the END of the SECOND (shingles) swap: both surfaces are
    // committed with the delete applied, but StoreFs.delete on
    // _tombstones never ran
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterSwapIn
    SwapCrash.fireAtCall = 2
    try intercept[SwapCrash.Injected] { SignatureStore.compact(spark, path, p) }
    finally SwapCrash.reset()
    assert(exists(path + "/_tombstones"), "tombstones must survive the crash")
    // the delete stays logically in force through the debris state
    assert(sigProbe(path) === masked)
    // re-running compaction (after clearing the crashed lease)
    // re-applies the (now no-op) delete and clears
    SignatureStore.recover(spark, path)
    SignatureStore.compact(spark, path, p)
    oneCommittedLayout(path + "/bands")
    oneCommittedLayout(path + "/shingles")
    assert(!exists(path + "/_tombstones"))
    assert(sigProbe(path) === masked)
    assert(spark.read.parquet(path + "/bands")
      .filter(col("doc") === victim).count() === 0L)
  }

  test("signature store: recover() alone restores a probe-able store " +
      "from the moved-out window") {
    val path = freshSigStore()
    val baseline = sigProbe(path)
    SwapCrash.reset()
    SwapCrash.point = SwapCrash.AfterMoveOut
    try intercept[SwapCrash.Injected] { SignatureStore.compact(spark, path, p) }
    finally SwapCrash.reset()
    assert(!exists(path + "/bands"))
    SignatureStore.recover(spark, path)
    oneCommittedLayout(path + "/bands")
    oneCommittedLayout(path + "/shingles")
    assert(sigProbe(path) === baseline)
  }

  // ---- every store, through the one StoreFs protocol -------------------

  for (c <- storeCases)
    test(s"${c.name}: crash at each swap window with a pending delete; " +
        "recover() + compact() apply it") {
      for (pt <- Seq(SwapCrash.AfterStage, SwapCrash.AfterMoveOut,
          SwapCrash.AfterSwapIn)) {
        val path = c.build()
        val victim = c.stored(path).min
        c.delete(path, c.tombstones(Seq(victim)))
        val masked = c.visible(path)
        assert(!masked(victim) && c.stored(path)(victim))
        SwapCrash.reset()
        SwapCrash.point = pt
        try intercept[SwapCrash.Injected] { c.compact(path) }
        finally SwapCrash.reset()
        val lease = intercept[IllegalStateException] { c.compact(path) }
        assert(lease.getMessage.contains("recover()"), lease.getMessage)
        c.recover(path)
        assert(c.visible(path) === masked, s"delete lost at window $pt")
        c.compact(path)
        c.surfaces(path).foreach(oneCommittedLayout)
        assert(!exists(path + "/_tombstones"), s"tombstones left at window $pt")
        assert(!exists(c.lockPath(path)), s"lease left at window $pt")
        assert(!c.stored(path)(victim), s"delete not applied at window $pt")
        assert(c.visible(path) === masked)
      }
    }
}
