package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims
import graft.streaming.Streams

/** The persisted stores' file layer and their ONE maintenance
  * protocol, which the seven stores share through [[MaintainedStore]].
  * Store directories are URI-capable strings, so every probe, listing
  * and rename goes through the Hadoop `FileSystem` API (`java.io.File`
  * works only on the local file system and would strand `hdfs://` /
  * `s3a://` paths).
  *
  * The maintenance contract:
  *  - Delete: ids land in `<path>/_tombstones/` (hidden from store
  *    scans by the `_` prefix). Probes mask them at once with a
  *    broadcast `left_anti` join; compaction applies them physically.
  *    A tombstone wins over a later append of the same id until then.
  *    Past ~10⁶ pending ids the broadcast stops being noise: that is
  *    the signal that compaction is due.
  *  - Lease: compact() holds a lock file for its whole run, acquired
  *    atomically (`create(overwrite=false)`), so a second compact() is
  *    refused. Every writer probes it first and fails fast. This is a
  *    fail-fast guard, not a lock manager: the probe-then-write window
  *    stays open (check-then-create on the local FS). It closes the
  *    operationally likely race, a scheduled ingest overlapping a
  *    scheduled compaction by minutes.
  *  - Snapshot: compact() lists the tombstone files at entry and
  *    applies exactly those. A delete racing past the lease probe
  *    appends a new file, which stays in force until the next
  *    compaction; only the snapshot's files are removed at exit.
  *  - Swap: each surface is rewritten to `<live>.compact`, then two
  *    renames (live → `<live>.trash`, staged → live) and the trash
  *    delete last, so no instant loses both copies. Crash windows:
  *    after the stage (staged is debris: dropped), after the move-out
  *    (staged is complete: adopted), after the swap-in (trash
  *    dropped). [[recoverSwap]] resolves each, and runs at every
  *    swap's entry.
  *  - Rescue: where the tombstone dir lives inside the swapped dir, a
  *    late tombstone file rides the old live dir into `.trash`; it is
  *    moved back into the new live dir before the trash is deleted. A
  *    crash inside that window still loses it (a crash-during-race
  *    residual).
  *  - Reader retry: a probe racing a swap can see no live dir or a
  *    stale file listing. [[retryingRead]] refreshes and retries; the
  *    compacted layout gives bit-identical probe results.
  *  - Recover: a compactor crash leaves the lease held and a swap half
  *    done. recover() repairs every surface's swap and clears the
  *    lease; it is the one gate back to writing and compacting.
  *
  * The keyed-ingest replay contract (six stores stream through
  * [[MaintainedStore.ingestStream]]; `VectorStore` does not):
  *  - Own key: micro-batch `id` of the stream checkpointed at `ckpt`
  *    writes under `ingest=b<id>_<hex of ckpt's hash>`, so two streams'
  *    batch 0 never share a partition and a restart on the same
  *    checkpoint replays onto its own.
  *  - Dynamic overwrite: [[MaintainedStore.writeIngest]] replaces only
  *    the partitions present in the batch's rows, so a replay replaces
  *    its own prior, possibly partial, write and touches nothing else.
  *  - The decision excludes its own key: every read that decides what
  *    a batch keeps or emits goes through
  *    [[MaintainedStore.replayVisible]] with the batch's key, so a replay
  *    decides against exactly the store state the first attempt saw.
  *  - Side sink under the same key: a store's second output (accepted
  *    docs, cleaned docs, scores, pairs) lands at `<sink>/ingest=<key>`
  *    with overwrite ([[MaintainedStore.writeSideSink]]).
  * Together a crash before, between or after a batch's writes replays
  * to the uninterrupted run's rows (`RestartEquivalenceSpec`). */
private[graft] object StoreFs {

  def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(
      spark.sessionState.newHadoopConfWithOptions(LocalFs.options(spark))), p)
  }

  /** Every library write's `DataFrameWriter`: `file:` paths go through
    * [[LocalFs]], so a created file, `.crc` or directory costs no
    * forked `chmod`. */
  def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(LocalFs.options(df.sparkSession))

  /** Spark's hidden-path rule: `_`/`.`-prefixed names are not data. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The first COMMITTED data file under `dir`, or None when there is
    * none (Spark hides `_`/`.`-prefixed paths, so a crashed write's
    * `_temporary` debris does not count — a store that "exists" but has
    * no committed files must be treated as absent, both for decision
    * correctness and because schema inference on it would fail). */
  private def firstCommittedFile(spark: SparkSession,
      dir: String): Option[FileStatus] = {
    val (fs, p) = fileSystem(spark, dir)
    // Spark's visibility rule: `_`/`.`-prefixed names are hidden UNLESS
    // they contain `=` — a partition directory like `__batch_id=0` is
    // data, `_temporary`/`_SUCCESS` are not
    def visible(n: String): Boolean = !hidden(n) || n.contains("=")
    def walk(path: Path): Option[FileStatus] =
      fs.listStatus(path).iterator
        .filter(st => visible(st.getPath.getName))
        .map(st => if (st.isFile) Some(st) else walk(st.getPath))
        .collectFirst { case Some(f) => f }
    if (fs.exists(p)) walk(p) else None
  }

  /** True iff `dir` holds at least one committed data file. */
  def hasCommittedData(spark: SparkSession, dir: String): Boolean =
    firstCommittedFile(spark, dir).isDefined

  /** `dir` as a parquet DataFrame, or None when it holds no committed
    * data. The schema comes from ONE committed file's footer, read on
    * the driver, and is handed to `spark.read.schema(..)`: a plain
    * `spark.read.parquet(dir)` infers the same schema from the same
    * single footer, but inside a Spark job. Partition columns are
    * still discovered from the directory names. With
    * `spark.sql.parquet.mergeSchema` on, every footer matters, so this
    * defers to Spark's own inference. */
  def readCommitted(spark: SparkSession, dir: String): Option[DataFrame] =
    firstCommittedFile(spark, dir).map { f =>
      val footer =
        if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
        else GraftParquetShims.footerSchema(spark, f)
      footer.fold(spark.read.parquet(dir))(s => spark.read.schema(s).parquet(dir))
    }

  def tombstoneDir(path: String): String = path + "/_tombstones"

  /** The pending tombstone set of the store at `path` (one id column),
    * or None when no delete is pending. Bounded by deletes since the
    * last compaction. It may repeat an id: every consumer masks with a
    * broadcast `left_anti` join, where a duplicate cannot change the
    * result. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    readCommitted(spark, tombstoneDir(path))

  /** Append `ids` (one column) to the tombstone dir of the store at
    * `path`. Mixed column names across deletes would append
    * mixed-schema parquet whose non-mergeSchema read returns NULL ids
    * for one side, so those deletes would silently stop masking
    * probes: the column must match the pending tombstones'. */
  def appendTombstones(spark: SparkSession, path: String,
      ids: DataFrame): Unit = {
    val dir = tombstoneDir(path)
    readCommitted(spark, dir).foreach { t =>
      val existing = t.columns.head
      require(existing == ids.columns.head,
        s"tombstone id column mismatch: store has '$existing', " +
          s"delete got '${ids.columns.head}'")
    }
    writer(ids.distinct()).mode("append").parquet(dir)
  }

  /** The partitioned store writer: `df` lands in `path`
    * `partitionBy(partCol)`, ONE file per partition directory per
    * write, after the compactor-lease probe at `lockPath`. Unshuffled,
    * every task writes its own file into every directory it holds
    * rows for (an ingest micro-batch at 4 tasks × 16 buckets wrote 64
    * files), and each file costs a footer and a `.crc` on disk. Through
    * [[writer]] each created file, `.crc` and directory also costs an
    * in-process mode set (0.56-1.09 ms per created file on a 4-CPU
    * host; the stock local file system without the native library
    * forks a `chmod` for each, 10.5-14.3 ms). The `rebalance` hint
    * hash-places every directory's rows in one reducer; AQE coalesces
    * a small write into few tasks, and splits a directory whose rows
    * outgrow the advisory partition size over several tasks (one file
    * each), so a hot bucket at scale is not one straggler task. */
  def writePartitioned(df: DataFrame, partCol: String, path: String,
      mode: String, lockPath: String, what: String): Unit = {
    failIfLeased(df.sparkSession, lockPath, what)
    writer(df.hint("rebalance", col(partCol)))
      .partitionBy(partCol).mode(mode).parquet(path)
  }

  /** Names of `dir`'s immediate children; empty when `dir` is absent. */
  def childNames(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Recursive delete; no-op when absent. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fileSystem(spark, dir)
    fs.delete(p, true)
    ()
  }

  /** Absolute paths of `dir`'s immediate committed data files (the
    * `_`/`.` rule), empty when absent: the tombstone snapshot. */
  private def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && !hidden(st.getPath.getName))
      .map(_.getPath.toString)
  }

  /** The pending tombstones at compaction entry: the snapshot's file
    * paths and their ids (None when no delete is pending). */
  private[sources] def tombstoneSnapshot(spark: SparkSession,
      path: String): (Seq[String], Option[DataFrame]) = {
    val files = listDataFiles(spark, tombstoneDir(path))
    (files, if (files.isEmpty) None
      else Some(spark.read.parquet(files: _*).distinct()))
  }

  /** Remove exactly the snapshot's tombstone files once every swap has
    * committed, then the write debris (`_SUCCESS`, `.crc`) and the dir
    * itself by a NON-recursive delete, which fails atomically on a dir
    * a late tombstone keeps non-empty. A no-op where the tombstone dir
    * rode the old live dir into the trash. */
  private[sources] def clearTombstones(spark: SparkSession, path: String,
      snapshot: Seq[String]): Unit = {
    snapshot.foreach { f =>
      val (fs, hp) = fileSystem(spark, f)
      fs.delete(hp, false)
    }
    val (fs, dir) = fileSystem(spark, tombstoneDir(path))
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        if (st.isFile && hidden(st.getPath.getName)) fs.delete(st.getPath, false)
      }
      try fs.delete(dir, false)
      catch { case _: java.io.IOException => () } // non-empty: keep it
    }
  }

  // --- the compactor lease ----------------------------------------------

  /** Acquire the compactor lease atomically. A lease already present is
    * a live concurrent compact() or a crashed one; both need the
    * operator (wait, or run recover()), so this throws. */
  def acquireLease(spark: SparkSession, lockPath: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    val out =
      try fs.create(p, false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"compact() rejected: the store lease at $lockPath is already " +
              "held - another compact() is running, or a previous one " +
              "crashed (run recover() to clear a crashed compactor's lease)",
            e)
      }
    out.write(
      s"compact pid=${ProcessHandle.current().pid()} epoch=${System.currentTimeMillis()}"
        .getBytes("UTF-8"))
    out.close()
  }

  /** Release the compactor lease; no-op when absent. */
  def releaseLease(spark: SparkSession, lockPath: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    fs.delete(p, false)
    ()
  }

  /** Writer-side probe: throw if a compactor lease is present. */
  def failIfLeased(spark: SparkSession, lockPath: String,
      what: String): Unit = {
    val (fs, p) = fileSystem(spark, lockPath)
    if (fs.exists(p))
      throw new IllegalStateException(
        s"$what rejected: a compact() holds the store lease at $lockPath " +
          "- wait for compaction to finish, or run recover() if the " +
          "compactor crashed (a crash leaves the lease in place)")
  }

  // --- the swap -----------------------------------------------------------

  /** Test-only pause hooks inside [[stageAndSwap]] (null latches: a
    * no-op). `entered`/`gate` hold the between-renames window (no live
    * dir) open for a racing reader; `enteredStage`/`gateStage` hold the
    * staged-but-not-moved-out point, where a late tombstone is
    * injected. */
  private[graft] object SwapPause {
    @volatile var entered: java.util.concurrent.CountDownLatch = null
    @volatile var gate: java.util.concurrent.CountDownLatch = null
    @volatile var enteredStage: java.util.concurrent.CountDownLatch = null
    @volatile var gateStage: java.util.concurrent.CountDownLatch = null
    private def pause(e: java.util.concurrent.CountDownLatch,
        g: java.util.concurrent.CountDownLatch): Unit = {
      if (e != null) e.countDown()
      if (g != null) g.await()
    }
    def maybePause(): Unit = pause(entered, gate)
    def maybePauseStaged(): Unit = pause(enteredStage, gateStage)
    def reset(): Unit = {
      entered = null; gate = null; enteredStage = null; gateStage = null
    }
  }

  /** Test-only crash injection at one of [[stageAndSwap]]'s three
    * windows (0 = off), on its `fireAtCall`-th invocation (1-based:
    * `SignatureStore` swaps bands, then shingles). */
  private[graft] object SwapCrash {
    final val AfterStage = 1   // staged dir written, live untouched
    final val AfterMoveOut = 2 // live moved to .trash, staged not yet live
    final val AfterSwapIn = 3  // staged now live, .trash not yet deleted
    @volatile var point: Int = 0
    @volatile var fireAtCall: Int = 1
    private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    final class Injected extends RuntimeException("injected swap crash")
    private[sources] def begin(): Unit = calls.incrementAndGet()
    def maybe(p: Int): Unit =
      if (point == p && calls.get() == fireAtCall) throw new Injected
    def reset(): Unit = { point = 0; fireAtCall = 1; calls.set(0) }
  }

  /** Rewrite `live` into `<live>.compact` via `rewrite(liveFrame,
    * staged)`, then swap it in: live → `.trash`, staged → live, rescue
    * late tombstones out of the trash, delete the trash. */
  private[sources] def stageAndSwap(spark: SparkSession, live: String,
      snapNames: Set[String])(rewrite: (DataFrame, String) => Unit): Unit = {
    val (fs, hLive) = fileSystem(spark, live)
    SwapCrash.begin()
    recoverSwap(spark, live)
    val staged = live + ".compact"
    rewrite(spark.read.parquet(live), staged)
    SwapCrash.maybe(SwapCrash.AfterStage)
    SwapPause.maybePauseStaged()
    val hTrash = new Path(live + ".trash")
    require(fs.rename(hLive, hTrash),
      s"compaction swap failed: move-out $live")
    SwapCrash.maybe(SwapCrash.AfterMoveOut)
    SwapPause.maybePause()
    require(fs.rename(new Path(staged), hLive),
      s"compaction swap failed: rename $staged -> $live")
    rescueLateTombstones(fs, live, snapNames)
    SwapCrash.maybe(SwapCrash.AfterSwapIn)
    fs.delete(hTrash, true)
  }

  /** Move every tombstone file under `<live>.trash` that is not in the
    * compaction's snapshot back into the new live dir, so a delete that
    * raced past the lease probe stays in force. */
  private def rescueLateTombstones(fs: FileSystem, live: String,
      snapNames: Set[String]): Unit = {
    val trashTs = new Path(tombstoneDir(live + ".trash"))
    if (fs.exists(trashTs)) {
      val late = fs.listStatus(trashTs).filter { st =>
        val n = st.getPath.getName
        st.isFile && !hidden(n) && !snapNames.contains(n)
      }
      if (late.nonEmpty) {
        val liveTs = new Path(tombstoneDir(live))
        fs.mkdirs(liveTs)
        late.foreach { st =>
          require(fs.rename(st.getPath,
            new Path(liveTs, st.getPath.getName)),
            s"compaction failed to rescue late tombstone ${st.getPath}")
        }
      }
    }
  }

  /** Complete or clean an interrupted [[stageAndSwap]]:
    *  - live + `.compact`: the staged write may be partial; drop it.
    *  - no live + `.compact`: the move-out only follows a complete
    *    rewrite; adopt the staged dir.
    *  - no live + no `.compact` + `.trash`: defensive; restore trash.
    *  - live + `.trash`: crash before the final delete; drop trash.
    * After this, exactly one committed layout exists at `live`. */
  private[sources] def recoverSwap(spark: SparkSession, live: String): Unit = {
    val (fs, hLive) = fileSystem(spark, live)
    val hStaged = new Path(live + ".compact")
    val hTrash = new Path(live + ".trash")
    if (!fs.exists(hLive)) {
      if (fs.exists(hStaged))
        require(fs.rename(hStaged, hLive),
          s"swap recovery failed: adopt ${live}.compact")
      else if (fs.exists(hTrash))
        require(fs.rename(hTrash, hLive),
          s"swap recovery failed: restore ${live}.trash")
    } else if (fs.exists(hStaged)) {
      fs.delete(hStaged, true)
    }
    if (fs.exists(hLive)) fs.delete(hTrash, true)
  }

  /** Run `thunk` (it must BUILD the read and run the action: a pre-built
    * DataFrame's file index is the stale state being retried away),
    * retrying a recoverable read error after refreshing the session's
    * cached listings of `refreshPaths` and backing off. Non-recoverable
    * errors and exhausted attempts propagate unchanged. After a
    * compactor CRASH the no-live state is permanent and the retries
    * exhaust: run recover() instead. */
  private[sources] def retryingRead[T](spark: SparkSession,
      refreshPaths: Seq[String], attempts: Int)(thunk: => T): T = {
    def recoverable(t: Throwable): Boolean = {
      val chain = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).take(10).toSeq
      chain.exists { e =>
        val m = Option(e.getMessage).getOrElse("")
        e.isInstanceOf[java.io.FileNotFoundException] ||
          m.contains("PATH_NOT_FOUND") ||
          m.contains("Path does not exist") ||
          m.contains("FileNotFoundException")
      }
    }
    def loop(attempt: Int): T =
      try thunk
      catch {
        case e: Throwable if attempt < attempts && recoverable(e) =>
          refreshPaths.foreach { p =>
            try spark.catalog.refreshByPath(p)
            catch { case _: Throwable => () } // path absent mid-swap: fine
          }
          Thread.sleep(100L * attempt)
          loop(attempt + 1)
      }
    loop(1)
  }
}

/** One store's share of the [[StoreFs]] maintenance protocol. A store
  * object supplies its name, lease path, swapped surfaces and id rule;
  * it gets delete, the reader retry, recover and the compaction frame. */
private[graft] trait MaintainedStore {

  /** The store's name in error messages. */
  protected def storeName: String

  /** The compactor lease of the store at `path`: a sibling, because the
    * swap renames the store dir itself. */
  private[graft] def lockPath(path: String): String = path + ".compact_lock"

  /** The directories compact() swaps. */
  protected def surfaces(path: String): Seq[String] = Seq(path)

  /** The store column a tombstone masks at compaction; None keeps the
    * tombstone's own column name. */
  protected def idColumn: Option[String] = None

  /** The tombstone rows a delete of `ids` (one column) appends. */
  protected def tombstoneIds(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = ids

  /** Logical delete (right to be forgotten): `ids` (one column) are
    * masked from every probe at once, applied physically by compact(),
    * and win over a later append of the same id until then. Ids not in
    * the store are harmless. Fails fast while compact() holds the
    * lease. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"delete expects a single id column, got ${ids.columns.mkString(",")}")
    StoreFs.failIfLeased(spark, lockPath(path), s"$storeName delete")
    StoreFs.appendTombstones(spark, path, tombstoneIds(spark, path, ids))
  }

  /** Run a probe racing compact(): wrap plan construction AND the
    * action, so the swap's transient windows retry
    * ([[StoreFs.retryingRead]]). */
  def withReadRetry[T](spark: SparkSession, path: String,
      attempts: Int = 6)(thunk: => T): T =
    StoreFs.retryingRead(spark, surfaces(path), attempts)(thunk)

  /** Recover an interrupted compact() without compacting again: repair
    * every surface's swap and clear the crashed compactor's lease. */
  def recover(spark: SparkSession, path: String): Unit = {
    surfaces(path).foreach(StoreFs.recoverSwap(spark, _))
    StoreFs.releaseLease(spark, lockPath(path))
  }

  // --- keyed ingest (the replay contract in the StoreFs header) --------

  /** Drain `stream` on `checkpoint`, handing `body` each micro-batch,
    * its ingest key and its batch id. The checkpoint is the batch-id
    * namespace, so its hash completes the key. */
  protected def ingestStream(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, String, Long) => Unit): StreamingQuery = {
    val key = Integer.toHexString(checkpoint.hashCode)
    Streams.drain(stream, checkpoint) { (batch, batchId) =>
      body(batch, s"b${batchId}_$key", batchId)
    }
  }

  /** The writer-side lease probe of a write under `ingest`. */
  protected def failIfLeased(spark: SparkSession, path: String,
      ingest: String): Unit =
    StoreFs.failIfLeased(spark, lockPath(path),
      s"$storeName write (ingest=$ingest)")

  /** The per-batch store writer: after the lease probe, `rows` land in
    * the surface `path + surface` under `ingest=<ingest>/<parts…>` with
    * dynamic partition overwrite. The caller's exchange, if any, sets
    * the files per directory. */
  protected def writeIngest(path: String, ingest: String, rows: DataFrame,
      parts: Seq[String] = Nil, surface: String = ""): Unit = {
    failIfLeased(rows.sparkSession, path, ingest)
    StoreFs.writer(rows.withColumn("ingest", lit(ingest)))
      .partitionBy("ingest" +: parts: _*).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path + surface)
  }

  /** A batch's side output at `<sink>/ingest=<ingest>`, replaced whole. */
  protected def writeSideSink(rows: DataFrame, sink: String,
      ingest: String): Unit =
    StoreFs.writer(rows).mode("overwrite").parquet(sink + "/ingest=" + ingest)

  /** `rows` (a read of one of the store's surfaces) without the
    * `ingest` partition `exclude`: a replayed batch's view of the store
    * before its own first attempt. */
  protected def replayScoped(rows: DataFrame,
      exclude: Option[String]): DataFrame =
    exclude.fold(rows)(ex => rows.filter(col("ingest") =!= lit(ex)))

  /** [[replayScoped]] `rows` with the pending tombstones masked under
    * the store's id column: what a batch's decision may read. */
  protected def replayVisible(spark: SparkSession, path: String,
      rows: DataFrame, exclude: Option[String]): DataFrame = {
    val scoped = replayScoped(rows, exclude)
    StoreFs.tombstones(spark, path).fold(scoped) { t =>
      val c = idColumn.getOrElse(t.columns.head)
      scoped.join(broadcast(t.toDF(c)), Seq(c), "left_anti")
    }
  }

  /** The compaction frame: take the lease, snapshot the tombstones, and
    * stage-and-swap every surface through `rewrite(surface, rows,
    * staged)`, where `rows` is the live surface minus the snapshot's
    * ids; then clear the snapshot and release the lease. */
  protected def compactWith(spark: SparkSession, path: String)(
      rewrite: (String, DataFrame, String) => Unit): Unit = {
    StoreFs.acquireLease(spark, lockPath(path))
    val (snapshot, dead) = StoreFs.tombstoneSnapshot(spark, path)
    val snapNames = snapshot.map(f => new Path(f).getName).toSet
    surfaces(path).foreach { live =>
      StoreFs.stageAndSwap(spark, live, snapNames) { (src, staged) =>
        val rows = dead.fold(src) { t =>
          val c = idColumn.getOrElse(t.columns.head)
          require(src.columns.contains(c),
            s"tombstone column '$c' not in store schema " +
              s"${src.columns.mkString(",")}")
          src.join(broadcast(t.toDF(c)), Seq(c), "left_anti")
        }
        rewrite(live, rows, staged)
      }
    }
    StoreFs.clearTombstones(spark, path, snapshot)
    StoreFs.releaseLease(spark, lockPath(path))
  }
}
