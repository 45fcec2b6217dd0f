package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShims

/** Hadoop-`FileSystem` path operations shared by the crash-resumable
  * stores ([[SignatureStore]], `Packing`'s streaming state): every
  * store directory is named by a URI-capable string, so probing and
  * pruning must go through the Hadoop API — `java.io.File` silently
  * works only on the local filesystem and would strand these paths on
  * `hdfs://`/`s3a://`, the deployment target at 100 TB. (The
  * compaction swap already did this; these helpers extend the same
  * discipline to existence probes, listings and retention deletes.) */
private[graft] object StoreFs {

  def fileSystem(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

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
    def visible(n: String): Boolean =
      !(n.startsWith("_") || n.startsWith(".")) || n.contains("=")
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
    ids.distinct().write.mode("append").parquet(dir)
  }

  /** The partitioned store writer: `df` lands in `path`
    * `partitionBy(partCol)`, ONE file per partition directory per
    * write, after the compactor-lease probe at `lockPath`. Unshuffled,
    * every task writes its own file into every directory it holds
    * rows for (an ingest micro-batch at 4 tasks × 16 buckets wrote 64
    * files), and each file costs a footer and a `.crc` on disk plus,
    * on Hadoop's local file system without the native library, a
    * forked `chmod` per file, `.crc` and new directory (10.5-14.3 ms
    * per directory + file + `.crc` on a 4-CPU host, against 0.13 ms
    * through plain `java.io`). The `rebalance` hint hash-places every
    * directory's rows in one reducer; AQE coalesces a small write into
    * few tasks, and splits a directory whose rows outgrow the advisory
    * partition size over several tasks (one file each), so a hot
    * bucket at scale is not one straggler task. */
  def writePartitioned(df: DataFrame, partCol: String, path: String,
      mode: String, lockPath: String, what: String): Unit = {
    failIfLeased(df.sparkSession, lockPath, what)
    df.hint("rebalance", col(partCol))
      .write.partitionBy(partCol).mode(mode).parquet(path)
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

  /** Absolute paths of `dir`'s immediate COMMITTED data files (visible
    * per the `_`/`.` rule), empty when absent — the snapshot primitive
    * for compact()'s apply-then-delete of the tombstone dir: reading
    * and deleting an explicit file list means a tombstone file appended
    * AFTER the snapshot survives untouched to the next compaction
    * instead of being applied-never/deleted-anyway. */
  def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fileSystem(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !(n.startsWith("_") || n.startsWith("."))
      })
      .map(_.getPath.toString)
  }

  // --- writer-vs-compact exclusion lease -------------------------------
  //
  // compact() owns the store while it runs: it collapses/renames the
  // very directories a racing append/ingest-batch/delete would write
  // into (a write landing in the no-live window even recreates the live
  // path and breaks the swap's rename). Readers got a retry contract;
  // writers get FAIL-FAST: compact writes an epoch lock file at entry
  // and removes it at exit, and every writer probes it first, throwing
  // a clear error instead of corrupting the swap. This is a fail-fast
  // guard, not a distributed lock manager — the probe-then-write window
  // is not closed (HDFS create(overwrite=false) is atomic; the local FS
  // one is check-then-create), which is the documented posture: the
  // race it closes is the operationally likely one (a scheduled ingest
  // overlapping a scheduled compaction by minutes, not microseconds).
  // A compactor CRASH leaves the lock in place — writers keep failing
  // with a message naming `recover()`, which clears it; `recover()` is
  // also the gate back to compacting after a crash (a fresh compact()
  // REFUSES a held lease rather than silently re-acquiring — the old
  // overwrite-acquire let two concurrent compact() calls both "own" the
  // store, and the second's release unlocked writers mid-swap of the
  // first).

  /** Acquire the compactor lease ATOMICALLY (`create(overwrite=false)`
    * — atomic on HDFS; check-then-create on the local FS, the same
    * documented posture as the writer probe). A lease already present
    * means either a LIVE concurrent compact() or a crashed one — both
    * demand the operator's decision, so this throws instead of taking
    * over: wait for the live compactor, or run recover() after a
    * crash. */
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

  /** The `beforeTrashDelete` hook body shared by the single-directory
    * stores (`VectorStore`, `MediaDedupStore`), whose `_tombstones/`
    * dir lives INSIDE the swapped store dir and therefore rides the old
    * live dir into `<path>.trash`: move any tombstone file NOT in the
    * compaction's entry snapshot (`snapNames`) back into the new live
    * dir's `_tombstones/`, so a delete that raced past the lease's
    * probe-then-write window stays in force until the next compaction
    * instead of being discarded with the trash. */
  def rescueLateTombstones(spark: SparkSession, path: String,
      snapNames: Set[String]): Unit = {
    val (fs, trashTs) = fileSystem(spark, path + ".trash/_tombstones")
    if (fs.exists(trashTs)) {
      val late = fs.listStatus(trashTs).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
          !snapNames.contains(n)
      }
      if (late.nonEmpty) {
        val liveTs = new Path(path + "/_tombstones")
        fs.mkdirs(liveTs)
        late.foreach { st =>
          require(fs.rename(st.getPath,
            new Path(liveTs, st.getPath.getName)),
            s"compaction failed to rescue late tombstone ${st.getPath}")
        }
      }
    }
  }

  /** Run a store probe with retry-on-recoverable-read — the reader's
    * half of the compaction contract. A probe racing a concurrent
    * `compact()` can observe two transient states: (a) the between-
    * renames window where no live dir exists (reads throw
    * PATH_NOT_FOUND), and (b) a file listing captured BEFORE the swap
    * whose files were renamed away before the scan opened them
    * (FileNotFoundException mid-job; Spark's session file-status cache
    * can also serve the stale listing to a fresh read). Both are
    * transient — the swap itself is two directory renames — so the
    * resolution is: refresh the session's cached listings for
    * `refreshPaths`, back off briefly, and re-run the probe from plan
    * construction. `thunk` must therefore BUILD the read and run the
    * action (not reuse a pre-built DataFrame, whose file index is the
    * stale state being retried away). Non-recoverable errors and
    * exhausted attempts propagate unchanged. NOT a substitute for
    * `recover()` after a compactor CRASH — a dead compactor leaves the
    * no-live state permanently and retries here will exhaust; crash
    * recovery stays an explicit owner-side operation because running it
    * mid-swap would fight a live compactor for the same renames. */
  def retryingRead[T](spark: SparkSession, refreshPaths: Seq[String],
      attempts: Int = 6)(thunk: => T): T = {
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
