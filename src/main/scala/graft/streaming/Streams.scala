package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.operators.{Chunker, NoiseFilter}
import graft.functions.{TextOps, VectorOps}
import graft.sources.StoreFs

/** Per-sender state carried across micro-batches by
  * [[Streams.statefulUserCounts]]. */
case class SenderState(nEvents: Long, lastSeenMs: Long)

/** Update record emitted per sender per micro-batch. */
case class SenderCount(user_id: Long, n_events: Long, last_seen_ms: Long)

/** Structured Streaming restatement of the reference's ingest loop
  * (`src/signal/receive.rs:28-43`, SURVEY §2.8): the reference pulls
  * one message at a time and synchronously ETLs + embeds + inserts it;
  * here the same pipeline is declared once over a streaming DataFrame
  * and executed batch-parallel per micro-batch.
  *
  * Semantics upgrades over the reference (documented, SURVEY ST4/ST7):
  *  - at-least-once source + idempotent dedup instead of silent
  *    at-most-once loss (insert errors were printed and dropped,
  *    `src/rag/sqlx.rs:75-78`);
  *  - `Trigger.AvailableNow` reproduces the reference's
  *    `Received::QueueEmpty` drain-then-stop semantics
  *    (`src/signal/receive.rs:31`);
  *  - event-time watermarks + windows over the events table (absent in
  *    the reference — `created_at` was processing time).
  */
object Streams {

  /** Streaming source over a parquet directory with an explicit schema
    * (streaming reads cannot infer). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // stream the directory with a glob, not the bare file path — the
    // file-stream source needs a directory basePath once plans compose
    // (e.g. self-union).
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    // normalize ts to a session-zone TIMESTAMP whichever physical type
    // the fixture generation used (see Tables.events): watermarks
    // reject TIMESTAMP_NTZ, and sessions run UTC so the cast is exact.
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** The ingest pipeline as a pure batch→batch transform, so the exact
    * same function runs in `foreachBatch` (streaming) and in tests
    * (batch) — batch-equivalence by construction. Mirrors §3.1:
    * normalize → noise filter → chunk → token count → hash-embed. */
  def ingestTransform(batch: DataFrame, dim: Int = 64): DataFrame = {
    val filtered = NoiseFilter(batch, "body")
    val chunked = Chunker.chunk(filtered, "body", idealTokens = 48, chunkWords = 36)
    chunked
      .withColumn("tokens", col("chunk_tokens"))
      .withColumn("embedding",
        VectorOps.hashEmbed(TextOps.words(col("chunk_text")), dim))
      .withColumn("created_at", current_timestamp())
  }

  /** Drain-then-stop ingest (ST1/ST2): AvailableNow processes the whole
    * backlog then terminates — the reference's QueueEmpty semantics.
    * Delivery is effectively-once: the checkpoint replays a failed batch
    * (at-least-once), and the sink is IDEMPOTENT under that replay —
    * each micro-batch dynamically overwrites its own `__batch_id`
    * partition, so a batch retried after a failure between write and
    * checkpoint commit replaces its partial output instead of appending
    * duplicates. Source-side `dropDuplicatesWithinWatermark(event_id)`
    * additionally dedups re-delivered input rows (ST7). */
  def runIngest(spark: SparkSession, dir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    val stream = eventsStream(spark, dir)
      .withColumnRenamed("props", "body")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    drain(stream, checkpoint)(ingestBatch(_, _, outDir))
  }

  /** One [[runIngest]] micro-batch: the transformed rows replace the
    * batch's own `__batch_id` partition of `outDir`. */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
      outDir: String): Unit =
    StoreFs.writer(ingestTransform(batch)
      .withColumn("__batch_id", lit(batchId)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(outDir)

  /** The one micro-batch drain every streamed surface runs on:
    * AvailableNow processes the backlog present at start and stops,
    * checkpointing each batch to `checkpoint`. A batch whose sink
    * writes landed but whose commit did not is re-run with the same
    * id and the same input after a restart, so `body` must reproduce
    * its own output (each surface's replay rule is in its scaladoc). */
  def drain(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** The one retention rule for per-batch state under
    * `stateDir/batch=<id>`: a batch reads only batch id−1's state (and
    * its replay reads the same), so every dir at id−2 and older is
    * dead. Batch 0 is a fresh checkpoint, so every other `batch=` dir
    * is a prior run's against a reused `stateDir`; it goes too, or a
    * reader of the newest state would serve the old run's. */
  private[graft] def pruneState(spark: SparkSession, stateDir: String,
      batchId: Long): Unit =
    dropBatchDirs(spark, stateDir, "batch=")(b =>
      b <= batchId - 2 || (batchId == 0L && b != 0L))

  /** Delete every `<prefix><id>` child of `dir` whose id is `stale`. */
  private[graft] def dropBatchDirs(spark: SparkSession, dir: String,
      prefix: String)(stale: Long => Boolean): Unit =
    StoreFs.childNames(spark, dir)
      .filter(_.startsWith(prefix))
      .filter(n => stale(n.drop(prefix.length).toLong))
      .foreach(n => StoreFs.delete(spark, s"$dir/$n"))

  /** A batch's output or state write: `df` replaces `path`. */
  private def overwrite(df: DataFrame, path: String): Unit =
    StoreFs.writer(df).mode("overwrite").parquet(path)

  /** ST6 — stateful mid-stream lookup as a stream-static join: each
    * reaction micro-batch joins the STATIC message store to format the
    * reaction against its original message (the reference reads the
    * historical store per reaction, `src/signal/format.rs:36-49`,
    * lines cited per SURVEY §2.8). Stream-static equi-joins need no
    * state store — the static side is (re)broadcast per micro-batch
    * when small, and the plan is identical to the batch form, so batch
    * equivalence is by construction (asserted in StreamsSpec against
    * the q10-style composite-key join). */
  def reactionLookup(reactions: DataFrame, store: DataFrame,
      keyCols: Seq[String], storeBodyCol: String): DataFrame =
    reactions.join(
      org.apache.spark.sql.functions.broadcast(store),
      keyCols, "left")
      .withColumn("formatted",
        when(col(storeBodyCol).isNotNull,
          concat(lit("Reacted to \""), col(storeBodyCol), lit("\"")))
          .otherwise(lit("Reacted to an earlier message")))

  /** ST6 — custom cross-batch state via `mapGroupsWithState`: a
    * running per-sender event counter + last-seen timestamp, the
    * KeyValueGroupedDataset form of the reference's per-sender history
    * the formatter consults mid-stream (`src/signal/format.rs:36-49`).
    * State is a tiny fixed-size record per key, checkpointed by the
    * state store; each micro-batch emits the UPDATED record for the
    * keys it touched (OutputMode.Update). Works identically over a
    * batch Dataset (single "micro-batch"), which is how StreamsSpec
    * asserts batch equivalence. */
  def statefulUserCounts(events: Dataset[(Long, Long)]): Dataset[SenderCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[SenderState, SenderCount](GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var n = state.getOption.map(_.nEvents).getOrElse(0L)
          var last = state.getOption.map(_.lastSeenMs).getOrElse(Long.MinValue)
          rows.foreach { case (_, ms) =>
            n += 1
            if (ms > last) last = ms
          }
          state.update(SenderState(n, last))
          SenderCount(user, n, last)
      }
  }

  /** Streaming driver for [[statefulUserCounts]] over the events
    * directory (update-mode memory/foreachBatch sinks compose). */
  def runStatefulCounts(spark: SparkSession, dir: String,
      queryName: String): StreamingQuery = {
    import spark.implicits._
    val typed = eventsStream(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")))
      .as[(Long, Long)]
    statefulUserCounts(typed).writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()
  }

  /** Streaming continuation of [[graft.operators.Analytics.rollingAnomaly]]:
    * per-key trailing-window anomaly flags over a micro-batch stream,
    * with the lookback context carried across batches as durable state
    * (the last `window` rows per key). Each batch is judged over
    * (carried state ∪ batch) by the SAME batch operator, so a stream
    * drained batch-by-batch in event order flags exactly what one
    * batch pass over the concatenation would (spec-asserted).
    *
    * State rides `stateDir/batch=<id>` with the packStream replay
    * contract: the read is batch id−1's state, the write overwrites
    * batch id's own dirs (state AND output), so a crash between write
    * and checkpoint commit replays bit-identically; [[pruneState]] keeps
    * only ids id−1..id. State volume is |keys|·window rows — bounded by
    * construction, never the stream's history. Out-of-order rows are
    * judged against whatever context the bounded state still holds —
    * the inherent trade of bounded streaming state (same contract as
    * watermarked aggregations). */
  def anomalyStream(stream: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String, window: Int, k: Int,
      minPeriods: Int, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      anomalyBatch(batch, batchId, keyCol, orderCols, valueCol,
        window, k, minPeriods, stateDir, outDir)
    }

  private def anomalyStatePath(stateDir: String, batchId: Long): String =
    s"$stateDir/batch=$batchId"

  private[graft] def anomalyBatch(batch: DataFrame, batchId: Long,
      keyCol: String, orderCols: Seq[String], valueCol: String,
      window: Int, k: Int, minPeriods: Int,
      stateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val cols = (keyCol +: orderCols :+ valueCol).map(col)
    val cur = batch.select(cols: _*).withColumn("__new", lit(1))
    val prev =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(anomalyStatePath(stateDir, batchId - 1))
        .select(cols: _*).withColumn("__new", lit(0))
    val union = cur.unionByName(prev)
    val flagged = graft.operators.Analytics.rollingAnomaly(
      union, keyCol, orderCols, valueCol, window, k, minPeriods)
    overwrite(flagged.filter(col("__new") === 1).drop("__new"),
      s"$outDir/batch=$batchId")
    // new state: the last `window` rows per key by the total frame
    // order — the same per-key sort partitioning the flag window used
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(orderCols.map(c => col(c).desc): _*)
    overwrite(union.filter(col(valueCol).isNotNull)
      .select(cols :+ row_number().over(w).as("__rn"): _*)
      .filter(col("__rn") <= window).drop("__rn"),
      anomalyStatePath(stateDir, batchId))
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming distribution-drift monitor — q143's PSI as a per-batch
    * gate (the versioning-audit family's streaming member): every
    * micro-batch is scored against the ACCUMULATED value distribution
    * of all prior batches, per group. State is the per-(group, bucket)
    * count histogram — bounded by groups × buckets, ADDITIVE (counts
    * of a union are sums of counts), written under `batch=<id>` with
    * the packStream/anomalyStream replay contract: the read is batch
    * id−1's state, the write is batch id's, prune keeps id−1..id — so
    * a crash-replayed batch recomputes bit-identical output and state.
    * Batch 0 (no reference yet) emits an empty result. Output rows per
    * batch: (group, n_a = reference count, n_b = batch count,
    * n_buckets, psi) — exactly `Analytics.distributionDrift(history,
    * batch)` (spec-asserted). */
  def driftStream(stream: DataFrame, groupCol: String, valueCol: String,
      bucketWidth: Double, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      driftBatch(batch, batchId, groupCol, valueCol, bucketWidth,
        stateDir, outDir)
    }

  private[graft] def driftBatch(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, bucketWidth: Double,
      stateDir: String, outDir: String): Unit = {
    import graft.operators.Analytics
    val spark = batch.sparkSession
    val w6 = Analytics.driftW6(bucketWidth)
    val cur = Analytics.driftBucketCounts(batch, groupCol, valueCol, w6)
    val prev =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}")
    val out = Analytics.driftFromCounts(prev, cur, groupCol)
    overwrite((if (batchId == 0L) out.limit(0) else out),
      s"$outDir/batch=$batchId")
    overwrite(cur.unionByName(prev)
      .groupBy(col("dd_g"), col("dd_b")).agg(sum(col("c")).as("c")),
      s"$stateDir/batch=$batchId")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming curation-funnel observability — q199's per-micro-batch
    * continuation: each batch runs [[graft.operators.Funnel.report]]
    * over ITS OWN rows (per-stage drop counts from one observed pass)
    * and the output additionally carries CUMULATIVE per-stage counts
    * (cum_in/cum_out/cum_dropped — additive sums of the per-batch
    * counts). The cumulative read is exact for row-wise predicate
    * stages; a history-dependent stage (dedup against a store) sums
    * its per-batch DECISIONS — the incremental posture the stores
    * document. State/replay is the packStream contract verbatim: read
    * batch id−1's cumulative row set, write this batch's under
    * `batch=<id>` (|stages| rows — trivially bounded), prune ≤ id−2;
    * re-running a batch reads the same state and the same input, so
    * crash replay is bit-identical. */
  def funnelStream(stream: DataFrame,
      stages: Seq[(String, DataFrame => DataFrame)],
      stateDir: String, outDir: String, checkpoint: String)
      : StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      funnelBatch(batch, batchId, stages, stateDir, outDir)
    }

  private[graft] def funnelBatch(batch: DataFrame, batchId: Long,
      stages: Seq[(String, DataFrame => DataFrame)],
      stateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val rep = graft.operators.Funnel.report(batch, stages)
    val prevCum =
      if (batchId == 0L)
        rep.select(col("stage_idx"), col("stage"),
          lit(0L).as("n_in"), lit(0L).as("n_out")).limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}")
    val cum = rep.select(col("stage_idx"), col("stage"),
        col("n_in"), col("n_out"))
      .unionByName(prevCum)
      .groupBy(col("stage_idx"), col("stage"))
      .agg(sum(col("n_in")).as("n_in"), sum(col("n_out")).as("n_out"))
      .localCheckpoint() // two consumers (output join + state write)
    overwrite(rep.join(cum.select(col("stage_idx"), col("n_in").as("cum_in"),
        col("n_out").as("cum_out")), Seq("stage_idx"))
      .withColumn("cum_dropped", col("cum_in") - col("cum_out"))
      .orderBy(col("stage_idx")), s"$outDir/batch=$batchId")
    overwrite(cum, s"$stateDir/batch=$batchId")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming exact-quantile monitor — q41's stateful continuation:
    * per micro-batch, the exact p50/p90/p99 of EVERYTHING seen so far,
    * from the additive (group, value, count) histogram state (the
    * driftStream state contract verbatim: read batch id−1, write own
    * `batch=<id>`, prune ≤ id−2 — crash-replay bit-identical). The
    * output of each batch equals `Analytics.quantiles` over the
    * concatenation of all batches BY CONSTRUCTION: histogram merge is
    * additive, and both run the same rank kernel and picker, the
    * stream over histogram rows weighted by their counts, the batch
    * over raw rows. State is bounded by groups × distinct values. */
  def quantileStream(stream: DataFrame, groupCol: String,
      valueCol: String, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      quantileBatch(batch, batchId, groupCol, valueCol, stateDir,
        outDir)
    }

  private[graft] def quantileBatch(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, stateDir: String,
      outDir: String): Unit = {
    import graft.operators.Analytics
    val spark = batch.sparkSession
    val cur = batch.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val prev =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}")
    val merged = cur.unionByName(prev)
      .groupBy(col(groupCol), col("__v"))
      .agg(sum(col("__cnt")).as("__cnt"))
    overwrite(Analytics.quantilesFromHist(merged, groupCol),
      s"$outDir/batch=$batchId")
    overwrite(merged, s"$stateDir/batch=$batchId")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming KMV distinct-count monitor — q181's stateful
    * continuation: per micro-batch, each group's k-minimum-values
    * sketch of EVERYTHING seen so far and its exact-integer distinct
    * estimate (the q181 math verbatim: under-k groups read exact
    * counts, else 63·2⁵⁶ DIV v₁₄ of the k-th smallest md5). K-min
    * lists are the ideal stream state — merging is union-then-reselect
    * (idempotent, commutative, duplicate-blind), so state is bounded
    * by k × |groups| REGARDLESS of stream length and a crash-replayed
    * batch is bit-identical (the batch=<id> contract: read id−1,
    * write own, prune ≤ id−2). */
  def kmvStream(stream: DataFrame, groupCol: String, valueCol: String,
      k: Int, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      kmvBatch(batch, batchId, groupCol, valueCol, k, stateDir, outDir)
    }

  private[graft] def kmvBatch(batch: DataFrame, batchId: Long,
      groupCol: String, valueCol: String, k: Int, stateDir: String,
      outDir: String): Unit = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64]: $k")
    val spark = batch.sparkSession
    val cur = batch
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        md5(col(valueCol).cast("string")).as("__h"))
      .distinct()
    val prev =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__h"))
    val merged = cur.unionByName(prev).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).select(col("__g"), col("__h"))
      .localCheckpoint() // read by both the output and the state write
    overwrite(merged.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_kept"), max(col("__h")).as("__hm"))
      .select(col("__g").as(groupCol), col("n_kept"),
        expr(s"CASE WHEN n_kept < ${k}L THEN n_kept " +
          s"ELSE ${k - 1}L * ${1L << 56}L DIV " +
          "CAST(conv(substring(__hm, 1, 14), 16, 10) AS BIGINT) END")
          .as("n_est")), s"$outDir/batch=$batchId")
    overwrite(merged, s"$stateDir/batch=$batchId")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming EXACT-count stratified sampler — q177's stateful
    * continuation: after every micro-batch, `outDir/batch=<id>` holds
    * an exactly-`budget`-row sample of EVERYTHING seen so far that is
    * BIT-IDENTICAL to `Curation.allocateStratified` over the
    * concatenation of all batches (spec-asserted). The exactness
    * argument: the batch operator picks each stratum's quota-smallest
    * (lcg, id) keys, every Hamilton quota is ≤ budget, and a
    * per-stratum budget-minimum list is exactly the k-min sketch —
    * union-then-reselect merging is idempotent, commutative and
    * duplicate-blind (the kmvStream argument), so the capped list
    * always contains every key any allocation can select. State under
    * `batch=<id>` (read id−1, write own, prune ≤ id−2 — the replay
    * contract): `list/` = per-stratum budget-min (lcg, id) rows
    * (≤ budget × |strata|), `counts/` = additive per-stratum totals
    * the driver-side Hamilton allocation reads (`maxStrata`-gated,
    * the q177 bound). Ids must be unique across the stream (the
    * packStream posture). */
  def stratifiedStream(stream: DataFrame, idCol: String,
      strataCol: String, budget: Long, stateDir: String, outDir: String,
      checkpoint: String, maxStrata: Int = 1 << 20): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      stratifiedBatch(batch, batchId, idCol, strataCol, budget,
        stateDir, outDir, maxStrata)
    }

  private[graft] def stratifiedBatch(batch: DataFrame, batchId: Long,
      idCol: String, strataCol: String, budget: Long, stateDir: String,
      outDir: String, maxStrata: Int): Unit = {
    import graft.operators.Curation
    require(budget > 0, s"budget must be positive: $budget")
    val spark = batch.sparkSession
    val cur = batch
      .filter(col(idCol).isNotNull && col(strataCol).isNotNull)
      .select(col(strataCol).cast("string").as("__s"),
        col(idCol).as("__id"))
      .withColumn("__lcg", Curation.lcgBucket(col("__id"), 1L << 31))
    val curCounts = cur.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
    val (prevList, prevCounts) =
      if (batchId == 0L) (cur.select(col("__s"), col("__lcg"),
        col("__id")).limit(0), curCounts.limit(0))
      else (spark.read.parquet(s"$stateDir/batch=${batchId - 1}/list"),
        spark.read.parquet(s"$stateDir/batch=${batchId - 1}/counts"))
    val counts = curCounts.unionByName(prevCounts)
      .groupBy(col("__s")).agg(sum(col("__n")).as("__n"))
      .localCheckpoint() // read by the collect AND the state write
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__s")).orderBy(col("__lcg"), col("__id"))
    val list = cur.select(col("__s"), col("__lcg"), col("__id"))
      .unionByName(prevList)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= budget)
      .select(col("__s"), col("__lcg"), col("__id"))
      .localCheckpoint() // read by the output AND the state write
    // gate BEFORE collecting (the r17-ADVICE ordering — the count runs
    // on the checkpointed frame, so an over-limit stream fails here
    // instead of exhausting the driver)
    val nStrata = counts.count()
    require(nStrata <= maxStrata,
      s"$nStrata strata exceed maxStrata=$maxStrata — " +
        "is the stratum column really categorical?")
    val strata = counts.collect().map(r => (r.getString(0), r.getLong(1)))
    val out =
      if (strata.isEmpty)
        list.select(col("__s").as(strataCol), col("__id").as(idCol))
          .limit(0)
      else {
        val quotas = spark.createDataFrame(
            Curation.hamiltonQuotas(strata, budget))
          .toDF("__s", "__quota")
        list.join(broadcast(quotas), Seq("__s"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= col("__quota"))
          .select(col("__s").as(strataCol), col("__id").as(idCol))
      }
    overwrite(out.orderBy(col(strataCol), col(idCol)),
      s"$outDir/batch=$batchId")
    overwrite(list, s"$stateDir/batch=$batchId/list")
    overwrite(counts, s"$stateDir/batch=$batchId/counts")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming period-over-period movers — q192's stateful
    * continuation: after every micro-batch, the top-`k` movers (last
    * period vs the one before) over EVERYTHING seen so far, equal to
    * `Analytics.topMovers` over the concatenation BY CONSTRUCTION
    * (per-(key, period) counts are additive, and the state prunes
    * only periods ≤ maxP−2, which can never become the previous
    * period again under the nondecreasing-timestamp file-drain
    * contract every monitor here shares — so the kept counts are
    * exactly the two-period slice the batch operator reads). State
    * under `batch=<id>` (read id−1, write own, prune ≤ id−2): the
    * (key, period, n) counts of the LAST TWO periods — ≤ 2×|keys|
    * rows regardless of stream length. */
  def moversStream(stream: DataFrame, keyCol: String, tsCol: String,
      periodUs: Long, k: Int, stateDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      moversBatch(batch, batchId, keyCol, tsCol, periodUs, k,
        stateDir, outDir)
    }

  private[graft] def moversBatch(batch: DataFrame, batchId: Long,
      keyCol: String, tsCol: String, periodUs: Long, k: Int,
      stateDir: String, outDir: String): Unit = {
    require(periodUs > 0 && k > 0, s"bad moversBatch params ($periodUs, $k)")
    val spark = batch.sparkSession
    val cur = batch
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"),
        expr(s"unix_micros(`$tsCol`) DIV ${periodUs}L").as("__p"))
      .groupBy(col("__k"), col("__p")).agg(count(lit(1)).as("__n"))
    val prev =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}")
    val cum = cur.unionByName(prev)
      .groupBy(col("__k"), col("__p")).agg(sum(col("__n")).as("__n"))
    val maxP = cum.agg(max(col("__p")).as("__mp")).localCheckpoint()
    val kept = cum.crossJoin(broadcast(maxP))
      .filter(col("__p") >= col("__mp") - 1)
      .localCheckpoint() // read by the output AND the state write
    overwrite(kept
      .groupBy(col("__k"))
      .agg(
        sum(when(col("__p") === col("__mp") - 1, col("__n"))
          .otherwise(0L)).as("n_prev"),
        sum(when(col("__p") === col("__mp"), col("__n"))
          .otherwise(0L)).as("n_cur"))
      .withColumn("delta", col("n_cur") - col("n_prev"))
      .withColumn("change_ppm",
        when(col("n_prev") > 0,
          expr("(n_cur - n_prev) * 1000000L DIV n_prev")))
      .select(col("__k").as(keyCol), col("n_prev"), col("n_cur"),
        col("delta"), col("change_ppm"))
      .orderBy(abs(col("delta")).desc, col(keyCol))
      .limit(k), s"$outDir/batch=$batchId")
    overwrite(kept.select(col("__k"), col("__p"), col("__n")),
      s"$stateDir/batch=$batchId")
    pruneState(spark, stateDir, batchId)
  }

  /** Streaming Markov transition monitor — q166's stateful
    * continuation: per micro-batch, the CUMULATIVE transition matrix
    * (counts + row-normalized probabilities) over everything seen so
    * far. Two-part state under `batch=<id>` (read id−1, write own,
    * prune ≤ id−2 — the replay contract): `last/` carries each key's
    * final (order, state) row so the cross-batch boundary transition
    * is counted exactly once (|keys|-bounded), `counts/` carries the
    * additive cumulative (from, to) counts (|states|²-bounded).
    * Contract: per-key event order must be nondecreasing across
    * batches (the file-drain posture every store here shares); the
    * spec asserts each batch's output equals the BATCH operator over
    * the concatenation, and that a crash-replayed batch is
    * bit-identical. */
  def transitionStream(stream: DataFrame, keyCol: String,
      orderCols: Seq[String], stateCol: String, stateDir: String,
      outDir: String, checkpoint: String): StreamingQuery =
    drain(stream, checkpoint) { (batch, batchId) =>
      transitionBatch(batch, batchId, keyCol, orderCols, stateCol,
        stateDir, outDir)
    }

  private[graft] def transitionBatch(batch: DataFrame, batchId: Long,
      keyCol: String, orderCols: Seq[String], stateCol: String,
      stateDir: String, outDir: String): Unit = {
    val spark = batch.sparkSession
    val cols = (keyCol +: orderCols :+ stateCol).map(col)
    val cur = batch
      .filter((col(keyCol).isNotNull && col(stateCol).isNotNull) &&
        orderCols.map(col(_).isNotNull).reduce(_ && _))
      .select(cols: _*)
    val prevLast =
      if (batchId == 0L) cur.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}/last")
        .select(cols: _*)
    val union = cur.unionByName(prevLast)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val delta = union
      .select(col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val prevCounts =
      if (batchId == 0L) delta.limit(0)
      else spark.read.parquet(s"$stateDir/batch=${batchId - 1}/counts")
    val cum = delta.unionByName(prevCounts)
      .groupBy(col("from_state"), col("to_state"))
      .agg(sum(col("n")).as("n"))
    val totals = cum.groupBy(col("from_state")).agg(sum(col("n")).as("n_from"))
    overwrite(cum.join(broadcast(totals), Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("prob"))
      .orderBy(col("from_state"), col("to_state")), s"$outDir/batch=$batchId")
    overwrite(cum, s"$stateDir/batch=$batchId/counts")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col(_).desc): _*)
    overwrite(union.select(cols :+ row_number().over(wd).as("__rn"): _*)
      .filter(col("__rn") === 1).drop("__rn"), s"$stateDir/batch=$batchId/last")
    pruneState(spark, stateDir, batchId)
  }

  /** Watermarked tumbling-window aggregation (ST5): 1-hour windows on
    * event time, 2-hour watermark for late data. */
  def windowedCounts(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Session windows per user with a 30-minute gap (ST5/ST6) — the
    * streaming form of Analytics.sessionize. */
  def sessionWindows(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
}
