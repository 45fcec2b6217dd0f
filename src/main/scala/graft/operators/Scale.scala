package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.StoreFs

/** Scale utilities: skew mitigation and storage-layout helpers for the
  * 100 TB design point. These exist because at cluster scale the two
  * recurring shuffle pathologies are (a) a handful of hot keys
  * serializing a join onto a few reducers, and (b) re-shuffling the
  * same fact table for every join against the same key.
  */
object Scale {

  /** EXACT distributed heavy hitters — the "find the hot keys before
    * you join" primitive that feeds the [[saltedJoin]] decision (and
    * hot-set guards like `Dedup.duplicatedSpans(boundedPlan)`). Keys
    * whose exact frequency exceeds `minShare` of all rows, found in
    * two bounded passes and one metadata count, never a full
    * groupBy-over-all-keys shuffle:
    *
    *  1. CANDIDATES: one scan, per-partition Misra–Gries summaries of
    *     `capacity` weighted counters ([[heavyHitterCandidates]]),
    *     TREE-MERGED down to a single summary of ≤ capacity rows
    *     before anything reaches the driver ([[mergedCandidates]]).
    *     MG summaries are mergeable with the error bound intact
    *     (Agarwal et al., "Mergeable Summaries": every prune op that
    *     subtracts the (capacity+1)-st largest counter value v
    *     removes ≥ (capacity+1)·v of total weight, so the cumulative
    *     undercount of ANY key over the whole merge tree is
    *     ≤ N/(capacity+1)) — a key with global count > N/(capacity+1)
    *     always survives to the final summary. `capacity` is clamped
    *     to ≥ ceil(1/minShare), so no true hitter is ever missed —
    *     results are EXACT and partition-layout independent, which is
    *     what makes the operator oracle-able where a plain sketch is
    *     not. The driver hold is ≤ capacity rows REGARDLESS of input
    *     partition count — at 100 TB split counts (~10⁵–10⁶ input
    *     partitions) the pre-r14 collect of partitions × capacity
    *     partials would have been ~10⁸ rows; the tree fans in 32× per
    *     level, so 10⁶ partitions are 4 tiny extra exchanges of
    *     ≤ partitions × capacity weighted rows total.
    *  2. VERIFY: the ≤ capacity candidates filter the input for the
    *     exact groupBy count (map-side combinable, ≤ candidates
    *     distinct keys). Small candidate sets ride the plan as an
    *     `isInCollection` literal; past `maxLiteralCandidates` the
    *     filter becomes a broadcast join instead — a literal list
    *     serializes into every task binary, a broadcast ships once
    *     per executor. Identical results either way (spec-asserted).
    *
    * At 100 TB this is the difference between counting every key
    * (shuffle of |keys| rows) and counting ~hundreds of candidates.
    * Returns (key, cnt, share = round(cnt/N, 6)) for keys with
    * cnt > minShare·N, ordered by key. Null keys are excluded (a
    * null hot key is a data-quality finding, not a join-salt input).
    */
  def heavyHitters(df: DataFrame, keyCol: String, minShare: Double,
      capacity: Int = 64): DataFrame =
    heavyHittersImpl(df, keyCol, minShare, capacity)

  /** `maxLiteralCandidates` exposed for the spec to force the
    * broadcast-join verify path on a small candidate set. */
  private[graft] def heavyHittersImpl(df: DataFrame, keyCol: String,
      minShare: Double, capacity: Int,
      maxLiteralCandidates: Int = 1024): DataFrame = {
    require(minShare > 0.0 && minShare < 1.0,
      s"minShare must be in (0,1): $minShare")
    val cap = math.max(capacity, math.ceil(1.0 / minShare).toInt)
    val keys = df.select(col(keyCol)).filter(col(keyCol).isNotNull)
    // pass 1: tree-merged MG candidates — the driver holds ≤ cap rows
    val cands = mergedCandidates(keys, cap)
    // pass 2 (the ONLY other scan): one groupBy that counts each
    // candidate exactly AND folds every non-candidate into a single
    // null bucket — ≤ cands+1 groups, map-side combinable — so the
    // exact total N comes from summing the same tiny frame instead of
    // a separate count() scan (two passes total, down from three)
    val k = col(keyCol)
    val candTagged =
      if (cands.isEmpty) keys.select(when(lit(false), k).as(keyCol))
      else if (cands.size <= maxLiteralCandidates)
        keys.select(when(k.isInCollection(cands), k).as(keyCol))
      else {
        // past the literal threshold: broadcast-join the candidate
        // frame (built driver-side from the ≤ cap merged summary)
        val spark = df.sparkSession
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        cands.foreach(c => rows.add(org.apache.spark.sql.Row(c)))
        val candsDf = spark.createDataFrame(rows, keys.schema)
          .withColumn("__cand", lit(1))
        keys.join(broadcast(candsDf), Seq(keyCol), "left")
          .select(when(col("__cand").isNotNull, k).as(keyCol))
      }
    val grouped = candTagged
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // tiny; feeds two consumers (q65 lesson)
    val tot = grouped.agg(sum(col("cnt")).as("__n"))
    grouped.filter(k.isNotNull)
      .crossJoin(broadcast(tot))
      .filter(col("cnt").cast("double") >
        lit(minShare) * col("__n").cast("double"))
      .select(k, col("cnt"),
        round(col("cnt").cast("double") / col("__n").cast("double"), 6)
          .as("share"))
      .orderBy(k)
  }

  /** Tree-merge of the per-partition MG summaries down to ONE summary,
    * collected — ≤ `capacity` candidate keys ever reach the driver, no
    * matter the input partition count. Each level round-robins the
    * weighted (key, wt) partials into ceil(P / fanIn) partitions and
    * re-merges with the weighted MG prune ([[mgMergePartition]]);
    * splitting one summary's rows across merge tasks is harmless — the
    * mergeability argument tracks only total pruned weight, not summary
    * boundaries. All levels are lazy; one job runs at the collect. */
  private[graft] def mergedCandidates(keys: DataFrame, capacity: Int,
      fanIn: Int = 32): Seq[Any] =
    mergedSummary(keys, capacity, fanIn).map(_._1)

  /** The weighted form of [[mergedCandidates]]: the final tree-merged
    * MG summary as (key, wt) pairs. `wt` UNDERestimates the true count
    * by at most N/(capacity+1) (the mergeability bound), and any key
    * with true count above that bound is present — which is also what
    * makes the summary a valid carry across STREAMING micro-batches
    * ([[hotKeysBatch]]): merging yesterday's summary with today's
    * partials is just one more tree level. */
  private[graft] def mergedSummary(keys: DataFrame, capacity: Int,
      fanIn: Int = 32): Seq[(Any, Long)] = {
    var partials = heavyHitterCandidates(keys, capacity)
    var parts = keys.rdd.getNumPartitions
    val schema = partials.schema
    while (parts > 1) {
      parts = math.max(1, (parts + fanIn - 1) / fanIn)
      partials = partials.repartition(parts)
        .mapPartitions(it => mgMergePartition(it, capacity))(
          org.apache.spark.sql.Encoders.row(schema))
    }
    partials.collect().map(r => (r.get(0), r.getLong(1))).toSeq
  }

  /** Driver-side weighted MG merge over in-memory pairs — the same
    * prune as the distributed level (it IS the distributed level,
    * wrapped), plus a deterministic (wt desc, key string) order so
    * state files written from the result are bit-identical on replay. */
  private[graft] def mgMergeDriver(pairs: Seq[(Any, Long)],
      capacity: Int): Seq[(Any, Long)] =
    mgMergePartition(
        pairs.iterator.map(p => org.apache.spark.sql.Row(p._1, p._2)),
        capacity)
      .map(r => (r.get(0), r.getLong(1))).toSeq
      .sortBy { case (k, w) => (-w, String.valueOf(k)) }

  /** Weighted Misra–Gries merge of (key, wt) rows: sum weights per
    * key; while over capacity, subtract the (capacity+1)-st largest
    * counter value from every counter and drop the non-positive —
    * exactly the mergeable-summaries prune, ≤ capacity rows out. */
  private def mgMergePartition(it: Iterator[org.apache.spark.sql.Row],
      capacity: Int): Iterator[org.apache.spark.sql.Row] = {
    val counts = new java.util.HashMap[Any, java.lang.Long](capacity * 4)
    it.foreach { r =>
      val k = r.get(0)
      val w = r.getLong(1)
      val c: java.lang.Long = counts.get(k)
      counts.put(k, if (c != null) c + w else w)
    }
    if (counts.size > capacity) {
      // v = (capacity+1)-st largest value; subtracting it from all and
      // dropping ≤0 leaves only counters strictly above v — ≤ capacity
      val vals = new java.util.ArrayList[java.lang.Long](counts.values())
      java.util.Collections.sort(vals, java.util.Collections.reverseOrder())
      val v = vals.get(capacity).longValue()
      val iter = counts.entrySet().iterator()
      while (iter.hasNext) {
        val e = iter.next()
        if (e.getValue <= v) iter.remove()
        else e.setValue(e.getValue - v)
      }
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      counts.entrySet().iterator()).asScala
      .map(e => org.apache.spark.sql.Row(e.getKey, e.getValue.longValue()))
  }

  /** Per-(JVM, cacheKey) memo of the exact hot-key set: a pipeline that
    * salts N joins against the same fact table should pay the
    * [[heavyHitters]] scans once, not per join. `cacheKey` names the
    * DATASET identity (e.g. its path) — the caller's contract is that
    * the data behind a key is immutable for the JVM's lifetime (the
    * store-cache convention); if it is rewritten in-process, call
    * [[invalidateHotKeys]]. The lazy-holder shape keeps the multi-
    * second Spark scans outside the map's per-bin lock while still
    * guaranteeing exactly-once per key. */
  private val hotKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, () => Seq[Any]]()
  def cachedHotKeys(df: DataFrame, keyCol: String, minShare: Double,
      cacheKey: String, capacity: Int = 64): Seq[Any] =
    hotKeyCache.computeIfAbsent(s"$cacheKey|$keyCol|$minShare|$capacity",
      _ => {
        lazy val hot: Seq[Any] =
          heavyHitters(df, keyCol, minShare, capacity)
            .select(col(keyCol)).collect().map(_.get(0)).toSeq
        () => hot
      })()
  def invalidateHotKeys(): Unit = hotKeyCache.clear()

  /** Phase 1 of [[heavyHitters]]: per-partition Misra–Gries summary
    * over a single-column frame, emitting each partition's surviving
    * weighted counters as (key, `__wt`) — ≤ `capacity` rows per
    * partition, the input to the [[mergedCandidates]] tree. The
    * classic decrement-all step runs only on a miss with a full
    * table, so the per-row cost is O(1) amortized. Exposed for spec
    * use. */
  private[graft] def heavyHitterCandidates(keys: DataFrame,
      capacity: Int): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      keys.schema.fields :+
        org.apache.spark.sql.types.StructField("__wt",
          org.apache.spark.sql.types.LongType, nullable = false))
    keys.mapPartitions { it =>
      // boxed Long values: j.u.HashMap.get on a missing key returns
      // null, which an unboxed scala.Long would silently read as 0
      // (the Dedup union-find footgun — keep the box explicit)
      val counts = new java.util.HashMap[Any, java.lang.Long](capacity * 2)
      it.foreach { r =>
        val k = r.get(0)
        val c: java.lang.Long = counts.get(k)
        if (c != null) counts.put(k, c + 1L)
        else if (counts.size < capacity) counts.put(k, 1L)
        else {
          // miss with a full table: decrement every counter, drop zeros
          val iter = counts.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove()
            else e.setValue(e.getValue - 1L)
          }
        }
      }
      scala.jdk.CollectionConverters.IteratorHasAsScala(
        counts.entrySet().iterator()).asScala
        .map(e => org.apache.spark.sql.Row(e.getKey, e.getValue.longValue()))
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  // --- streaming hot-key tracking --------------------------------------

  /** Continuous hot-key tracking over a stream (AvailableNow drain):
    * each micro-batch computes its tree-merged MG summary and MERGES
    * it into the carried one — mergeable summaries compose across TIME
    * exactly as they do across partitions, so after any number of
    * batches the state is ≤ `capacity` (key, wt) rows plus the exact
    * row count, with the full guarantee intact over the WHOLE stream:
    * every key whose total count exceeds N/(capacity+1) is present,
    * and each wt underestimates its true count by at most
    * N/(capacity+1). This is the streaming leg of the skew family —
    * the ingest-side feed for `autoSaltedJoin`-style decisions without
    * ever rescanning history (contrast batch [[heavyHitters]], whose
    * exact verify pass needs the data again; a stream's data is gone).
    *
    * State rides `stateDir/batch=<id>` with the packStream replay
    * contract: the read is batch id-1's state, the write overwrites
    * batch id's own dir, so a crash between state write and checkpoint
    * commit replays to a BIT-IDENTICAL file (spec-asserted); state at
    * id-2 and older is pruned. The cumulative row count travels as a
    * reserved null-key row (input null keys are excluded, so the slot
    * is free). */
  def hotKeysStream(stream: DataFrame, keyCol: String, capacity: Int,
      stateDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.drain(stream, checkpoint)(
      hotKeysBatch(_, _, keyCol, capacity, stateDir))

  private def hotStatePath(stateDir: String, batchId: Long): String =
    s"$stateDir/batch=$batchId"

  private[graft] def hotKeysBatch(batch: DataFrame, batchId: Long,
      keyCol: String, capacity: Int, stateDir: String): Unit = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val spark = batch.sparkSession
    val keys = batch.select(col(keyCol)).filter(col(keyCol).isNotNull)
    val partial = mergedSummary(keys, capacity)
    val batchN = keys.count()
    val (prev, prevN): (Seq[(Any, Long)], Long) =
      if (batchId == 0L) (Seq.empty, 0L)
      else {
        val rows = spark.read.parquet(hotStatePath(stateDir, batchId - 1))
          .collect().map(r => (r.get(0), r.getLong(1))).toSeq
        (rows.filter(_._1 != null),
          rows.collectFirst { case (null, n) => n }.getOrElse(0L))
      }
    val merged = mgMergeDriver(prev ++ partial, capacity)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      keys.schema.fields(0).copy(name = "key", nullable = true),
      org.apache.spark.sql.types.StructField("wt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    merged.foreach { case (k, w) =>
      rows.add(org.apache.spark.sql.Row(k, w)) }
    rows.add(org.apache.spark.sql.Row(null, prevN + batchN))
    StoreFs.writer(spark.createDataFrame(rows, schema).coalesce(1))
      .mode("overwrite").parquet(hotStatePath(stateDir, batchId))
    // batch 0 also clears a prior run's state: its high-id summary
    // would otherwise be served by hotKeySummary forever
    graft.streaming.Streams.pruneState(spark, stateDir, batchId)
  }

  /** The latest carried summary: (key, wt, n_total) for the surviving
    * ≤ capacity keys — `wt ≤ true count ≤ wt + n_total/(capacity+1)`,
    * and every key with true count above that slack is present. */
  def hotKeySummary(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val batches = graft.sources.StoreFs.childNames(spark, stateDir)
      .filter(_.startsWith("batch=")).map(_.drop(6).toLong)
    require(batches.nonEmpty, s"no hot-key state under $stateDir")
    val st = spark.read.parquet(hotStatePath(stateDir, batches.max))
    val tot = st.filter(col("key").isNull)
      .select(col("wt").as("n_total"))
    st.filter(col("key").isNotNull)
      .crossJoin(broadcast(tot))
      .orderBy(col("wt").desc, col("key").cast("string"))
  }

  /** The detect→mitigate composition: measure the big side's key skew
    * with [[heavyHitters]] and salt the join ONLY when a hot key
    * actually exists — and only for the HOT SLICE. Plain-join
    * semantics either way (inner/left); the decision costs two bounded
    * passes over the key column, trivial next to the join it protects.
    * This replaces the "do we need to salt?" guess with a measurement —
    * the r12 skew study's operational loop in one operator.
    *
    * Because the measurement yields the hot keys themselves (bounded,
    * not just a boolean), the mitigation is [[saltedJoinHotKeys]]: only
    * rows whose key IS hot are salted, and only the matching slice of
    * the small side is replicated `buckets`× — at 100 TB, blanket
    * salting replicates the ENTIRE dimension table per bucket, which
    * trades a straggler for buckets× shuffle volume; the split keeps
    * the cold 95%+ of the join untouched.
    * `saltOf` defaults to a hash of the whole big-side row so hot-key
    * rows spread without the caller naming a spread column. */
  def autoSaltedJoin(big: DataFrame, small: DataFrame, key: String,
      minShare: Double = 0.05, buckets: Int = 8,
      joinType: String = "inner",
      saltOf: Column = null,
      cacheKey: String = null): DataFrame = {
    // cacheKey ties the skew measurement to the dataset's identity so
    // repeated joins against the same fact table pay the two
    // heavyHitters scans once per JVM (null = measure every call);
    // either way the result is the bounded hot-key set itself
    val hotKeys =
      if (cacheKey != null) cachedHotKeys(big, key, minShare, cacheKey)
      else heavyHitters(big, key, minShare)
        .select(col(key)).collect().map(_.get(0)).toSeq
    if (hotKeys.isEmpty) big.join(small, Seq(key), joinType)
    else {
      val salt = Option(saltOf).getOrElse(
        hash(big.columns.map(col).toIndexedSeq: _*))
      saltedJoinHotKeys(big, small, key, hotKeys, salt, buckets, joinType)
    }
  }

  /** Differentiated salting: salt ONLY the measured hot keys. The big
    * side splits on key∈hotKeys (null keys are cold — a null never
    * equi-joins, and a left join must preserve the row); the hot slice
    * takes [[saltedJoin]] against the small side's matching slice
    * (tiny — ≤ |hotKeys| key groups — so its buckets× replication is
    * noise, and Catalyst typically broadcasts it), the cold slice
    * takes the plain join. Each big row lands in exactly one branch
    * and small-side matches are branch-local, so the union IS the
    * plain join for inner/left. */
  def saltedJoinHotKeys(big: DataFrame, small: DataFrame, key: String,
      hotKeys: Seq[Any], saltOf: Column, buckets: Int,
      joinType: String = "inner"): DataFrame = {
    require(hotKeys.nonEmpty, "saltedJoinHotKeys needs a non-empty hot set")
    val isHot = coalesce(col(key).isInCollection(hotKeys), lit(false))
    val hotPart = saltedJoin(big.filter(isHot),
      small.filter(coalesce(col(key).isInCollection(hotKeys), lit(false))),
      key, saltOf, buckets, joinType)
    val coldPart = big.filter(!isHot).join(small, Seq(key), joinType)
    hotPart.unionByName(coldPart)
  }

  /** Salted equi-join for skewed keys: the big (skewed) side is salted
    * deterministically by `saltOf` into `buckets` sub-keys; the small
    * side is replicated once per salt value, so each hot key fans out
    * over `buckets` reducers instead of one. Result is identical to
    * `big.join(small, key, joinType)` for inner/left joins (the small
    * side is replicated, never filtered). AQE's skew-join handles sort
    * -merge cases adaptively; explicit salting remains the tool when
    * the skew is known ahead of time or the join is hash-based.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltOf: Column, buckets: Int, joinType: String = "inner"): DataFrame = {
    val bigS = big.withColumn("__salt", pmod(saltOf, lit(buckets)))
    val smallS = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    bigS.join(smallS, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Bucketed point-in-interval range join — the operator Spark plans
    * as a BroadcastNestedLoopJoin (or a cartesian) when written
    * naively as `points.join(intervals, p >= s && p < e)`, which stops
    * scaling the moment the interval side outgrows a broadcast. Both
    * sides quantize to fixed `bucketWidth` buckets: a point lands in
    * exactly ONE bucket, an interval explodes over the buckets it
    * covers (fan-out = len/width + 1 — pick width ≈ the typical
    * interval length), the join becomes a plain equi-join on the
    * bucket key (shuffle-partitionable, AQE-skew-splittable), and the
    * exact half-open containment filter runs after. Because the point
    * is in one bucket, each matching (point, interval) pair is
    * produced exactly once — no dedup pass. Works for any integral
    * columns (truncating DIV is monotone, so an interval's bucket
    * range always covers its points' buckets, negatives included).
    * Semantics: inner join on `start ≤ point < end`, empty intervals
    * (end ≤ start) match nothing. */
  def rangeJoin(points: DataFrame, intervals: DataFrame, pointCol: String,
      startCol: String, endCol: String, bucketWidth: Long,
      maxBucketsPerInterval: Long = 65536L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(maxBucketsPerInterval > 0,
      s"maxBucketsPerInterval must be positive: $maxBucketsPerInterval")
    val p = points.withColumn("__bkt", expr(s"$pointCol DIV $bucketWidth"))
    // fan-out guard: an interval vastly longer than bucketWidth (or a
    // corrupt end value) would materialize a huge covered-bucket array
    // per row — raise a CLEAR error from the bucket-count arithmetic
    // BEFORE sequence() allocates anything, instead of an executor OOM
    // or the opaque array-size-limit failure. The check rides the same
    // projection as the explode, so pruning can't drop it.
    val bktFrom = expr(s"$startCol DIV $bucketWidth")
    val bktTo = expr(s"($endCol - 1) DIV $bucketWidth")
    // the guard's own subtraction must not throw before the guard can
    // fire: bounds near Long.MinValue/MaxValue overflow `bktTo -
    // bktFrom` under ANSI mode — try_subtract yields NULL there, and
    // NULL < cap is NULL → the otherwise() branch raises the intended
    // clear error instead of an opaque ArithmeticException
    val span = expr(s"try_subtract(($endCol - 1) DIV $bucketWidth, " +
      s"$startCol DIV $bucketWidth)")
    val guarded = when(span < lit(maxBucketsPerInterval),
      sequence(bktFrom, bktTo))
      .otherwise(raise_error(concat(
        lit("rangeJoin: interval ["), col(startCol).cast("string"),
        lit(", "), col(endCol).cast("string"),
        lit(s") covers over $maxBucketsPerInterval buckets of width " +
          s"$bucketWidth - raise bucketWidth or maxBucketsPerInterval"))))
    val iv = intervals.filter(col(endCol) > col(startCol))
      .withColumn("__bkt", explode(guarded))
    p.join(iv, Seq("__bkt"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__bkt")
  }

  /** Bucketed interval-OVERLAP join — [[rangeJoin]]'s two-sided
    * sibling: pairs of intervals (one from each side, equal on `keys`)
    * whose half-open spans overlap (`sa < eb && sb < ea`), written
    * naively as a non-equi join Spark plans as a
    * BroadcastNestedLoopJoin. Both sides explode over the fixed-width
    * buckets they cover (same fan-out guard as rangeJoin: clear error,
    * not an executor OOM, on corrupt/huge spans), the join becomes a
    * plain equi-join on (keys, bucket), and the exact overlap filter
    * runs after. Unlike the point form a pair can co-occur in MANY
    * buckets — instead of a dedup shuffle, each pair is emitted
    * EXACTLY ONCE from the bucket containing `greatest(sa, sb)` (the
    * overlap's first instant): that instant lies inside BOTH
    * intervals, so both sides' covered-bucket ranges include its
    * bucket (truncating DIV is monotone, negatives included), and no
    * other bucket passes the equality. Empty intervals (end ≤ start)
    * match nothing; touching intervals (ea == sb) do not overlap
    * (half-open). */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      saCol: String, eaCol: String, sbCol: String, ebCol: String,
      bucketWidth: Long,
      maxBucketsPerInterval: Long = 65536L): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(maxBucketsPerInterval > 0,
      s"maxBucketsPerInterval must be positive: $maxBucketsPerInterval")
    require(Seq(saCol, eaCol, sbCol, ebCol).distinct.size == 4,
      "the four bound columns must be distinct")
    def exploded(df: DataFrame, sCol: String, eCol: String): DataFrame = {
      val bktFrom = expr(s"$sCol DIV $bucketWidth")
      val bktTo = expr(s"($eCol - 1) DIV $bucketWidth")
      // the guard's own subtraction must not throw before the guard
      // can fire (the rangeJoin try_subtract posture)
      val span = expr(s"try_subtract(($eCol - 1) DIV $bucketWidth, " +
        s"$sCol DIV $bucketWidth)")
      val guarded = when(span < lit(maxBucketsPerInterval),
        sequence(bktFrom, bktTo))
        .otherwise(raise_error(concat(
          lit("intervalJoin: interval ["), col(sCol).cast("string"),
          lit(", "), col(eCol).cast("string"),
          lit(s") covers over $maxBucketsPerInterval buckets of width " +
            s"$bucketWidth - raise bucketWidth or maxBucketsPerInterval"))))
      df.filter(col(eCol) > col(sCol)).withColumn("__bkt", explode(guarded))
    }
    exploded(left, saCol, eaCol)
      .join(exploded(right, sbCol, ebCol), keys :+ "__bkt")
      .filter(col(saCol) < col(ebCol) && col(sbCol) < col(eaCol))
      .filter(expr(s"greatest($saCol, $sbCol) DIV $bucketWidth")
        === col("__bkt"))
      .drop("__bkt")
  }

  /** Z-order (Morton) interleave of two non-negative bucket columns,
    * each already reduced to `bits` bits: bit i of `x` lands at z-bit
    * 2i, bit i of `y` at 2i+1. Points close in BOTH dimensions are
    * close on the z-curve, so range-partitioning + sorting a table by
    * `z` clusters it for predicates on EITHER dimension — the
    * multi-dimensional write-time layout (Delta/Iceberg OPTIMIZE
    * ZORDER) that `writeBucketed` cannot give, because a bucket layout
    * serves exactly one key. Pure integer column arithmetic: 2·bits
    * shift/mask terms folded into one codegen'd projection — exact and
    * engine-portable (the oracle replays it per-bit in DuckDB). */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Write `df` z-order-clustered on (`x`, `y`): range-partition by the
    * z-value into `files` output files and sort within each — every
    * file covers a disjoint z-range (asserted in ScaleSpec), so parquet
    * footer min/max on the z column prunes file reads for rectangles in
    * EITHER dimension. At 100 TB this is the scan-side complement to
    * partition pruning: partitions prune directories, z-order prunes
    * files (and row groups) inside them. */
  def writeZOrdered(df: DataFrame, path: String, x: Column, y: Column,
      bits: Int, files: Int): Unit =
    StoreFs.writer(df.withColumn("__z", zValue(x, y, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z")))
      .mode("overwrite").parquet(path)

  /** Write a table bucketed (and sorted) by its join key: co-located,
    * co-sorted joins between two tables bucketed on the same key with
    * the same bucket count need NO exchange and no sort — the shuffle
    * is paid once at write time and amortized over every subsequent
    * join/aggregation on that key. This is the storage-layout answer
    * to "the fact table shuffles for every join" at 100 TB. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String = null): Unit =
    writeBucketedAs(df, table, key, buckets, path, "overwrite")

  /** Append a (micro-)batch into an existing bucketed table — the
    * daily maintenance half of the write-once-shuffle-never story
    * (same posture as `VectorStore.append`): each append writes its
    * own per-bucket files under the SAME bucket spec (Spark validates
    * the spec matches the catalog's), so joins stay exchange-free.
    * What accretes is files-per-bucket — a bucket's scan partition
    * reads every append's file, and within-bucket sort order across
    * files is gone, so the join plans a (cheap, spill-able) Sort but
    * still NO exchange (spec-asserted). Periodically rewrite with
    * [[writeBucketed]] to restore one-file-per-bucket, the same
    * rhythm as the stores' `compact()`. Measured curve
    * (m10, SCALING.md r14): join cost is
    * FLAT through ~8 appends, first measurable penalty (~1.6×) at 64
    * appends (512 files over 8 buckets), rewrite ≈ 1.5–3 joins'
    * cost — so rewrite every few tens of appends on read-heavy
    * tables, and note that at cluster scale per-bucket file LISTING
    * pressure binds before the Sort does. */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    writeBucketedAs(df, table, key, buckets, null, "append")

  // --- count-min sketch --------------------------------------------------

  /** 2^31−1 (prime): the modulus of the CMS row hashes. */
  val cmsModulus: Long = 2147483647L

  /** Row-r CMS hash of an integral key into [0, width): an affine mix
    * mod 2^31−1 keyed by the row index, then mod width. Inner-mod
    * BEFORE the multiply (the q90 LCG discipline) keeps the ANSI
    * product under 2^62 for any Long key; the same expression replays
    * verbatim in ANSI SQL, which is what makes the sketch oracle-able. */
  private[graft] def cmsHash(key: Column, r: Column, width: Int): Column = {
    val m = cmsModulus
    val k = ((key % m) + m) % m
    ((k * (lit(1103515245L) + r.cast("long")) +
      (lit(12345L) + lit(6789L) * r.cast("long"))) % m) % width
  }

  /** Count-min sketch of `keyCol`'s frequency distribution: a
    * depth × width grid of counters where row r counts keys hashed by
    * [[cmsHash]]. The sketch IS a DataFrame of (r, c, cnt) — at most
    * depth·width rows total (4×256 = 1 KB-ish by default) REGARDLESS
    * of input size or key cardinality, built by one map-side-combined
    * aggregate whose key space is the grid, not the data.
    *
    * Counters are additive, so the sketch is partition-order
    * independent, mergeable across streams/stores by plain
    * (r,c)-summing, and — because the hashes are exact integer
    * arithmetic — bit-replayable in an ANSI oracle. The classic
    * point-query guarantee holds: [[cmsEstimates]] never
    * underestimates, and overestimates by > 2N/width with probability
    * ≤ 2^-depth (Cormode & Muthukrishnan). Complements
    * [[heavyHitters]]: MG tracks WHICH keys are hot exactly; CMS
    * answers "how often was key X" for ANY later probe key from fixed
    * memory — the two ends of the frequency-sketch trade-off. */
  def countMinSketch(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 256): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth out of range: $depth")
    require(width >= 2, s"width out of range: $width")
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("long").as("__k"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"), col("__k"))
      .select(col("r"), cmsHash(col("__k"), col("r"), width).as("c"))
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))
  }

  /** Point-query estimates from a [[countMinSketch]]: for each
    * distinct probe key, min over rows of the counter its hash lands
    * in (0 when the cell is empty — the key was never seen). The
    * sketch side is depth·width rows and broadcasts; the probe side
    * stays distributed — estimating a billion probe keys is a
    * broadcast join, never a shuffle. Returns (key, cms_est) with
    * cms_est ≥ the key's true count always. */
  def cmsEstimates(sketch: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 256): DataFrame =
    probes.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("c", cmsHash(col(keyCol).cast("long"), col("r"), width))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  private def writeBucketedAs(df: DataFrame, table: String, key: String,
      buckets: Int, path: String, mode: String): Unit = {
    // an explicit path makes the table EXTERNAL there (bucketed writes
    // must go through saveAsTable — Spark records the bucket spec only
    // in the catalog); null lands in the session warehouse dir (or,
    // for append, the table's existing location)
    // plain writer: saveAsTable keeps StoreFs.writer's options as table properties
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(buckets, key).sortBy(key)
    (if (path != null) w.option("path", path) else w).saveAsTable(table)
  }

  /** Pre-flight join-size profile — the check a 100 TB pipeline runs
    * BEFORE committing a join: the EXACT output cardinality
    * (Σ_k c_a(k)·c_b(k)) plus the top-k exploding keys, from two
    * map-side-combinable per-key counts and a tiny key-level join —
    * never the join itself. Pairs with [[autoSaltedJoin]]: this names
    * the keys that would dominate; that mitigates them.
    *
    * Null keys are excluded (they never match in an equi-join). The
    * per-key product and the total run in ANSI LONG arithmetic — a
    * profile that would overflow 2^63 pairs throws rather than
    * underreporting the explosion it exists to catch. Output: the
    * top-k keys by (pairs DESC, key) with the total/matching-key
    * summary repeated per row (one frame, total ordering). */
  def joinSizeProfile(a: DataFrame, b: DataFrame, key: String,
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def counted(df: DataFrame, cn: String) =
      df.filter(col(key).isNotNull).groupBy(col(key))
        .agg(count(lit(1)).as(cn))
    // materialized once: the 1-row total subtree would otherwise
    // recompute both scans + the key join (the q144 lesson)
    val j = counted(a, "c_a").join(counted(b, "c_b"), Seq(key))
      .select(col(key), col("c_a"), col("c_b"),
        (col("c_a") * col("c_b")).as("pairs"))
      .localCheckpoint()
    val tot = j.agg(sum(col("pairs")).cast("long").as("total_pairs"),
      count(lit(1)).as("n_matching_keys"))
    j.crossJoin(broadcast(tot))
      .orderBy(col("pairs").desc, col(key))
      .limit(k)
      .select(col(key), col("c_a"), col("c_b"), col("pairs"),
        col("total_pairs"), col("n_matching_keys"),
        round(col("pairs").cast("double")
          / col("total_pairs").cast("double"), 6).as("share"))
  }

  // --- KMV distinct sketch -------------------------------------------------

  /** KMV (k-minimum-values) distinct-count sketches with SET-OPERATION
    * estimates — the mergeable sketch family member between HLL (q29:
    * distinct counts, no set ops) and the exact overlap matrices
    * (q105/q134: exact, but cost ∝ the data): per group the k smallest
    * md5 values stand in for the whole set, and two groups' sketches
    * merge (k smallest of the union) into union AND intersection
    * estimates without touching the raw sets again — at 100 TB the
    * sketches are k-row frames per group, so every pairwise overlap
    * after the one hashing pass is broadcast-sized work.
    *
    * Fully deterministic ⇒ oracle-able (the q170 md5 precedent: hex is
    * bit-identical both engines). Estimate math is EXACT integer: the
    * k-th smallest hash's first 14 hex digits parse to v ∈ [0, 2^56),
    * est = (k−1)·2^56 DIV v ((k−1)·2^56 < 2^63 for k ≤ 64 — `k` is
    * capped to keep the ANSI product in range); a group with fewer
    * than k distinct values carries its FULL set, so its estimate is
    * the exact count. Intersection: ρ = common-to-both hashes inside
    * the merged k-sketch, est = (ρ·est_union) DIV k' decomposed as
    * ρ·(e DIV k') + (ρ·(e mod k')) DIV k' — algebraically identical,
    * never exceeds e ≈ 2^62. Returns one row per unordered group pair
    * (src_a < src_b): (src_a, src_b, est_a, est_b, est_union,
    * est_inter). Pair count is |groups|² by nature (the q134
    * posture) — the inputs to it are k-row sketches. */
  def kmvOverlap(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64]: $k")
    val two56 = 1L << 56
    // reads the frame's __hm (max kept hash == the k-th smallest)
    def est(nKept: String): Column =
      expr(s"CASE WHEN $nKept < ${k}L THEN $nKept " +
        s"ELSE ${k - 1}L * ${two56}L DIV " +
        s"CAST(conv(substring(__hm, 1, 14), 16, 10) AS BIGINT) END")
    val hashed = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("string").as("__val"))
      .distinct()
      .select(col("__g"), md5(col("__val")).as("__h"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__h"))
    val kmin = hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).select(col("__g"), col("__h"))
      .localCheckpoint() // k×|groups| rows; many consumers below
    val gstat = kmin.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nk"), max(col("__h")).as("__hm"))
      .select(col("__g"), est("__nk").as("__est"))
    val gl = kmin.select(col("__g")).distinct()
    val pairs = gl.select(col("__g").as("ga"))
      .join(gl.select(col("__g").as("gb")), col("ga") < col("gb"))
    val hu = pairs
      .join(kmin.select(col("__g").as("ga"), col("__h")), Seq("ga"))
      .select(col("ga"), col("gb"), col("__h"),
        lit(1).as("__ia"), lit(0).as("__ib"))
      .union(pairs
        .join(kmin.select(col("__g").as("gb"), col("__h")), Seq("gb"))
        .select(col("ga"), col("gb"), col("__h"),
          lit(0).as("__ia"), lit(1).as("__ib")))
      .groupBy(col("ga"), col("gb"), col("__h"))
      .agg(max(col("__ia")).as("__ia"), max(col("__ib")).as("__ib"))
    val wu = Window.partitionBy(col("ga"), col("gb")).orderBy(col("__h"))
    val pstat = hu.withColumn("__rn", row_number().over(wu))
      .filter(col("__rn") <= k)
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("__ku"), max(col("__h")).as("__hm"),
        sum(when(col("__ia") === 1 && col("__ib") === 1, 1L)
          .otherwise(0L)).as("__rho"))
      .select(col("ga"), col("gb"), col("__ku"), col("__rho"),
        est("__ku").as("__eu"))
    pstat
      .join(broadcast(gstat.select(col("__g").as("ga"),
        col("__est").as("est_a"))), Seq("ga"))
      .join(broadcast(gstat.select(col("__g").as("gb"),
        col("__est").as("est_b"))), Seq("gb"))
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("est_a"), col("est_b"), col("__eu").as("est_union"),
        (col("__rho") * expr("__eu DIV __ku") +
          expr("(__rho * (__eu % __ku)) DIV __ku")).as("est_inter"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
