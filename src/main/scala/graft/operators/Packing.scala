package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.StoreFs
import graft.streaming.Streams

/** Sequence packing for pretraining: concatenate the corpus in a total
  * document order and cut it into fixed token-budget training shards —
  * the bookkeeping step between a curated corpus and a tokenized
  * training run (each document learns which shard it starts in and at
  * which token offset; a document may straddle a boundary, exactly as
  * concatenate-then-split pretraining does).
  *
  * The core is a GLOBAL running token total in `idCol` order — the
  * textbook place a naive plan collapses to a single-partition window
  * (`Window.orderBy` with no partitioning moves the whole corpus
  * through ONE task). Scale-correct shape instead: the classic
  * two-phase distributed prefix scan —
  *   1. range-partition by the order key (so partition i holds a
  *      contiguous id range, n ≈ cores partitions),
  *   2. per-partition token sums → driver (n longs — bounded model
  *      state, never corpus-sized),
  *   3. prefix-sum those n values on the driver and broadcast them
  *      back as a plan literal; each row's global total = its
  *      WITHIN-partition running sum (a window PARTITIONED by the
  *      range bucket — parallel) + its partition's prefix offset.
  * The output is partition-count independent (the global cumsum in id
  * order does not depend on where the range bounds fall), so the
  * 3-vs-8-CPU crosscheck holds structurally.
  */
object Packing {

  /** (idCol, tokensCol) → + cum_tokens (inclusive running total in
    * idCol order), shard (0-based index of the `budget`-token training
    * shard this document STARTS in), shard_offset (token offset of the
    * document's first token within that shard). Integer-exact: shard =
    * (cum - tokens) div budget, offset = (cum - tokens) mod budget. */
  def tokenShards(df: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    // materialize the range partitioning once: the partial-sum job and
    // the final pass must see the SAME row→partition assignment
    val base = df.select(col(idCol), col(tokensCol))
      .repartitionByRange(n, col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val partials = base.groupBy(col("__pid"))
      .agg(sum(col(tokensCol)).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (partials.isEmpty) 0 else partials.keys.max
    val prefix: Map[Int, Long] = (0 to maxPid)
      .scanLeft(0L)((acc, p) => acc + partials.getOrElse(p, 0L))
      .dropRight(1)
      .zipWithIndex.map { case (s, p) => p -> s }.toMap
    val w = Window.partitionBy(col("__pid")).orderBy(col(idCol))
    // integral DIV/pmod keep the arithmetic exact at any corpus size
    // (a double division would lose exactness past 2^53 total tokens)
    base
      .withColumn("cum_tokens",
        sum(col(tokensCol)).over(w) + element_at(typedlit(prefix), col("__pid")))
      .select(col(idCol), col(tokensCol),
        col("cum_tokens"),
        expr(s"CAST((cum_tokens - $tokensCol) DIV $budget AS INT)").as("shard"),
        pmod(col("cum_tokens") - col(tokensCol), lit(budget)).cast("int")
          .as("shard_offset"))
  }

  /** The MATERIALIZATION step past [[tokenShards]]' bookkeeping (r10):
    * cut the concatenated token-id stream into fixed `seqLen`-token
    * training sequences — concatenate-then-split pretraining rows,
    * documents straddling boundaries exactly as a real run packs them —
    * and emit one integer-exact DIGEST row per sequence (the driver
    * comparator needs scalars; raw packed arrays are a spec concern):
    * (seq_id, n_tokens, n_docs spanned, first/last token id,
    * checksum = Σ (pos_in_seq+1)·token — position-weighted, so any
    * reorder or off-by-one shows).
    *
    * Scale shape: doc start offsets come from the same two-phase
    * distributed prefix scan as [[tokenShards]] (bounded driver state),
    * the token arrays join back BY ID (one hash shuffle — the payload
    * never rides the prefix machinery), and the per-sequence digest is
    * a map-side-combinable `groupBy(seq_id)` aggregate: min_by/max_by
    * on the unique global position, exact long sums. No window touches
    * the exploded token stream and nothing corpus-sized reaches the
    * driver. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long): DataFrame =
    packSequencesFrom(df, idCol, tokensCol, seqLen, offset = 0L)

  /** [[packSequences]] with the stream's carried global token offset —
    * the per-micro-batch body of [[packStream]]. */
  private def packSequencesFrom(df: DataFrame, idCol: String,
      tokensCol: String, seqLen: Long, offset: Long): DataFrame = {
    // two consumers read `counted` (the prefix-scan count stream and
    // the array join-back): materialize it once, or the upstream
    // tokenization (BPE in q95/q96 — the dominant cost) runs twice
    val counted = df.select(col(idCol), col(tokensCol))
      .withColumn("__n", size(col(tokensCol)).cast("long"))
      .localCheckpoint()
    val starts = tokenShards(counted.select(col(idCol), col("__n")),
        idCol, "__n", seqLen)
      .select(col(idCol), (col("cum_tokens") - col("__n") + offset).as("__start"))
    counted.join(starts, Seq(idCol))
      .select(col(idCol), col("__start"),
        posexplode(col(tokensCol)).as(Seq("__ord", "__tok")))
      // token ids are vocab indices (bounded far below 2^31): pin the
      // digest element type to INT so a bigint token column yields the
      // same digest schema the carried PackState encodes — ANSI cast
      // fails loudly on a genuinely out-of-range id instead of a
      // runtime unionByName/encoder mismatch in packBatch
      .withColumn("__tok", col("__tok").cast("int"))
      .withColumn("__gpos", col("__start") + col("__ord"))
      .withColumn("seq_id", expr(s"__gpos DIV $seqLen"))
      .withColumn("__pos", pmod(col("__gpos"), lit(seqLen)))
      .groupBy(col("seq_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"),
        min_by(col("__tok"), col("__gpos")).as("first_token"),
        max_by(col("__tok"), col("__gpos")).as("last_token"),
        sum((col("__pos") + 1L) * col("__tok").cast("long")).as("checksum"))
  }

  /** The actual training-data product: materialize the packed
    * sequences as REAL token arrays, written `partitionBy` shard
    * directories of `seqsPerShard` sequences each (the file layout a
    * training run streams). Each sequence's array is assembled with a
    * `collect_list` bounded BY CONSTRUCTION at `seqLen` elements (the
    * one place a list aggregate is safe at 100 TB — the group is the
    * fixed-size training row itself), ordered by the in-sequence
    * position via `sort_array` on (pos, token) structs. Digest rows
    * ([[packSequences]]) remain the driver-comparator surface; this
    * sink is spec-verified by reconstructing the digests from the
    * written arrays. */
  def writePackedShards(df: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, seqsPerShard: Long, outDir: String): Unit = {
    val counted = df.select(col(idCol), col(tokensCol))
      .withColumn("__n", size(col(tokensCol)).cast("long"))
    val starts = tokenShards(counted.select(col(idCol), col("__n")),
        idCol, "__n", seqLen)
      .select(col(idCol), (col("cum_tokens") - col("__n")).as("__start"))
    StoreFs.writer(counted.join(starts, Seq(idCol))
      .select(col("__start"), posexplode(col(tokensCol)).as(Seq("__ord", "__tok")))
      .withColumn("__gpos", col("__start") + col("__ord"))
      .withColumn("seq_id", expr(s"__gpos DIV $seqLen"))
      .withColumn("__pos", pmod(col("__gpos"), lit(seqLen)).cast("int"))
      .groupBy(col("seq_id"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__tok"))))
        .getField("__tok").as("tokens"))
      .withColumn("shard", expr(s"seq_id DIV $seqsPerShard"))
      .repartition(col("shard")))
      .partitionBy("shard").mode("overwrite").parquet(outDir)
  }

  // --- streaming packing (r10) ----------------------------------------

  /** Carried packing state after a micro-batch: the global token
    * offset plus the digest of the still-OPEN boundary sequence
    * (scalars only — a document's tokens never straddle a batch, so
    * doc counts merge additively). */
  private[graft] case class PackState(next_gpos: Long, open_seq: Long,
      open_n: Long, open_docs: Long, open_first: Int, open_last: Int,
      open_ck: Long)

  private def statePath(stateDir: String, batchId: Long): String =
    s"$stateDir/batch=$batchId"

  private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, batchId: Long): PackState = {
    import spark.implicits._
    if (batchId == 0L) PackState(0L, -1L, 0L, 0L, 0, 0, 0L)
    else spark.read.parquet(statePath(stateDir, batchId - 1))
      .as[PackState].head()
  }

  /** One micro-batch of continuous packing: digest this batch's token
    * stream at the carried offset, MERGE the carried open-sequence
    * partial into its continuation (first/last/checksum/doc counts are
    * all additive because documents arrive whole), emit every CLOSED
    * sequence under `out/__batch_id=<id>` and write the new state under
    * `state/batch=<id>` — both with overwrite, and the state read is
    * batch `id-1`'s, so a crash between the two writes replays to
    * BIT-IDENTICAL output (the SignatureStore ingest-key pattern;
    * spec-asserted by running the same batch twice). Batch 0 starts a
    * fresh stream: it clears a prior run's emissions and state from
    * reused dirs. Driver state is one PackState row; the two special
    * rows (carried continuation, new open boundary) are the only rows
    * collected. */
  private[graft] def packBatch(batch: DataFrame, batchId: Long,
      idCol: String, tokensCol: String, seqLen: Long,
      outDir: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val st = readState(spark, stateDir, batchId)
    // digest frame stays DISTRIBUTED (a batch can close millions of
    // sequences); localCheckpoint so the three bounded reads below and
    // the sink write share one materialization
    val digests = packSequencesFrom(batch, idCol, tokensCol, seqLen,
        st.next_gpos)
      .select(col("seq_id"), col("n_tokens"), col("n_docs"),
        col("first_token"), col("last_token"), col("checksum"))
      .localCheckpoint()
    val batchTokens = digests.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .as[Long].head()
    val end = st.next_gpos + batchTokens
    val openSeq = if (end % seqLen == 0) -1L else end / seqLen
    // ONLY the two boundary rows reach the driver
    val special: Map[Long, (Long, Long, Long, Int, Int, Long)] = digests
      .filter(col("seq_id").isin(st.open_seq, openSeq))
      .as[(Long, Long, Long, Int, Int, Long)]
      .collect().map(r => r._1 -> r).toMap
    // merge the carried open partial with its continuation (doc counts
    // are additive — a document's tokens never straddle a batch)
    val carried: Option[(Long, Long, Long, Int, Int, Long)] =
      if (st.open_seq < 0) None
      else Some(special.get(st.open_seq) match {
        case Some((sid, n, d, _, last, ck)) =>
          (sid, st.open_n + n, st.open_docs + d, st.open_first, last,
            st.open_ck + ck)
        case None =>
          (st.open_seq, st.open_n, st.open_docs, st.open_first,
            st.open_last, st.open_ck)
      })
    val openRow: Option[(Long, Long, Long, Int, Int, Long)] =
      if (openSeq < 0) None
      else if (carried.exists(_._1 == openSeq)) carried
      else special.get(openSeq)
    val closedCarried = carried.filter(_._1 != openSeq).toSeq
    val closed = digests
      .filter(!col("seq_id").isin(st.open_seq, openSeq))
      .unionByName(closedCarried
        .toDF("seq_id", "n_tokens", "n_docs", "first_token",
          "last_token", "checksum"))
    val nextState = openRow match {
      case Some((sid, n, d, f, l, ck)) => PackState(end, sid, n, d, f, l, ck)
      case None => PackState(end, -1L, 0L, 0L, 0, 0, 0L)
    }
    StoreFs.writer(closed
      .withColumn("__batch_id", lit(batchId)))
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(outDir)
    StoreFs.writer(Seq(nextState).toDF())
      .mode("overwrite").parquet(statePath(stateDir, batchId))
    // a fresh stream over reused dirs: the prior run's emissions would
    // join this run's in packedResult (its seq_ids restart at 0 too)
    if (batchId == 0L)
      Streams.dropBatchDirs(spark, outDir, "__batch_id=")(_ != 0L)
    Streams.pruneState(spark, stateDir, batchId)
  }

  /** Continuous sequence packing (AvailableNow drain): each micro-batch
    * extends the global token stream where the previous one ended and
    * emits the sequences it closes; the open boundary sequence rides
    * the state. [[packedResult]] (closed emissions + the open partial)
    * equals the batch [[packSequences]] over the same corpus when the
    * stream delivers documents in the same order — asserted in
    * PackingSpec, along with crash-replay idempotence. */
  def packStream(stream: DataFrame, idCol: String, tokensCol: String,
      seqLen: Long, outDir: String, stateDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    Streams.drain(stream, checkpoint)(
      packBatch(_, _, idCol, tokensCol, seqLen, outDir, stateDir))

  /** The stream's complete digest view: all closed emissions plus the
    * final state's open partial (if any). */
  def packedResult(spark: org.apache.spark.sql.SparkSession,
      outDir: String, stateDir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.StoreFs
    // all listing/probing through the Hadoop FileSystem: the state and
    // output dirs live wherever the stream writes (hdfs://, s3a://) —
    // java.io.File would silently see nothing there. A dir that exists
    // but holds only _temporary debris (crash mid-write) counts as
    // ABSENT, and schema inference must never run on it.
    val empty = Seq.empty[(Long, Long, Long, Int, Int, Long)]
      .toDF("seq_id", "n_tokens", "n_docs", "first_token", "last_token",
        "checksum")
    val batches = StoreFs.childNames(spark, stateDir)
      .filter(_.startsWith("batch=")).map(_.drop(6).toLong)
    if (batches.isEmpty) empty
    else {
      val st = spark.read.parquet(statePath(stateDir, batches.max))
        .as[PackState].head()
      val closed =
        if (!StoreFs.hasCommittedData(spark, outDir)) empty
        else spark.read.parquet(outDir)
          .select(col("seq_id"), col("n_tokens"), col("n_docs"),
            col("first_token"), col("last_token"), col("checksum"))
      if (st.open_seq < 0) closed
      else closed.unionByName(Seq(
        (st.open_seq, st.open_n, st.open_docs, st.open_first, st.open_last,
          st.open_ck))
        .toDF("seq_id", "n_tokens", "n_docs", "first_token", "last_token",
          "checksum"))
    }
  }

  /** Deterministic global corpus shuffle into `nShards` epoch shards —
    * the step between a curated MIXTURE (q82) and packing (q80): a
    * training run wants documents in pseudo-random order, reproducibly.
    * `Bernoulli`-free and engine-portable like q64's sampler: the
    * shuffle key is an LCG of the row id ((id mod 2^31)·1103515245 +
    * 12345 mod 2^31 — the inner mod keeps the ANSI-mode product inside
    * a long at ANY id magnitude), the shard is key mod nShards, and the
    * within-shard position ranks by (key, id) — a deterministic total
    * order, so reruns, engines and partitionings all agree. The rank
    * window PARTITIONS by shard (never a global orderBy window): each
    * shard ranks in parallel, and at cluster scale nShards is sized to
    * the write parallelism — the same rows would be shuffled to one
    * writer per shard anyway, so the window adds no exchange beyond
    * the one the sharded write already pays. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val key = pmod(
      pmod(col(idCol), lit(1L << 31)) * lit(1103515245L) + lit(12345L),
      lit(1L << 31))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col(idCol))
    df.select(col(idCol), key.as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
  }
  /** Padding-efficiency report — the WHY behind sequence packing
    * (q95/q97): if you batch unpacked documents into power-of-two
    * length buckets (the standard non-packed serving/training layout),
    * how many tokens are padding? Per bucket: document count, real
    * token mass, padded mass (docs longer than `seqLen` CHUNK into
    * ⌈n/seqLen⌉ max-length rows — the packing contract), and waste in
    * exact integer ppm. All arithmetic BIGINT (the bucket ladder is a
    * bounded literal CASE chain — mirrored verbatim in the oracle);
    * one map-side-combinable aggregate over one scan. Null/non-positive
    * token counts drop. */
  def paddingEfficiency(df: DataFrame, tokensCol: String,
      seqLen: Int, minBucket: Int = 16): DataFrame = {
    require(seqLen >= minBucket && minBucket >= 1 &&
      Integer.bitCount(seqLen) == 1 && Integer.bitCount(minBucket) == 1,
      s"seqLen/minBucket must be powers of two: $seqLen/$minBucket")
    val n = col(tokensCol).cast("long")
    val ladder = Iterator.iterate(minBucket)(_ * 2)
      .takeWhile(_ <= seqLen).toSeq
    val bucket = ladder.init.foldRight(lit(seqLen.toLong): Column) {
      (b, acc) => when(n <= b.toLong, lit(b.toLong)).otherwise(acc)
    }
    val padded = when(n <= seqLen.toLong, bucket)
      .otherwise(expr(s"((${tokensCol} + ${seqLen - 1}L) DIV " +
        s"${seqLen}L) * ${seqLen}L"))
    df.filter(n.isNotNull && n > 0L)
      .select(bucket.as("bucket"), n.as("__n"), padded.as("__p"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).as("token_mass"),
        sum(col("__p")).as("padded_mass"))
      .withColumn("waste_ppm",
        expr("(padded_mass - token_mass) * 1000000L DIV padded_mass"))
      .orderBy(col("bucket"))
  }
}
