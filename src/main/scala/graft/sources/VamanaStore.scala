package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Vamana

/** Streaming Vamana graph store — the StreamingDiskANN surface the
  * reference's pgvectorscale extension names (`src/rag/sqlx.rs:26-29`;
  * Singh et al., FreshDiskANN, arXiv:2105.09613): the incremental
  * continuation of the batch index in `operators/Vamana.scala` (q172),
  * completing the pattern every other index family here already has
  * (`VectorStore.appendStream` for IVF, the five ST7 dedup stores).
  *
  * Layout under `path`: `ingest=<key>/shard=<s>/` parquet rows
  * (id, vec6 array<bigint>, nbrs array<bigint> — NEIGHBOR IDS, medoid
  * boolean, seq bigint). A batch writes, under its OWN ingest key:
  * its new nodes (out-edges from RobustPrune) AND replacement
  * adjacency rows for the existing nodes its back-edges rewired. A
  * reader reduces to the LATEST row per id (max `seq`) — so the
  * store's visible graph after any prefix of batches is exactly the
  * sequential FreshDiskANN insertion state. `seq` is the stream's
  * batch id (the compacted base writes seq = -1): adjacency
  * replacement needs a TOTAL writer order, so a store accepts ONE
  * stream (one checkpoint) between compactions — the lease already
  * serializes writers vs maintenance, and foreachBatch is sequential
  * within a stream.
  *
  * Crash replay follows the keyed-ingest contract ([[StoreFs]]): a
  * replayed batch recomputes bit-identically (the whole build is
  * exact-integer; VamanaStoreSpec replays and compares bytes).
  * Batch rows whose id already exists in the visible store are
  * DROPPED (re-ingest is a no-op; delete-then-reinsert goes through
  * [[compact]], the tombstone re-insert contract all stores share).
  *
  * Deletes follow FreshDiskANN: a tombstoned id is masked from every
  * search RESULT immediately but stays in the graph as a routing node
  * until [[compact]] removes it physically. Compaction rebuilds each
  * shard with the canonical batch [[Vamana.buildShard]] over the
  * surviving vectors — the compacted store is BIT-IDENTICAL to
  * `Vamana.build` over the surviving rows (spec-asserted), which also
  * restores the degree bound the insert path's reachability fallback
  * may exceed by one.
  *
  * Probes: [[topKFrame]] is the batch form the q172 single-probe
  * `topK` lacked — ONE shard materialization amortized across ALL
  * probes in the frame ([[Vamana.beams]]), with the cut and the rerank
  * taken per probe. Probes broadcast through the task closure behind
  * `maxProbes` — at 100 TB the shard count scales with the corpus
  * while the probe batch stays workload-sized; a larger workload
  * chunks into several calls. */
object VamanaStore extends MaintainedStore {

  protected def storeName = "VamanaStore"
  override protected def idColumn = Some("id")
  private def shardOf(id: Column, n: Int): Column =
    pmod(id, lit(n.toLong)).cast("int")

  /** The store's committed rows reduced to the latest per (shard, id)
    * — the visible graph. Tombstones are NOT applied here (deleted
    * nodes keep routing until compaction); result masking is the
    * probe's job. */
  private[graft] def visibleRows(spark: SparkSession, path: String,
      excludeIngest: Option[String]): DataFrame = {
    val committed = StoreFs.readCommitted(spark, path)
    require(committed.isDefined,
      s"VamanaStore at $path has no committed data — ingest a batch " +
        "before probing")
    // latest-per-id: max_by over seq; ids are unique per seq so the
    // (seq) ordering is total per id
    replayScoped(committed.get, excludeIngest)
      .groupBy(col("shard"), col("id"))
      .agg(max_by(struct(col("vec6"), col("nbrs"), col("medoid")),
        col("seq")).as("__r"), max(col("seq")).as("seq"))
      .select(col("shard"), col("id"), col("__r.vec6").as("vec6"),
        col("__r.nbrs").as("nbrs"), col("__r.medoid").as("medoid"),
        col("seq"))
  }

  /** One micro-batch insertion: per affected shard, either the
    * canonical batch build (shard not in the store yet) or the
    * FreshDiskANN insert pass, all inside one task per shard; writes
    * new + rewired rows under the batch's ingest key. Replay reads
    * the store excluding that key, so a crashed batch reproduces
    * bit-identically. */
  private[graft] def processBatch(batch: DataFrame, ingest: String,
      seq: Long, idCol: String, vecCol: String, path: String,
      p: Vamana.Params): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // fail fast: a batch of already-stored ids writes nothing, and the
    // insert pass is the costly part
    failIfLeased(spark, path, ingest)
    // lift with Vamana.lift6 (Math.round) — SQL round() is HALF_UP and
    // diverges on negative .5 boundaries (the r10 replica distinction).
    // Null/empty vectors (and null ids) are DROPPED before the lift —
    // the repo's null-drop posture; they would otherwise NPE inside
    // the shard task (r18 ADVICE).
    val fresh = batch
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) > 0)
      .select(shardOf(col(idCol), p.nShards).as("shard"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(Int, Long, Seq[Double])]
      .map { case (s, id, v) =>
        (s, id, true, Vamana.lift6(v).toSeq, Seq.empty[Long], false)
      }
      .toDF("shard", "id", "__new", "vec6", "nbrs", "medoid")
    val stored =
      if (StoreFs.hasCommittedData(spark, path))
        visibleRows(spark, path, Some(ingest))
          // only shards this batch touches participate
          .join(fresh.select(col("shard")).distinct(), Seq("shard"),
            "left_semi")
          .select(col("shard"), col("id"), lit(false).as("__new"),
            col("vec6"), col("nbrs"), col("medoid"))
      else fresh.limit(0)
    val out = fresh.unionByName(stored)
      .as[(Int, Long, Boolean, Seq[Long], Seq[Long], Boolean)]
      .repartition(p.nShards, col("shard"))
      .mapPartitions { it =>
        val byShard = it.toArray.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, withDups) =>
          // a re-ingested id keeps its STORED row (batch copy drops);
          // duplicate ids WITHIN a batch collapse deterministically
          val members = withDups.groupBy(_._2).map { case (_, copies) =>
            copies.find(!_._3)
              .getOrElse(copies.minBy(_._4.mkString(",")))
          }.toArray.sortBy(_._2)
          val ids = members.map(_._2)
          val vecs = members.map(_._4.toArray)
          val isNew = members.map(_._3)
          if (!members.exists(!_._3)) {
            // brand-new shard: canonical batch build
            val (medoid, adj) = Vamana.buildShard(vecs, p)
            ids.indices.iterator.map { i =>
              (shard, ids(i), vecs(i).toSeq, adj(i).map(ids(_)).toSeq,
                i == medoid, seq)
            }
          } else if (!isNew.exists(identity)) Iterator.empty
          else {
            val idx = ids.zipWithIndex.toMap
            val adj: Array[Array[Int]] = members.map(m =>
              m._5.toArray.map(idx))
            val medoidIdx = members.indexWhere(_._6)
            require(medoidIdx >= 0, s"shard $shard has no medoid row")
            val changed = Vamana.insertShard(ids, vecs, isNew, adj,
              medoidIdx, p)
            ids.indices.iterator.filter(changed).map { i =>
              (shard, ids(i), vecs(i).toSeq, adj(i).map(ids(_)).toSeq,
                members(i)._6, seq)
            }
          }
        }
      }
      .toDF("shard", "id", "vec6", "nbrs", "medoid", "seq")
      .localCheckpoint() // decide fully before touching the store
    if (!out.isEmpty)
      writeIngest(path, ingest, out.repartition(p.nShards, col("shard")),
        Seq("shard"))
  }

  /** Drain a vector stream with AvailableNow: each micro-batch runs
    * the FreshDiskANN insertion into the store. Replay-idempotent per
    * the store contract; one stream per store between compactions. */
  def ingest(stream: DataFrame, idCol: String, vecCol: String,
      path: String, checkpoint: String, p: Vamana.Params)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestStream(stream, checkpoint) { (batch, ingest, batchId) =>
      processBatch(batch, ingest, batchId, idCol, vecCol, path, p)
    }

  /** Batch scatter-gather probe: per probe in `probes` (probeIdCol,
    * probeVecCol), the top-`mCand` masked beam candidates by exact
    * (dist6, id), then the top-`k` by (sim desc, id). Probes collect
    * behind `maxProbes`. */
  def topKFrame(spark: SparkSession, path: String, probes: DataFrame,
      probeIdCol: String, probeVecCol: String, source: DataFrame,
      idCol: String, vecCol: String, p: Vamana.Params, k: Int,
      mCand: Int, maxProbes: Int = 65536): DataFrame = {
    import spark.implicits._
    val prDf = probes
      .filter(col(probeIdCol).isNotNull && col(probeVecCol).isNotNull &&
        size(col(probeVecCol)) > 0) // null-drop posture (r18 ADVICE)
      .select(col(probeIdCol).cast("long"),
        col(probeVecCol).cast("array<double>"))
      .localCheckpoint()
    // gate BEFORE collecting (the r17-ADVICE ordering)
    val nProbes = prDf.count()
    require(nProbes <= maxProbes,
      s"$nProbes probes exceed maxProbes=$maxProbes — chunk the " +
        "probe frame; shards scale with the corpus, probes must stay " +
        "workload-sized")
    probeAll(spark, path,
      prDf.as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq, source,
      idCol, vecCol, p, k, mCand)
      .withColumnRenamed("__pid", probeIdCol)
  }

  /** [[topKFrame]] over probes already on the driver: rows
    * (`__pid`, idCol, sim) ordered by (`__pid`, sim desc, id). */
  private def probeAll(spark: SparkSession, path: String,
      probes: Seq[(Long, Seq[Double])], source: DataFrame, idCol: String,
      vecCol: String, p: Vamana.Params, k: Int, mCand: Int): DataFrame = {
    import spark.implicits._
    val beams = VectorStore.withoutDeleted(spark, path,
      Vamana.beams(visibleRows(spark, path, None), probes, p), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("dist6"), col("id"))
    val cands = beams
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= mCand)
      .select(col("__pid"), col("id").as(idCol))
      .join(broadcast(probes.toDF("__pid", "__pvec")), Seq("__pid"))
    VectorStore.rerank(cands, source, idCol, vecCol, col("__pvec"), k,
        perProbe = Some("__pid"))
      .orderBy(col("__pid"), col("sim").desc, col(idCol))
  }

  /** Single-probe convenience (the q172 `topK` shape over the store). */
  def topK(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double],
      p: Vamana.Params, k: Int, mCand: Int): DataFrame =
    probeAll(spark, path, Seq((0L, probe)), source, idCol, vecCol, p, k,
      mCand).drop("__pid")

  /** The id rule: a delete's ids (any name) are cast to the store's
    * long `id` column. A tombstoned id is masked from every search
    * result at once and removed from the graph by [[compact]]. */
  override protected def tombstoneIds(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame =
    ids.select(col(ids.columns.head).cast("long").as("id"))

  /** Compact ([[MaintainedStore.compactWith]]): rebuild every shard
    * with the canonical batch [[Vamana.buildShard]] over the surviving
    * latest vectors, folded into `ingest=base` at seq = -1.
    * Bit-identical to `Vamana.build` over the survivors
    * (spec-asserted), restoring the canonical graph and the R degree
    * bound. */
  def compact(spark: SparkSession, path: String,
      p: Vamana.Params): Unit = {
    import spark.implicits._
    compactWith(spark, path) { (_, rows, staged) =>
      val rebuilt = rows
        .groupBy(col("shard"), col("id"))
        .agg(max_by(col("vec6"), col("seq")).as("vec6"))
        .as[(Int, Long, Seq[Long])]
        .repartition(p.nShards, col("shard"))
        .mapPartitions { it =>
          val byShard = it.toArray.groupBy(_._1)
          byShard.iterator.flatMap { case (shard, members) =>
            val sorted = members.sortBy(_._2)
            val ids = sorted.map(_._2)
            val vecs = sorted.map(_._3.toArray)
            val (medoid, adj) = Vamana.buildShard(vecs, p)
            ids.indices.iterator.map { i =>
              (shard, ids(i), vecs(i).toSeq, adj(i).map(ids(_)).toSeq,
                i == medoid, -1L)
            }
          }
        }
        .toDF("shard", "id", "vec6", "nbrs", "medoid", "seq")
        .withColumn("ingest", lit("base"))
        .repartition(p.nShards, col("shard"))
      StoreFs.writer(rebuilt).partitionBy("ingest", "shard").mode("overwrite")
        .parquet(staged)
    }
  }
}
