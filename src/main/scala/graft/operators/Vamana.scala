package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{StoreFs, VectorStore}

/** Vamana graph ANN (DiskANN's index; Subramanya et al., NeurIPS'19) —
  * the graph-based family the reference's installed-but-unused
  * pgvectorscale extension ships (StreamingDiskANN,
  * `src/rag/sqlx.rs:26-29`), completing the repo's ANN surface next to
  * LSH / IVF / PQ / OPQ.
  *
  * Determinism contract (the q163 OPQ discipline, taken further): the
  * ENTIRE build and search run in exact 1e6-lifted integer arithmetic —
  * squared L2 distances are BIGINT sums (`multiplyExact`/`addExact`, so
  * an out-of-range component throws instead of corrupting the graph),
  * every argmin tie-breaks to the smaller id, and the α-pruning test is
  * the integer comparison `alphaNum·d(p*,v) ≤ alphaDen·d(p,v)` — no
  * float ever enters a decision, so the graph is bit-identical across
  * JVMs, partitionings, AND the transliterated Python replica
  * (tools/replica.py `vamana_build`/`vamana_search`; Python ints are
  * exact, nothing to match but the op order).
  *
  * Scale posture: documents shard by `pmod(id, nShards)`; each shard
  * builds its own Vamana graph INSIDE one task (`mapPartitions` after a
  * shard repartition — the build is sequential per shard by nature, so
  * the shard is the parallelism unit and its size is the memory bound).
  * A probe is a scatter-gather: every shard runs one greedy beam search
  * (O(L·R·dim) distance work per shard, sublinear in shard size — the
  * graph hops straight to the neighborhood) and the per-shard beams
  * merge by exact (dist, id). At 100 TB: shard count ∝ corpus,
  * one executor core per shard search, merge is a top-k over
  * nShards·L rows. */
object Vamana {

  /** Build/search parameters. `alphaNum/alphaDen` is the rational α of
    * RobustPrune (12/10 = the paper's 1.2) — kept rational so the
    * pruning test stays in exact integers. */
  final case class Params(r: Int = 16, l: Int = 32, alphaNum: Long = 12L,
      alphaDen: Long = 10L, nShards: Int = 4) {
    require(r >= 1 && l >= 1 && nShards >= 1 && alphaNum >= alphaDen &&
      alphaDen >= 1, s"bad Vamana params $this")
  }

  /** 1e6-lift (the repo-wide 6-dp discipline). */
  private[graft] def lift6(v: Seq[Double]): Array[Long] = {
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { out(i) = Math.round(v(i) * 1e6); i += 1 }
    out
  }

  /** Exact squared L2 in lifted space. */
  private[graft] def dist2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      val d = Math.subtractExact(a(i), b(i))
      s = Math.addExact(s, Math.multiplyExact(d, d))
      i += 1
    }
    s
  }

  /** GreedySearch(start, q, L): beam search over the current adjacency.
    * Returns (beam, visited) — `beam` is the candidate pool truncated
    * to the L closest (dist asc, idx asc) as (dist, idx) pairs sorted
    * that way; `visited` is every expanded node in expansion order.
    * Deterministic: the next node to expand is the unvisited pool
    * member with the smallest (dist, idx). */
  private[graft] def greedySearch(adj: Array[Array[Int]],
      vecs: Array[Array[Long]], start: Int, q: Array[Long],
      l: Int): (Array[(Long, Int)], Array[Int]) = {
    val dist = new java.util.HashMap[Integer, java.lang.Long]()
    def d(i: Int): Long = {
      val c = dist.get(i)
      if (c != null) c.longValue()
      else { val v = dist2(vecs(i), q); dist.put(i, v); v }
    }
    var pool = List(start)
    val inPool = new java.util.HashSet[Integer]()
    inPool.add(start)
    val visited = new java.util.LinkedHashSet[Integer]()
    var done = false
    while (!done) {
      // closest unvisited pool member
      var best = -1
      var bestD = Long.MaxValue
      pool.foreach { p =>
        if (!visited.contains(p)) {
          val dp = d(p)
          if (dp < bestD || (dp == bestD && p < best)) { best = p; bestD = dp }
        }
      }
      if (best < 0) done = true
      else {
        visited.add(best)
        adj(best).foreach { nb =>
          if (!inPool.contains(nb)) { inPool.add(nb); pool = nb :: pool }
        }
        if (inPool.size > l) {
          val kept = pool.map(p => (d(p), p)).sortBy(t => (t._1, t._2)).take(l)
          pool = kept.map(_._2)
          inPool.clear()
          pool.foreach(p => inPool.add(p))
          // visited nodes pruned from the pool stay visited (paper: V
          // only grows); the loop re-scans pool-minus-visited.
        }
      }
    }
    val beam = pool.map(p => (d(p), p)).sortBy(t => (t._1, t._2))
      .take(l).toArray
    val vis = new Array[Int](visited.size())
    val it = visited.iterator()
    var i = 0
    while (it.hasNext) { vis(i) = it.next(); i += 1 }
    (beam, vis)
  }

  /** RobustPrune(p, cands, α, R): pick the closest candidate, drop
    * every candidate it α-dominates, repeat to at most R out-edges.
    * Integer α test; (dist, idx) argmin. */
  private[graft] def robustPrune(p: Int, cands0: Array[Int],
      vecs: Array[Array[Long]], alphaNum: Long, alphaDen: Long,
      r: Int): Array[Int] = {
    val vp = vecs(p)
    var cands = cands0.distinct.filter(_ != p)
      .map(c => (dist2(vecs(c), vp), c)).sortBy(t => (t._1, t._2)).toList
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    while (cands.nonEmpty && out.length < r) {
      val pStar = cands.head._2
      out += pStar
      val vs = vecs(pStar)
      cands = cands.tail.filter { case (dpv, v) =>
        // keep v unless α·d(p*, v) ≤ d(p, v)
        Math.multiplyExact(alphaNum, dist2(vecs(v), vs)) >
          Math.multiplyExact(alphaDen, dpv)
      }
    }
    out.toArray
  }

  /** Deterministic shard build. `vecs` must be in ascending-id order
    * (idx == rank of id). Returns (medoidIdx, adjacency). Two insertion
    * passes over ascending idx: α=1 then α=params.α (the paper's
    * schedule), from an empty graph (backward edges wire it up).
    * Medoid = argmin exact distance to the floor-divided lifted
    * centroid, ties → smaller idx. */
  private[graft] def buildShard(vecs: Array[Array[Long]],
      p: Params): (Int, Array[Array[Int]]) = {
    val n = vecs.length
    require(n >= 1, "empty shard")
    val dim = vecs(0).length
    // centroid6(i) = floorDiv(Σ x6(i), n) — exact, replicable
    val cent = new Array[Long](dim)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < dim) { cent(j) = Math.addExact(cent(j), vecs(i)(j)); j += 1 }
      i += 1
    }
    i = 0
    while (i < dim) { cent(i) = Math.floorDiv(cent(i), n); i += 1 }
    var medoid = 0
    var bestD = Long.MaxValue
    i = 0
    while (i < n) {
      val d = dist2(vecs(i), cent)
      if (d < bestD) { bestD = d; medoid = i }
      i += 1
    }
    val adj: Array[Array[Int]] = Array.fill(n)(Array.emptyIntArray)
    for (alphaN <- Seq(p.alphaDen, p.alphaNum)) { // pass 1 α=1, pass 2 α
      var x = 0
      while (x < n) {
        val (_, visited) = greedySearch(adj, vecs, medoid, vecs(x), p.l)
        adj(x) = robustPrune(x, visited ++ adj(x), vecs, alphaN,
          p.alphaDen, p.r)
        adj(x).foreach { b =>
          if (!adj(b).contains(x)) {
            val nb = adj(b) :+ x
            adj(b) =
              if (nb.length > p.r)
                robustPrune(b, nb, vecs, alphaN, p.alphaDen, p.r)
              else nb
          }
        }
        x += 1
      }
    }
    (medoid, adj)
  }

  /** FreshDiskANN-style single-batch insertion into one shard graph
    * (Singh et al., arXiv:2105.09613 — the incremental half of
    * StreamingDiskANN, the index family the reference's pgvectorscale
    * ships, `src/rag/sqlx.rs:26-29`).
    *
    * `ids`/`vecs`/`isNew` are the COMBINED shard (existing ∪ new) in
    * ascending-id order; `adj` is the existing adjacency remapped to
    * combined indices (empty for new nodes) and is MUTATED in place.
    * For each new point x in ascending-id order: one greedy beam from
    * the medoid, out(x) = RobustPrune(visited, α, R), then back-edges
    * x→nbrs(b) for every b ∈ out(x) with RobustPrune on overflow past
    * R — all decisions in the same exact-integer arithmetic as
    * [[buildShard]], so the resulting graph is bit-identical across
    * partitionings and the Python replica. One deliberate deviation
    * from the paper, for a determinism GUARANTEE rather than a
    * probabilistic one: if every back-edge prune dropped x (possible
    * when all its out-neighbors' lists are full of closer points), x
    * is force-appended to its NEAREST out-neighbor's list — that one
    * node may hold R+1 edges until [[graft.sources.VamanaStore]]
    * compaction rebuilds the canonical batch graph; without it a new
    * point could be unreachable and silently invisible to every
    * search. Returns the changed-node flags (new nodes + rewired
    * existing nodes). */
  private[graft] def insertShard(ids: Array[Long],
      vecs: Array[Array[Long]], isNew: Array[Boolean],
      adj: Array[Array[Int]], medoidIdx: Int,
      p: Params): Array[Boolean] = {
    val n = ids.length
    val changed = new Array[Boolean](n)
    var x = 0
    while (x < n) {
      if (isNew(x)) {
        val (_, visited) = greedySearch(adj, vecs, medoidIdx, vecs(x), p.l)
        adj(x) = robustPrune(x, visited, vecs, p.alphaNum, p.alphaDen, p.r)
        changed(x) = true
        var hasIn = false
        adj(x).foreach { b =>
          if (!adj(b).contains(x)) {
            val nb = adj(b) :+ x
            adj(b) =
              if (nb.length > p.r)
                robustPrune(b, nb, vecs, p.alphaNum, p.alphaDen, p.r)
              else nb
            changed(b) = true
          }
          if (adj(b).contains(x)) hasIn = true
        }
        if (!hasIn && adj(x).nonEmpty) {
          // reachability guarantee: force the back-edge at the nearest
          // out-neighbor (RobustPrune emits closest-first)
          val b0 = adj(x).head
          adj(b0) = adj(b0) :+ x
          changed(b0) = true
        }
      }
      x += 1
    }
    changed
  }

  /** Build the sharded Vamana index as a DataFrame:
    * (shard, id, vec6 array<bigint>, nbrs array<bigint>, medoid) —
    * shard = pmod(id, nShards), each shard built inside one task from
    * exactly its own rows (partition-count independent by
    * construction). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      p: Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = p.nShards
    val rows = df
      .select(pmod(col(idCol), lit(n.toLong)).cast("int").as("shard"),
        col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[(Int, Long, Seq[Double])]
    rows
      .repartition(n, col("shard"))
      .mapPartitions { it =>
        val byShard = it.toArray.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, members) =>
          val sorted = members.sortBy(_._2)
          val ids = sorted.map(_._2)
          val vecs = sorted.map(t => lift6(t._3))
          val (medoid, adj) = buildShard(vecs, p)
          ids.indices.iterator.map { i =>
            (shard, ids(i), vecs(i).toSeq, adj(i).map(ids(_)).toSeq,
              i == medoid)
          }
        }
      }
      .toDF("shard", "id", "vec6", "nbrs", "medoid")
  }

  /** Persist the index partitioned by shard — a probe task reads one
    * shard directory. */
  def writeStore(df: DataFrame, idCol: String, vecCol: String,
      path: String, p: Params): Unit =
    StoreFs.writer(build(df, idCol, vecCol, p))
      .partitionBy("shard").mode("overwrite").parquet(path)

  /** Scatter-gather greedy beams over a stored graph (rows shard, id,
    * vec6, nbrs, medoid): ONE materialization of each shard's graph,
    * then per probe in `probes` one greedy beam from that shard's
    * medoid. Rows (`__pid`, id, dist6). Probes broadcast through the
    * task closure. */
  private[graft] def beams(graph: DataFrame, probes: Seq[(Long, Seq[Double])],
      p: Params): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val probes6 = probes.map { case (pid, v) => (pid, lift6(v)) }
    graph
      .select(col("shard"), col("id"), col("vec6"), col("nbrs"),
        col("medoid"))
      .as[(Int, Long, Seq[Long], Seq[Long], Boolean)]
      .repartition(p.nShards, col("shard"))
      .mapPartitions { it =>
        val byShard = it.toArray.groupBy(_._1)
        byShard.iterator.flatMap { case (_, members0) =>
          val members = members0.sortBy(_._2)
          val idx = members.map(_._2).zipWithIndex.toMap
          val vecs = members.map(_._3.toArray)
          val adj = members.map(m => m._4.toArray.map(idx))
          val medoid = members.indexWhere(_._5)
          require(medoid >= 0,
            s"shard of ${members.length} rows has no medoid row — " +
              "store corruption; rebuild via compact()")
          probes6.iterator.flatMap { case (pid, q6) =>
            val (beam, _) = greedySearch(adj, vecs, medoid, q6, p.l)
            beam.iterator.map { case (d, i) => (pid, members(i)._2, d) }
          }
        }
      }
      .toDF("__pid", "id", "dist6")
  }

  /** The q81/q163-shaped probe over the stored graph: the probe's
    * per-shard beams, masked, merge by exact (dist6, id) into the
    * global top-`mCand` candidates. */
  def topK(spark: SparkSession, path: String, source: DataFrame,
      idCol: String, vecCol: String, probe: Seq[Double], p: Params,
      k: Int, mCand: Int): DataFrame =
    VectorStore.rerank(
      VectorStore.approxTop(spark, path,
          beams(VectorStore.committedRead(spark, path), Seq((0L, probe)), p),
          "id", col("dist6"), mCand)
        .select(col("id").as(idCol)),
      source, idCol, vecCol, graft.functions.VectorOps.vecLit(probe), k)
}
