package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.functions.TextOps
import graft.operators.Analytics.lift6

/** Deduplication operators for the training-data pipeline surface. The
  * reference has NO dedup at all — re-running ingest re-inserts every
  * row (no unique key, `src/rag/sqlx.rs:34-45`, SURVEY §2.8 ST7) — so
  * this module supplies the standard ladder: exact → MinHash/LSH →
  * SimHash → n-gram Jaccard, each a declarative plan that shuffles on
  * content-derived keys (never collects to the driver).
  */
object Dedup {

  /** Target partition count for explicit exchanges. Explicit because
    * AQE coalesces column-only repartitions of small data back to one
    * partition, defeating the parallelize-first exchanges below. */
  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Exact dedup: keep the lowest-id row per identical text — the
    * deterministic version of `dropDuplicates` (which keeps an
    * arbitrary row). `groupBy(sha2(text)).agg(min_by(struct(*), id))`
    * rather than a `row_number` window: the hash aggregate combines
    * map-side, so duplicate rows collapse BEFORE the shuffle (the
    * window shipped every row and then sorted each group), and the
    * shuffle key is a 32-byte digest, not the document body — at
    * 100 TB shuffle bytes are the bottleneck. BenchOne at sf0.1 (500k
    * docs, few dups): within run-to-run noise of the window form
    * (q14 0.44-0.56 s, q56 1.2-1.6 s both ways) — the fixture has too
    * few duplicates for map-side collapse to show; kept for the scale
    * posture, where duplicate density is exactly what dedup exists
    * for. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns.toIndexedSeq
    df.groupBy(sha2(col(textCol), 256).as("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__w"))
      .select(cols.map(c => col("__w." + c)): _*)
  }

  /** Word k-shingles (k-grams joined with spaces), distinct,
    * first-occurrence order. Single-pass kernel (`WordShingles`). */
  def shingles(text: Column, k: Int): Column =
    graft.expressions.VectorExpressions.wordShingles(TextOps.words(text), k)

  /** MinHash signature: for each of `nHashes` permutations, the min of
    * murmur3(shingle, seed=perm) over the document's shingle set.
    * Deterministic (murmur3 is seed-stable across JVMs/runs).
    * Single-pass codegen-side kernel (`MinHashSig`). */
  def minhashSignature(shingleCol: Column, nHashes: Int): Column =
    graft.expressions.VectorExpressions.minhashSig(shingleCol, nHashes)

  /** MinHash + LSH banding near-dup candidates: split the signature
    * into `nBands` bands of `rowsPerBand`; documents sharing any band
    * value are candidates ([[sharedKeyPairs]] over the band keys);
    * candidates are verified with exact Jaccard over shingle sets. The
    * all-pairs comparison never materializes. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, nBands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.8): DataFrame = {
    val nHashes = nBands * rowsPerBand
    // parallelize-first exchange above the scan (single-row-group scans
    // give one partition). No compute-once barrier after the kernels:
    // CollapseProject re-inlines them per reference, but the codegen'd
    // re-eval measured cheaper than a second exchange (r5, BenchOne).
    val base = df.select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"), shingles(col(textCol), shingleK).as("sh"))
    // the shingle sets rejoin per candidate pair, recomputing the
    // shingle kernel per reference, which measured cheaper than
    // materializing it (r5 CollapseProject finding)
    val banded = base
      .withColumn("sig", minhashSignature(col("sh"), nHashes))
      .select(col("doc"), bandKeys(col("sig"), nBands, rowsPerBand, ":")
        .as(Seq("band", "bucket")))
    sharedKeyPairs(banded, Nil, Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .join(base.select(col("doc").as("id_a"), col("sh").as("__sha")), "id_a")
      .join(base.select(col("doc").as("id_b"), col("sh").as("__shb")), "id_b")
      .withColumn("jaccard", jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** LSH band keys: `posexplode` of the `nBands` consecutive
    * `width`-element slices of a signature array, each joined with
    * `sep` — alias it `(band, bucket)`. `SignatureStore` persists these
    * strings, so their format is part of its store layout. */
  private[graft] def bandKeys(sig: Column, nBands: Int, width: Int,
      sep: String): Column =
    posexplode(transform(sequence(lit(0), lit(nBands - 1)),
      b => array_join(slice(sig, b * width + 1, lit(width)), sep)))

  /** The four 16-bit bands of a 64-bit SimHash signature, low band
    * first. */
  private[graft] def simhashBands(sig: Column): Column =
    array((0 until 4).map(b =>
      shiftright(sig, 16 * b).bitwiseAND(lit(0xFFFFL))): _*)

  /** Exact Jaccard over two DISTINCT element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** SimHash: bit signature (default 32, up to 64) — bit i is the sign of the sum over
    * distinct words of ±1 votes, where word w votes by the sign of
    * murmur3(w, seed=i) (an independent hash per bit position).
    * Deterministic, MSB-first packing. Single-pass kernel
    * (`SimHashBits`) — one traversal of the word array computes all
    * bits, instead of `bits` interpreted folds. */
  def simhash(text: Column, bits: Int = 32): Column =
    graft.expressions.VectorExpressions.simhashBits(
      array_distinct(TextOps.words(text)), bits)

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming` — exact-hamming verify
    * over band-bucketed candidates (4 bands × 16 bits of a 64-bit
    * signature: by pigeonhole a pair within hamming<=3 agrees exactly
    * on at least one band, so banding loses nothing at the default
    * threshold; 64 bits keeps homogeneous corpora from collapsing into
    * a few buckets the way 32-bit signatures do). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, selfJoinBlocks: Int = 1): DataFrame =
    simhashBandPairs(simhashSigs(df, idCol, textCol), maxHamming,
      selfJoinBlocks)

  /** The (doc, sig) 64-bit SimHash frame [[simhashNearDups]] and
    * [[simhashClusters]] both start from — exposed so composite
    * callers (q193 `splitLeakage`) can compute it ONCE,
    * localCheckpoint, and feed BOTH consumers instead of re-hashing
    * the corpus per branch (the q120/q144 compute-once lesson one
    * level up, r18 verdict). Parallelize-first exchange only (see
    * minhashNearDups). */
  private[graft] def simhashSigs(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"), simhash(col(textCol), 64).as("sig"))

  /** The band-bucketed candidate join + exact-hamming verify over a
    * precomputed (doc, sig) frame — shared by [[simhashNearDups]]
    * (doc-level ids) and [[simhashClusters]] (one representative per
    * distinct signature). */
  private[graft] def simhashBandPairs(sigs: DataFrame, maxHamming: Int,
      selfJoinBlocks: Int = 1, subBandHotThreshold: Int = 0): DataFrame = {
    val banded = sigs.select(col("doc"), col("sig"),
      posexplode(simhashBands(col("sig"))).as(Seq("band", "half")))
    // hamming-verify BEFORE dropDuplicates: the dedup is a full
    // shuffle of every candidate row, and on a dense signature cloud
    // candidates dwarf survivors (m10 scaling fixture: 61.6M bucket
    // candidates vs 206k verified pairs — SCALING.md q98). The filter
    // is a codegen'd bit_count evaluated in the join's output stream,
    // and every duplicate of a pair carries the same two sigs, so
    // filtering first is result-identical while shrinking the dedup
    // shuffle ~75×. Catalyst cannot do this itself: above the
    // aggregate the filter reads first(__siga)/first(__sigb) and is
    // not pushable through them.
    def candidates(a: DataFrame, b: DataFrame, keys: Seq[String]) =
      a.join(b, keys)
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hamming(col("__siga"), col("__sigb")))
        .filter(col("hamming") <= maxHamming)
    def verified(a: DataFrame, b: DataFrame, keys: Seq[String]) =
      candidates(a, b, keys)
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"), col("hamming"))
    // Adaptive HOT-BUCKET SUB-BANDING (r15): a (band, half) bucket's
    // candidate volume is |bucket|² and one low-entropy band value can
    // collect thousands of DISTINCT sigs (m30: top bucket 8,137 rows =
    // 66M candidates; whole-corpus Σ|bucket|² = 387M). For buckets
    // above `subBandHotThreshold`, re-key their rows by a SECOND exact
    // band over the 48 bits OUTSIDE the matched band (4 sub-bands of
    // 12 bits): a pair within total hamming ≤ 3 that agrees exactly on
    // band b carries its ≤ 3 differing bits in the other 48, so by
    // pigeonhole at least one of the 4 sub-bands matches exactly —
    // recall-complete, result-identical (spec-asserted), and the hot
    // bucket's volume drops to Σ_s |sub-bucket|² (measured 3.9× overall
    // and 12× on the hottest key at m30). Cold buckets keep the
    // caller's plain-or-blocks scheme UNCHANGED (first attempt ran the
    // cold stream as a plain broadcast join — its output skew
    // serialized 11 s tasks and m30 got SLOWER; the blocks spreading is
    // load-bearing for cold volume too). The hot-key census is ONE
    // bounded collect (≤ 4·2¹⁶ distinct (band, half) keys exist at ANY
    // corpus size).
    // ONLY for callers whose sigs are DISTINCT (the cluster family):
    // an identical-sig family matches on every sub-band and would
    // multiply its candidate stream 4×, not split it.
    //
    // MEASURED AND LEFT OFF BY DEFAULT (r15): at m30 with blocks=8 the
    // same-window A/B is a WASH (q98 7.96 off / 7.58 on, q153 8.09 /
    // 8.56) — blocks already spread the candidate stream and the
    // bit_count verify is cheap, so trading 4× hot-row shuffle
    // replication for 4× fewer candidates nets zero here, while the
    // census collect costs ~0.3 s at every scale including declared
    // benches where no bucket is hot. The knob stays (spec-pinned
    // bit-identity) for the regime it exists for: verify costs far
    // above a bit_count, or bucket skew far beyond m30's 8k-row top
    // bucket (where Σ|bucket|² CPU, not spread, dominates).
    //
    // Block decomposition (r12, `selfJoinBlocks`): each row gets a
    // deterministic block id blk(doc) ∈ [0, nB); A replicates across
    // right-blocks j, B across left-blocks i, the key grows by (i, j),
    // and every (a, b) pair is produced exactly once at
    // (blk(a), blk(b)) — a B-row bucket fans its B² pair stream over
    // nB² tasks (AQE cannot: skew-join triggers on input BYTES and
    // these buckets are tiny in bytes, huge in output). `stream` builds
    // the (left, right, keys) triple with or without it; the
    // shuffle_hash hint is REQUIRED in blocks mode — at fixture byte
    // sizes Spark would broadcast the join, whose task boundaries
    // ignore the widened key entirely.
    def stream(frame: DataFrame, extraKeys: Seq[String])
        : (DataFrame, DataFrame, Seq[String]) =
      if (selfJoinBlocks <= 1) (
        frame.select(extraKeys.map(col) ++ Seq(
          col("doc").as("id_a"), col("sig").as("__siga")): _*),
        frame.select(extraKeys.map(col) ++ Seq(
          col("doc").as("id_b"), col("sig").as("__sigb")): _*),
        extraKeys)
      else {
        val nB = selfJoinBlocks
        val withBlk = frame.withColumn("__blk",
          pmod(hash(col("doc")), lit(nB)))
        (withBlk.select(extraKeys.map(col) ++ Seq(
          col("__blk").as("__i"),
          explode(sequence(lit(0), lit(nB - 1))).as("__j"),
          col("doc").as("id_a"), col("sig").as("__siga")): _*),
          withBlk.select(extraKeys.map(col) ++ Seq(
            explode(sequence(lit(0), lit(nB - 1))).as("__i"),
            col("__blk").as("__j"),
            col("doc").as("id_b"), col("sig").as("__sigb")): _*),
          extraKeys ++ Seq("__i", "__j"))
      }
    def pairsOf(frame: DataFrame, extraKeys: Seq[String]): DataFrame = {
      val (a, b, keys) = stream(frame, extraKeys)
      candidates(if (selfJoinBlocks <= 1) a else a.hint("shuffle_hash"),
        b, keys)
    }
    if (subBandHotThreshold > 0) {
      require(maxHamming <= 3,
        s"sub-band decomposition needs maxHamming <= 3 (4 sub-bands of " +
          s"the remaining 48 bits pigeonhole ≤ 3 diffs): $maxHamming")
      val hotList = banded.groupBy(col("band"), col("half"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > subBandHotThreshold)
        .select(col("band"), col("half"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
      if (hotList.isEmpty)
        simhashBandPairs(sigs, maxHamming, selfJoinBlocks)
      else {
        val spark = sigs.sparkSession
        import spark.implicits._
        val hotDf = broadcast(hotList.toSeq.toDF("band", "half"))
        val cold = banded.join(hotDf, Seq("band", "half"), "left_anti")
        val hotRows = banded.join(hotDf, Seq("band", "half"), "left_semi")
        // the 48 bits outside `band`, packed low-band-first
        val v48 = (0 until 4).map { b =>
          val rest = (0 until 4).filter(_ != b)
          val v = rest.zipWithIndex.map { case (ob, i) =>
            shiftright(col("sig"), 16 * ob).bitwiseAND(lit(0xFFFFL)) *
              lit(1L << (16 * i))
          }.reduce(_ + _)
          (b, v)
        }.foldLeft(lit(0L)) { case (acc, (b, v)) =>
          when(col("band") === b, v).otherwise(acc)
        }
        val subbed = hotRows.withColumn("__v48", v48)
          .select(col("doc"), col("sig"), col("band"), col("half"),
            posexplode(array((0 until 4).map(s =>
              shiftright(col("__v48"), 12 * s).bitwiseAND(lit(0xFFFL))): _*))
              .as(Seq("__s", "__sv")))
        val coldPairs = pairsOf(cold, Seq("band", "half"))
        // hot sub-keys are warm by construction: always force the
        // partitioned join
        val (ha, hb, hkeys) =
          stream(subbed, Seq("band", "half", "__s", "__sv"))
        val hotPairs = candidates(ha.hint("shuffle_hash"), hb, hkeys)
        // the SAME pair can surface from a cold band and a hot band —
        // dedup must span both streams (projected to the pair columns
        // first: the streams carry different join-key columns)
        coldPairs.select(col("id_a"), col("id_b"), col("hamming"))
          .unionByName(
            hotPairs.select(col("id_a"), col("id_b"), col("hamming")))
          .dropDuplicates("id_a", "id_b")
      }
    } else {
      val (a, b, keys) = stream(banded, Seq("band", "half"))
      verified(if (selfJoinBlocks <= 1) a else a.hint("shuffle_hash"),
        b, keys)
    }
  }

  /** Linear-OUTPUT form of [[simhashNearDups]] for corpora whose
    * signature space collapses (boilerplate, templates, closed
    * vocabularies — the regime SCALING.md's q25 analysis measured:
    * near-dup PAIRS are quadratic in the duplicated mass, 14.2M rows
    * at 50k docs on the scale fixtures). Identical signatures collapse
    * to one representative (min doc id) BEFORE the band join, pair
    * generation runs over DISTINCT signatures only, and
    * [[connectedComponents]] labels each signature group; docs then
    * rejoin their group's cluster. Output: exactly one row per doc,
    * (id, cluster_id = min doc id of its transitive near-dup cluster)
    * — identical to running connectedComponents over the full
    * pairwise output, because every doc pair across two signature
    * groups shares the same hamming distance. */
  def simhashClusters(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, selfJoinBlocks: Int = 1,
      subBandHotThreshold: Int = 0): DataFrame =
    simhashClustersFromSigs(simhashSigs(df, idCol, textCol), idCol,
      maxHamming, selfJoinBlocks, subBandHotThreshold)

  /** [[simhashClusters]] over a precomputed (doc, sig) frame (from
    * [[simhashSigs]], possibly checkpointed by a composite caller). */
  private[graft] def simhashClustersFromSigs(sigs: DataFrame,
      idCol: String, maxHamming: Int, selfJoinBlocks: Int,
      subBandHotThreshold: Int = 0): DataFrame = {
    // one row per distinct signature; materialized once for its three
    // consumers (band join, CC nodes, membership join) — the round-11
    // union-recompute lesson applied at birth
    val groups = sigs.groupBy(col("sig")).agg(min(col("doc")).as("rep"))
      .localCheckpoint()
    val pairs = simhashBandPairs(
      groups.select(col("rep").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks, subBandHotThreshold)
    val cc = connectedComponents(groups.select(col("rep")), "rep",
      pairs, "id_a", "id_b")
    sigs.join(groups, Seq("sig"))
      .join(cc, Seq("rep"))
      .select(col("doc").as(idCol), col("cluster_id"))
  }

  /** Cross-group near-dup edge weights WITHOUT materializing doc
    * pairs — the q98 distinct-sig collapse applied to pair COUNTING:
    * the number of near-dup doc pairs between two groups is a sum of
    * products of per-(signature, group) counts, so it is computable
    * entirely from group-level structures:
    *
    *   w(x,y) = Σ_s cnt_s(x)·cnt_s(y)                    (same sig)
    *          + Σ_{s1<s2 verified} cnt_{s1}(x)·cnt_{s2}(y)
    *                             + cnt_{s1}(y)·cnt_{s2}(x)  (near sig)
    *
    * Result-identical to counting [[simhashNearDups]] pairs by group
    * (both rely on the same pigeonhole-complete band candidate rule
    * for maxHamming ≤ 3), but the pair stream — quadratic in
    * duplicated mass, 21.6 GB spill with a 23 s straggler at the m30
    * fixture — never exists: the band join runs over DISTINCT sigs
    * and everything else is bounded by distinct sigs × groups.
    * Returns (x, y, w) with x < y, one row per unordered group pair. */
  def simhashCrossGroupEdges(df: DataFrame, idCol: String,
      textCol: String, groupCol: String, maxHamming: Int = 3,
      selfJoinBlocks: Int = 1, subBandHotThreshold: Int = 0): DataFrame = {
    val sigs = df.select(col(idCol).as("doc"), col(groupCol).as("__g"),
      col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("__g"), simhash(col(textCol), 64).as("sig"))
    // three consumers (same-sig self-join twice, near-sig join twice)
    // — materialize once, per the round-11 union-recompute lesson
    val cnt = sigs.groupBy(col("sig"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val same = cnt.as("a")
      .join(cnt.as("b"),
        col("a.sig") === col("b.sig") && col("a.__g") < col("b.__g"))
      .select(col("a.__g").as("x"), col("b.__g").as("y"),
        (col("a.__c") * col("b.__c")).as("__w"))
    // the sig-level self-join inherits q98's hot-band-bucket regime
    // (low-entropy sigs concentrate one 16-bit band value: one task
    // owned a 40 s candidate stream at the m30 fixture) — callers at
    // scale pass selfJoinBlocks > 1, same knob as [[simhashClusters]]
    val sigPairs = simhashBandPairs(
      cnt.select(col("sig")).distinct()
        .select(col("sig").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks, subBandHotThreshold)
    val near = sigPairs
      .join(cnt.as("a"), col("a.sig") === col("id_a"))
      .join(cnt.as("b"), col("b.sig") === col("id_b"))
      .filter(col("a.__g") =!= col("b.__g"))
      .select(least(col("a.__g"), col("b.__g")).as("x"),
        greatest(col("a.__g"), col("b.__g")).as("y"),
        (col("a.__c") * col("b.__c")).as("__w"))
    same.union(near).groupBy(col("x"), col("y"))
      .agg(sum(col("__w")).cast("long").as("w"))
  }

  /** Duplication profile: the cluster-SIZE histogram of
    * [[simhashClusters]] — (cluster_size, n_clusters, n_docs =
    * size·count), ordered by size. The operational read-out of dedup:
    * the size-1 row is the unique mass, everything above it is what
    * keep-first would drop, and a heavy tail says the near-dup family
    * structure (not volume) drives the q98-style pair cost. Two
    * map-side-combinable aggregations over the cluster frame — the
    * histogram is bounded by the LARGEST family, not the corpus. */
  def clusterSizeProfile(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, selfJoinBlocks: Int = 1): DataFrame =
    simhashClusters(df, idCol, textCol, maxHamming, selfJoinBlocks)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** Per-doc triangle counts + clustering coefficients over the
    * [[simhashNearDups]] graph WITHOUT materializing doc-level edges or
    * wedges — the [[simhashCrossGroupEdges]] collapse applied to
    * triangle COUNTING.
    *
    * On a near-dup graph adjacency is a property of the SIGNATURES
    * alone: every identical-signature family is a clique and every
    * cross-family edge set is complete bipartite (doc pair across
    * groups g,h is near-dup iff hamming(sig_g, sig_h) <= maxHamming).
    * So for a doc u in group g (|g| = f, neighbor groups N(g) under the
    * verified sig-level adjacency):
    *
    *   degree(u)    = (f-1) + S,   S = Σ_{h∈N(g)} f_h
    *   triangles(u) = C(f-1,2)                      [both peers in g]
    *                + (f-1)·S                       [one in g, one out]
    *                + Q,  Q = Σ_h C(f_h,2)          [both in one h]
    *                + T,  T = Σ_{h≠k∈N(g), h~k} f_h·f_k
    *
    * Only T needs triangle structure, and only over the GROUP graph
    * (distinct signatures), where [[Graph.triangleCount]]'s
    * degree-ordered wedge join runs with size products as weights. The
    * doc-level wedge stream — cubic in family size: a 4 s straggler
    * task at the m1 scale fixture, minutes at m10 — never exists.
    * Result-identical to
    * `Graph.triangleCount(simhashNearDups(df, ...), "id_a", "id_b")`
    * (DedupSpec asserts bit-equality on fixture + planted families);
    * same output schema (node, degree, triangles, clustering).
    *
    * `maxWedgeDegree` bounds the one super-linear term — the wedge
    * join's Σ outdeg² over the GROUP graph, which densifies when near-
    * identical boilerplate families blanket the signature space (the
    * m30 closed-vocab measurement: 14× wall at 30× rows, SCALING.md).
    * A signature adjacent to MORE than `maxWedgeDegree` distinct
    * signatures has its CROSS-FAMILY edges dropped before every
    * statistic (S, Q, T and the degree itself): its family remains an
    * internal clique (degree f−1, triangles C(f−1,2)), and its
    * neighbors lose its contribution — the maxShingleDf posture: exact
    * whenever no signature exceeds the cap (spec-asserted on fixture +
    * a planted hub corpus against a brute-force reference), an
    * explicit, documented drop above it. After the drop every group
    * degree is ≤ cap, so the wedge volume is ≤ 2·|edges|·cap — linear
    * in the edge count. The hub set itself is bounded by
    * 2·|edges|/(cap+1) rows (driver-collected only to decide the
    * no-hub fast path; the filter is a broadcast anti-join).
    * `maxWedgeDegree <= 0` disables the cap (fixture-exact callers). */
  def simhashTriangles(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, selfJoinBlocks: Int = 1,
      maxWedgeDegree: Int = 128, subBandHotThreshold: Int = 0): DataFrame = {
    val sigs = df.select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"), simhash(col(textCol), 64).as("sig"))
    // one row per distinct signature, materialized once for its three
    // consumers (band join, size joins, doc rejoin) — the round-11
    // union-recompute lesson applied at birth
    val grp = sigs.groupBy(col("sig")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val sigPairs = simhashBandPairs(
      grp.select(col("sig").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks, subBandHotThreshold)
    val edges0 = sigPairs
      .join(grp.select(col("sig").as("id_a"), col("f").as("fa")), "id_a")
      .join(grp.select(col("sig").as("id_b"), col("f").as("fb")), "id_b")
      .select(col("id_a").as("ga"), col("id_b").as("gb"),
        col("fa"), col("fb"))
      .localCheckpoint() // consumers: nbr agg (2 branches), orientation
    // hub cap: drop every edge incident to a group whose group-graph
    // degree exceeds maxWedgeDegree (see scaladoc). The hub list is
    // ≤ 2|edges|/(cap+1) — collected only to take the no-hub fast path
    // (fixture/declared callers pay one tiny agg over the checkpointed
    // edge frame and nothing else).
    val edges =
      if (maxWedgeDegree <= 0) edges0
      else {
        // ONE bounded collect decides the fast path: the no-hub case
        // costs exactly this one action over the checkpointed edge
        // frame (the hub set is ≤ 2|edges|/(cap+1) rows by definition)
        val hubIds = deg0(edges0)
          .filter(col("gd") > maxWedgeDegree)
          .select(col("g")).collect().map(_.getLong(0)).toIndexedSeq
        if (hubIds.isEmpty) edges0
        else if (hubIds.length <= 1024)
          edges0.filter(!col("ga").isInCollection(hubIds) &&
            !col("gb").isInCollection(hubIds))
            .localCheckpoint()
        else {
          // the q100 posture: past a literal-list threshold the filter
          // becomes a broadcast anti-join
          val h = edges0.sparkSession
            .createDataset(hubIds)(Encoders.scalaLong)
          edges0
            .join(broadcast(h.toDF("ga")), Seq("ga"), "left_anti")
            .join(broadcast(h.toDF("gb")), Seq("gb"), "left_anti")
            .localCheckpoint()
        }
      }
    val nbr = edges.select(col("ga").as("g"), col("fb").as("fh"))
      .union(edges.select(col("gb").as("g"), col("fa").as("fh")))
      .groupBy(col("g"))
      .agg(sum(col("fh")).as("S"),
        sum(expr("fh * (fh - 1) DIV 2")).as("Q"))
    // weighted triangles over the group graph: the same degree-ordered
    // wedge join as Graph.triangleCount, carrying group sizes — a
    // group-triangle (g,h,k) contributes f_h·f_k to g, f_g·f_k to h,
    // f_g·f_h to k
    val gdeg = deg0(edges)
    val wd = edges
      .join(gdeg.select(col("g").as("ga"), col("gd").as("da")), "ga")
      .join(gdeg.select(col("g").as("gb"), col("gd").as("db")), "gb")
    val aKey = struct(col("da"), col("ga"))
    val bKey = struct(col("db"), col("gb"))
    val o = wd.select(
      when(aKey < bKey, col("ga")).otherwise(col("gb")).as("u"),
      when(aKey < bKey, col("gb")).otherwise(col("ga")).as("w"),
      when(aKey < bKey, col("fa")).otherwise(col("fb")).as("fu"),
      when(aKey < bKey, col("fb")).otherwise(col("fa")).as("fw"),
      when(aKey < bKey, col("db")).otherwise(col("da")).as("wdeg"))
      .localCheckpoint()
    val wedges = o.select(col("u"), col("fu"), col("w").as("v1"),
        col("fw").as("f1"), col("wdeg").as("k1"))
      .join(o.select(col("u"), col("w").as("v2"), col("fw").as("f2"),
        col("wdeg").as("k2")), Seq("u"))
      .filter(struct(col("k1"), col("v1"))
        < struct(col("k2"), col("v2")))
    val triW = wedges
      .join(o.select(col("u").as("v1"), col("w").as("v2")),
        Seq("v1", "v2"))
      .select(explode(array(
        struct(col("u").as("g"), (col("f1") * col("f2")).as("tw")),
        struct(col("v1").as("g"), (col("fu") * col("f2")).as("tw")),
        struct(col("v2").as("g"), (col("fu") * col("f1")).as("tw"))))
        .as("x"))
      .select(col("x.g").as("g"), col("x.tw").as("tw"))
      .groupBy(col("g")).agg(sum(col("tw")).as("T"))
    val stats = grp
      .join(nbr.withColumnRenamed("g", "sig"), Seq("sig"), "left")
      .join(triW.withColumnRenamed("g", "sig"), Seq("sig"), "left")
      .select(col("sig"), col("f"),
        coalesce(col("S"), lit(0L)).as("S"),
        coalesce(col("Q"), lit(0L)).as("Q"),
        coalesce(col("T"), lit(0L)).as("T"))
      .withColumn("degree", col("f") - 1 + col("S"))
      .filter(col("degree") > 0) // edge-induced graph only, like triangleCount
      .withColumn("triangles",
        expr("(f - 1) * (f - 2) DIV 2") + (col("f") - 1) * col("S")
          + col("Q") + col("T"))
    sigs.join(stats, Seq("sig"))
      .select(col("doc").as("node"), col("degree"), col("triangles"),
        round(when(col("degree") >= 2,
          (col("triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double")), 6)
          .as("clustering"))
      .orderBy(col("node"))
  }

  /** Link prediction over the near-dup GROUP graph — which near-dup
    * families are two hops apart but not yet connected: common-neighbor
    * counts and Adamic–Adar scores for every non-adjacent group pair
    * sharing at least one neighbor group. The curation read: a high-AA
    * non-edge is usually a template family the banding missed (drifted
    * beyond maxHamming through an intermediate variant) — the
    * candidates a second, looser dedup pass should verify first.
    *
    * Everything runs on the DISTINCT-SIG group graph (the
    * q98/q120/q138 collapse): nodes = distinct signatures (rep = min
    * doc id), edges = band-verified sig pairs, so the doc-level
    * quadratic pair stream never exists. Wedges enumerate per center
    * group with degree in [2, `maxWedgeDegree`] (the cap is part of
    * the declared contract, mirrored in the oracle — a mega-hub's
    * two-hop pairs are noise); existing edges anti-join away. The AA
    * term 1/ln(deg(center)) enters as a 6-dp lift of the identical
    * IEEE tree both engines (deg ≥ 2 ⇒ ln > 0), summed exact.
    * Returns (rep_a, rep_b, cn, aa_score) ordered by the rep pair. */
  def nearDupLinkPrediction(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, selfJoinBlocks: Int = 1,
      maxWedgeDegree: Int = 128): DataFrame = {
    val sigs = df.select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"), simhash(col(textCol), 64).as("sig"))
    val grp = sigs.groupBy(col("sig")).agg(min(col("doc")).as("rep"))
      .localCheckpoint()
    val sigPairs = simhashBandPairs(
      grp.select(col("sig").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks)
      .select(col("id_a").as("sa"), col("id_b").as("sb"))
      .localCheckpoint() // consumers: degrees, adjacency, anti-join
    val deg = sigPairs.select(col("sa").as("g"))
      .union(sigPairs.select(col("sb").as("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("d"))
    val centers = (if (maxWedgeDegree > 0)
      deg.filter(col("d") <= maxWedgeDegree.toLong) else deg)
      .filter(col("d") >= 2L)
    val adj = sigPairs.select(col("sa").as("u"), col("sb").as("v"))
      .union(sigPairs.select(col("sb").as("u"), col("sa").as("v")))
      .join(centers.select(col("g").as("u"), col("d")), Seq("u"))
      .localCheckpoint() // both sides of the wedge self-join
    // the wedge self-join inherits the q98 hot-bucket regime: a dense
    // group graph concentrates Σd² wedge output on the few tasks that
    // own the hot centers (m10 scale fixture: one 4-6 s task in a
    // 8.5-12 s query). Block-decompose with the same selfJoinBlocks
    // knob — (u) widens to (u, blk(v1), blk(v2)), left rows replicated
    // per right-block and vice versa, each pair produced exactly once —
    // and hint shuffle_hash (r12: tiny input bytes would otherwise
    // broadcast and the widened key would partition nothing).
    // m10: 12.0 → 3.0 s with blocks=8.
    val nb = math.max(1, selfJoinBlocks)
    val blks = array((0 until nb).map(lit): _*)
    val wl = adj.select(col("u"), col("d"), col("v").as("v1"))
      .withColumn("__i", pmod(hash(col("v1")), lit(nb)))
      .withColumn("__j", explode(blks))
    val wr = adj.select(col("u"), col("v").as("v2"))
      .withColumn("__j", pmod(hash(col("v2")), lit(nb)))
      .withColumn("__i", explode(blks))
    val wedges = wl.join(wr.hint("shuffle_hash"), Seq("u", "__i", "__j"))
      .filter(col("v1") < col("v2"))
    // aggregate BEFORE the adjacency anti-join (the verify-before-dedup
    // ordering, r11): the wedge stream concentrates on hot candidate
    // pairs, and the groupBy's map-side combine absorbs that skew while
    // shrinking the anti-join input to DISTINCT pairs — result-identical
    // (the anti-join drops whole pairs, never individual wedges).
    // m10 scale fixture: 8.5 s / 4.3 s straggler task → 2.8 s.
    val scored = wedges
      .withColumn("__t",
        lift6(lit(1.0) / log(col("d").cast("double"))))
      .groupBy(col("v1"), col("v2"))
      .agg(count(lit(1)).as("cn"), sum(col("__t")).as("__aa6"))
      .join(sigPairs.select(col("sa").as("v1"), col("sb").as("v2")),
        Seq("v1", "v2"), "left_anti")
    scored
      .join(grp.select(col("sig").as("v1"), col("rep").as("__ra")), "v1")
      .join(grp.select(col("sig").as("v2"), col("rep").as("__rb")), "v2")
      .select(least(col("__ra"), col("__rb")).as("rep_a"),
        greatest(col("__ra"), col("__rb")).as("rep_b"),
        col("cn"),
        round(col("__aa6").cast("double") / lit(1e6), 6).as("aa_score"))
      .orderBy(col("rep_a"), col("rep_b"))
  }

  /** k-core decomposition of the near-dup graph — per-document core
    * numbers, the density ladder the flat clustering (q98) and triangle
    * counts (q138) cannot give: a doc in the 10-core sits inside a
    * template family mesh at least 10 deep (drop-the-whole-core is the
    * aggressive boilerplate cut), core 1 is pairwise drift, core 0 is
    * clean. Completes the graph family (CC q65/q98, PageRank q120,
    * triangles q138, link prediction q180).
    *
    * Runs ENTIRELY on the distinct-sig GROUP quotient: a group of f
    * identical sigs is a clique, adjacent groups complete-bipartite,
    * and symmetric vertices share a core number — so the weighted
    * Batagelj–Zaversnik peel over (group sizes, group edges) computes
    * the exact doc-level cores while the doc graph never materializes
    * (DedupSpec proves parity against a doc-level brute force).
    * Peeling is inherently sequential; the quotient frame is collected
    * behind `collectEdgeLimit` (the connectedComponents gate — the
    * group graph is the banded pair set over DISTINCT sigs, orders of
    * magnitude below doc mass; raise the gate deliberately, never
    * silently). Degree updates clamp at the running max (the BZ rule —
    * a vertex dragged down by a k-cascade is still in the k-core). */
  def simhashCores(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, selfJoinBlocks: Int = 1,
      collectEdgeLimit: Int = 1000000): DataFrame = {
    val spark = df.sparkSession
    val sigs = df.select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"), simhash(col(textCol), 64).as("sig"))
    val grp = sigs.groupBy(col("sig")).agg(count(lit(1)).as("f"))
      .localCheckpoint()
    val sigPairs = simhashBandPairs(
      grp.select(col("sig").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks)
      .select(col("id_a").as("sa"), col("id_b").as("sb"))
      .localCheckpoint()
    // gate BEFORE collecting (r17 ADVICE; the weightedPageRank
    // pattern): counts run on the checkpointed frames, so an
    // over-limit corpus fails here instead of exhausting the driver
    val nNodes = grp.count()
    val nEdges = sigPairs.count()
    require(nNodes <= collectEdgeLimit && nEdges <= collectEdgeLimit,
      s"group graph ($nNodes nodes, $nEdges edges) " +
        s"exceeds collectEdgeLimit=$collectEdgeLimit — raise it " +
        "deliberately; the peel is a bounded driver pass")
    val sizes = grp.collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = sigPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val size = sizes.toMap
    val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    for ((a, b) <- edges) {
      adj.computeIfAbsent(a, _ => new java.util.ArrayList[Long]()).add(b)
      adj.computeIfAbsent(b, _ => new java.util.ArrayList[Long]()).add(a)
    }
    val cur = new java.util.HashMap[Long, java.lang.Long]()
    for ((g, f) <- sizes) {
      var d = f - 1
      val ns = adj.get(g)
      if (ns != null) {
        val it = ns.iterator()
        while (it.hasNext) d = Math.addExact(d, size(it.next()))
      }
      cur.put(g, d)
    }
    val pq = new java.util.PriorityQueue[(Long, Long)](
      math.max(1, sizes.length),
      (x: (Long, Long), y: (Long, Long)) => {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c else java.lang.Long.compare(x._2, y._2)
      })
    for ((g, _) <- sizes) pq.add((cur.get(g).longValue(), g))
    val removed = new java.util.HashSet[Long]()
    val core = new java.util.HashMap[Long, Long]()
    var kmax = 0L
    while (!pq.isEmpty) {
      val (d, g) = pq.poll()
      if (!removed.contains(g) && cur.get(g).longValue() == d) {
        kmax = math.max(kmax, d)
        core.put(g, kmax)
        removed.add(g)
        val ns = adj.get(g)
        if (ns != null) {
          val it = ns.iterator()
          while (it.hasNext) {
            val h = it.next()
            if (!removed.contains(h)) {
              val nd = math.max(cur.get(h).longValue() - size(g), kmax)
              if (nd != cur.get(h).longValue()) {
                cur.put(h, nd)
                pq.add((nd, h))
              }
            }
          }
        }
      }
    }
    val coreSeq = core.entrySet().iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (coreSeq.hasNext) {
      val e = coreSeq.next(); buf += ((e.getKey, e.getValue))
    }
    val coreDf = spark.createDataFrame(buf.toSeq).toDF("sig", "core")
    sigs.join(broadcast(coreDf), Seq("sig"))
      .select(col("doc").as("node"), col("core"))
      .orderBy(col("node"))
  }

  /** Paragraph-level exact dedup — the CCNet-style boilerplate killer
    * web corpora run FIRST, sitting between [[exact]] (whole-document)
    * and `duplicatedSpans` (char windows): split each document into
    * paragraphs on `sep`, drop every paragraph whose corpus DOCUMENT
    * FREQUENCY exceeds `maxDf` (navigation bars, cookie banners,
    * license footers — text that repeats across pages), and reassemble
    * the surviving paragraphs in their original order. Returns one row
    * per input document: (id, n_paragraphs, n_kept, kept_frac 6-dp,
    * text_clean) — a document whose every paragraph is boilerplate
    * comes back with an empty `text_clean`, never dropped (the caller
    * filters on kept_frac; dropping here would silently change corpus
    * membership).
    *
    * Semantics pinned for the oracle: paragraphs are trimmed (space
    * trim, the Spark/DuckDB common subset) and empty segments vanish
    * before any counting; df counts DISTINCT documents, so a paragraph
    * repeated within one document survives at df=1 (intra-doc repeats
    * are repetition, not cross-page boilerplate — q62's axis);
    * reassembly joins with the original `sep`.
    *
    * Scale shape: linear in paragraph mass. The df aggregate groups on
    * a sha2 digest — paragraph BYTES never ride the shuffle (the q14
    * exact-dedup posture) — and rejoins the segment stream with an
    * explicit `merge` hint (agg-then-self-rejoin: AQE's broadcast
    * estimate for a corpus-sized aggregate side is the documented OOM
    * class). Reassembly collects only a document's OWN surviving
    * paragraphs (bounded by the row it came from, the packing
    * collect_list precedent). */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String,
      textCol: String, sep: String = "\n", maxDf: Long = 1): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    require(sep.nonEmpty, "sep must be non-empty")
    val segs = paragraphSegments(df, idCol, textCol, sep)
    val dfreq = segs.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__df"))
    reassembleKept(df, idCol,
      segs.join(dfreq.hint("merge"), Seq("__h"))
        .withColumn("__keep", col("__df") <= maxDf),
      sep)
  }

  /** The paragraph splitter shared by [[dropDuplicateParagraphs]] and
    * the streaming `ParagraphStore`: (__id, __pos, __seg, __h) with
    * space-trim, empty-segment drop and the sha2 digest that keys every
    * downstream aggregate (paragraph bytes never ride a shuffle). */
  private[graft] def paragraphSegments(df: DataFrame, idCol: String,
      textCol: String, sep: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__pos", "__seg")))
      .withColumn("__seg", trim(col("__seg")))
      .filter(length(col("__seg")) > 0)
      .withColumn("__h", sha2(col("__seg"), 256))

  /** Order-preserving reassembly of the `__keep`-marked segments per
    * document — one row per `df` input doc (zero-segment and
    * all-dropped docs included, with empty `text_clean`). */
  private[graft] def reassembleKept(df: DataFrame, idCol: String,
      segsWithKeep: DataFrame, sep: String): DataFrame = {
    val agg = segsWithKeep
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_paragraphs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          when(col("__keep"),
            struct(col("__pos").as("p"), col("__seg").as("s"))))),
          x => x.getField("s")), sep).as("text_clean"))
    df.select(col(idCol))
      .join(agg.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_paragraphs"), lit(0L)).as("n_paragraphs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(coalesce(col("n_paragraphs"), lit(0L)) > 0,
          round(col("n_kept").cast("double")
            / col("n_paragraphs").cast("double"), 6)).as("kept_frac"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col(idCol))
  }

  /** Group-graph degrees: one row per group with its distinct-neighbor
    * count (each edge is one distinct pair, so counting edge endpoints
    * IS the degree). */
  private def deg0(edges: DataFrame): DataFrame =
    edges.select(col("ga").as("g")).union(edges.select(col("gb").as("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("gd"))

  /** Quality-aware dedup representative selection — keep the BEST copy
    * of each near-dup cluster, not the first: [[keepFirst]] keeps the
    * min-id (arbitrary) member; production curation wants the longest /
    * highest-quality copy (the most complete mirror of a page, the
    * least-truncated crawl). One row per [[simhashClusters]] cluster
    * (singletons included): size, the kept doc, its quality.
    *
    * The argmax is a `min_by` hash aggregate over a composite
    * exact-integer key — (1e6 − q6)·2^63 + id, monotone in
    * (quality DESC, id ASC) — never a per-cluster window sort (a big
    * duplicate family is hot by definition; the q115 lesson). Quality
    * lifts to a 6-dp 1e6-scaled long; the composite rides
    * DECIMAL(38,0) (HUGEINT in the oracle). Ids must be non-negative
    * integers < 2^63 so the id term cannot cross quality levels. */
  def keepBest(df: DataFrame, idCol: String, textCol: String,
      qualityCol: String, maxHamming: Int = 3,
      selfJoinBlocks: Int = 1, subBandHotThreshold: Int = 0): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val clusters = simhashClusters(df, idCol, textCol, maxHamming,
      selfJoinBlocks, subBandHotThreshold)
    val q6 = round(col(qualityCol).cast("double"), 6)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
      .multiply(lit(1000000)).cast("long")
    val joined = df.select(col(idCol), col(qualityCol))
      .join(clusters, Seq(idCol))
      .select(col(idCol).as("__doc"), col("cluster_id"), q6.as("__q6"))
    val two63 = lit(new java.math.BigDecimal("9223372036854775808")).cast(dec)
    val ord = (lit(1000000L) - col("__q6")).cast(dec) * two63 +
      col("__doc").cast(dec)
    joined.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        min_by(col("__doc"), ord).as("kept"),
        max(col("__q6")).as("__mq"))
      .select(col("cluster_id"), col("cluster_size"), col("kept"),
        round(col("__mq").cast("double") / lit(1e6), 6).as("kept_quality"))
      .orderBy(col("cluster_id"))
  }

  /** Distributed connected components over an undirected edge list —
    * the canonicalization step a near-dup pipeline needs AFTER pair
    * generation: pairwise keep-first (q47) breaks on transitive chains
    * (A~B, B~C but A!~C must still collapse to ONE canonical doc).
    *
    * Algorithm: min-label propagation accelerated with pointer jumping
    * — each round every node takes the min of its own label, its
    * neighbors' labels, and its label's label (path halving). Labels
    * decrease monotonically and are bounded below by the component
    * min, so the loop converges; at a fixpoint labels are constant
    * across every edge, i.e. equal to the component minimum. Pointer
    * jumping makes long chains converge in O(log diameter) rounds
    * instead of O(diameter).
    *
    * Scale posture: each round is two equi-joins + one aggregation on
    * (id/label) keys — never an all-pairs product — and convergence is
    * detected by a LongAccumulator counted DURING the checkpoint
    * materialization job (a pass-through mapPartitions), so each round
    * is exactly ONE job: no separate isEmpty/count probe over the
    * frame. Task retries can only inflate the count, never lose a
    * change, so the ==0 test stays sound. `localCheckpoint` truncates
    * lineage each round (on a real cluster swap in reliable
    * checkpointing); dedup graphs have tiny diameter, so rounds ≈ 3-4
    * in practice.
    *
    * Size-adaptive: after near-dup detection the edge list is usually
    * orders of magnitude smaller than the corpus (only true duplicate
    * pairs survive the verify), and the distributed loop's cost is
    * then pure fixed overhead — 3-4 rounds × (two joins + an
    * aggregation + an eager checkpoint) on a few hundred edges. When
    * the MATERIALIZED edge count is at most `collectEdgeLimit` (and
    * ids are integral), the edges — never the nodes — are collected
    * to a driver union-find (union-by-min + path compression, so each
    * root IS its component minimum), and the resulting
    * (edge-vertex → min) map broadcast-joins back onto the node frame;
    * isolated nodes coalesce to themselves. Output is identical to
    * the distributed loop by construction (DedupSpec runs both paths
    * on the same chained graph). The default cap keeps the collect at
    * tens of MB; a web-scale edge list takes the loop unchanged —
    * same pattern as `Similarity.assignExprAuto`. Measured at sf0.1
    * (BenchOne ×2, quiet window): q65 2.95 → 1.2-1.7 s, q98
    * 4.10 → 1.6-1.9 s.
    *
    * Returns one row per node: (`idCol`, cluster_id = min node id of
    * its component); isolated nodes label themselves. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 30, collectEdgeLimit: Long = 1000000L): DataFrame = {
    // materialize the edge list BEFORE symmetrizing: the union's two
    // branches would otherwise each recompute the upstream pair plan
    // (exchange reuse does not span AQE-planned union branches), which
    // doubles the dominant cost when `pairs` is an expensive similarity
    // join — measured 51.6 s → 29.9 s on the m10 scaling fixture
    // (SCALING.md q65) with bit-identical output
    // null edge endpoints would be dropped by the loop's equi-joins
    // anyway; filtering them up front keeps the driver path (which
    // collects raw values) equivalent rather than NPE-ing
    val edges = pairs.select(col(aCol).as("cc_src"), col(bCol).as("cc_dst"))
      .where(col("cc_src").isNotNull && col("cc_dst").isNotNull)
      .localCheckpoint()
    val idType = nodes.schema(idCol).dataType
    def integral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    // the driver path round-trips edge values through Long, so BOTH the
    // node ids and the pair columns must be integral — a fractional pair
    // column would silently truncate instead of falling to the loop
    val integralId = integral(idType) &&
      integral(pairs.schema(aCol).dataType) && integral(pairs.schema(bCol).dataType)
    // count() on the eager checkpoint reads cached block sizes — no
    // recompute of the pair plan
    if (integralId && edges.count() <= collectEdgeLimit)
      return ccViaDriverUnionFind(nodes, idCol, edges, idType)
    val sym = edges
      .union(edges.select(col("cc_dst").as("cc_src"), col("cc_src").as("cc_dst")))
      .distinct()
      .localCheckpoint()
    var labels = nodes.select(col(idCol).as("cc_id"), col(idCol).as("cc_label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("cc_dst") === labels("cc_id"))
        .groupBy(col("cc_src")).agg(min(col("cc_label")).as("cc_nbr"))
      val half = labels.join(nbrMin, labels("cc_id") === nbrMin("cc_src"), "left")
        .select(labels("cc_id").as("cc_id"), labels("cc_label").as("cc_old"),
          least(labels("cc_label"),
            coalesce(col("cc_nbr"), labels("cc_label"))).as("cc_half"))
      val hop = labels.select(col("cc_id").as("cc_pid"), col("cc_label").as("cc_plabel"))
      val merged = half.join(hop, half("cc_half") === hop("cc_pid"), "left")
        .select(col("cc_id"),
          least(col("cc_half"), coalesce(col("cc_plabel"), col("cc_half"))).as("cc_label"),
          col("cc_old"))
      // count label changes inside the (eager) checkpoint job itself
      val changed = nodes.sparkSession.sparkContext.longAccumulator("cc_changed")
      val next = merged.mapPartitions { it =>
        it.map { r =>
          if (r.get(1) != r.get(2)) changed.add(1L)
          Row(r.get(0), r.get(1))
        }
      }(Encoders.row(StructType(Seq(
        StructField("cc_id", merged.schema("cc_id").dataType),
        StructField("cc_label", merged.schema("cc_label").dataType)))))
        .localCheckpoint()
      converged = changed.value == 0L
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    labels.select(col("cc_id").as(idCol), col("cc_label").as("cluster_id"))
  }

  /** Small-graph path of [[connectedComponents]]: union-find over the
    * collected edge list. Union-by-min (the larger root attaches under
    * the smaller) makes every root the minimum id of its component, so
    * `find` yields exactly the label the distributed min-propagation
    * loop converges to. Only vertices that appear in an edge enter the
    * map — the node frame itself is never collected. */
  private def ccViaDriverUnionFind(nodes: DataFrame, idCol: String,
      edges: DataFrame, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    // parent.get on a missing key returns null, which Scala would unbox
    // to 0L and silently label a component 0 — fail fast instead
    def look(v: Long): Long = {
      val n: java.lang.Long = parent.get(v)
      require(n != null, s"union-find: vertex $v missing from parent map")
      n.longValue()
    }
    def find(x: Long): Long = {
      var r = x
      while (look(r) != r) r = look(r)
      var c = x
      while (look(c) != r) { val n = look(c); parent.put(c, r); c = n }
      r
    }
    edges.collect().foreach { row =>
      val a = row.getAs[Number](0).longValue()
      val b = row.getAs[Number](1).longValue()
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val spark = nodes.sparkSession
    import scala.jdk.CollectionConverters._
    val labelRows = parent.keySet().asScala.toSeq.map(v => Row(v, find(v)))
    val mapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows, 1),
      StructType(Seq(
        StructField("cc_uf_id", org.apache.spark.sql.types.LongType),
        StructField("cc_uf_min", org.apache.spark.sql.types.LongType))))
      .select(col("cc_uf_id").cast(idType).as("cc_uf_id"),
        col("cc_uf_min").cast(idType).as("cc_uf_min"))
    nodes.select(col(idCol).as("cc_id"))
      .join(broadcast(mapDf), col("cc_id") === col("cc_uf_id"), "left")
      .select(col("cc_id").as(idCol),
        coalesce(col("cc_uf_min"), col("cc_id")).as("cluster_id"))
  }

  /** Keep-first canonicalization over ANY near-dup pair stream whose
    * pairs are oriented smaller-id-first (`id_a < id_b`, the contract
    * of [[ngramJaccardPairs]] / [[simhashNearDups]] /
    * `Similarity.nearDupPairsLsh`): drop every doc that appears on the
    * larger side of a pair — i.e. keep the smallest id of each matched
    * pair. One distinct + one left-anti join over the pair stream;
    * never materializes groups.
    *
    * Production guidance (m30z, SCALING.md): at hot-source skew ×
    * 30× volume the UNCAPPED pair stream is the cost (q47 107 s /
    * 56 GB spill — the pair join's Σdf² term, not this policy); feed
    * this operator the CAPPED stream
    * (`ngramJaccardPairs(maxShingleDf = 64)`) and the whole keep-first
    * pipeline stays flat (`q47_capped` in ScaleBench). The fixture
    * query q47 stays uncapped — fixture-exact, oracle-checked; the cap
    * changes which docs count as near-dups (boilerplate-only overlap
    * stops matching), which is the desired semantics on web corpora,
    * not a result-identical rewrite. */
  def keepFirst(df: DataFrame, idCol: String, pairs: DataFrame,
      dropCol: String = "id_b"): DataFrame =
    df.join(pairs.select(col(dropCol).as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** The shared-key pair kernel of the near-dup family: every pair of
    * documents that share at least one key, with how many they share.
    * `postings` holds one DISTINCT row per (by…, key…, doc) — a
    * document's shingles, winnowed fingerprints, char grams, blocking
    * keys or LSH band buckets — plus riding columns that
    * `pairPredicate` reads; the predicate names the two sides `a.<col>`
    * and `b.<col>` and rides the join condition. Returns
    * (by…, id_a, id_b, n_shared = the number of shared keys), one row
    * per pair with id_a < id_b, plus `<c>_a` and `<c>_b` for each
    * `carry` column, a per-doc value that rides the join.
    *
    * Cost: the self-join emits Σ_key df(key)² rows, which for natural
    * text is dominated by true near-dups — but one stop-phrase key held
    * by 1M docs adds 10^12. `maxDf` caps that: a key held by more than
    * `maxDf` postings (per `by` group) is dropped before the join. Such
    * keys are corpus boilerplate and carry no near-dup signal. A caller
    * that also reads per-doc set sizes counts them over the same capped
    * postings ([[shingleOverlap]]), so a capped similarity is the
    * similarity of the capped SETS, in both the counts and the sizes.
    *
    * Join strategy. Capped, the postings pass ONE exchange on
    * (by…, key…) ([[withDf]]): the df window, which also drops the keys
    * held by a single posting (they pair with nothing, and they are
    * most char grams and shingles), and both sides of a `shuffle_hash`
    * self-join read it, so the per-row posting work runs once and no
    * side broadcasts. Catalyst's size estimate of exploded postings runs
    * far below their real size (q190 at sf0.1: 1.33M postings, a
    * 240 MiB broadcast relation, estimated under the 10 MiB threshold),
    * so an unhinted join would broadcast them. Uncapped (`Int.MaxValue`,
    * the default), there is no df pass and no exchange of the postings,
    * and Catalyst picks the join: it broadcasts a side estimated under
    * the threshold, and the pair aggregate then runs on the streamed
    * side's doc partitioning. That is the cheaper plan for small,
    * bounded postings (q48's LSH bands read 1.8× slower at sf0.1 when
    * shuffled), so a corpus-scale caller passes a cap.
    *
    * Late materialization: per-doc payload (texts, vectors, capped set
    * sizes) joins the aggregated PAIRS, never rides the key stream
    * through the self-join (riding the gram stream cost 2× at the m10
    * scale fixture). A narrow value known before the join, such as an
    * uncapped set size, is cheaper carried: its rejoin costs two more
    * exchanges and a recomputed shingle kernel (q56 1.57 → 2.28 s at
    * sf0.1). */
  private[graft] def sharedKeyPairs(postings: DataFrame, by: Seq[String],
      keys: Seq[String], maxDf: Int = Int.MaxValue,
      pairPredicate: Column = lit(true), carry: Seq[String] = Nil): DataFrame = {
    val on = by ++ keys
    val (a, b) =
      if (maxDf == Int.MaxValue) (postings.as("a"), postings.as("b"))
      else {
        val kept = withDf(postings, on)
          .filter(col("__df").between(2, maxDf)).drop("__df")
        (kept.as("a"), kept.as("b").hint("shuffle_hash"))
      }
    val shared = on.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    a.join(b, shared && col("a.doc") < col("b.doc") && pairPredicate)
      .select(by.map(c => col(s"a.$c")) ++ Seq(col("a.doc").as("id_a"),
        col("b.doc").as("id_b")) ++ carry.flatMap(c =>
        Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
      .groupBy((by ++ Seq("id_a", "id_b") ++
        carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** `postings` hash-partitioned on `keys`, each row with its key's df
    * (`__df`, the key's posting count): one explicit-n exchange, so a
    * small posting set is not coalesced into one task ahead of a large
    * pair stream. */
  private def withDf(postings: DataFrame, keys: Seq[String]): DataFrame =
    postings.repartition(par(postings), keys.map(col): _*)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))

  /** Word k-shingle overlap of every pair sharing a shingle within a
    * `by` group: (by…, id_a, id_b, n_shared, __sza, __szb). Uncapped,
    * the set sizes ride the kernel's join; capped, both are counted
    * over the kernel's capped postings and rejoin the pairs,
    * merge-hinted, as they are corpus-sized. `df` is parallelized
    * first: the fixture tables are single-row-group files (one scan
    * partition), so the per-row shingle kernel must run after an
    * exchange or it executes on one core. */
  private def shingleOverlap(df: DataFrame, by: Seq[String], idCol: String,
      textCol: String, k: Int, maxDf: Int): DataFrame = {
    val postings = df
      .select(by.map(col) ++ Seq(col(idCol).as("doc"), col(textCol)): _*)
      .repartition(par(df), col("doc"))
      .select(by.map(col) ++ Seq(col("doc"),
        shingles(col(textCol), k).as("sh")): _*)
      .select(by.map(col) ++ Seq(col("doc"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s")): _*)
    if (maxDf == Int.MaxValue)
      sharedKeyPairs(postings, by, Seq("s"), carry = Seq("sz"))
        .withColumnRenamed("sz_a", "__sza").withColumnRenamed("sz_b", "__szb")
    else {
      val sz = withDf(postings.drop("sz"), by :+ "s")
        .filter(col("__df") <= maxDf)
        .groupBy((by :+ "doc").map(col): _*).agg(count(lit(1)).as("sz"))
      def sizeOf(id: String, as: String) = sz.select(by.map(col) ++
        Seq(col("doc").as(id), col("sz").as(as)): _*).hint("merge")
      sharedKeyPairs(postings.drop("sz"), by, Seq("s"), maxDf)
        .join(sizeOf("id_a", "__sza"), by :+ "id_a")
        .join(sizeOf("id_b", "__szb"), by :+ "id_b")
    }
  }

  /** Exact n-gram Jaccard near-dup pairs within a group: the distinct
    * word k-shingle sets meet in [[sharedKeyPairs]] on (group,
    * shingle), so |A∩B| is a count per pair and the quadratic pairwise
    * `array_intersect` never runs. Pairs sharing zero shingles never
    * appear, which is correct for any threshold > 0. Results identical
    * to the all-pairs definition (arrays are distinct, so each common
    * shingle counts once). `maxShingleDf` is the kernel's hot-key cap:
    * jaccard over the capped sets. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int, threshold: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame =
    shingleOverlap(df.select(col(groupCol).as("grp"), col(idCol), col(textCol)),
        Seq("grp"), idCol, textCol, k, maxShingleDf)
      .withColumn("jaccard", round(
        col("n_shared").cast("double")
          / (col("__sza") + col("__szb") - col("n_shared")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("grp"), col("id_a"), col("id_b"), col("jaccard"))

  /** Directional containment near-dup pairs — the ASYMMETRIC member
    * of the shingle family: contain(A→B) = |A∩B| / |A| over distinct
    * word k-shingles, emitted for every pair where EITHER direction
    * reaches `threshold`. Catches exactly what symmetric Jaccard
    * (q22/q24) misses by construction: a short document quoted inside
    * a long one has contain(short→long) ≈ 1 while
    * jaccard ≈ |short|/|long| ≈ 0 — the quote/subset/excerpt relation
    * (Broder's containment, the original resemblance paper's second
    * measure). Same shingle overlap as [[ngramJaccardPairs]],
    * containment over the capped sets; both scores 6-dp rounded BEFORE
    * the threshold (the q99 rule) so the keep set is bit-stable
    * cross-engine.
    *
    * The DEFAULT is the capped production regime (`maxShingleDf = 64`,
    * the `nearDupPairsLsh` precedent): containment is UNGROUPED (quote
    * detection crosses sources), so the uncapped corpus-wide Σdf² is
    * the q22 regime amplified — measured 104.8 s / 54 GB spill at the
    * m10 scale fixture vs 3.2 s capped (SCALING.md). Fixture-exact
    * callers that want the pure all-pairs Broder definition pin
    * `maxShingleDf = Int.MaxValue` explicitly (declared q191 does). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxShingleDf: Int = 64): DataFrame =
    shingleOverlap(df, Nil, idCol, textCol, k, maxShingleDf)
      .withColumn("contain_ab", round(
        col("n_shared").cast("double") / col("__sza").cast("double"), 6))
      .withColumn("contain_ba", round(
        col("n_shared").cast("double") / col("__szb").cast("double"), 6))
      .filter(greatest(col("contain_ab"), col("contain_ba")) >= threshold)
      .select(col("id_a"), col("id_b"), col("contain_ab"),
        col("contain_ba"))
      .orderBy(col("id_a"), col("id_b"))

  /** Exact substring-span dedup (the char-level duplicated-content
    * metric of Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): for each document, how many of its
    * DISTINCT k-character windows also appear in at least one other
    * document. Two shuffles, both key-bounded: spans → per-span doc
    * frequency (spans are distinct per doc, so `count` IS the doc
    * frequency), then the span stream rejoins its frequency — Catalyst
    * reuses the span exchange for both sides — and a per-doc aggregate
    * emits (total_spans, dup_spans, dup_frac). Long spans (k ≈ 32+)
    * carry no boilerplate, so unlike the word-shingle join there is no
    * hot-key blowup: a span's fan-out is its true duplication factor,
    * which is exactly the signal. Documents shorter than k are
    * excluded (they have no k-span). */
  /** `boundedPlan = true` opts into the bounded-group plan for the
    * 100 TB regime (r9 verdict "wrong" #1): "long spans carry no
    * boilerplate" is false at web scale — license headers, cookie
    * banners and template footers are ≥k-char strings repeated across
    * millions of docs, and ONE such span's `collect_list` is a
    * single-executor OOM. The bounded plan has NO list aggregate
    * anywhere: a count-only span-df aggregate (map-side combinable,
    * every group a scalar) sort-merge-rejoins the span stream — exact,
    * so the result is BIT-IDENTICAL to the default (asserted in
    * DedupSpec), and no group grows with duplication at all. History:
    * the previous guarded plan (hot-set broadcast + capped
    * collect_list over the cold spans + checkpointed stream feeding
    * three consumers, tuned by a numeric `maxSpanDf`) measured 70 s at
    * m30z where this plan measures 37 s and the r10 small-N overheads
    * are comparable (+0.5 vs +0.7 s at sf0.1) — the materialized-
    * stream machinery was strictly dominated, SCALING.md m30z section.
    * The `merge` hint is load-bearing: AQE's broadcast estimate for
    * the span-df side OOMs at scale (millions of distinct spans).
    * Default (`false`) keeps the single-shuffle collect_list plan —
    * fastest on corpora KNOWN boilerplate-free (1.9 vs 2.6 s at
    * sf0.1; 26 vs 37 s at m30z, where its hot-list straggler task is
    * the price). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, boundedPlan: Boolean = false): DataFrame = {
    val spans = spanStream(df, idCol, textCol, k)
    val perSpan =
      if (!boundedPlan)
        // one aggregate carries BOTH the doc frequency and the doc
        // list, so the span stream shuffles once (no rejoin, no
        // sort-merge): the doc list per span is bounded by that span's
        // true duplication factor (spans are distinct per doc), which
        // for long spans is exactly the dedup signal — on corpora KNOWN
        // boilerplate-free. BenchOne at sf0.1: 2.63 s (groupBy +
        // self-join) → 1.9 s (this shape).
        spans.groupBy(col("span"))
          .agg(count(lit(1)).as("span_df"), collect_list(col("doc")).as("docs"))
          .select(col("span_df"), explode(col("docs")).as("doc"))
      else
        spans.join(
          spans.groupBy(col("span")).agg(count(lit(1)).as("span_df"))
            .hint("merge"),
          Seq("span"))
          .select(col("span_df"), col("doc"))
    perSpan
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("total_spans"),
        sum(when(col("span_df") >= 2, lit(1L)).otherwise(lit(0L))).as("dup_spans"))
      .select(col("doc").as(idCol),
        col("total_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double")
          / col("total_spans").cast("double"), 6).as("dup_frac"))
  }

  /** The (doc, span) stream of [[duplicatedSpans]] — exposed
    * `private[graft]` so the spec can drive the capped stages. */
  private[graft] def spanStream(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
      .select(col(idCol).as("doc"), col(textCol))
      .repartition(par(df), col("doc"))
      .select(col("doc"),
        explode(graft.expressions.VectorExpressions
          .charShingles(col(textCol), k)).as("span"))

  /** Inter-document exact shared-substring pairs (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * inter-doc form): every pair of documents sharing at least
    * `minShared` DISTINCT char `minLen`-grams. Exactness by
    * construction: two documents share a substring of length ≥ minLen
    * IFF they share at least one minLen-gram — so unlike
    * [[winnowedNearDups]]' sampled fingerprints this is the complete
    * char-level answer at threshold minLen, and `n_shared` counts the
    * distinct shared grams (a run of length minLen+r−1 contributes r).
    * Completes the char-level family: q87 scores spans per DOC, q170/
    * q171 sample fingerprints, this enumerates the exact PAIRS.
    *
    * Grams digest to md5 hex (uniform 32-char key, the q170 idiom —
    * bit-identical both engines so the oracle is pure ANSI), distinct
    * per doc; the pairs are [[sharedKeyPairs]] over them, and its cap
    * drops grams whose df exceeds `maxGramDf` — ANSI-expressible, so the
    * declared query carries it and the oracle mirrors it (the q171
    * discipline; boilerplate substrings are exactly what it removes).
    * Linear in char mass up to the capped pair stream. */
  def sharedSubstringPairs(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 32, maxGramDf: Int = 64, minShared: Int = 1)
      : DataFrame = {
    require(minLen >= 1 && maxGramDf >= 2 && minShared >= 1,
      s"bad sharedSubstringPairs params ($minLen, $maxGramDf, $minShared)")
    val grams = spanStream(df, idCol, textCol, minLen)
      .select(col("doc"), md5(col("span")).as("fp"))
      .distinct()
    sharedKeyPairs(grams, Nil, Seq("fp"), maxGramDf)
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowing fingerprint selection (Schleimer et al., MOSS) — the
    * guaranteed-coverage document fingerprinter: hash every char
    * `k`-gram, then in every window of `w` consecutive positions keep
    * the MINIMAL hash (ties → rightmost, the original algorithm), so
    * any match of length ≥ w+k−1 between two documents shares at
    * least one selected fingerprint while only ~2/(w+1) of positions
    * are kept. Cross-engine exact without a hash replica: the "hash"
    * is md5's 32-char hex string (bit-identical both engines,
    * CLAUDE.md) compared lexicographically, and the rightmost-minimal
    * rule rides a composite string key h ∥ lpad(1e9 − i) whose min is
    * (h asc, i desc) — the q153 composite-argmax idiom in string form
    * (documents must be shorter than 1e9 chars). The per-window min is
    * a (w−1 PRECEDING, CURRENT) frame over DESCENDING position —
    * incremental, never the UNBOUNDED FOLLOWING hazard — and anchors
    * whose ascending window would run past the end are filtered by
    * position arithmetic (no extra count pass). Returns the per-doc
    * digest (doc, n_grams, n_selected, n_distinct_fps, min_fp, max_fp)
    * — selected fingerprints stay available to a pair-join caller via
    * the same plan prefix. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    val sel = winnowedSelections(df, idCol, textCol, k, w)
    sel.groupBy(col("doc").as(idCol))
      .agg(first(col("__np")).cast("long").as("n_grams"),
        count(lit(1)).as("n_selected"),
        countDistinct(substring(col("__mk"), 1, 32)).as("n_distinct_fps"),
        min(substring(col("__mk"), 1, 32)).as("min_fp"),
        max(substring(col("__mk"), 1, 32)).as("max_fp"))
      .orderBy(col(idCol))
  }

  /** The winnowing SELECTION stage shared by [[winnowingFingerprints]]
    * and [[winnowedNearDups]]: distinct (doc, __np, __mk) where __mk
    * is the window-minimal composite key (fingerprint hex in chars
    * 1..32, the selected position recoverable from the lpad tail).
    *
    * Short-document contract (r17): a document whose k-gram count np
    * is in [1, w−1] gets ONE truncated window covering all of its
    * positions (anchor pinned at position 1, whose w-row frame simply
    * runs out of rows — Schleimer et al.'s selection applied to the
    * whole doc), so tweet-length texts are never invisible to the
    * near-dup surface. Documents SHORTER than k chars have no k-gram
    * at all and fall outside the fingerprint domain entirely — route
    * those through [[Dedup.exact]] (or lower k). */
  private[graft] def winnowedSelections(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k $k / w $w must be >= 1")
    val np = length(col(textCol)) - lit(k - 1)
    val grams = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        np >= lit(1))
      .select(col(idCol).as("doc"), col(textCol).as("__t"), np.as("__np"))
      .repartition(par(df), col("doc"))
      .select(col("doc"), col("__np"),
        posexplode(expr(s"sequence(1, length(__t) - ${k - 1})"))
          .as(Seq("__x", "__i")),
        col("__t"))
      .select(col("doc"), col("__np"), col("__i"),
        md5(expr(s"CAST(substr(__t, __i, $k) AS BINARY)")).as("__h"))
    val keyed = grams.select(col("doc"), col("__np"), col("__i"),
      concat(col("__h"),
        lpad((lit(1000000000) - col("__i")).cast("string"), 10, "0"))
        .as("__key"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("__i").desc)
      .rowsBetween(-(w - 1), 0)
    keyed
      .withColumn("__mk", min(col("__key")).over(wd))
      .filter(col("__i") <= greatest(col("__np") - lit(w - 1), lit(1)))
      .select(col("doc"), col("__np"), col("__mk")).distinct()
  }

  /** Near-duplicate candidate pairs by SHARED winnowed fingerprints —
    * the matching half of MOSS: two documents sharing ≥ `minShared`
    * distinct selected fingerprints (each shared fingerprint is a
    * guaranteed k-char exact match inside a w-window; a shared run of
    * length ≥ w+k−1 always contributes at least one). Fingerprints
    * with document frequency above `maxFpDf` are dropped by the
    * [[sharedKeyPairs]] cap — boilerplate grams contribute df²
    * candidate pairs of pure noise; unlike the shingle caps this cap is
    * ANSI-expressible, so the DECLARED query carries it and the
    * oracle mirrors it exactly. Returns (id_a, id_b, n_shared) with
    * id_a < id_b, ordered. */
  def winnowedNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxFpDf: Int = 64,
      minShared: Int = 30): DataFrame = {
    val sel = winnowedSelections(df, idCol, textCol, k, w)
      .select(col("doc"), substring(col("__mk"), 1, 32).as("__fp"))
      .distinct()
    winnowedPairsFromSelections(sel, maxFpDf, minShared)
  }

  /** Entity-resolution fuzzy matching by bounded edit distance (q173)
    * — the record-linkage member of the dedup family: near-identical
    * records (typos, OCR noise, one-word edits) paired by EXACT
    * levenshtein distance ≤ `maxDist`, made tractable by standard ER
    * BLOCKING: candidates must share a length-`blockLen` prefix OR
    * suffix (two-pass blocking — an edit inside one block's window
    * still matches through the other; only pairs edited in BOTH ends
    * are outside the declared contract). The candidates are
    * [[sharedKeyPairs]] over the block keys, capped at `maxBlockDf`
    * (boilerplate prefixes are df² noise — the q171 cap,
    * ANSI-expressible so the declared query and oracle carry it
    * identically), text payload late-materialized per surviving pair;
    * the verify is Spark's BANDED levenshtein
    * (threshold form, O(len·maxDist) instead of O(len²), exact when ≤
    * maxDist). Both engines' levenshtein is the standard integer DP —
    * bit-identical on the ASCII fixture (probed cell-by-cell), so the
    * oracle is pure ANSI. Returns (id_a, id_b, dist), id_a < id_b,
    * ordered. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 8, blockLen: Int = 16,
      maxBlockDf: Int = 256): DataFrame = {
    require(maxDist >= 0 && blockLen >= 1 && maxBlockDf >= 1,
      s"bad editDistancePairs params ($maxDist, $blockLen, $maxBlockDf)")
    val d = df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
    val keyed = d.select(col("__id").as("doc"), length(col("__t")).as("__ln"),
        concat(lit("p"), substring(col("__t"), 1, blockLen)).as("__bk"))
      .unionByName(d.select(col("__id").as("doc"), length(col("__t")).as("__ln"),
        concat(lit("s"), substring(reverse(col("__t")), 1, blockLen))
          .as("__bk")))
    // the length prefilter rides the candidate join: edit distance is
    // at least the length difference, so |ln_a − ln_b| > maxDist pairs
    // can never survive the verify — result-identical, and it is the
    // cheap compare that prunes the duplicated-text skew fixture's
    // candidate mass 5.3× (m30z: 873k → 165k pairs) BEFORE the
    // expensive levenshtein ever runs.
    val cand = sharedKeyPairs(keyed, Nil, Seq("__bk"), maxBlockDf,
        pairPredicate = abs(col("a.__ln") - col("b.__ln")) <= maxDist.toLong)
      .select(col("id_a"), col("id_b"))
      // explicit-n repartition: the pair aggregate's exchange is tiny in
      // BYTES, so AQE coalesces it to ~1 partition — and the verify
      // stage (broadcast payload joins + levenshtein, which Catalyst
      // pulls into the join condition) inherits that partitioning,
      // serializing every levenshtein into one task (m30z: an 82 s
      // straggler). The r2 lesson: per-row-expensive work rides
      // behind repartition(n, col). Keyed by id_a ONLY — a
      // repartition on (id_a, id_b) is partitioning-identical to the
      // pair aggregate's exchange and gets REMOVED as redundant, putting
      // the verify right back on the coalesced reads (measured).
      .repartition(par(df), col("id_a"))
    cand
      .join(d.select(col("__id").as("id_a"), col("__t").as("__ta")),
        Seq("id_a"))
      .join(d.select(col("__id").as("id_b"), col("__t").as("__tb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The MOSS matching half over ALREADY-SELECTED fingerprints —
    * `sel` must be distinct (doc, __fp) rows. Shared by
    * [[winnowedNearDups]] and the streaming `WinnowStore`, so the
    * whole-store matching is q171-identical by construction. */
  private[graft] def winnowedPairsFromSelections(sel: DataFrame,
      maxFpDf: Int, minShared: Int): DataFrame =
    sharedKeyPairs(sel, Nil, Seq("__fp"), maxFpDf)
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
}
