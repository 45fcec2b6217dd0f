package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Analytics.lift6

/** Pretraining-corpus curation operators beyond the dedup ladder:
  * PII/URL scrubbing, within-document repetition statistics
  * (Gopher/RefinedWeb-style quality signals), benchmark
  * decontamination, and deterministic stratified sampling. All are
  * declarative DataFrame transforms: scrubbing and sampling are pure
  * codegen projections/filters (no shuffle); repetition and
  * decontamination use the explode → equi-join/aggregate formulation
  * that scales the same way the n-gram Jaccard dedup does.
  */
object Curation {

  /** Redaction patterns. RE2-compatible (no backrefs/lookahead) so the
    * same patterns run in Spark (java.util.regex) and DuckDB (RE2)
    * bit-identically — the property the q61 oracle leans on. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^ ]+"
  val longNumberPattern = "[0-9][0-9 ()+.-]{5,}[0-9]"

  /** Scrub PII-ish spans from `textCol`: emails → <EMAIL>, URLs →
    * <URL>, long number runs (phone-shaped) → <NUM>. Order matters —
    * URLs first so an email-looking userinfo inside a URL does not
    * split it. Pure projection: stays inside whole-stage codegen,
    * nothing shuffles, predicates still push past it. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      longNumberPattern, "<NUM>")

  /** Within-document repetition statistics (the Gopher quality
    * signals): total words, distinct words, duplicate-word ratio and
    * the frequency share of the single most repeated word. Formulated
    * as explode → two hash aggregations with map-side partial combine
    * — the (doc, word) key space is bounded by the corpus itself, so
    * the shuffle is proportional to input size at any scale. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("__word"))
    words
      .groupBy(col(idCol), col("__word"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__n")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("__n")).as("__max_freq"))
      .select(
        col(idCol),
        col("n_words"),
        col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"), 6)
          .as("dup_ratio"),
        round(col("__max_freq").cast("double") / col("n_words").cast("double"), 6)
          .as("top_word_ratio"))
  }

  /** N-gram repetition signals — the n-gram generalization of
    * [[repetitionStats]] and the form the published web-corpus quality
    * filters actually use (top n-gram share for small n, duplicate
    * n-gram fraction for larger n): per document and per n, the total
    * and distinct adjacent-n-gram counts plus the duplicate fraction
    * and the most-frequent-gram share in EXACT integer ppm (BIGINT
    * DIV — no float enters the filter decision, so a downstream
    * threshold is bit-stable cross-engine).
    *
    * ONE scan and ONE tokenize feed every n: the per-n gram streams
    * come from the WordNgrams kernel over the same split array inside
    * a single projection (explode of (n, grams) structs), then two
    * hash aggregations with map-side combine — (doc, n, gram) keys are
    * bounded by input mass × |ns|, the q22 shuffle posture. Documents
    * with fewer than n words emit no row for that n (the kernel's
    * empty array — callers treat absent as "no signal"). */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ngram sizes: $ns")
    val perN = array(ns.map(n => struct(lit(n).as("n"),
      graft.expressions.VectorExpressions.wordNgrams(col("__ws"), n)
        .as("g"))): _*)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__ws"))
      .select(col(idCol), explode(perN).as("__s"))
      .select(col(idCol), col("__s.n").as("n"),
        explode(col("__s.g")).as("__g"))
      .groupBy(col(idCol), col("n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol), col("n"))
      .agg(sum(col("__c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("__m"))
      .select(col(idCol), col("n"), col("n_ngrams"), col("n_distinct"),
        expr("(n_ngrams - n_distinct) * 1000000L DIV n_ngrams")
          .as("dup_ppm"),
        expr("__m * 1000000L DIV n_ngrams").as("top_ppm"))
      .orderBy(col(idCol), col("n"))
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * one word k-shingle with the benchmark set — the standard
    * eval-leakage guard before pretraining. The benchmark side is
    * SMALL by construction (an eval set), so its distinct shingles
    * broadcast and the corpus side never shuffles: explode → broadcast
    * equi-join → per-doc count. Returns (id, n_shared) for
    * contaminated docs only. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    def shingled(df: DataFrame, keep: Column*) =
      df.filter(col(textCol).isNotNull)
        .select(keep :+ explode(Dedup.shingles(col(textCol), k)).as("__shingle"): _*)
    val bench = shingled(benchmark).select(col("__shingle")).distinct()
    shingled(corpus, col(idCol))
      .join(broadcast(bench), Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter two-phase decontamination — the 100 TB form of
    * [[decontaminate]]. Exact decontamination probes EVERY corpus
    * shingle against the benchmark hash table; at real eval-suite
    * scale (tens of millions of shingles) that table is GBs and every
    * corpus shingle pays a probe. Here the benchmark shingle set is
    * first summarized into a Bloom filter (one aggregation job —
    * `BloomFilterAggregate` merges by bit-OR, so the bytes are
    * partition-order independent), and the corpus side is pruned by a
    * codegen'd `BloomFilterMightContain` INSIDE the scan projection —
    * a bitset test, no join, no shuffle — before the surviving ~fpp
    * fraction plus true hits pay the exact confirm join. The confirm
    * join removes every false positive, so the result is IDENTICAL to
    * [[decontaminate]] (same oracle), while the joined volume drops by
    * ~(1 − fpp) at any corpus size. This is the same mechanism Spark's
    * own runtime row-level filtering injects for shuffle joins,
    * applied deliberately. `expectedItems` sizes the filter;
    * bits = −n·ln(fpp)/ln(2)². By default (≤ 0) the size is DERIVED
    * from the observed benchmark shingle count (one extra count job on
    * the SMALL side — r9 advice: a fixed default silently saturates at
    * real eval-suite scale, fpp → 1, and the prune degrades to a no-op
    * with no signal); an explicit `expectedItems` that the observed
    * cardinality exceeds logs a saturation warning instead. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    def shingled(df: DataFrame, keep: Column*) =
      df.filter(col(textCol).isNotNull)
        .select(keep :+ explode(Dedup.shingles(col(textCol), k)).as("__shingle"): _*)
    // the benchmark shingle set is SMALL by construction (an eval set)
    // and feeds three consumers — the sizing count, the bloom aggregate
    // and the exact confirm join. Materialize it once; without this the
    // shingle explode+distinct recomputes per consumer (r10 advice).
    val bench = shingled(benchmark).select(col("__shingle")).distinct()
      .localCheckpoint()
    val observed = bench.count()
    val items =
      if (expectedItems > 0L) {
        if (observed > expectedItems)
          org.slf4j.LoggerFactory.getLogger("graft.operators.Curation").warn(
            s"decontaminateBloom: benchmark has $observed distinct shingles " +
              s"> expectedItems=$expectedItems — filter saturated (fpp -> 1), " +
              "the bloom prune is a no-op; results stay exact via the confirm join")
        expectedItems
      } else math.max(64L, observed)
    val numBits = math.max(64L,
      math.ceil(-items * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomAgg = new BloomFilterAggregate(
      GraftShims.expression(xxhash64(col("__shingle"))),
      Literal(items), Literal(numBits)).toAggregateExpression()
    val bfBytes = bench.agg(GraftShims.column(bloomAgg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightHit = GraftShims.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType),
      GraftShims.expression(xxhash64(col("__shingle")))))
    shingled(corpus, col(idCol))
      .filter(mightHit)
      .join(broadcast(bench), Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** FUZZY decontamination — the whole-document complement of the
    * shingle-overlap guards above: flag corpus documents that are
    * NEAR-DUPLICATES (exact Jaccard ≥ threshold over word k-shingle
    * sets) of any benchmark document. [[decontaminate]] is the
    * recall-oriented check (one shared shingle flags), which at web
    * scale flags far too much to act on; this is the precision-
    * oriented one — "this training doc IS a lightly-edited copy of an
    * eval item" — the standard fuzzy-contamination pass run before
    * pretraining. Scale shape: MinHash banding makes the candidate
    * stage an equi-join (never |corpus|×|benchmark| pairwise), the
    * benchmark side is an eval set and BROADCASTS in both the band
    * join and the verify rejoin, and only (band, bucket, id) triples
    * flow through the candidate join — shingle payloads rejoin per
    * surviving DISTINCT pair (late materialization, r2 discipline).
    * Defaults are the production LSH regime (0.8, 8×2 bands); the
    * declared q99 pins 16×1-bit bands, where a true pair at j ≥ 0.8
    * escapes banding with probability (1−j)^16 ≤ 6.5e-12 — fixture-
    * exact, spec-checked against the all-pairs definition (the same
    * regime precedent as q48). Returns one row per contaminated
    * corpus doc: (id, n_matches, max_jaccard). */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      nBands: Int = 8, rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.8): DataFrame = {
    val nHashes = nBands * rowsPerBand
    // corpus side parallelize-first (single-row-group fixture scans
    // give one partition; the shingle/minhash kernels must run wide)
    val corp = corpus.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__cid"), col(textCol))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("__cid"))
      .select(col("__cid"), Dedup.shingles(col(textCol), shingleK).as("__csh"))
    val bench = benchmark.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__bid"),
        Dedup.shingles(col(textCol), shingleK).as("__bsh"))
    def banded(df: DataFrame, id: String, sh: String): DataFrame =
      df.withColumn("__sig", Dedup.minhashSignature(col(sh), nHashes))
        .select(col(id), Dedup.bandKeys(col("__sig"), nBands, rowsPerBand, ":")
          .as(Seq("__band", "__bucket")))
    val candidates = banded(corp, "__cid", "__csh")
      .join(broadcast(banded(bench, "__bid", "__bsh")),
        Seq("__band", "__bucket"))
      .select(col("__cid"), col("__bid")).distinct()
    candidates
      .join(corp, Seq("__cid"))
      .join(broadcast(bench), Seq("__bid"))
      .withColumn("__j", round(Dedup.jaccard(col("__csh"), col("__bsh")), 6))
      .filter(col("__j") >= jaccardThreshold)
      .groupBy(col("__cid"))
      .agg(count(lit(1)).as("n_matches"), max(col("__j")).as("max_jaccard"))
      .select(col("__cid").as(idCol), col("n_matches"), col("max_jaccard"))
  }

  /** Deterministic stratified sampling: per-stratum keep-rates applied
    * through an arithmetic hash of the row id (an LCG step mod 100) —
    * reproducible across engines, partitionings and runs, unlike
    * Bernoulli `sample()`. `rates` maps stratum → keep percentage;
    * rows in strata absent from the map keep `defaultRate`. Pure
    * filter: no shuffle, pushes into the scan. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val bucket = pmod(col(idCol) * lit(1103515245L) + lit(12345L), lit(100L))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Domain mixing to a per-stratum token budget — the step that turns
    * a curated corpus into a training MIXTURE: each stratum (source /
    * domain / language) is down-sampled so its expected token
    * contribution is ≈ `budgetTokens`, strata already under budget pass
    * through whole. The keep rate is derived IN-PLAN: per-stratum token
    * totals (a tiny aggregate) broadcast-join back onto the corpus, so
    * nothing corpus-sized is collected and the filter itself is the
    * same deterministic LCG-percent bucket [[stratifiedSample]] uses
    * (reproducible across engines/partitionings; exact ANSI oracle).
    * Integer arithmetic throughout: rate = min(100, (100·budget) DIV
    * total) — exact at any corpus size; an empty stratum keeps 100. */
  def mixToBudget(df: DataFrame, idCol: String, strataCol: String,
      tokensCol: String, budgetTokens: Long): DataFrame = {
    val totals = df.groupBy(col(strataCol))
      .agg(sum(col(tokensCol)).as("__tot"))
    val rate = when(col("__tot") <= 0L, lit(100L))
      .otherwise(least(lit(100L), expr(s"(100 * ${budgetTokens}L) DIV __tot")))
      .cast("int")
    val bucket = pmod(col(idCol) * lit(1103515245L) + lit(12345L), lit(100L))
    df.join(broadcast(totals), Seq(strataCol))
      .withColumn("rate", rate)
      .filter(bucket < col("rate"))
      .drop("__tot")
  }

  /** Temperature-based domain resampling — the mixture-flattening
    * step pretraining recipes apply before packing: domain share
    * ∝ n_d^α with α ∈ [0, 1] (α=1 keeps natural proportions, α=0
    * gives every domain equal mass). Rare domains UPSAMPLE via
    * integral document copies — the regime [[mixToBudget]]'s
    * keep-rate ≤ 1 cannot express. Every decision is deterministic
    * integer arithmetic replayable in ANSI SQL:
    *
    *   l_d  = round(ln n_d, 6)·1e6              (exact BIGINT lift)
    *   w_d  = round(exp(α·(l_d − l_max)/1e9), 6)·1e6 ∈ [0, 1e6]
    *          (max-normalized so every later product stays in range)
    *   t_d  = (budgetDocs·w_d) DIV Σ_d' w_d'    (domain doc target)
    *   base = t_d DIV n_d;  xrate = (1000·(t_d mod n_d)) DIV n_d
    *   copies(doc) = base + [lcg_permille(id) < xrate]
    *
    * then `sequence(1, copies)` explodes the copies (a copies=0 doc
    * drops). Expected domain mass ≈ t_d; every copy decision is a
    * pure function of the doc id — partition-layout independent.
    * ln/exp at 6 dp are the q104/q89 cross-engine precedents; the
    * lifts route through DECIMAL (the q102 rule).
    *
    * Scale shape: two tiny domain aggregates (|strata| rows)
    * broadcast back onto one corpus scan; the explode fans out
    * base+1 per row at most, so output mass is the budget by
    * construction. ANSI overflow bounds are required, not hoped:
    * budgetDocs·1e6 < 2^63 (enforced) and 1000·n_d < 2^63 (n_d
    * below 9.2e15 — the corpus itself breaks first). Returns
    * (`idCol`, `strataCol`, copy ∈ 1..copies). */
  def temperatureResample(df: DataFrame, idCol: String, strataCol: String,
      alphaPermille: Int, budgetDocs: Long): DataFrame = {
    require(alphaPermille >= 0 && alphaPermille <= 1000,
      s"alphaPermille must be in [0, 1000]: $alphaPermille")
    require(budgetDocs > 0 && budgetDocs <= Long.MaxValue / 1000000L,
      s"budgetDocs must be in (0, 2^63/1e6]: $budgetDocs")
    // localCheckpoint the |strata|-row aggregate ONCE: lmax, wsum and
    // rates each sit in a separate broadcast subtree of the final plan,
    // and without the barrier every subtree recomputes the corpus scan
    // + groupBy — the multi-branch 1-row-reduction recompute class the
    // q144 fieldAssociation fix documents (6.1 s → 1.13 s there)
    val n = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__nd"))
      .withColumn("__l6", lift6(log(col("__nd").cast("double"))))
      .localCheckpoint()
    val lmax = n.agg(max(col("__l6")).as("__lmax"))
    val w = n.crossJoin(broadcast(lmax))
      .withColumn("__w6", lift6(exp(
        (lit(alphaPermille.toLong) * (col("__l6") - col("__lmax")))
          .cast("double") / lit(1e9))))
    val wsum = w.agg(sum(col("__w6")).as("__wsum"))
    val rates = w.crossJoin(broadcast(wsum))
      .withColumn("__td", expr(s"(${budgetDocs}L * __w6) DIV __wsum"))
      .withColumn("__base", expr("__td DIV __nd"))
      .withColumn("__xrate", expr("(1000 * (__td % __nd)) DIV __nd"))
      .select(col(strataCol), col("__base"), col("__xrate"))
    val permille = lcgBucket(col(idCol), 1000L)
    df.join(broadcast(rates), Seq(strataCol))
      .withColumn("__copies",
        (col("__base")
          + when(permille < col("__xrate"), 1L).otherwise(0L)).cast("int"))
      .filter(col("__copies") >= 1)
      .select(col(idCol), col(strataCol),
        explode(sequence(lit(1), col("__copies"))).as("copy"))
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * corpus term frequency and document frequency — the first pass of
    * tokenizer training / coverage analysis. One explode + hash
    * aggregation (tf combines map-side; df is a two-phase distinct
    * aggregate on (term, doc) keys); the top-k plans as TakeOrdered,
    * never a global sort. Order (tf desc, term) is total, so the k-th
    * boundary is deterministic across engines. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        explode(graft.functions.TextOps.words(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("__doc")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)

  /** Per-document average negative log-likelihood under the corpus's
    * own unigram model — the CCNet/KenLM-style perplexity signal for
    * quality filtering, with the corpus itself as the language model
    * (boilerplate-heavy docs score low NLL, noise scores high). Two
    * passes, both linear: unigram counts (hash agg, map-side
    * combined), then an explode→join on term (vocab side is ≪ corpus)
    * plus a per-doc aggregation. Per-token log-probs are rounded to
    * 6 dp and summed as DECIMAL(18,6) — order-independent, so the
    * shuffle layout cannot perturb the score (same discipline as
    * BM25). Returns (`idCol`, n_tokens, avg_nll). */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20: a per-(doc, term) pre-aggregate restructure measured WORSE
    // here (1.03 vs 0.68 BenchOne) — without an exchange boundary the
    // aggregate subtree recomputes per consumer, and materializing it
    // costs a near-stream-mass shuffle the two cheap kernel passes
    // don't. Kept as-is deliberately.
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        explode(graft.functions.TextOps.words(col(textCol))).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("__tf"))
    val total = counts.agg(sum(col("__tf")).as("__total"))
    val lp = round(
      log(col("__tf").cast("double") / col("__total").cast("double")),
      6).cast("decimal(18,6)")
    toks.join(counts, "term")
      .crossJoin(broadcast(total))
      .withColumn("__lp", lp)
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_tokens"),
        round(-(sum(col("__lp")).cast("decimal(18,6)").cast("double"))
          / count(lit(1)), 6).as("avg_nll"))
      .select(col("__doc").as(idCol), col("n_tokens"), col("avg_nll"))
  }

  /** Bigram LM scoring with add-one smoothing — the order-sensitive
    * upgrade of [[unigramNll]] (a scrambled document scores the same
    * under a unigram LM; the bigram conditional catches it — the
    * standard "KenLM-style perplexity filter" shape, corpus-self
    * trained like the unigram):
    *   P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1} ·) + V)
    * where c(w_{i-1} ·) is the corpus count of bigrams starting with
    * w_{i-1} and V the corpus unigram vocabulary. Bigram occurrences
    * come from the `WordNgrams` kernel (every occurrence, not the
    * dedup shingle SET); both count tables are vocabulary-bounded
    * aggregates that join back onto the bigram stream (AQE broadcasts
    * them when small). Per-occurrence log-probs round to 6 dp and sum
    * as DECIMAL(18,6) — the order-independent discipline every other
    * scorer uses. Returns (`idCol`, n_bigrams, avg_nll). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20 restructure (optimization guide §2.3): the before-plan ran
    // the WordNgrams kernel THREE times over the corpus (c2 branch,
    // c1 branch, row-stream join left) plus the unigram vocab pass.
    // c1 now DERIVES from c2 (grouping the bigram count table by its
    // first word sums exactly the same occurrences), removing one
    // whole kernel+aggregate branch with no new exchange. A fuller
    // per-(doc, bigram) pre-aggregate variant measured WORSE (1.93 vs
    // 1.75 BenchOne) — without an exchange boundary the aggregate
    // subtree recomputes per consumer — so only the free derivation
    // ships. Result bit-identical (same counts, same expression tree).
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        graft.functions.TextOps.words(col(textCol)).as("__ws"))
    // r21: vocab explodes wordNgrams(__ws, 1) — element-identical to
    // explode(__ws) (k=1 emits every word), but the split-based explode
    // made InferFiltersFromGenerate push `size(split(..))>0` predicates
    // BELOW this branch's exchange while the kernel-based main branch
    // pushed nothing, so the two exchange subtrees no longer
    // canonicalized equal and the vocab branch re-scanned the corpus
    // (executed-plan evidence: plans/r21/q92 before = 2 scans, after =
    // 1 scan + ReusedExchange; guide §2.4 share-one-exchange).
    val vocab = base
      .select(explode(
        graft.expressions.VectorExpressions.wordNgrams(col("__ws"), 1))
        .as("term"))
      .agg(countDistinct(col("term")).as("__v"))
    val bigrams = base
      .select(col("__doc"),
        explode(graft.expressions.VectorExpressions.wordNgrams(col("__ws"), 2))
          .as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c2 = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("__c2"))
    val c1 = c2.withColumn("w1", substring_index(col("bg"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("__c2")).as("__c1"))
    val lp = round(
      log((col("__c2") + 1).cast("double") / (col("__c1") + col("__v")).cast("double")),
      6).cast("decimal(18,6)")
    bigrams.join(c2, "bg").join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp", lp)
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-(sum(col("__lp")).cast("decimal(18,6)").cast("double"))
          / count(lit(1)), 6).as("avg_nll"))
      .select(col("__doc").as(idCol), col("n_bigrams"), col("avg_nll"))
  }

  /** Corpus collocations by pointwise mutual information — the
    * phrase-mining signal (which adjacent word pairs co-occur far more
    * than their unigram frequencies predict): boilerplate templates
    * and named entities surface at the top, so it feeds both the
    * tokenizer-merge sanity check and the template-dedup shortlist.
    *
    *   PMI(x,y) = ln( (c_xy/T_b) / ((c_x/T_u)(c_y/T_u)) )
    *            = ln c_xy + 2 ln T_u − ln T_b − ln c_x − ln c_y
    *
    * with c_xy from the `WordNgrams` kernel (every occurrence — the
    * LM counting convention, same stream as [[bigramNll]]), c_x/c_y
    * unigram occurrence counts, and T_b/T_u the bigram/unigram
    * totals. Each ln is of an exact integer, rounded to 6 dp and
    * lifted to a 1e6-scaled long (the q104 log discipline), so the
    * five-term combination is exact integer arithmetic and the final
    * pmi double is the SAME integer / 1e6 in both engines —
    * partition-order independent by construction. Count tables are
    * vocabulary-bounded aggregates joined back onto each other (never
    * the row stream); `minCount` prunes the rare-pair noise PMI is
    * notorious for before any join. */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Int = 5): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val base = df.filter(col(textCol).isNotNull)
      .select(graft.functions.TextOps.words(col(textCol)).as("__ws"))
    val uni = base.select(explode(col("__ws")).as("w"))
    val c1 = uni.groupBy(col("w")).agg(count(lit(1)).as("__c"))
    val tu = c1.agg(sum(col("__c")).as("__tu"))
    val bg = base
      .select(explode(
        graft.expressions.VectorExpressions.wordNgrams(col("__ws"), 2))
        .as("bg"))
    val c2 = bg.groupBy(col("bg")).agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= minCount)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val tb = bg.agg(count(lit(1)).as("__tb"))
    def l6(c: Column): Column =
      round(log(c.cast("double")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))
        .multiply(lit(1000000)).cast("long")
    c2
      .join(c1.select(col("w").as("w1"), col("__c").as("n_x")), Seq("w1"))
      .join(c1.select(col("w").as("w2"), col("__c").as("n_y")), Seq("w2"))
      .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
      .withColumn("__pmil",
        l6(col("n_xy")) + lit(2L) * l6(col("__tu")) - l6(col("__tb")) -
          l6(col("n_x")) - l6(col("n_y")))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        (col("__pmil").cast("double") / lit(1e6)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** Deterministic per-group cap — the "domain cap" curation step: a
    * web corpus where one source contributes 40% of the documents
    * needs that source bounded BEFORE training, and the bound must be
    * a pseudo-random sample of the source (capping by data order
    * keeps whatever the crawler saw first). Keeps at most `n` rows of
    * each group, chosen by the rows' LCG order over the id — the
    * split/sample discipline (q102/q103): deterministic, partition-
    * independent, replayable in ANSI SQL. Selection runs through the
    * bounded mergeable top-k aggregate
    * ([[graft.functions.TopKAggregator]]), so a group a million times
    * over its cap costs map-side-combinable ≤ 2n-entry buffers, never
    * a per-group window sort (the q113 hot-group argument — and a
    * capped-domain group is hot BY DEFINITION, that is why it is
    * being capped). LCG mod 2^31 is a bijection on [0, 2^31) ids, so
    * picks collide only past 2^31 where the id tie-break still keeps
    * the order total. Returns (group, pick ∈ 1..n, id) ordered by
    * (group, pick). */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    // smallest-LCG-first == top-n by negated LCG under the aggregate's
    // (v DESC, id ASC) total order; values < 2^31 are double-exact
    val ordered = df.withColumn("__ord",
      -lcgBucket(col(idCol), 1L << 31).cast("double"))
    graft.operators.Analytics
      .topKPerGroup(ordered, groupCol, "__ord", idCol, n)
      .select(col(groupCol), col("rank").as("pick"), col(idCol))
      .orderBy(col(groupCol), col("pick"))
  }

  /** ANSI-safe deterministic LCG bucket in [0, `mod`): an inner mod
    * before the multiply keeps the product under 2^62 at any id
    * magnitude (the q90 shuffle-shard arithmetic). Non-negative ids
    * make pmod == `%`, so the oracle replays it with plain `%`. */
  private[graft] def lcgBucket(id: Column, mod: Long): Column =
    pmod(
      pmod(pmod(id, lit(1L << 31)) * lit(1103515245L) + lit(12345L),
        lit(1L << 31)),
      lit(mod))

  /** EXACT-count stratified sampling — largest-remainder (Hamilton)
    * allocation: exactly `budget` rows total (when the corpus has
    * them), split across strata proportionally to stratum size with
    * the classic floor-quota + ranked-remainder top-up, rows inside a
    * stratum picked by the deterministic LCG order (the q102/q103
    * discipline). The guaranteed-count complement of the rate-based
    * samplers ([[stratifiedSample]]/[[mixToBudget]] hit their budgets
    * only in expectation; an eval-set or annotation-batch builder
    * needs the count exact).
    *
    * Allocation runs on the driver over the collected strata counts —
    * a BOUNDED aggregate by definition (a stratification column is a
    * domain/lang/source; `maxStrata` gates the collect, the
    * connectedComponents/heavyHitters driver-path precedent): quota =
    * n·B/N and remainder in exact long arithmetic (multiplyExact —
    * overflow throws like ANSI, never wraps, the q120 discipline),
    * remainders ranked (desc, stratum asc — stratum keys compared AS
    * STRINGS, the internal and output key form). Budget ≥ corpus
    * keeps every row.
    *
    * Selection at scale is the two-phase order-statistic plan, not a
    * per-stratum sort: phase A aggregates per-(stratum, 2048-bucket)
    * counts of the LCG key (map-side combine, ≤ 2048·|strata| rows)
    * and finds each stratum's boundary bucket by cumulative count;
    * rows in earlier buckets keep outright, and ONLY the boundary
    * bucket's ~1/2048 slice pays a row_number window for the exact
    * (lcg, id) cut. A hot stratum costs a bounded window, never a
    * full sort — the bucket decomposition is invisible in the result
    * (the q110 rule). Null id/stratum rows drop. Returns
    * (`strataCol`, `idCol`) ordered by both. */
  /** The largest-remainder (Hamilton) allocation shared by
    * [[allocateStratified]] and its streaming continuation
    * (`Streams.stratifiedStream`) — extracting it makes
    * batch == stream allocation bit-identical BY CONSTRUCTION. Exact
    * long arithmetic throughout (multiplyExact throws on overflow);
    * remainders ranked (desc, stratum-string asc); per-stratum quota
    * capped at the stratum size. */
  private[graft] def hamiltonQuotas(strata: Array[(String, Long)],
      budget: Long): Seq[(String, Long)] = {
    val totalN = strata.map(_._2).reduce(Math.addExact(_, _))
    val withQ = strata.map { case (s, c) =>
      val prod = Math.multiplyExact(c, budget)
      (s, c, prod / totalN, prod % totalN)
    }
    val leftover = budget - withQ.map(_._3).sum
    val topUp = withQ.sortBy { case (s, _, _, rem) => (-rem, s) }
      .take(if (leftover > Int.MaxValue) withQ.length else leftover.toInt)
      .map(_._1).toSet
    withQ.map { case (s, c, b, _) =>
      (s, math.min(b + (if (topUp(s)) 1L else 0L), c))
    }.toSeq
  }

  def allocateStratified(df: DataFrame, idCol: String, strataCol: String,
      budget: Long, maxStrata: Int = 1 << 20): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val base = df
      .filter(col(idCol).isNotNull && col(strataCol).isNotNull)
      .select(col(strataCol).cast("string").as("__s"),
        col(idCol).as("__id"))
      .withColumn("__lcg", lcgBucket(col("__id"), 1L << 31))
    val strata = base.groupBy(col("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(strata.length <= maxStrata,
      s"${strata.length} strata exceed maxStrata=$maxStrata — " +
        "is the stratum column really categorical?")
    if (strata.isEmpty) {
      return base.select(col("__s").as(strataCol), col("__id").as(idCol))
        .limit(0)
    }
    val quotaSeq = hamiltonQuotas(strata, budget)
    val quotas = spark.createDataFrame(quotaSeq)
      .toDF("__s", "__quota")
    // phase A: bucket histogram of the LCG key (2^31 space / 2^20)
    val rows = base.withColumn("__hb", expr("__lcg DIV 1048576"))
    // each bucket's cumulative count range [__lo, __hi) in its stratum
    val cum = Analytics.rankRange(
        rows.groupBy(col("__s"), col("__hb")).agg(count(lit(1)).as("__c")),
        "__s", "__hb", col("__c"), distinct = true, withTotal = false)
      .join(broadcast(quotas), Seq("__s"))
      .localCheckpoint() // tiny; boundary + need both read it
    val boundary = cum.filter(col("__hi") >= col("__quota"))
      .groupBy(col("__s")).agg(min(col("__hb")).as("__bhb"))
    val bInfo = cum.join(broadcast(boundary), Seq("__s"))
      .filter(col("__hb") === col("__bhb"))
      .select(col("__s"), col("__bhb"),
        (col("__quota") - col("__lo")).as("__need"))
    // phase B: earlier buckets keep outright; only the boundary slice
    // pays the exact (lcg, id) row_number cut
    val withB = rows.join(broadcast(bInfo), Seq("__s"))
    val direct = withB.filter(col("__hb") < col("__bhb"))
      .select(col("__s"), col("__id"))
    val wb = Window.partitionBy(col("__s"))
      .orderBy(col("__lcg"), col("__id"))
    val picked = withB.filter(col("__hb") === col("__bhb"))
      .withColumn("__rn", row_number().over(wb))
      .filter(col("__rn") <= col("__need"))
      .select(col("__s"), col("__id"))
    direct.union(picked)
      .select(col("__s").as(strataCol), col("__id").as(idCol))
      .orderBy(col(strataCol), col(idCol))
  }

  /** Leakage-free train/validation split: the unit of assignment is the
    * near-duplicate CLUSTER, not the document. A plain random split of
    * a deduplicated-but-not-perfectly corpus leaks: a validation doc
    * with a near-duplicate in train is memorization measured as
    * generalization. Splitting by [[Dedup.simhashClusters]]' cluster_id
    * keeps every member of a near-dup family on the SAME side by
    * construction.
    *
    * The split decision is the deterministic LCG permille bucket of the
    * cluster id (min doc id of the component) — no RNG, independent of
    * partitioning, replayable in ANSI SQL. Expected val share is
    * `valPermille`/1000 of CLUSTERS (≈ of docs when duplication mass is
    * spread; heavy families move together — that is the point).
    *
    * Scale: adds one codegen projection to the cluster frame; the cost
    * IS simhashClusters (linear-output, SCALING.md §6). Returns
    * (`idCol`, cluster_id, split ∈ {train, val}). */
  def splitByCluster(df: DataFrame, idCol: String, textCol: String,
      valPermille: Int, maxHamming: Int = 3,
      selfJoinBlocks: Int = 1): DataFrame = {
    require(valPermille >= 0 && valPermille <= 1000,
      s"valPermille must be in [0,1000]: $valPermille")
    Dedup.simhashClusters(df, idCol, textCol, maxHamming, selfJoinBlocks)
      .withColumn("split",
        when(lcgBucket(col("cluster_id"), 1000L) < valPermille, lit("val"))
          .otherwise(lit("train")))
  }

  /** Split-leakage audit — the measured WHY of [[splitByCluster]]: for
    * the corpus's exact near-dup pair set (q25's banded SimHash at
    * `maxHamming`), count the pairs whose endpoints land on DIFFERENT
    * sides under (a) the naive per-DOCUMENT LCG split and (b) the
    * cluster split — each crossing pair is a validation document whose
    * near-duplicate sits in train, i.e. memorization that will be
    * measured as generalization. The cluster method reads n_cross = 0
    * BY CONSTRUCTION (every family member shares the cluster id and
    * therefore the side); the naive method's expected crossing rate is
    * 2·v·(1−v) of pairs. Exact integers throughout: crossing counts
    * are conditional sums, the rate is n_cross·10⁶ DIV n_pairs (NULL
    * on a pair-free corpus). On a pairless or EMPTY corpus both
    * n_pairs and n_cross read an exact 0 (the r20 coalesce — the
    * pre-r20 shape returned NULL n_cross there) and cross_ppm is NULL
    * — pinned by spec. Output: one row per method
    * (method, n_pairs, n_cross, cross_ppm), ordered by method. Cost =
    * the pair enumeration + one cluster pass over ONE shared
    * (doc, sig) frame — the corpus is hashed once, checkpointed, and
    * feeds both `simhashBandPairs` (pair set) and
    * `simhashClustersFromSigs` (cluster sides); both ride the
    * distinct-sig machinery (`selfJoinBlocks` forwarded). */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
      valPermille: Int, maxHamming: Int = 3,
      selfJoinBlocks: Int = 1): DataFrame = {
    require(valPermille >= 0 && valPermille <= 1000,
      s"valPermille must be in [0,1000]: $valPermille")
    // r20 restructure (optimization guide §2.3 "shuffle keys and
    // metadata instead of payloads", the q120 distinct-sig collapse):
    // the before-plan materialized the DOC-level near-dup pair stream
    // (quadratic in duplicated mass — 21.6 GB spill at the m30 fixture
    // for its q120 sibling) and then joined per-doc split sides onto
    // it twice. Both methods' counts are pure GROUP arithmetic: with
    // per-signature counts f (docs) and v (naive-val docs), and the
    // band-verified adjacency over DISTINCT sigs (pigeonhole-complete
    // at maxHamming ≤ 3 — the q120 parity argument, spec-asserted
    // there), the doc-pair totals are
    //   n_pairs       = Σ_s C(f_s,2) + Σ_{(a,b) adjacent} f_a·f_b
    //   naive n_cross = Σ_s v_s·(f_s−v_s)
    //                 + Σ_{(a,b)} v_a·(f_b−v_b) + v_b·(f_a−v_a)
    //   cluster n_cross = Σ_{(a,b)} f_a·f_b·[side(cc_a) ≠ side(cc_b)]
    // (same-sig pairs share a group hence a cluster — 0 by identity).
    // The cluster term still computes sides from the REAL connected
    // components, so the audit keeps catching a buggy cluster split;
    // only the doc-pair enumeration is gone. Result bit-identical.
    val sigs = Dedup.simhashSigs(df, idCol, textCol)
    val vbit = when(lcgBucket(col("doc"), 1000L) < valPermille, lit(1L))
      .otherwise(lit(0L))
    val cnt = sigs.groupBy(col("sig"))
      .agg(count(lit(1)).as("__f"), sum(vbit).as("__v"),
        min(col("doc")).as("rep"))
      .localCheckpoint() // consumed by the band join, CC nodes, sums
    val sigPairs = Dedup.simhashBandPairs(
      cnt.select(col("rep").as("doc"), col("sig")), maxHamming,
      selfJoinBlocks)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // consumed by CC + the across-group sums
    val cc = Dedup.connectedComponents(cnt.select(col("rep")), "rep",
      sigPairs, "id_a", "id_b")
    val gsides = cnt.join(cc, Seq("rep"))
      .select(col("rep"), col("__f"), col("__v"),
        when(lcgBucket(col("cluster_id"), 1000L) < valPermille, lit(1L))
          .otherwise(lit(0L)).as("__cs"))
      .localCheckpoint() // consumed by the within sums + both join sides
    val within = gsides.agg(
      coalesce(sum(expr("__f * (__f - 1) DIV 2")), lit(0L)).as("__wp"),
      coalesce(sum(expr("__v * (__f - __v)")), lit(0L)).as("__wc"))
    val across = sigPairs
      .join(gsides.select(col("rep").as("id_a"), col("__f").as("fa"),
        col("__v").as("va"), col("__cs").as("ca")), Seq("id_a"))
      .join(gsides.select(col("rep").as("id_b"), col("__f").as("fb"),
        col("__v").as("vb"), col("__cs").as("cb")), Seq("id_b"))
      .agg(
        coalesce(sum(expr("fa * fb")), lit(0L)).as("__ap"),
        coalesce(sum(expr("va * (fb - vb) + vb * (fa - va)")), lit(0L))
          .as("__anc"),
        coalesce(sum(expr(
          "CASE WHEN ca <> cb THEN fa * fb ELSE 0L END")), lit(0L))
          .as("__acc"))
    val totals = within.crossJoin(across)
    def summarize(method: String, np: Column, nc: Column): DataFrame =
      totals.select(lit(method).as("method"), np.as("n_pairs"),
          nc.as("n_cross"))
        .select(col("method"), col("n_pairs"), col("n_cross"),
          when(col("n_pairs") > 0,
            expr("n_cross * 1000000L DIV n_pairs")).as("cross_ppm"))
    summarize("naive_doc", col("__wp") + col("__ap"),
        col("__wc") + col("__anc"))
      .unionByName(summarize("cluster", col("__wp") + col("__ap"),
        col("__acc")))
      .orderBy(col("method"))
  }

  /** Boilerplate phrase mining — the `maxShingleDf` hot set made
    * first-class: exact heavy hitters over the corpus's word k-shingle
    * OCCURRENCE stream (one row per (doc, distinct shingle) — q22's df
    * axis): the phrases whose share of all shingle occurrences exceeds
    * `minShare`. The output is the shingle caps' WHY — license
    * headers, templates, navigation chrome, the strings whose Σdf²
    * mass the pair family prunes; feeding the result to the caps or to
    * the store tombstones (ParagraphStore / SubstringStore deletes)
    * closes the detect→mitigate loop the same way q100→q101 does for
    * join keys. Rides
    * `Scale.heavyHitters`: two passes, tree-merged Misra–Gries
    * summaries, the driver holds ≤ max(capacity, ⌈1/minShare⌉) rows at
    * ANY corpus size, and the exact verify pass makes the result
    * partition-independent (plain ANSI oracle). */
  def hotPhrases(df: DataFrame, idCol: String, textCol: String, k: Int,
      minShare: Double, capacity: Int = 64): DataFrame = {
    val stream = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .select(explode(Dedup.shingles(col(textCol), k)).as("phrase"))
    Scale.heavyHitters(stream, "phrase", minShare, capacity)
  }

  /** Per-document character Shannon entropy — the
    * garbage/memorization filter the word-level quality signals (q17
    * length/punct ratios, q176 repetition) miss: binary junk and
    * base64 blobs read HIGH entropy, template spam and repeated-char
    * runs read LOW, natural text sits in a narrow band. Exact-integer
    * output (the cross-engine discipline): per-(doc, char) counts are
    * exact longs, p = cnt/n is ONE IEEE division of exact longs, its
    * ln rounds to 6 dp and lifts through DECIMAL to a 1e6-scaled
    * BIGINT (never CAST(x*1e6 AS BIGINT) — the r12 truncate-vs-round
    * trap), and entropy_e6 = −(Σ cnt·ln6) DIV n is exact BIGINT
    * arithmetic. Returns (id, n_chars, n_distinct, entropy_e6 —
    * nats × 1e6, truncated). One exchange on the doc id; the per-doc
    * totals rejoin is merge-hinted (corpus-sized agg side at 100 TB,
    * the r13 rule). Null/empty texts are excluded (no distribution to
    * measure).
    *
    * ASCII-fixture assumption (cross-engine hazard): Spark's
    * `split(text, "")` yields one element per UTF-16 CODE UNIT (a
    * non-BMP char becomes two surrogate elements) while the q197
    * DuckDB oracle's `string_split(text, '')` splits per Unicode
    * character. Both agree on the ASCII fixtures; if a fixture regen
    * ever introduces non-ASCII text, q197 is the canary and the split
    * here must move to a code-point-explicit expression. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("__id"), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .select(col("__id"), explode(split(col(textCol), "")).as("__c"))
      .filter(length(col("__c")) > 0)
    val counts = chars.groupBy(col("__id"), col("__c"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("__id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"))
    counts.join(totals.hint("merge"), Seq("__id"))
      .withColumn("__ln6",
        (round(log(col("cnt").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long"))
      .groupBy(col("__id"), col("n"), col("n_distinct"))
      .agg(sum(col("cnt") * col("__ln6")).as("__s"))
      .select(col("__id").as(idCol), col("n").as("n_chars"),
        col("n_distinct"), expr("(-__s) DIV n").as("entropy_e6"))
      .orderBy(col(idCol))
  }

  /** Per-document mean unigram surprisal under the CORPUS unigram LM —
    * the doc-vs-corpus complement of the group-vs-group divergences
    * (q122 KL, q143 PSI): a document whose tokens are rare corpus-wide
    * carries high mean self-information (−mean ln N_w/T), flagging
    * OCR garbage, wrong-language slices and mojibake; boilerplate
    * reads low. Exact-integer discipline: corpus occurrence counts N_w
    * and total T are exact longs, ln(N_w/T) is the 6-dp lift of one
    * IEEE division, and surprisal_e6 = −(Σ_tokens ln6) DIV n_tokens is
    * exact BIGINT. The corpus word-count frame is vocab-bounded,
    * localCheckpointed once for its two consumers (the total and the
    * rejoin — the q144 recompute lesson), and the rejoin onto the
    * token stream is merge-hinted (vocab is corpus-sized on web text,
    * the r13 rule). Returns (id, n_tokens, surprisal_e6 — nats × 1e6,
    * truncated), one row per non-null-text doc. */
  def unigramSurprisal(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__id"))
      .select(col("__id"),
        explode(graft.functions.TextOps.words(col(textCol))).as("__w"))
    val wcounts = toks.groupBy(col("__w")).agg(count(lit(1)).as("__nw"))
      .localCheckpoint()
    val total = wcounts.agg(sum(col("__nw")).as("__t"))
    toks
      .join(wcounts.hint("merge"), Seq("__w"))
      .crossJoin(broadcast(total))
      .withColumn("__ln6",
        (round(log(col("__nw").cast("double") / col("__t").cast("double")), 6)
          .cast("decimal(18,6)") * lit(1000000)).cast("long"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__ln6")).as("__s"))
      .select(col("__id").as(idCol), col("n_tokens"),
        expr("(-__s) DIV n_tokens").as("surprisal_e6"))
      .orderBy(col(idCol))
  }

  /** Deterministic quality-weighted sampling: keep each row with
    * probability `scoreCol` (clamped to [0,1]) — the importance-style
    * upsampling knob between uniform [[stratifiedSample]] and a hard
    * score threshold (high-quality docs survive at their score rate
    * instead of all-or-nothing). Keep iff the LCG permille bucket of
    * the id falls below floor(score·1000); both sides of that
    * comparison are exact integer/IEEE arithmetic on the stored score,
    * so the keep set is partition-independent and ANSI-replayable.
    * Callers pass a score already rounded to 6 dp (the engine-portable
    * discipline). Pure codegen filter — no shuffle, pushes to the
    * scan when `scoreCol` is a stored column. */
  def weightedSample(df: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val keepPermille = least(lit(1000L),
      greatest(lit(0L), floor(col(scoreCol) * lit(1000.0)).cast("long")))
    df.filter(lcgBucket(col(idCol), 1000L) < keepPermille)
  }

  /** Corpus-LEVEL contamination diagnostic: exact k-shingle set
    * overlap between a corpus and a benchmark suite — the scalar
    * "how much of the eval is in my training set" number that the
    * per-document surfaces (q63 flags, q84 bloom, q99 fuzzy) do not
    * give. `containment` (shared / benchmark shingles) is the
    * decontamination-relevant direction; `jaccard` the symmetric one.
    *
    * Scale: both sides reduce to DISTINCT shingle sets (map-side
    * combinable aggregates — shuffle volume is the distinct set, not
    * the token stream); the intersection probes the benchmark set as
    * a broadcast (eval suites are small by definition). The three
    * 1-row aggregates cross-join broadcast. The distinct frames are
    * localCheckpointed once — each feeds two consumers, and exchange
    * reuse does not span AQE branches (the q65 lesson). */
  def corpusOverlap(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, k: Int): DataFrame = {
    def distinctShingles(df: DataFrame) =
      df.filter(col(textCol).isNotNull)
        .select(explode(Dedup.shingles(col(textCol), k)).as("__shingle"))
        .distinct()
    val c = distinctShingles(corpus).localCheckpoint()
    val b = distinctShingles(benchmark).localCheckpoint()
    val cCnt = c.agg(count(lit(1)).as("n_corpus_shingles"))
    val bCnt = b.agg(count(lit(1)).as("n_benchmark_shingles"))
    val iCnt = c.join(broadcast(b), Seq("__shingle"))
      .agg(count(lit(1)).as("n_shared"))
    // empty benchmark/corpus: 0/0 is NaN in Spark but NULL in DuckDB —
    // null-guard the divisions (the funnel-rate CASE WHEN discipline)
    val unionSize = (col("n_corpus_shingles") + col("n_benchmark_shingles")
      - col("n_shared")).cast("double")
    cCnt.crossJoin(broadcast(bCnt)).crossJoin(broadcast(iCnt))
      .select(col("n_corpus_shingles"), col("n_benchmark_shingles"),
        col("n_shared"),
        round(when(unionSize > 0,
          col("n_shared").cast("double") / unionSize), 6).as("jaccard"),
        round(when(col("n_benchmark_shingles") > 0,
          col("n_shared").cast("double")
            / col("n_benchmark_shingles").cast("double")), 6)
          .as("containment"))
  }

  /** Pairwise cross-group shingle-overlap matrix — [[corpusOverlap]]
    * generalized from one (corpus, benchmark) pair to EVERY pair of
    * groups at once: the contamination / provenance matrix a curation
    * run reads to find which sources feed each other (mirror sites,
    * scraped re-posts, shared boilerplate) before de-dup budgets are
    * set. For each group pair (a < b): distinct-shingle set sizes,
    * intersection, Jaccard. Only overlapping pairs return (the
    * matrix is sparse by construction — a zero cell carries no row).
    *
    * Scale shape: one distinct (group, shingle) aggregate feeds
    * everything; the pairs are [[Dedup.sharedKeyPairs]] with the
    * groups as its documents, so a boilerplate shingle present in
    * EVERY group costs |groups|² pairs, never doc² (contrast q22,
    * where hot shingles pair documents). Group sizes broadcast back
    * (|groups| rows). Returns (source_a, source_b, n_a, n_b, n_shared,
    * jaccard) for source_a < source_b. */
  def sourceOverlapMatrix(df: DataFrame, groupCol: String,
      textCol: String, k: Int): DataFrame = {
    val sh = df.filter(col(textCol).isNotNull)
      .select(col(groupCol).as("doc"),
        explode(Dedup.shingles(col(textCol), k)).as("__shingle"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col("doc").as("__g")).agg(count(lit(1)).as("__n"))
    // a cap no shingle reaches (its df counts groups) keeps the matrix
    // exact on the kernel's capped plan, which never broadcasts the
    // corpus-sized postings on an estimate
    Dedup.sharedKeyPairs(sh, Nil, Seq("__shingle"), maxDf = Int.MaxValue - 1)
      .select(col("id_a").as("source_a"), col("id_b").as("source_b"),
        col("n_shared"))
      .join(broadcast(sizes.select(col("__g").as("source_a"),
        col("__n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("__g").as("source_b"),
        col("__n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-source dataset card: the one-pass corpus profile a curation
    * run reads before choosing gates (the "know your data" step every
    * pretraining pipeline fronts with). One row per `source` with doc
    * counts, null/short-text rates, language spread, char extremes,
    * and whitespace-token totals. ONE aggregation over one scan —
    * map-side combinable, flat at any N (output rows = distinct
    * sources); the countDistinct(lang) is the only two-phase piece
    * and its key space is (source, lang), corpus-bounded. Floats are
    * IEEE divisions of exact longs rounded to 6 dp — fully
    * ANSI-oracled. */
  def profileCard(df: DataFrame, sourceCol: String = "source",
      textCol: String = "text", langCol: String = "lang",
      charsCol: String = "n_chars", shortChars: Int = 50): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col(textCol).isNull, 1L).otherwise(0L)).as("n_null_text"),
        countDistinct(col(langCol)).as("n_langs"),
        sum(col(charsCol)).cast("long").as("total_chars"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"),
        sum(graft.functions.TextOps.tokenCount(col(textCol)).cast("long"))
          .cast("long").as("total_tokens"),
        sum(when(col(charsCol) < shortChars, 1L).otherwise(0L)).as("n_short"))
      .select(col(sourceCol), col("n_docs"), col("n_null_text"),
        col("n_langs"), col("total_chars"),
        round(col("total_chars").cast("double") /
          col("n_docs").cast("double"), 6).as("avg_chars"),
        col("min_chars"), col("max_chars"), col("total_tokens"),
        col("n_short"),
        round(col("n_short").cast("double") /
          col("n_docs").cast("double"), 6).as("short_ratio"))
      .orderBy(col(sourceCol))

  /** Per-group vocabulary divergence from the corpus: KL(p_group ||
    * p_corpus) over the group's own unigram support — the
    * token-distribution drift signal (PSI's q118 sibling for TEXT).
    * A source whose word distribution diverges hard from the corpus
    * is jargon, boilerplate, or the wrong language — the cheap gate
    * read before the per-doc LM scorers (q71/q92) spend anything.
    *
    * KL is exact, not smoothed: every word in a group's support is in
    * the corpus support by construction, so
    * `Σ_w p_g(w)·ln(p_g(w)/p_c(w))` has no zero denominators and
    * needs no Laplace floor (and absent words contribute exactly 0).
    * Determinism is the q104/q118 lift discipline: both factors
    * rounded to 6 dp, lifted to 1e6-scaled BIGINTs through
    * DECIMAL(18,6), the per-word products summed as DECIMAL(38,0) —
    * every decimal→double conversion is of an integer.
    *
    * Scale shape: one (group, word) count with map-side combine, one
    * word-keyed equi-join onto the global word counts (both sides
    * aggregates — sort-merge on the word key, never a broadcast of a
    * corpus-sized vocabulary), group totals broadcast back. Cost is
    * bounded by the distinct (group, word) mass, not the token
    * stream. */
  def vocabDivergence(df: DataFrame, textCol: String, groupCol: String)
      : DataFrame = {
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("vd_g"),
        explode(graft.functions.TextOps.words(col(textCol))).as("vd_w"))
      // split(trim(...)) yields "" tokens around non-space whitespace
      // and on empty text — drop them identically to the oracle
      .filter(length(col("vd_w")) > 0)
    val sw = words.groupBy(col("vd_g"), col("vd_w"))
      .agg(count(lit(1)).as("c_sw"))
    val cw = words.groupBy(col("vd_w")).agg(count(lit(1)).as("c_w"))
    val ns = sw.groupBy(col("vd_g")).agg(sum(col("c_sw")).as("n_s"),
      count(lit(1)).as("vocab_s"))
    val nt = cw.agg(sum(col("c_w")).as("n_t"))
    val j = sw.join(cw, "vd_w")
      .join(broadcast(ns), "vd_g")
      .crossJoin(broadcast(nt))
    val ps = col("c_sw").cast("double") / col("n_s").cast("double")
    val pc = col("c_w").cast("double") / col("n_t").cast("double")
    val term = lift6(ps) * lift6(log(ps / pc))
    j.groupBy(col("vd_g")).agg(
      first(col("n_s")).as("n_tokens"),
      first(col("vocab_s")).as("vocab_size"),
      round(sum(term.cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .cast("double") / lit(1e12), 6).as("kl"))
      .select(col("vd_g").as(groupCol), col("n_tokens"),
        col("vocab_size"), col("kl"))
      .orderBy(col(groupCol))
  }

  /** Top-k distinctive terms per group by smoothed log-odds vs the
    * rest of the corpus — the "name the words" companion to
    * [[vocabDivergence]] (KL says a source's vocabulary drifted;
    * this says WHICH terms carry it — the shortlist a curation run
    * reads before deciding whether drift is topical or boilerplate):
    *
    *   score(w,s) = ln((c_sw+1)/(n_s−c_sw+1))
    *              − ln((c_w−c_sw+1)/((n_t−n_s)−(c_w−c_sw)+1))
    *
    * (add-one log-odds ratio; both denominators are nonnegative by
    * construction since a group's occurrences never exceed its
    * tokens). Each ln argument is a ratio of exact integers evaluated
    * in one IEEE division, 6-dp rounded and 1e6-lifted (the q104
    * discipline), so the score is an exact integer difference / 1e6 —
    * engine-identical. The rank window runs over the (group, word)
    * AGGREGATE, never the row stream — bounded by distinct vocabulary
    * mass per group (the q122 bound), which is why a window is safe
    * here where q113 had to avoid one. */
  def distinctiveTerms(df: DataFrame, textCol: String, groupCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def l6(c: Column): Column =
      round(log(c), 6).cast(org.apache.spark.sql.types.DecimalType(18, 6))
        .multiply(lit(1000000)).cast("long")
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(groupCol).as("dt_g"),
        explode(graft.functions.TextOps.words(col(textCol))).as("dt_w"))
      .filter(length(col("dt_w")) > 0)
    val sw = words.groupBy(col("dt_g"), col("dt_w"))
      .agg(count(lit(1)).as("n_sw"))
    val cw = words.groupBy(col("dt_w")).agg(count(lit(1)).as("c_w"))
    val ns = sw.groupBy(col("dt_g")).agg(sum(col("n_sw")).as("n_s"))
    val nt = cw.agg(sum(col("c_w")).as("n_t"))
    val inS = (col("n_sw") + 1).cast("double") /
      (col("n_s") - col("n_sw") + 1).cast("double")
    val rest = col("c_w") - col("n_sw")
    val inR = (rest + 1).cast("double") /
      (col("n_t") - col("n_s") - rest + 1).cast("double")
    val scored = sw.join(cw, "dt_w")
      .join(broadcast(ns), "dt_g")
      .crossJoin(broadcast(nt))
      .withColumn("__sl", l6(inS) - l6(inR))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dt_g"))
      .orderBy(col("__sl").desc, col("dt_w"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("dt_g").as(groupCol), col("rank"),
        col("dt_w").as("term"), col("n_sw"),
        (col("__sl").cast("double") / lit(1e6)).as("score"))
      .orderBy(col(groupCol), col("rank"))
  }

  /** Graded contamination score per eval document — the fraction of
    * its distinct k-shingles present anywhere in the training corpus:
    * the GRADED complement to the binary decontamination family
    * (exact q63, Bloom q84, fuzzy q99). Binary gates answer "drop or
    * keep"; this answers "how compromised is the benchmark" (an eval
    * set whose median doc shares 40% of its shingles with train is
    * measuring memorization even after exact-match filtering).
    *
    * The shingle kernel is the dedup SET convention
    * ([[graft.operators.Dedup.shingles]] — short docs collapse to one
    * whole-text shingle). Train reduces to its DISTINCT shingle set
    * (aggregate-bounded); the hit count is a semi-join of the eval
    * shingle stream against it — shuffle-partitionable on the shingle
    * key, nothing driver-sized; the fraction is one IEEE division of
    * exact longs. Null-text eval docs drop (the scorer convention). */
  def contaminationScore(eval: DataFrame, train: DataFrame,
      idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val es = eval.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(graft.operators.Dedup.shingles(col(textCol), k)).as("__sh"))
    val ts = train.filter(col(textCol).isNotNull)
      .select(explode(
        graft.operators.Dedup.shingles(col(textCol), k)).as("__sh"))
      .distinct()
    val tot = es.groupBy(col("__id")).agg(count(lit(1)).as("n_shingles"))
    val hit = es.join(ts, Seq("__sh"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 6).as("contamination"))
      .orderBy(col(idCol))
  }

  /** Heaps-law profile: vocabulary size at geometric prefixes of the
    * doc-order token stream — V(n) at n = 16, 32, 64, … and the full
    * corpus. On natural text V(n) ≈ K·n^β (β ≈ 0.5); a curve that
    * SATURATES (flat after small n) is the closed-vocabulary
    * signature under which shingle df grows ∝ N and df caps stop
    * pruning — the companion measurement to [[zipfFit]], read from
    * the same corpus the cap decision targets.
    *
    * Scale: global token positions come from the q80 two-phase prefix
    * scan over per-DOC token counts (doc-bounded, never a global
    * window over the token stream); each term reduces to its min
    * first-occurrence position (map-side combinable); the ≤64 sample
    * counts are conditional sums in ONE aggregate over the term
    * frame, whose single output row is the only thing the driver ever
    * holds. Exact integers end to end — no floats, so
    * partition-layout independence is structural. */
  def heapsProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        graft.functions.TextOps.words(col(textCol)).as("__ws"))
    val counts = words.select(col("__doc"), size(col("__ws")).cast("long").as("__n"))
    val total = counts.agg(coalesce(sum(col("__n")), lit(0L))).first().getLong(0)
    if (total == 0L)
      return Seq.empty[(Long, Long)].toDF("sample_n", "vocab")
    // doc start offset = cumulative tokens before the doc (q80 scan;
    // the budget is irrelevant — only cum_tokens is used)
    val offs = Packing.tokenShards(counts, "__doc", "__n", budget = 1L << 60)
      .select(col("__doc"), (col("cum_tokens") - col("__n")).as("__start"))
    val first = words.join(offs, "__doc")
      .select(col("__start"), posexplode(col("__ws")).as(Seq("__i", "__term")))
      .select(col("__term"), (col("__start") + col("__i") + 1).as("__pos"))
      .groupBy(col("__term")).agg(min(col("__pos")).as("__first"))
    val points = (Iterator.iterate(16L)(_ * 2).takeWhile(_ < total).toSeq :+ total)
    val aggs = points.zipWithIndex.map { case (p, j) =>
      sum(when(col("__first") <= p, 1L).otherwise(0L)).as(s"__v$j") }
    val r = first.agg(aggs.head, aggs.tail: _*).first()
    points.zipWithIndex.map { case (p, j) => (p, r.getLong(j)) }
      .toDF("sample_n", "vocab")
      .orderBy(col("sample_n"))
  }

  /** Zipf diagnostic over the corpus vocabulary: least-squares fit of
    * ln(tf) against ln(rank) over the (tf desc, term) rank order —
    * natural text reads slope ≈ −1; a flat slope is the
    * closed-vocabulary signature under which shingle df grows ∝ N and
    * caps like `maxShingleDf` stop pruning (the r11/r12 scaling-study
    * lesson, measurable per-corpus before choosing mitigation).
    *
    * Scale: the regression runs over the VOCABULARY (sub-linear in
    * corpus size on natural text), and the global rank is the q80
    * two-phase prefix scan — range-partition by (tf desc, term),
    * per-partition counts to a driver prefix of n_partitions longs,
    * within-partition row_number + offset — never a single-partition
    * global window. Log terms round to 6 dp and sum as exact DECIMAL
    * partials (order-independent); the closed-form slope/intercept are
    * evaluated in IEEE double on those exact sums, so the result is
    * bit-identical at any partitioning and replayable in ANSI SQL.
    * Returns one row: (n_terms, total_tokens, zipf_slope,
    * zipf_intercept); slope/intercept are null below 2 distinct
    * ln(rank) values (degenerate fit). */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sparkContext.defaultParallelism
    val tf = df.filter(col(textCol).isNotNull)
      .select(explode(graft.functions.TextOps.words(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // materialize the range partitioning once: the partial-count job
    // and the rank pass must see the same row→partition assignment
    val base = tf.repartitionByRange(n, col("tf").desc, col("term"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val partials = base.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxPid = if (partials.isEmpty) 0 else partials.keys.max
    val prefix: Map[Int, Long] = (0 to maxPid)
      .scanLeft(0L)((acc, p) => acc + partials.getOrElse(p, 0L))
      .dropRight(1).zipWithIndex.map { case (s, p) => p -> s }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("tf").desc, col("term"))
    val ranked = base.withColumn("__rank",
      row_number().over(w).cast("long") + element_at(typedlit(prefix), col("__pid")))
    // 1e6-scaled integer log terms: round(ln, 6 dp) is engine-portable
    // (the q92 discipline), and the ×1e6 lift runs in DECIMAL so it is
    // exact (a double multiply + truncating cast would diverge between
    // Spark's truncate and DuckDB's round). Products are per-row
    // BIGINT (|x6| ≤ ~4e7 → product < 2^62), summed as DECIMAL(38,0)
    // — exact integers at any corpus size, and the final
    // decimal→double conversions are of INTEGERS, which both engines
    // round identically (a scale-12 decimal sum would risk a ULP
    // difference in the conversion itself).
    def scaled(c: Column): Column =
      (round(log(c), 6).cast("decimal(18,6)") * lit(1000000)).cast("bigint")
    val sums = ranked
      .select(scaled(col("__rank").cast("double")).as("__x"),
        scaled(col("tf").cast("double")).as("__y"), col("tf"))
      .agg(count(lit(1)).as("__n"), sum(col("tf")).as("__tok"),
        sum(col("__x").cast("decimal(38,0)")).as("__sx"),
        sum(col("__y").cast("decimal(38,0)")).as("__sy"),
        sum((col("__x") * col("__x")).cast("decimal(38,0)")).as("__sxx"),
        sum((col("__x") * col("__y")).cast("decimal(38,0)")).as("__sxy"))
    val nD = col("__n").cast("double")
    val sx = col("__sx").cast("double") / lit(1e6)
    val sy = col("__sy").cast("double") / lit(1e6)
    val sxx = col("__sxx").cast("double") / lit(1e12)
    val sxy = col("__sxy").cast("double") / lit(1e12)
    val denom = nD * sxx - sx * sx
    val slope = (nD * sxy - sx * sy) / denom
    sums.select(col("__n").cast("bigint").as("n_terms"),
      col("__tok").cast("bigint").as("total_tokens"),
      round(when(denom =!= lit(0.0), slope), 6).as("zipf_slope"),
      round(when(denom =!= lit(0.0), (sy - slope * sx) / nD), 6)
        .as("zipf_intercept"))
  }

  /** Per-doc top-k keyword extraction by tf·idf — the document-tagging
    * complement to [[distinctiveTerms]]' group-level log-odds (what is
    * THIS doc about, not what makes a SOURCE distinctive). Cross-engine
    * exact per the q104/q126 disciplines: idf = ln(N/df) where the ln
    * arg is ONE IEEE division of exact longs, the result 6-dp-lifted
    * to a 1e6-scaled BIGINT; score = tf · idf6 in exact integer
    * arithmetic, so ranks and scores replay bit-for-bit in ANSI.
    *
    * Plan: doc-term counts (map-side combinable), df derived FROM the
    * doc-term aggregate (one row per (doc, word) — never a second text
    * scan), the word rejoin `merge`-hinted (both sides aggregates; at
    * Heaps-scale vocab a broadcast estimate of the df side is the
    * documented AQE OOM shape — the q122 posture), N as a 1-row
    * broadcast cross join, and the rank window over the per-doc
    * VOCAB-BOUNDED aggregate (the q126-safe window, not a row-stream
    * window). */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("tk_d"),
        explode(graft.functions.TextOps.words(col(textCol))).as("tk_w"))
      .filter(length(col("tk_w")) > 0)
    val tf = words.groupBy(col("tk_d"), col("tk_w"))
      .agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy(col("tk_w"))
      .agg(count(lit(1)).as("df_w"))
    val nd = tf.agg(count_distinct(col("tk_d")).as("__n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tk_d"))
      .orderBy(col("__s6").desc, col("tk_w"))
    tf.join(dfw.hint("merge"), Seq("tk_w"))
      .crossJoin(broadcast(nd))
      .withColumn("__s6", col("tf") * lift6(log(
        col("__n_docs").cast("double") / col("df_w").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("tk_d").as(idCol), col("rank"),
        col("tk_w").as("term"), col("tf"), col("df_w"),
        (col("__s6").cast("double") / lit(1e6)).as("score"))
      .orderBy(col(idCol), col("rank"))
  }

  /** Mutual information (+ marginal entropies) between two categorical
    * columns — the field-association audit behind curation decisions
    * like "is `source` language-segregated?" or "does this metadata
    * field carry any signal about that one?": MI = Σ p(x,y)·ln(p(x,y)
    * / (p(x)p(y))) in nats, with H(A) and H(B) alongside so callers
    * can normalize (NMI = mi/min(h_a,h_b) etc.). [[pmiCollocations]]
    * is the per-PAIR pointwise view over bigrams; this is its
    * expectation over two whole fields.
    *
    * Cross-engine exact per the q104/q143 disciplines: every share is
    * an IEEE division of exact longs, the ln arg the SAME expression
    * tree in both engines, both 6-dp-lifted; terms are products of
    * lifted ints summed in DECIMAL(38,0), unscaled once by 1e12.
    * Exactly-independent counts give ln(1)=0 per cell — MI reads an
    * exact 0.0, not an epsilon.
    *
    * Plan: ONE scan into the (a, b) contingency aggregate; marginals
    * and the total derive from it (never a second scan); the marginal
    * rejoins are `merge`-hinted (agg-then-rejoin — at high category
    * cardinality a broadcast estimate of an aggregate side is the
    * documented AQE OOM shape); the three 1-row reductions assemble by
    * broadcast cross join. State is bounded by |A|·|B| distinct pairs
    * — intended for categorical fields, not free text. Null rows (in
    * either column) are excluded. */
  def fieldAssociation(df: DataFrame, colA: String, colB: String)
      : DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .select(col(colA).as("fa_a"), col(colB).as("fa_b"))
    // materialized ONCE: the marginal/total/MI branches and the four
    // 1-row broadcast subtrees would otherwise each recompute the scan
    // + contingency aggregate (the r11 union-recompute lesson — AQE
    // does not reuse exchanges across broadcast subtrees); the frame
    // is |A|·|B| rows, checkpoint-cheap
    val cxy = base.groupBy(col("fa_a"), col("fa_b"))
      .agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()
    val cx = cxy.groupBy(col("fa_a")).agg(sum(col("c_xy")).as("c_x"))
    val cy = cxy.groupBy(col("fa_b")).agg(sum(col("c_xy")).as("c_y"))
    val nRow = cx.agg(sum(col("c_x")).as("n_rows"))
    val pxy = col("c_xy").cast("double") / col("n_rows").cast("double")
    val px = col("c_x").cast("double") / col("n_rows").cast("double")
    val py = col("c_y").cast("double") / col("n_rows").cast("double")
    val miRow = cxy
      .join(cx.hint("merge"), Seq("fa_a"))
      .join(cy.hint("merge"), Seq("fa_b"))
      .crossJoin(broadcast(nRow))
      .withColumn("__t",
        (lift6(pxy) * lift6(log(pxy / (px * py)))).cast(dec38))
      .agg(sum(col("__t")).as("__mi"))
    def hRow(cFrame: DataFrame, cName: String, out: String) = {
      val p = col(cName).cast("double") / col("n_rows").cast("double")
      cFrame.crossJoin(broadcast(nRow))
        .withColumn("__t", (lift6(p) * lift6(log(p))).cast(dec38))
        .agg(sum(col("__t")).as(out))
    }
    nRow.crossJoin(broadcast(miRow))
      .crossJoin(broadcast(hRow(cx, "c_x", "__ha")))
      .crossJoin(broadcast(hRow(cy, "c_y", "__hb")))
      .select(col("n_rows"),
        round(-col("__ha").cast("double") / lit(1e12), 6).as("h_a"),
        round(-col("__hb").cast("double") / lit(1e12), 6).as("h_b"),
        round(col("__mi").cast("double") / lit(1e12), 6).as("mi"))
  }

  /** Per-doc n-gram novelty — the fraction of a doc's distinct
    * k-shingles that appear in NO other document (corpus df == 1):
    * the memorization/boilerplate audit. Low novelty = the doc is
    * assembled from corpus-common n-grams (template mass, near-dup
    * residue the pair threshold missed); high novelty = genuinely new
    * text. Complements [[contaminationScore]] (overlap vs an EXTERNAL
    * train set) with the corpus-internal view.
    *
    * Cost is LINEAR in total shingle mass — df is a map-side-combined
    * aggregate and each doc-shingle row picks up its df through one
    * shingle-keyed equi-join; no pair stream exists (the q22 quadratic
    * regime never applies). The df rejoin is an agg-then-self-rejoin →
    * `merge`-hinted (AQE's broadcast estimate of a multi-million-row
    * aggregate side is the documented OOM shape). One IEEE division
    * per doc, 6-dp rounded. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ds = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(graft.operators.Dedup.shingles(col(textCol), k)).as("__sh"))
    val dfreq = ds.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
    ds.join(dfreq.hint("merge"), Seq("__sh"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double")
          / col("n_shingles").cast("double"), 6).as("novelty"))
      .orderBy(col(idCol))
  }

  /** Tokenizer fertility audit — per-group (usually per-source) BPE
    * tokens-per-word and tokens-per-byte: the pre-packing budget check
    * that names which sources inflate the token count (non-Latin
    * scripts, code, boilerplate markup all tokenize hot). Fertility is
    * THE tokenizer-quality metric pretraining recipes watch; here it
    * composes the existing real-BPE kernel (`BpeDocStats`, the q75
    * surface) with one map-side-combinable aggregate — a single linear
    * pass, no shuffle beyond the |groups|-row hash agg. Word counts
    * use `TextOps.tokenCount` (empty → 0, the q15 oracle semantics);
    * bytes are UTF-8 `octet_length`. Ratios are 6-dp IEEE divisions of
    * exact BIGINT sums (NULL when the denominator is 0). Returns
    * (group, n_docs, n_tokens, n_words, n_bytes, tokens_per_word,
    * tokens_per_byte) ordered by group. */
  def tokenFertility(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val st = graft.functions.TextOps.bpeDocStats(col(textCol), 64)
    df.filter(col(textCol).isNotNull)
      .select(col(groupCol),
        st.getField("n_tokens").cast("long").as("__t"),
        graft.functions.TextOps.tokenCount(col(textCol)).cast("long").as("__w"),
        octet_length(col(textCol)).cast("long").as("__b"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("n_bytes"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        col("n_words"), col("n_bytes"),
        when(col("n_words") > 0,
          round(col("n_tokens").cast("double")
            / col("n_words").cast("double"), 6)).as("tokens_per_word"),
        when(col("n_bytes") > 0,
          round(col("n_tokens").cast("double")
            / col("n_bytes").cast("double"), 6)).as("tokens_per_byte"))
      .orderBy(col(groupCol))
  }

  /** Tokenizer-refresh audit (q201) — the tokenizer-freshness twin of
    * q200's quantizer trigger: RETRAIN the BPE merge table on the
    * current snapshot ([[graft.functions.BpeTrain]] — the q86
    * deterministic trainer, driver-merged partial maps) and report
    * per-group fertility under the PRODUCTION table vs the fresh one,
    * side by side from ONE scan: (group, n_docs, n_words, n_bytes,
    * tokens_old, tokens_new, tpw_old, tpw_new), ordered by group. The
    * groups whose tokens_new/tokens_old ratio is worst are the corpora
    * the production tokenizer no longer fits — the report a packing
    * run (q80/q95) reads before re-budgeting shards.
    *
    * Both counts ride codegen-fallback kernels over the same projected
    * row ([[graft.expressions.BpeDocStats]] for the resource table,
    * [[graft.expressions.BpeTokenCountTable]] for the trained one —
    * the fresh merges travel inside the serialized expression, no
    * executor-side file). Fertilities are `round(tokens/words, 6)`
    * IEEE doubles of exact longs (the q155 discipline); deltas in
    * exact BIGINT stay with the caller (never DIV a possibly-negative
    * numerator — the r19 `//`-vs-DIV trap). Differential oracle: the
    * independent Python trainer + encoder replay the whole audit
    * (tools/gen_expected.py gen_q201). */
  def tokenizerRefreshAudit(df: DataFrame, groupCol: String,
      textCol: String, nMerges: Int = 40): DataFrame = {
    val merges = graft.functions.BpeTrain
      .train(graft.functions.BpeTrain.wordHistogram(df, textCol), nMerges)
      .map(m => (m.leftHex, m.rightHex))
    val stOld = graft.functions.TextOps.bpeDocStats(col(textCol), 64)
    val newCount =
      graft.expressions.TextExpressions.bpeTokenCountTable(col(textCol), merges)
    df.filter(col(textCol).isNotNull)
      .select(col(groupCol),
        stOld.getField("n_tokens").cast("long").as("__to"),
        newCount.cast("long").as("__tn"),
        graft.functions.TextOps.tokenCount(col(textCol)).cast("long").as("__w"),
        octet_length(col(textCol)).cast("long").as("__b"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("n_bytes"),
        sum(col("__to")).as("tokens_old"),
        sum(col("__tn")).as("tokens_new"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_bytes"),
        col("tokens_old"), col("tokens_new"),
        when(col("n_words") > 0,
          round(col("tokens_old").cast("double")
            / col("n_words").cast("double"), 6)).as("tpw_old"),
        when(col("n_words") > 0,
          round(col("tokens_new").cast("double")
            / col("n_words").cast("double"), 6)).as("tpw_new"))
      .orderBy(col(groupCol))
  }

  /** Effective sample size of a weighted corpus — ESS = (Σw)²/Σw²,
    * the mixing diagnostic read after building sampling weights
    * ([[temperatureResample]], [[mixToBudget]]): how many EQUALLY-
    * weighted examples this weighted set is worth. ESS ≈ n means the
    * weights are near-uniform; ESS ≪ n means a few heavy rows dominate
    * and the mix is effectively tiny. Exact: weights 6-dp-lift to
    * longs, Σw6 and Σw6² accumulate in DECIMAL(38,0), the ratio is
    * one IEEE division of correctly-rounded exact integers — the 1e12
    * scales of (Σw6)² and Σ(w6²) cancel exactly, so the division is
    * dimensionless. Non-positive and null weights are excluded (ESS
    * is defined over positive weights). */
  def effectiveSampleSize(df: DataFrame, weightCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w6 = round(col(weightCol), 6)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6))
      .multiply(lit(1000000)).cast("long")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(w6.as("__w"))
      .agg(count(lit(1)).as("n"),
        sum(col("__w").cast(dec)).as("__s"),
        sum((col("__w").cast(dec) * col("__w").cast(dec)).cast(dec))
          .as("__s2"))
      .select(col("n"),
        round(col("__s").cast("double") / lit(1e6), 6).as("sum_w"),
        round((col("__s") * col("__s")).cast("double")
          / col("__s2").cast("double"), 6).as("ess"))
  }
}
