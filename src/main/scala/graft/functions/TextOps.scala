package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-training-data surface:
  * tokenization, token counting, language ID, quality scoring, and
  * document fingerprinting. All pure built-in compositions (codegen'd,
  * no UDFs), deterministic, and — except the hash-based fingerprint —
  * reproducible in an ANSI-SQL oracle.
  */
object TextOps {

  /** Whitespace tokenization — the offline substitute for the
    * reference's cl100k BPE (`src/rag/dataframes.rs:33-39`); documented
    * divergence per SURVEY §2.4 A3 (no network → no tiktoken). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Token count; empty string → 0 (preserves the reference's
    * `if string.is_empty() { 0 }` guard, `src/rag/dataframes.rs:34-36`). */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(words(text)))

  /** A BPE-ish token estimate: word-pieces of <=4 chars, i.e.
    * ceil(len(word)/4) summed — approximates subword token inflation
    * for long words without a vocab. Deterministic, oracle-expressible.
    * Codegen'd single-pass kernel (`BpeEstimate`), equal to the HOF
    * fold TextOpsSpec cross-checks it against. */
  def bpeTokenEstimate(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(
      graft.expressions.TextExpressions.bpeEstimate(words(text)))

  /** Chunk count at `chunkWords` words per chunk — the reference's
    * ceil-div (`src/rag/dataframes.rs:72`). */
  def chunkCount(nTokens: Column, chunkWords: Int): Column =
    ceil(nTokens.cast("double") / chunkWords.toDouble).cast("int")

  // --- real BPE (merge-table) tokenization -------------------------------

  /** Byte-pair-encoded token ids over the checked-in merge table — the
    * faithful (offline-trained) replacement for [[bpeTokenEstimate]]'s
    * heuristic; see [[Bpe]]. One codegen'd-kernel pass per row. */
  def bpeTokens(text: Column): Column =
    graft.expressions.TextExpressions.bpeTokens(text)

  /** struct(n_tokens, n_chunks): real BPE token count plus the greedy
    * word-boundary chunk count at `chunkTokens` tokens per chunk (the
    * reference's 512-token boundary, `src/rag/dataframes.rs:48-55`).
    * Verified against an independent Python encoder over the same merge
    * table (`tools/gen_bpe_expected.py` → the q75 DuckDB oracle). */
  def bpeDocStats(text: Column, chunkTokens: Int = 512): Column =
    graft.expressions.TextExpressions.bpeDocStats(text, chunkTokens)

  // --- language ID -------------------------------------------------------

  /** Tiny per-language stopword lists for the n-gram/stopword-hit
    * heuristic. Short, high-frequency function words only. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "les", "des", "est", "que"),
    "es" -> Seq("el", "la", "de", "y", "un", "una", "los", "las", "es", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "不", "人", "这"))

  /** One-pass word statistics: struct(n_words, alpha_hits, hits) with
    * hits(i) counting membership in `lists(i)` — the codegen'd kernel
    * behind quality scoring (q17/q56) and language ID. */
  def textStats(ws: Column, lists: Seq[Seq[String]]): Column =
    graft.expressions.TextExpressions.textStats(ws, lists)

  /** The fixed language order shared by `langId` and callers that
    * consume `textStats` hit arrays directly (q56's curation gate). */
  val langOrder: Seq[String] = Seq("en", "fr", "es", "de", "zh")

  /** Stopword-hit language ID over a precomputed `textStats` struct
    * (hits array in `langOrder`): densest language wins, fixed priority
    * tie-break (en > fr > es > de > zh); no hits at all → "und". */
  def langIdFromStats(stats: Column): Column = {
    val hits = langOrder.indices.map(i => element_at(stats.getField("hits"), i + 1))
    val best = greatest(hits: _*)
    langOrder.indices.foldRight(lit("und")) { (i, els) =>
      when(hits(i) > 0 && hits(i) === best, lit(langOrder(i))).otherwise(els)
    }
  }

  /** Stopword-hit language ID from raw text — one `textStats` kernel
    * pass instead of five interpreted `filter` lambdas per row. */
  def langId(text: Column): Column =
    langIdFromStats(textStats(words(lower(text)), langOrder.map(stopwords)))

  // --- quality scoring ---------------------------------------------------

  /** Deterministic quality signals: word count, mean word length,
    * stopword ratio, alpha ratio. Returned as individual columns by the
    * caller; the composite score is a fixed formula:
    *   score = min(1, words/64) * (0.5 + 0.5*stop_ratio) * alpha_ratio
    * rounded to 6 dp. (Length-capped, stopword-informed, symbol-penalized
    * — the standard cheap pretraining-quality heuristics.)
    */
  def qualityScore(nWords: Column, stopRatio: Column, alphaRatio: Column): Column =
    round(
      least(lit(1.0), nWords.cast("double") / 64.0d)
        * (lit(0.5) + lit(0.5) * stopRatio)
        * alphaRatio,
      6)

  // --- fingerprinting ----------------------------------------------------

  /** Polynomial rolling-hash fingerprint over the word sequence:
    *   fp = fold(words, 0L, (acc, w) -> (acc * 1000003 + murmur3(w)) mod p)
    * with p = 1e9+7 — modular so it never overflows under ANSI mode
    * (acc < 2^30, acc*1000003 + hash < 2^62). Order-sensitive —
    * distinguishes permutations, unlike a bag-of-words hash. Not
    * oracle-expressible (murmur3) → covered by ScalaTest determinism
    * properties instead. Codegen'd kernel (`FingerprintHash`), equal
    * to the HOF fold TextOpsSpec cross-checks it against.
    */
  def fingerprint(ws: Column): Column =
    graft.expressions.TextExpressions.fingerprintHash(ws)
}
