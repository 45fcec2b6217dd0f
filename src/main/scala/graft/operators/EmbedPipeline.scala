package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, StringSplit, StringTrim}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.expressions.HashEmbed
import graft.functions.{TextOps, VectorOps}

/** The flagship §3.1 pipeline composed end-to-end: noise filter →
  * chunk → hash-embed → top-k cosine retrieval against a probe text.
  *
  * Plan discipline (learned from measurement, not guessed): fan once
  * above the single-row-group scan so the codegen'd embed kernel runs
  * on all cores; do NOT add a second compute-once exchange — with the
  * kernel codegen'd, Catalyst re-inlining it per downstream reference
  * is cheaper than an extra shuffle (BenchOne sf0.1: 0.61 s vs 0.99 s
  * with the barrier). The probe embedding is a constant: it is
  * evaluated ONCE on the driver (the same kernel's interpreted eval —
  * bit-identical, no job) and inlined as one array literal, so per-row
  * work is one codegen'd dot product over attributes.
  */
object EmbedPipeline {

  private def par(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** The hash-embedding of a constant text, evaluated on the driver
    * without a job: the `HashEmbed` kernel over `split(trim(text),
    * "\\s+")` ([[TextOps.words]]) built as a Catalyst expression
    * tree and run through its interpreted `eval` — the path
    * `ConstantFolding` takes for a literal text, bit-identical to the
    * per-row evaluation (spec-asserted). */
  def probeVector(spark: SparkSession, text: String, dim: Int): Seq[Double] =
    HashEmbed(StringSplit(StringTrim(Literal(text)), Literal("\\s+"), Literal(-1)), dim)
      .eval().asInstanceOf[ArrayData].toDoubleArray().toSeq

  /** documents(textCol) → noise filter → chunk → embed → top-k cosine
    * vs `probeText`. Returns (idCols..., chunk_id, chunk_tokens, sim).
    */
  def topKForProbe(spark: SparkSession, docs: DataFrame, textCol: String,
      probeText: String, dim: Int, k: Int,
      idealTokens: Int = 32, chunkWords: Int = 24): DataFrame = {
    val probe = probeVector(spark, probeText, dim)
    val probeNorm = math.sqrt(probe.map(x => x * x).sum) // == 1.0 (normalized), kept explicit
    val filtered = NoiseFilter(docs, textCol)
    val embedded = Chunker.chunk(filtered, textCol, idealTokens, chunkWords)
      // parallelize-first: single-row-group sources scan as 1 partition.
      // No second compute-once exchange: with the embed kernel codegen'd,
      // letting TakeOrdered re-inline it beats a barrier (BenchOne sf0.1:
      // 0.61 vs 0.99 s) — same finding as q17/q37/q56 this round.
      .repartition(par(spark), col("doc_id"))
      .withColumn("embedding",
        VectorOps.hashEmbed(TextOps.words(col("chunk_text")), dim))
    rank(embedded, probe, probeNorm, k)
  }

  /** The same flagship pipeline with the embed stage running through a
    * pluggable [[ServiceEmbed]] transport instead of the offline
    * kernel — the production shape when a real embedding service
    * exists (reference: `src/rag/dataframes.rs:113-151`). With
    * [[HashEmbedTransportFactory]] the output is bit-identical to
    * [[topKForProbe]] (asserted in ServiceEmbedSpec); swap in an HTTP
    * factory and nothing else changes. The noise filter stays upstream
    * of the mapPartitions boundary, so discarded rows never reach the
    * service. */
  def topKForProbeService(spark: SparkSession, docs: DataFrame, textCol: String,
      probeText: String, factory: EmbedTransportFactory, dim: Int, k: Int,
      idealTokens: Int = 32, chunkWords: Int = 24): DataFrame = {
    val probe = probeVector(spark, probeText, dim)
    val probeNorm = math.sqrt(probe.map(x => x * x).sum)
    val filtered = NoiseFilter(docs, textCol)
    val chunked = Chunker.chunk(filtered, textCol, idealTokens, chunkWords)
      .repartition(par(spark), col("doc_id"))
    val embedded = ServiceEmbed.withEmbedding(chunked, "chunk_text", factory)
    rank(embedded, probe, probeNorm, k)
  }

  private def rank(embedded: DataFrame, probe: Seq[Double],
      probeNorm: Double, k: Int): DataFrame = {
    embedded
      .withColumn("sim", round(
        VectorOps.dot(col("embedding"), VectorOps.vecLit(probe))
          / (VectorOps.norm2(col("embedding")) * lit(probeNorm)), 6))
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"), col("sim"))
      .orderBy(col("sim").desc, col("doc_id"), col("chunk_id"))
      .limit(k)
  }
}
