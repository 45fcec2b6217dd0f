package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector column functions over `ArrayType(FloatType|DoubleType)`.
  *
  * The reference stores pgvector `VECTOR(768)` columns
  * (`src/rag/sqlx.rs:42`) but never computes a similarity — pgvector's
  * `<=>` is never used (`src/rag/sqlx.rs:84-92` is the only read, a
  * `SELECT *`). We implement the implied similarity surface natively
  * with Spark higher-order functions, which stay inside whole-stage
  * codegen (no UDF boundary, no serialization).
  *
  * Determinism contract: every accumulation is performed in DOUBLE
  * precision, sequentially in array order — elements are cast to
  * double BEFORE multiplication so the result is bit-identical to an
  * oracle engine (DuckDB `list_dot_product` over `DOUBLE[]`) computing
  * the same left-to-right fold.
  */
object VectorOps {

  /** A constant vector (a probe) as ONE typed `array<double>` literal
    * with non-null elements — what `ConstantFolding` reduces
    * `array(v.map(lit): _*)` to, minus the per-element `CreateArray`
    * children the analyzer and optimizer would walk on every query. */
  def vecLit(v: Seq[Double]): Column =
    GraftShims.column(Literal(ArrayData.toArrayData(v.toArray),
      ArrayType(DoubleType, containsNull = false)))

  /** Dot product in double precision, sequential fold in array order —
    * codegen'd kernel (`DotProductD`); bit-identical to the HOF
    * `zip_with` + `aggregate` fold (asserted in VectorOpsSpec) but
    * compiled (the HOF `aggregate` goes through interpreted
    * `ArrayAggregate`, ~50× slower on the pairwise joins). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dotProduct(a, b)

  /** L2 norm, same double-precision sequential fold. */
  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  /** Cosine rounded to 6 decimals — the cross-engine comparison form
    * (absorbs last-ulp differences between fold implementations). */
  def cosine6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** Squared euclidean distance — codegen'd kernel (`L2DistSqD`), the
    * same sequential (a-b)² fold in double precision as the HOF form
    * (bit-identical; asserted in VectorOpsSpec). */
  def l2DistSq(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.l2DistSq(a, b)

  /** L2-normalize a vector; zero vectors map to zero vectors. */
  def l2Normalize(a: Column): Column = {
    val n = norm2(a)
    transform(a, x => when(n === 0.0, lit(0.0)).otherwise(x.cast("double") / n))
  }

  /** Deterministic offline hash-embedding: bucket-count words with
    * murmur3 (`hash`, seed 42 — stable across runs and JVMs) into `dim`
    * buckets, then L2-normalize. Replaces the reference's Ollama
    * `nomic-embed-text` HTTP call (`src/rag/dataframes.rs:113-151`) so
    * tests need no service; dimension parameterized (64 matches the
    * fixture corpus, 768 matches the reference schema).
    *
    * Single-pass kernel (`HashEmbed`): bucket = floorMod(murmur3(w, 42),
    * dim) — identical to the `pmod(hash(w), dim)` built-in formulation,
    * one traversal instead of a dim × |words| interpreted filter-fold.
    */
  def hashEmbed(words: Column, dim: Int): Column =
    graft.expressions.VectorExpressions.hashEmbed(words, dim)

  /** SimHash-style bit signature of a float vector: sign of the dot
    * product against `nBits` deterministic pseudo-random hyperplanes
    * (plane p, dim i coefficient = murmur3(i, seed=p) mapped to
    * [-1, 1]). Used as the LSH prefilter for approximate nearest
    * neighbors — vectors in the same band bucket are candidate
    * neighbors, so the quadratic cosine join only runs within buckets
    * (the 100 TB path). Codegen'd single-pass kernel.
    */
  def hyperplaneBits(vec: Column, nBits: Int): Column =
    graft.expressions.VectorExpressions.hyperplaneBits(vec, nBits)

  // --- int8 scalar quantization (storage path) -----------------------

  /** Per-vector affine int8 quantization scale: (max-min)/255. The 4×
    * compression step a 100 TB embedding corpus takes before storage /
    * ANN indexing. All arithmetic in DOUBLE so an oracle engine
    * reproduces it bit-for-bit. */
  def int8Scale(vec: Column): Column =
    (array_max(vec).cast("double") - array_min(vec).cast("double")) / lit(255.0)

  /** Quantized codes q_i = round((x_i - min)/scale) ∈ [0, 255];
    * constant vectors (scale 0) quantize to all-zero. Reconstruction
    * error is bounded by scale/2 (asserted in VectorOpsSpec). */
  def int8Quantize(vec: Column): Column = {
    val mn = array_min(vec).cast("double")
    val sc = int8Scale(vec)
    transform(vec, x =>
      when(sc > lit(0.0),
        round((x.cast("double") - mn) / sc, 0).cast("int"))
        .otherwise(lit(0)))
  }
}
