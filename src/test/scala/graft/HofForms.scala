package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}

/** The higher-order-function formulations (interpreted `aggregate` /
  * `zip_with` folds) that the codegen'd kernels must match value for
  * value. Imported as extensions, so a spec cross-checks
  * `TextOps.fingerprint` against `TextOps.fingerprintHof`. */
object HofForms {

  implicit class TextOpsHof(private val t: TextOps.type) extends AnyVal {

    /** ceil(len(word)/4) summed over the words: `bpeTokenEstimate`. */
    def bpeTokenEstimateHof(text: Column): Column =
      when(length(trim(text)) === 0, lit(0)).otherwise(
        aggregate(TextOps.words(text), lit(0),
          (acc, w) => acc + ceil(length(w).cast("double") / 4.0d).cast("int")))

    /** The modular polynomial fold of `fingerprint`. */
    def fingerprintHof(ws: Column): Column =
      aggregate(ws, lit(0L),
        (acc, w) => pmod(acc * lit(1000003L) + hash(w).cast("long"), lit(1000000007L)))
  }

  implicit class VectorOpsHof(private val v: VectorOps.type) extends AnyVal {

    /** The sequential double-precision fold of `dot`. */
    def dotHof(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0),
        (acc, x) => acc + x)

    /** The sequential double-precision (a-b)² fold of `l2DistSq`. */
    def l2DistSqHof(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }),
        lit(0.0),
        (acc, x) => acc + x)
  }
}
