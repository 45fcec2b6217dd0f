package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.{Analytics, Dedup, Funnel, NoiseFilter}

/** `curate`: training-data curation of a message corpus whose contacts
  * are Zipf-skewed and whose hottest text is boilerplate. One pass:
  * NoiseFilter → TextOps language and quality gate → Dedup.exact,
  * written once (the near-dup stage reads its input twice) →
  * Dedup.ngramJaccardPairs per contact (k = 3, threshold 0.5,
  * maxShingleDf = 64), written → Dedup.keepFirst, written as the
  * curated set → Analytics.quantiles of tokens per contact, collected.
  * Passes repeat over the same corpus until the run's time is up.
  *
  * Operation = one pass, input to curated set plus quantiles. */
object Curate {
  val ShingleK = 3
  val Threshold = 0.5
  val MaxShingleDf = 64
  val MinPasses = 2

  /** The gate and exact dedup as named funnel stages (the q56 chain). */
  val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
    "noise" -> ((df: DataFrame) => NoiseFilter(df, "text")),
    "lang" -> ((df: DataFrame) =>
      df.withColumn("__ts", TextOps.textStats(TextOps.words(lower(col("text"))),
          TextOps.langOrder.map(TextOps.stopwords)))
        .filter(TextOps.langIdFromStats(col("__ts")) === "en")),
    "quality" -> ((df: DataFrame) => {
      val n = col("__ts").getField("n_words")
      val hits = element_at(col("__ts").getField("hits"), 1)
      val alpha = col("__ts").getField("alpha_hits")
      df.withColumn("score", TextOps.qualityScore(n,
          hits.cast("double") / n.cast("double"),
          alpha.cast("double") / n.cast("double")))
        .filter(col("score") >= 0.2).drop("__ts")
    }),
    "exact_dedup" -> ((df: DataFrame) => Dedup.exact(df, "doc_id", "text")))

  /** Set up (warm-up pass) and return the timed part. */
  def setup(c: Ctx): () => Unit = {
    val spark = c.spark
    val res = c.res
    val tr = c.tr
    val man = Json.read(c.input("manifest.json"))
    val inputRows = man.get("input_rows").asLong
    val bodyBytes = man.get("input_body_bytes").asDouble
    val corpus = c.input("corpus")
    val schema = spark.read.parquet(corpus).schema
    val out = c.work("curate")
    def source: DataFrame = read(corpus)
    def read(dir: String) = spark.read.schema(schema).parquet(dir)
      .select(col("msg_id").as("doc_id"), col("source"), col("body").as("text"))
    def observe(df: DataFrame, traced: Boolean, st: Seq[(String, DataFrame => DataFrame)])
        : (DataFrame, Seq[(String, Observation)]) =
      if (traced) Funnel.observed(df, st)
      else (st.foldLeft(df)((d, s) => s._2(d)), Nil)
    val funnel = mutable.LinkedHashMap.empty[String, Long]
    def counts(obs: Seq[(String, Observation)]): Unit =
      obs.zip(obs.drop(1)).foreach { case ((_, oi), (name, oo)) =>
        funnel(s"Funnel.$name.n_in") = oi.get("n").asInstanceOf[Long]
        funnel(s"Funnel.$name.n_out") = oo.get("n").asInstanceOf[Long]
      }

    def pass(traced: Boolean, input: String = corpus): Array[org.apache.spark.sql.Row] =
        tr.span("pass") {
      val (gated, gateObs) = tr.span("construct")(observe(read(input), traced, stages))
      tr.span("Dedup.exact")(gated.write.mode("overwrite").parquet(s"$out/dedup"))
      val dd = spark.read.schema(gated.schema).parquet(s"$out/dedup")
      val pairsDf = tr.span("construct") {
        Dedup.ngramJaccardPairs(dd, "doc_id", "text", "source", ShingleK, Threshold,
          maxShingleDf = MaxShingleDf)
      }
      tr.span("Dedup.ngramJaccardPairs") {
        pairsDf.write.mode("overwrite").parquet(s"$out/pairs")
      }
      val pairs = spark.read.schema(pairsDf.schema).parquet(s"$out/pairs")
      val (kept, nearObs) = tr.span("construct") {
        observe(dd, traced, Seq("near_dup" ->
          ((d: DataFrame) => Dedup.keepFirst(d, "doc_id", pairs))))
      }
      val curated = kept.withColumn("tokens", TextOps.tokenCount(col("text")))
      tr.span("Dedup.keepFirst") {
        curated.write.mode("overwrite").parquet(s"$out/curated")
      }
      val q = tr.span("Analytics.quantiles") {
        Analytics.quantiles(spark.read.schema(curated.schema).parquet(s"$out/curated"),
          "source", "tokens").collect()
      }
      counts(gateObs)
      counts(nearObs)
      q
    }

    // warm-up: one pass over a small corpus of the same shape
    tr.traced(enabled = false)(pass(traced = false, c.input("warmup")))

    res.phase("warm-up done")
    () => {
      val passMs = mutable.ArrayBuffer.empty[Double]
      var tracedMs = 0.0
      if (c.o.trace) {
        tr.request()
        tracedMs = Io.timed(pass(traced = true))._2
        res.attempted += 1
      }
      var last: Array[org.apache.spark.sql.Row] = Array.empty
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < c.o.seconds || passMs.size < MinPasses) {
        res.attempted += 1
        val (q, ms) = Io.timed(tr.traced(enabled = false)(pass(traced = false)))
        last = q
        passMs += ms
      }
      res.phase(s"passes: ${passMs.map(_.round).mkString(" ")}")
      res.put("throughput_per_s", inputRows * passMs.size / (passMs.sum / 1000.0))
      res.put("op_p50_ms", Stats.median(passMs.toSeq))
      res.put("op_p90_ms", Stats.pct(passMs.toSeq, 90))
      res.put("output_bytes_per_input_byte", Io.bytes(s"$out/curated") / bodyBytes)
      res.put("ops", passMs.size.toDouble)
      c.res.info("quantiles") = last.map { r =>
        Seq(r.getLong(0).toDouble, r.getDouble(1), r.getDouble(2), r.getDouble(3))
          .map(Json.num).mkString("[", ",", "]")
      }.mkString("[", ",", "]")
      c.res.info("out") = Json.str(out)

      if (c.o.trace) {
        val passes = tr.named("pass")
        Layers.opWork(c, passes)
        funnel.foreach { case (k, v) => res.put(k, v.toDouble) }
        // prefix materializations for the exact-dedup self time, and the
        // candidate pairs the near-dup join verifies
        val gate = stages.dropRight(1).foldLeft(source)((d, s) => s._2(d))
        val gateMs = Io.timed(tr.span("prefix.gate")(Io.noop(gate)))._2
        val exactMs = Io.timed(tr.span("prefix.exact")(Io.noop(stages.last._2(gate))))._2
        val dd = spark.read.parquet(s"$out/dedup")
        val candidates = tr.span("prefix.candidates") {
          Dedup.ngramJaccardPairs(dd, "doc_id", "text", "source", ShingleK, 0.0,
            maxShingleDf = MaxShingleDf).count()
        }
        val confirmed = spark.read.parquet(s"$out/pairs").count()
        res.put("Dedup.candidate_pairs", candidates.toDouble)
        res.put("Dedup.confirmed_pairs", confirmed.toDouble)
        def named(n: String) = tr.named(n).filter(s => passes.exists(_.id == s.parent))
        val dedupSpans = Seq("Dedup.ngramJaccardPairs", "Dedup.keepFirst").flatMap(named)
        Layers.shuffleWork(c, "Dedup", named("Dedup.exact") ++ dedupSpans,
          (exactMs - gateMs) + dedupSpans.map(_.ms).sum)
        val qs = named("Analytics.quantiles")
        Layers.shuffleWork(c, "Analytics.quantiles", qs, qs.map(_.ms).sum)
        Layers.overhead(c, Seq(tracedMs), passMs.toSeq)
      }
    }
  }
}
