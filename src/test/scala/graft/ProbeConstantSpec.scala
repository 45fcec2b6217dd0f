package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}
import graft.operators.EmbedPipeline
import graft.sources.{StoreFs, VectorStore}

/** The serve path's probe constants are evaluated on the driver and the
  * store schemas come from one footer, so building a top-k probe over
  * any vector index fires no Spark job. The constants must equal the
  * per-row kernels bit for bit, and the footer-read schema must equal
  * Spark's own inference. */
class ProbeConstantSpec extends SparkSpec with AnnCases {
  import spark.implicits._

  private val nBits = 4

  private val texts: Seq[String] = Seq(
    "", " ", "   ", "\t", "\n", " \t\n ", "a", "a b", "  padded  words  ",
    "tab\tseparated\twords", "new\nline\r\nbreaks", "repeat repeat repeat",
    "héllo wörld", "日本語 テキスト", "emoji 😀 mixed", " nbsp ",
    "query filter join aggregate window shuffle",
    "punctuation, dots. and-dashes!? (parens)") ++
    (1 to 40).map(i => (0 until i % 13).map(j => s"w${(i * 31 + j * 7) % 29}")
      .mkString(if (i % 3 == 0) "\t" else " "))

  private def bits(v: Seq[Double]): Seq[Long] =
    v.map(java.lang.Double.doubleToRawLongBits)

  private lazy val store: String = {
    val p = Files.createTempDirectory("graft_probe_store").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", p, nBits)
    p
  }

  /** Jobs started while `body` runs, counted by a listener over a
    * drained bus. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftTestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("probeVector equals the per-row hashEmbed(words) in raw double bits") {
    for (dim <- Seq(64, 768)) {
      val perRow = texts.toDF("t")
        .select($"t", VectorOps.hashEmbed(TextOps.words($"t"), dim).as("e"))
        .as[(String, Seq[Double])].collect().toMap
      // the literal-text column too: the form ConstantFolding evaluates
      val folded = spark.range(1).select(texts.map(t =>
        VectorOps.hashEmbed(TextOps.words(lit(t)), dim)): _*).head()
      texts.zipWithIndex.foreach { case (t, i) =>
        val got = EmbedPipeline.probeVector(spark, t, dim)
        assert(got.length === dim)
        assert(bits(got) === bits(perRow(t)), s"dim $dim text '$t'")
        assert(bits(got) === bits(folded.getSeq[Double](i)), s"dim $dim text '$t'")
      }
    }
  }

  test("probeBuckets.head equals the per-row bucketOf") {
    for (dim <- Seq(64, 768); b <- Seq(nBits, 8)) {
      val probes = texts.map(EmbedPipeline.probeVector(spark, _, dim))
      val perRow = probes.toDF("v")
        .select(VectorStore.bucketOf($"v", b)).as[Int].collect().toSeq
      val got = probes.map(VectorStore.probeBuckets(spark, _, b))
      assert(got.map(_.head) === perRow, s"dim $dim bits $b")
      got.foreach(bs => assert(bs.distinct.length === b + 1))
    }
  }

  test("building probeVector + VectorStore.topK fires no job, with and " +
      "without pending tombstones") {
    val dir = Files.createTempDirectory("graft_probe_jobs").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", dir, nBits)
    val q = "query filter join aggregate window shuffle"
    def build() = VectorStore.topK(spark, dir, "vec_id", "embedding",
      EmbedPipeline.probeVector(spark, q, 64), 5, nBits)
    val warm = build().as[(Long, Double)].collect().toSeq
    assert(jobsDuring(build().collect()) > 0) // the counter sees actions
    assert(jobsDuring(build()) === 0)
    VectorStore.delete(spark, dir, Seq(warm.head._1).toDF("vec_id"))
    assert(jobsDuring(build()) === 0)
    // the masked probe still drops the deleted id
    assert(!build().as[(Long, Double)].collect().exists(_._1 == warm.head._1))

    // every index probe, over the source frame the caller already holds
    val v = annVector(0L)
    // (index, jobs building it, jobs with a pending delete, deleted id
    // still returned)
    val runs = annCases.map { c =>
      val top = c.top(v, 5).as[(Long, Double)].collect().head._1
      val clean = jobsDuring(c.top(v, 5))
      c.delete(Seq(top))
      val masked = jobsDuring(c.top(v, 5))
      (c.name, clean, masked,
        c.top(v, 5).as[(Long, Double)].collect().exists(_._1 == top))
    }
    assert(runs.filter(r => r._2 != 0 || r._3 != 0 || r._4).isEmpty, runs)
  }

  test("the footer-read schema equals Spark's inferred schema") {
    def same(dir: String): Unit = {
      val got = StoreFs.readCommitted(spark, dir)
      assert(got.isDefined, dir)
      val inferred = spark.read.parquet(dir)
      assert(got.get.schema === inferred.schema, dir)
      assert(got.get.count() === inferred.count(), dir)
    }
    // partitioned store
    same(store)
    // tombstone dir
    val dir = Files.createTempDirectory("graft_probe_ts").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", dir, nBits)
    VectorStore.delete(spark, dir, Seq(1L, 2L).toDF("vec_id"))
    same(StoreFs.tombstoneDir(dir))
    // a store with `_temporary` debris (junk a footer read would choke on)
    val debris = Paths.get(dir, "_temporary", "0")
    Files.createDirectories(debris)
    Files.write(debris.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.createDirectories(Paths.get(dir, "bucket=0", "_temporary"))
    Files.write(Paths.get(dir, "bucket=0", "_temporary", "part-9.parquet"),
      Array[Byte](1, 2, 3))
    same(dir)
  }

  test("a dir with no committed data reads as None") {
    val tmp = Files.createTempDirectory("graft_probe_none")
    assert(StoreFs.readCommitted(spark, tmp.resolve("absent").toString).isEmpty)
    assert(StoreFs.readCommitted(spark, tmp.toString).isEmpty)
    Files.createDirectories(tmp.resolve("_temporary/0"))
    Files.write(tmp.resolve("_temporary/0/part-0.parquet"), Array[Byte](1))
    assert(StoreFs.readCommitted(spark, tmp.toString).isEmpty)
    assert(StoreFs.tombstones(spark, tmp.toString).isEmpty)
  }

  test("with mergeSchema on, the reader defers to Spark's inference") {
    val dir = Files.createTempDirectory("graft_probe_merge").toString
    Seq(1L).toDF("id").write.mode("append").parquet(dir)
    Seq((2L, "x")).toDF("id", "extra").write.mode("append").parquet(dir)
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val got = StoreFs.readCommitted(spark, dir).get
      assert(got.schema === spark.read.parquet(dir).schema)
      assert(got.columns.toSet === Set("id", "extra"))
    } finally spark.conf.unset(key)
    // off: one footer, so exactly one of the two file schemas
    val one = StoreFs.readCommitted(spark, dir).get.columns.toSeq
    assert(one === Seq("id") || one === Seq("id", "extra"), one)
  }

  test("no main source evaluates a constant through spark.range(1) or " +
      "builds a probe as array(probe.map(lit): _*)") {
    val mainSrc = Paths.get("src/main/scala")
    val forbidden = Seq(
      """(?s)\.range\(1\).{0,300}?\.head\(\)""".r -> "spark.range(1) ... .head()",
      """array\(\s*probe\.map\(lit\)""".r -> "array(probe.map(lit): _*)")
    val stream = Files.walk(mainSrc)
    val offenders =
      try stream.iterator().asScala
        .filter((p: Path) => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = Files.readString(p)
          forbidden.collect {
            case (re, what) if re.findFirstIn(src).isDefined =>
              s"${mainSrc.relativize(p)}: $what"
          }
        }.toList
      finally stream.close()
    assert(offenders.isEmpty,
      "evaluate probe constants with Expression.eval and build probe " +
        s"literals with VectorOps.vecLit: $offenders")
  }
}
