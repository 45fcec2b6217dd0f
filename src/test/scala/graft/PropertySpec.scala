package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Analytics, Chunker, Dedup}
import graft.functions.{TextOps, VectorOps}

/** SURVEY §5.3 property tests. Inputs are ScalaCheck-generated (fixed
  * seed for reproducibility) and evaluated in single batched Spark
  * jobs, so each property covers many cases without per-case job
  * overhead.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(12).mkString)
  private val docGen: Gen[String] =
    Gen.chooseNum(1, 900).flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("chunker: reconstruction, bounded chunk size, dense ordinals (random docs)") {
    val docs = sample(docGen, 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val chunked = Chunker.chunk(docs, "text") // default 512/384
    // every chunk <= 384 words except the single-chunk passthrough case
    val bad = chunked
      .withColumn("n_doc_words", size(TextOps.words(col("text"))))
      .filter(col("chunk_tokens") > 384 && col("n_doc_words") > 512)
      .count()
    assert(bad === 0)
    // ordinals dense from 0
    val ordinalHoles = chunked.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), max($"chunk_id").as("mx"), min($"chunk_id").as("mn"))
      .filter($"mn" =!= 0 || $"mx" =!= $"n" - 1).count()
    assert(ordinalHoles === 0)
    // concatenated chunks reconstruct the original word sequence
    val rejoined = chunked.groupBy($"doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct($"chunk_id", $"chunk_text")))
        .getField("chunk_text")).as("rejoined"))
    val mismatch = rejoined.join(docs, "doc_id")
      .filter(concat_ws(" ", TextOps.words($"text")) =!= $"rejoined").count()
    assert(mismatch === 0)
  }

  test("jaccard: bounded [0,1], symmetric, self=1 (random word sets)") {
    val sets = sample(Gen.listOf(wordGen).map(_.distinct), 80).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws) }.toDF("id", "ws")
    val a = sets.select($"id".as("ia"), $"ws".as("wa"))
    val b = sets.select($"id".as("ib"), $"ws".as("wb"))
    val pairs = a.crossJoin(b).select(
      Dedup.jaccard($"wa", $"wb").as("jab"),
      Dedup.jaccard($"wb", $"wa").as("jba"),
      ($"ia" === $"ib").as("same"))
    assert(pairs.filter($"jab" < 0.0 || $"jab" > 1.0).count() === 0)
    assert(pairs.filter($"jab" =!= $"jba").count() === 0)
    assert(pairs.filter($"same" && $"jab" =!= 1.0).count() === 0)
  }

  test("fingerprint: stable under recomputation, sensitive to word order (random docs)") {
    val docs = sample(docGen.suchThat(_.split(" ").distinct.length > 1), 40)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fp1 = docs.select($"id", TextOps.fingerprint(TextOps.words($"text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    val fp2 = docs.select($"id", TextOps.fingerprint(TextOps.words($"text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp1 === fp2)
    // reversing the word order changes the fingerprint (unless palindromic)
    val rev = docs.select($"id",
      TextOps.fingerprint(TextOps.words($"text")).as("fp"),
      TextOps.fingerprint(reverse(TextOps.words($"text"))).as("fpr"),
      (TextOps.words($"text") === reverse(TextOps.words($"text"))).as("pal"))
    val ordInsensitive = rev.filter(!$"pal" && $"fp" === $"fpr").count()
    // mod-1e9+7 collisions are possible but vanishingly rare for 40 docs
    assert(ordInsensitive === 0)
  }

  test("hash embedding: unit norm or zero, fixed dim, deterministic (random docs)") {
    val docs = sample(docGen, 50).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val emb = docs.select($"id",
      VectorOps.hashEmbed(TextOps.words($"text"), 32).as("e"))
    val rows = emb.as[(Long, Seq[Double])].collect()
    assert(rows.forall(_._2.length == 32))
    assert(rows.forall { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      math.abs(n - 1.0) < 1e-9 || n == 0.0
    })
    val again = emb.as[(Long, Seq[Double])].collect()
    assert(rows.toMap === again.toMap)
  }

  test("exact dedup: idempotent and keeps one row per distinct text (random dups)") {
    val base = sample(docGen, 30)
    val withDups = (base ++ base ++ base.take(10)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = Dedup.exact(withDups, "doc_id", "text")
    assert(once.count() === base.distinct.length)
    assert(Dedup.exact(once, "doc_id", "text").count() === once.count())
    // kept ids are the minimum id of each duplicate group
    val expected = withDups.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = once.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got === expected)
  }

  test("histogram quantiles == buffered percentile on random groups " +
      "(nulls, duplicates, skewed sizes)") {
    // one batched dataset: group sizes 1..~400, heavy duplication via a
    // small value domain, ~10% nulls (percentile ignores them — the
    // histogram plan must too)
    val rows = sample(
      for {
        g <- Gen.chooseNum(0, 11)
        v <- Gen.option(Gen.chooseNum(-50, 50).map(_ * 0.25))
      } yield (g, v), 2500)
    // plus a group whose values are ALL null: the built-in keeps the
    // group row (null quantiles), and the histogram plan must too
    val df = (rows ++ Seq.fill(5)((99, Option.empty[Double]))).toDF("g", "v")
    val viaHistogram = graft.operators.Analytics.quantiles(df, "g", "v")
      .collect().toSeq
    val viaBuiltin = df
      .groupBy($"g")
      .agg(percentile($"v", array(lit(0.5), lit(0.9), lit(0.99))).as("__q"))
      .select($"g", round(element_at($"__q", 1), 6).as("p50"),
        round(element_at($"__q", 2), 6).as("p90"),
        round(element_at($"__q", 3), 6).as("p99"))
      .orderBy($"g").collect().toSeq
    assert(viaHistogram === viaBuiltin)
  }

  // The quantile family's differential shape: a small value domain
  // (heavy ties), ~10% nulls (Gen.option), group 0 holding most rows,
  // and an all-null group 99 appended per test.
  private val skewedGroup: Gen[Int] =
    Gen.frequency(6 -> Gen.const(0), 4 -> Gen.chooseNum(1, 11))
  private val smallValue: Gen[Double] = Gen.chooseNum(-50, 50).map(_ * 0.25)

  /** Spark's `round(double, scale)` (HALF_UP over the decimal form). */
  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("weightedQuantiles == brute-force lower rule on random groups") {
    val rows = sample(for {
      g <- skewedGroup
      v <- Gen.option(smallValue)
      w <- Gen.option(Gen.chooseNum(0, 5))
    } yield (g, v, w), 2500) ++ Seq.fill(5)((99, Option.empty[Double], Option(1)))
    val got = Analytics.weightedQuantiles(rows.toDF("g", "v", "w"), "g", "v", "w")
      .as[(Int, Double, Double, Double)].collect().toSeq
    val expected = rows.collect { case (g, Some(v), Some(w)) => (g, v, w.toLong) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
        val byValue = rs.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (v, vs) => (v, vs.map(_._3).sum) }
        val cums = byValue.map(_._1).zip(byValue.map(_._2).scan(0L)(_ + _).tail)
        val total = cums.last._2
        // smallest value whose cumulative weight reaches ceil(W·num/den)
        def pick(num: Long, den: Long): Double =
          cums.find(_._2 >= (total * num + den - 1) / den).get._1
        (g, pick(1, 4), pick(1, 2), pick(3, 4))
      }
    assert(got === expected)
  }

  test("quantilesHdr == brute-force nearest rank over HDR buckets on random groups") {
    val m = 5
    val rows = sample(for {
      g <- skewedGroup
      v <- Gen.option(Gen.chooseNum(0, 400).map(_ * 0.25))
    } yield (g, v), 2500) ++ Seq.fill(5)((99, Option.empty[Double]))
    val got = Analytics.quantilesHdr(rows.toDF("g", "v"), "g", "v", m)
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    def bucket(centi: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(centi)
      if (e <= m) centi else (e.toLong << m) + ((centi >> (e - m)) & ((1L << m) - 1))
    }
    def lowerBound(b: Long): Long =
      if (b < (2L << m)) b
      else (1L << (b >> m)) + ((b & ((1L << m) - 1)) << ((b >> m) - m))
    val expected = rows.collect { case (g, Some(v)) =>
        (g, bucket(BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact))
      }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(_._2).sorted
        val n = sorted.length.toLong
        // nearest rank ceil(n·q/100), 1-based
        def est(q: Long): Double =
          round6(lowerBound(sorted(((n * q + 99) / 100 - 1).toInt)) / 100.0)
        (g, n, est(50), est(90), est(99))
      }
    assert(got === expected)
  }

  test("spearman == brute-force average-rank Pearson on random groups") {
    val rows = sample(for {
      g <- skewedGroup
      x <- Gen.option(smallValue)
      y <- Gen.option(Gen.chooseNum(-8, 8).map(_ * 0.5))
    } yield (g, x, y), 2500) ++ Seq.fill(5)((99, Option.empty[Double], Option(1.0)))
    val got = Analytics.spearman(rows.toDF("g", "x", "y"), "g", "x", "y")
      .as[(Int, Long, Option[Double])].collect().toSeq
    // doubled average ranks: a value tied c times after `below` smaller
    // rows holds ranks below+1..below+c, average (2·below + c + 1)/2
    def ranks2(vs: Seq[Double]): Seq[BigInt] = {
      val counts = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keys = counts.keys.toSeq.sorted
      val below = keys.zip(keys.map(counts).scan(0L)(_ + _)).toMap
      vs.map(v => BigInt(2 * below(v) + counts(v) + 1))
    }
    val expected = rows.collect { case (g, Some(x), Some(y)) => (g, x, y) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
        val (rx, ry) = (ranks2(rs.map(_._2)), ranks2(rs.map(_._3)))
        val n = BigInt(rs.length)
        val (sx, sy) = (rx.sum, ry.sum)
        val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum - sx * sy
        val da = n * rx.map(a => a * a).sum - sx * sx
        val db = n * ry.map(b => b * b).sum - sy * sy
        (g, rs.length.toLong, Option.when(da > 0 && db > 0)(round6(
          num.toDouble / (math.sqrt(da.toDouble) * math.sqrt(db.toDouble)))))
      }
    assert(got === expected)
  }

  test("robustOutliers med/mad == built-in percentile on random groups") {
    val kMilli = 500
    // mostly the small domain, one row in ten a far outlier
    val value = Gen.frequency(9 -> smallValue,
      1 -> Gen.chooseNum(100, 200).map(_.toDouble))
    val rows = sample(for { g <- skewedGroup; v <- Gen.option(value) }
      yield (g, v), 2500).zipWithIndex
      .map { case ((g, v), i) => (g, i.toLong, v) } ++
      (0 until 5).map(i => (99, 10000L + i, Option.empty[Double]))
    val df = rows.toDF("g", "id", "v")
    val got = Analytics.robustOutliers(df, "g", "id", "v", kMilli)
      .as[(Int, Long, Double, Double, Double, Option[Double])].collect().toSeq
    val vals = df.filter($"v".isNotNull)
    val med = vals.groupBy($"g").agg(round(percentile($"v", lit(0.5)), 6).as("med"))
    val mad = vals.join(med, "g").groupBy($"g")
      .agg(round(percentile(abs($"v" - $"med"), lit(0.5)), 6).as("mad"))
    val mm = med.join(mad, "g").as[(Int, Double, Double)].collect()
      .map { case (g, a, b) => g -> ((a, b)) }.toMap
    // the fence in lifted integers: round 6 dp → DECIMAL(18,6) → ×1e6
    def lift(d: Double): BigInt = {
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000)
        .toBigInt
    }
    val expected = rows.collect { case (g, id, Some(v)) =>
        val (md, ma) = mm(g)
        val (devL, madL) = (lift(math.abs(v - md)), lift(ma))
        (g, id, v, md, ma, devL, madL)
      }
      .filter { case (_, _, _, _, _, devL, madL) =>
        devL * 10000000L > madL * 14826L * kMilli }
      .map { case (g, id, v, md, ma, devL, madL) =>
        (g, id, v, md, ma, Option.when(madL > 0)(
          round6(devL.toDouble * 10000.0 / (madL.toDouble * 14826.0))))
      }.sortBy(r => (r._1, r._2))
    assert(expected.map(_._1).distinct.size >= 10,
      "too few groups flag a row to show their med/mad")
    assert(got === expected)
  }

  private type P = (Int, Int, Long, Boolean)

  test("sharedKeyPairs == brute-force shared-key pair counts on random postings") {
    // (g, key, doc, f) postings, distinct per (g, key, doc); key 0 of
    // group 0 is held by every doc, the key above the cap; the carried
    // per-doc value is doc % 7
    val posting: Gen[P] = for {
      g <- Gen.chooseNum(0, 2); k <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(0, 24); f <- Gen.oneOf(true, false)
    } yield (g, k, d.toLong, f)
    val rows = (sample(posting, 400) ++
        (0 until 25).map(d => (0, 0, d.toLong, d % 3 == 0)))
      .groupBy(r => (r._1, r._2, r._3)).values.map(_.head).toSeq
    val maxDf = 22
    def brute(capped: Boolean,
        pred: (Boolean, Boolean) => Boolean): Map[(Int, Long, Long), Long] = {
      val hot = if (!capped) Set.empty[(Int, Int)]
        else rows.groupBy(r => (r._1, r._2))
          .filter(_._2.size > maxDf).keySet
      assert(!capped || hot((0, 0)))
      val live = rows.filterNot(r => hot((r._1, r._2)))
      (for {
        a <- live; b <- live
        if a._1 == b._1 && a._2 == b._2 && a._3 < b._3 && pred(a._4, b._4)
      } yield (a._1, a._3, b._3))
        .groupMapReduce(identity)(_ => 1L)(_ + _)
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "id_a", "id_b", "n_shared").as[(Int, Long, Long, Long)]
        .collect().map(r => (r._1, r._2, r._3) -> r._4).toMap
    for (parts <- Seq(1, 3)) {
      val postings = rows.toDF("g", "key", "doc", "f")
        .withColumn("v", col("doc") % 7).repartition(parts)
      val carried = Dedup.sharedKeyPairs(postings, Seq("g"), Seq("key"),
        carry = Seq("v"))
      assert(pairs(carried) === brute(capped = false, (_, _) => true))
      assert(carried.filter(col("v_a") =!= col("id_a") % 7 ||
        col("v_b") =!= col("id_b") % 7).count() === 0)
      assert(pairs(Dedup.sharedKeyPairs(postings, Seq("g"), Seq("key"),
          maxDf, col("a.f") || col("b.f")))
        === brute(capped = true, _ || _))
    }
  }
}
