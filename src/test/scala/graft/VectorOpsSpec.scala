package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.HofForms._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: self-similarity = 1, symmetry, bounds") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding")
    val self = df
      .withColumn("sim", VectorOps.cosine($"embedding", $"embedding"))
      .agg(min($"sim"), max($"sim")).as[(Double, Double)].head()
    assert(math.abs(self._1 - 1.0) < 1e-12 && math.abs(self._2 - 1.0) < 1e-12)

    val a = df.select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = df.select($"vec_id".as("idb"), $"embedding".as("vb"))
    val pairs = a.join(b, $"ida" < $"idb")
      .select(
        VectorOps.cosine($"va", $"vb").as("ab"),
        VectorOps.cosine($"vb", $"va").as("ba"))
    val asym = pairs.filter(abs($"ab" - $"ba") > 1e-12).count()
    assert(asym === 0)
    val oob = pairs.filter($"ab" > 1.0 + 1e-12 || $"ab" < -1.0 - 1e-12).count()
    assert(oob === 0)
  }

  test("hashEmbed: deterministic across runs, unit norm, fixed dim") {
    val docs = Tables.documents(spark, sf).limit(100)
    def embed() = docs.select($"doc_id",
      VectorOps.hashEmbed(split(trim($"text"), "\\s+"), 64).as("e"))
    val e1 = embed().collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val e2 = embed().collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(e1 === e2)
    assert(e1.values.forall(_.length == 64))
    assert(e1.values.forall(v => math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9))
  }

  test("codegen dot product equals the HOF fold bit-for-bit") {
    val e = Tables.embeddings(spark, sf).limit(200)
    val a = e.select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = e.select($"vec_id".as("idb"), $"embedding".as("vb"))
    val mismatches = a.join(b, $"ida" < $"idb")
      .select(
        VectorOps.dot($"va", $"vb").as("fast"),
        VectorOps.dotHof($"va", $"vb").as("ref"))
      .filter($"fast" =!= $"ref") // exact double inequality — bit identity
      .count()
    assert(mismatches === 0)
  }

  test("codegen l2DistSq equals the HOF fold bit-for-bit") {
    val e = Tables.embeddings(spark, sf).limit(200)
    val a = e.select($"vec_id".as("ida"), $"embedding".as("va"))
    val b = e.select($"vec_id".as("idb"), $"embedding".as("vb"))
    val mismatches = a.join(b, $"ida" < $"idb")
      .select(
        VectorOps.l2DistSq($"va", $"vb").as("fast"),
        VectorOps.l2DistSqHof($"va", $"vb").as("ref"))
      .filter($"fast" =!= $"ref") // exact double inequality — bit identity
      .count()
    assert(mismatches === 0)
  }

  test("typed centroid Aggregator matches the explode-groupBy centroid path") {
    import graft.functions.VectorCentroidAggregator
    val e = Tables.embeddings(spark, sf)
    val agg = new VectorCentroidAggregator(64)
    val typed = e.select($"label", $"embedding").as[(Int, Seq[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.toColumn.name("centroid"))
      .collect().toMap
    val viaExplode = e
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg((sum($"v".cast("double")) / count($"v")).as("cv"))
      .collect()
      .groupBy(_.getInt(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq).toMap
    assert(typed.keySet === viaExplode.keySet)
    typed.foreach { case (label, cent) =>
      cent.zip(viaExplode(label)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9) // summation orders differ → ulp tolerance
      }
    }
  }

  test("l2Normalize maps zero vector to zero vector") {
    val out = Seq(Tuple1(Seq(0.0f, 0.0f, 0.0f))).toDF("v")
      .select(VectorOps.l2Normalize($"v").as("n"))
      .as[Seq[Double]].head()
    assert(out === Seq(0.0, 0.0, 0.0))
  }

  test("dot and l2DistSq yield NULL on length mismatch (HOF zip_with semantics)") {
    // zip_with pads the shorter array with null and aggregate folds to
    // NULL; the kernels must match that, not return a partial fold
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val out = df.select(
      VectorOps.dot($"a", $"b").as("d"),
      graft.functions.VectorOps.l2DistSq($"a", $"b").as("l"))
      .collect().head
    assert(out.isNullAt(0))
    assert(out.isNullAt(1))
    // equal lengths still compute
    val ok = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(VectorOps.dot($"a", $"b")).as[Double].head()
    assert(ok === 11.0)
  }

  test("int8 quantization: codes in [0,255], endpoints exact, reconstruction within scale/2") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding",
        VectorOps.int8Scale($"embedding").as("sc"),
        VectorOps.int8Quantize($"embedding").as("qs"))
    val rows = df.collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val sc = r.getDouble(2)
      val qs = r.getSeq[Int](3)
      assert(qs.length === v.length)
      assert(qs.forall(q => q >= 0 && q <= 255))
      assert(qs(v.indexOf(v.min)) === 0)
      assert(qs(v.indexOf(v.max)) === 255)
      // round-trip error bound of affine rounding quantization
      v.zip(qs).foreach { case (x, q) =>
        assert(math.abs(x - (q * sc + v.min)) <= sc / 2 + 1e-9)
      }
    }
    // constant vector: scale 0, all-zero codes
    val const = Seq((1L, Seq(2.5f, 2.5f, 2.5f))).toDF("id", "embedding")
      .select(VectorOps.int8Scale($"embedding").as("sc"),
        VectorOps.int8Quantize($"embedding").as("qs"))
      .collect().head
    assert(const.getDouble(0) === 0.0)
    assert(const.getSeq[Int](1) === Seq(0, 0, 0))
  }

  test("hyperplaneBits: deterministic, correct length, in {0,1}") {
    val df = Tables.embeddings(spark, sf).limit(20)
    val bits = df.select($"vec_id", VectorOps.hyperplaneBits($"embedding", 16).as("b"))
    val c1 = bits.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c2 = bits.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 === c2)
    assert(c1.values.forall(b => b.length == 16 && b.forall(x => x == 0 || x == 1)))
  }
}
