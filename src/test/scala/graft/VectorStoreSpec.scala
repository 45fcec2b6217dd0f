package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.sources.VectorStore

/** Persisted partition-pruned vector store (sources/VectorStore.scala):
  * the disk layout must round-trip losslessly, the probe read must
  * prune at the PLAN level (PartitionFilters, not a post-scan filter),
  * and the pruned top-k must equal the brute-force top-k over the same
  * candidate buckets.
  */
class VectorStoreSpec extends SparkSpec with AnnCases {
  import spark.implicits._

  private val nBits = 4

  private lazy val path: String = {
    val p = Files.createTempDirectory("graft_vecstore").toString
    VectorStore.write(Tables.embeddings(spark, sf), "vec_id", "embedding", p, nBits)
    p
  }

  test("write round-trips every vector; directory bucket equals recomputed bucket") {
    val src = Tables.embeddings(spark, sf)
    val back = spark.read.parquet(path)
    assert(back.count() === src.count())
    val mismatched = back
      .withColumn("recomputed", VectorStore.bucketOf($"embedding", nBits))
      .filter($"bucket" =!= $"recomputed").count()
    assert(mismatched === 0L)
    val nBuckets = back.select($"bucket").distinct().count()
    assert(nBuckets > 1 && nBuckets <= (1 << nBits))
  }

  test("probe read prunes partitions at plan time (PartitionFilters carry the bucket filter)") {
    val probe = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val buckets = VectorStore.probeBuckets(spark, probe, nBits)
    assert(buckets.length === nBits + 1 && buckets.distinct.length === buckets.length)
    val plan = VectorStore.readCandidates(spark, path, buckets)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.split("PartitionFilters")(1).contains("bucket"), plan)
  }

  test("streaming AvailableNow index build equals the batch-built store") {
    val src = Tables.embeddings(spark, sf)
    // stage the corpus as parquet so it can be re-read as a file stream
    val staging = Files.createTempDirectory("graft_vs_stage").toString
    src.repartition(4).write.mode("overwrite").parquet(staging)
    val streamed = Files.createTempDirectory("graft_vs_stream").toString
    val checkpoint = Files.createTempDirectory("graft_vs_ckpt").toString
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 2) // force multiple micro-batches
      .parquet(staging)
    val q = VectorStore.appendStream(stream, "vec_id", "embedding",
      streamed, checkpoint, nBits)
    assert(q.awaitTermination(120000))
    val batchBuilt = spark.read.parquet(path)
      .select($"vec_id", $"bucket").as[(Long, Int)].collect().toMap
    val streamBuilt = spark.read.parquet(streamed)
      .select($"vec_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(streamBuilt === batchBuilt)
    // the probe path works identically against the streamed store
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val a = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    val b = VectorStore.topK(spark, streamed, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(a === b)
  }

  test("append lands one file per bucket directory however many tasks " +
      "write it; store and probe equal the write-built store") {
    val src = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_vs_layout").toString
    VectorStore.write(src.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir, nBits)
    val before = VectorStoreSpec.parquetFilesPerDir(dir)
    // round-robin over 4 partitions: every task holds rows of most buckets
    val odds = src.filter($"vec_id" % 2 === 1).repartition(4)
    assert(odds.rdd.getNumPartitions === 4)
    VectorStore.append(odds, "vec_id", "embedding", dir, nBits)
    val after = VectorStoreSpec.parquetFilesPerDir(dir)
    val added = after.map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
    assert(added.values.sum > 1, after.toString)
    assert(added.values.forall(_ <= 1), s"files added per bucket dir: $added")

    def idToBucket(p: String) = spark.read.parquet(p)
      .select($"vec_id", $"bucket").as[(Long, Int)].collect().toMap
    assert(idToBucket(dir) === idToBucket(path))
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def top(p: String) = VectorStore.topK(spark, p, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(top(dir) === top(path))
  }

  test("a bucket past the advisory partition size is split over " +
      "several writing tasks; the store's contents are unchanged") {
    val src = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_vs_split").toString
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1k")
    try VectorStore.append(src.repartition(4), "vec_id", "embedding", dir, nBits)
    finally spark.conf.unset(key)
    val files = VectorStoreSpec.parquetFilesPerDir(dir)
    assert(files.values.exists(_ > 1), files.toString)
    val back = spark.read.parquet(dir).select($"vec_id", $"bucket")
      .as[(Long, Int)].collect()
    assert(back.length === src.count())
    assert(back.toMap === spark.read.parquet(path).select($"vec_id", $"bucket")
      .as[(Long, Int)].collect().toMap)
  }

  test("VectorStore and Pq write partitioned stores only through " +
      "StoreFs.writePartitioned (compact's staged rewrite excepted)") {
    val mainSrc = java.nio.file.Paths.get("src/main/scala/graft")
    val partitionedWrite = """\.write\s*\.partitionBy\(""".r
    val offenders = Seq("sources/VectorStore.scala", "operators/Pq.scala")
      .flatMap { f =>
        val text = Files.readString(mainSrc.resolve(f))
        partitionedWrite.findAllMatchIn(text)
          .filterNot { m =>
            val sink = text.indexOf(".parquet(", m.start)
            sink >= 0 && text.startsWith(".parquet(staged)", sink)
          }
          .map(m => s"$f:${text.take(m.start).count(_ == '\n') + 1}")
      }
    assert(offenders.isEmpty,
      s"write partitioned stores with StoreFs.writePartitioned: $offenders")
  }

  test("quantized store: 1 byte/dim on disk, ~4x smaller; kernel == HOF quantization; " +
      "rerank with full m equals full-precision top-k") {
    import graft.expressions.VectorExpressions
    val src = Tables.embeddings(spark, sf)
    val qpath = Files.createTempDirectory("graft_vecq").toString
    VectorStore.writeQuantized(src, "vec_id", "embedding", qpath, nBits)

    // on-disk payload: BINARY codes of exactly dim bytes per row
    val back = spark.read.parquet(qpath)
    val dim = src.select(size($"embedding")).head().getInt(0)
    assert(back.count() === src.count())
    assert(back.filter(length($"codes") =!= dim).count() === 0)
    def dirBytes(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => Files.size(p)).sum
    }
    val ratio = dirBytes(qpath).toDouble / dirBytes(path).toDouble
    assert(ratio < 0.6, s"quantized store not smaller: ratio $ratio")

    // Int8Encode kernel == the declarative HOF quantization
    val enc = VectorExpressions.int8Encode($"embedding")
    val rows = src.select(
      enc.getField("codes").as("codes"),
      enc.getField("vmin").as("kmin"),
      enc.getField("scale").as("kscale"),
      array_min($"embedding").cast("double").as("hmin"),
      VectorOps.int8Scale($"embedding").as("hscale"),
      VectorOps.int8Quantize($"embedding").as("hq")).collect()
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(3))
      assert(r.getDouble(2) === r.getDouble(4))
      val codes = r.getAs[Array[Byte]](0).map(_ & 0xff).toSeq
      assert(codes === r.getSeq[Int](5))
    }

    // exact rerank with m >= candidate-set size == full-precision top-k
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val exact = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    val reranked = VectorStore.topKQuantized(spark, qpath, src, "vec_id",
      "embedding", probe, 10, m = src.count().toInt, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(reranked === exact)

    // approx scores stay within a small bound of the exact cosine and
    // the probe's own row survives quantization at the top
    val approx = VectorStore.topKQuantizedApprox(spark, qpath, "vec_id", probe,
      1000, nBits).as[(Long, Double)].collect().toMap
    val exactAll = VectorStore.topK(spark, path, "vec_id", "embedding", probe,
      1000, nBits).as[(Long, Double)].collect().toMap
    val maxErr = exactAll.collect {
      case (id, s) if approx.contains(id) => math.abs(approx(id) - s)
    }.max
    assert(maxErr <= 0.05, s"quantization error too large: $maxErr")
    assert(VectorStore.topKQuantizedApprox(spark, qpath, "vec_id", probe, 5, nBits)
      .as[(Long, Double)].collect().map(_._1).contains(0L))
  }

  test("compaction: probe results identical, one file per bucket") {
    val src = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft_vcmp").toString
    VectorStore.write(src.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir, nBits)
    // simulate daily accretion: several small appends → many files/bucket
    (0 until 3).foreach { i =>
      VectorStore.append(src.filter($"vec_id" % 2 === 1 && $"vec_id" % 3 === i),
        "vec_id", "embedding", dir, nBits)
    }
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def probeRes() = VectorStore.topK(spark, dir, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    def parquetFiles(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet")).toSeq
    }
    val before = probeRes()
    val filesBefore = parquetFiles().size
    VectorStore.compact(spark, dir, nBits)
    assert(probeRes() === before)
    val nBuckets = spark.read.parquet(dir).select($"bucket").distinct().count()
    assert(parquetFiles().size === nBuckets.toInt, s"$filesBefore -> ${parquetFiles().size}")
    assert(parquetFiles().size < filesBefore)
    // full contents survive the rewrite (evens from the bulk build +
    // every odd id across the three appends = the whole corpus)
    assert(spark.read.parquet(dir).count() === src.count())
  }

  test("delete: tombstones mask ids immediately (full-precision and " +
      "quantized probes); compact applies them physically and clears them") {
    val dir = Files.createTempDirectory("graft_vecstore_del").toString
    val qdir = Files.createTempDirectory("graft_vecstore_delq").toString
    val src = Tables.embeddings(spark, sf)
    VectorStore.write(src, "vec_id", "embedding", dir, nBits)
    VectorStore.writeQuantized(src, "vec_id", "embedding", qdir, nBits)
    val probe = src.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    def top(): Seq[(Long, Double)] =
      VectorStore.topK(spark, dir, "vec_id", "embedding", probe, 5, nBits)
        .as[(Long, Double)].collect().toSeq
    val before = top()
    assert(before.head._1 === 0L) // self ranks first
    // delete the top hit plus a non-existent id (harmless)
    val dead = Seq(0L, -12345L).toDF("vec_id")
    VectorStore.delete(spark, dir, dead)
    VectorStore.delete(spark, qdir, dead)
    val after = top()
    assert(!after.exists(_._1 == 0L), after.toString)
    assert(after === before.filterNot(_._1 == 0L) :+ after.last)
    // a second delete accumulates; mismatched column names are rejected
    VectorStore.delete(spark, dir, Seq(before(1)._1).toDF("vec_id"))
    assert(!top().exists(r => r._1 == 0L || r._1 == before(1)._1))
    intercept[IllegalArgumentException] {
      VectorStore.delete(spark, dir, Seq(1L).toDF("other_id"))
    }
    // quantized probe masks too
    val qtop = VectorStore.topKQuantized(spark, qdir, src, "vec_id",
      "embedding", probe, 5, m = 50, nBits)
      .as[(Long, Double)].collect().toSeq
    assert(!qtop.exists(_._1 == 0L))
    // so do the five Pq probes, whose stores share this delete
    annCases.filter(_.name.startsWith("Pq.")).foreach { c =>
      def pqTop() = c.top(probe, 5).as[(Long, Double)].collect().toSeq
      assert(pqTop().head._1 === 0L, c.name)
      c.delete(dead.as[Long].collect().toSeq)
      assert(!pqTop().exists(_._1 == 0L), c.name)
    }
    // compact: rows physically gone, tombstone dir cleared, probe stable
    val expected = top()
    VectorStore.compact(spark, dir, nBits)
    assert(top() === expected)
    val back = spark.read.parquet(dir)
    assert(back.filter($"vec_id" === 0L || $"vec_id" === before(1)._1)
      .count() === 0L)
    assert(back.count() === src.count() - 2)
    assert(!new java.io.File(dir + "/_tombstones").exists())
    // post-compact, the id can be re-inserted and is visible again
    VectorStore.append(src.filter($"vec_id" === 0L), "vec_id", "embedding",
      dir, nBits)
    assert(top().head._1 === 0L)
  }

  test("delete: a first delete naming a column the store lacks is " +
      "rejected, leaving no tombstone and no lease; compact() still works") {
    val dir = Files.createTempDirectory("graft_vecstore_misnamed").toString
    val src = Tables.embeddings(spark, sf).select($"vec_id".as("id"), $"embedding")
    VectorStore.write(src, "id", "embedding", dir, nBits)
    val e = intercept[IllegalArgumentException] {
      VectorStore.delete(spark, dir, Seq(1L).toDF("other"))
    }
    assert(e.getMessage.contains("'other'"), e.getMessage)
    assert(!new java.io.File(dir + "/_tombstones").exists())
    VectorStore.compact(spark, dir, nBits)
    assert(!new java.io.File(dir + ".compact_lock").exists())
    VectorStore.append(src.filter($"id" === 1L), "id", "embedding", dir, nBits)
    assert(spark.read.parquet(dir).count() === src.count() + 1)
  }

  test("pruned top-k equals brute-force top-k over the candidate buckets; self ranks first") {
    val probe = Tables.embeddings(spark, sf).filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    val buckets = VectorStore.probeBuckets(spark, probe, nBits).toSet
    val got = VectorStore.topK(spark, path, "vec_id", "embedding", probe, 10, nBits)
      .as[(Long, Double)].collect().toSeq
    // brute force over the full table, restricted to the same buckets
    val probeCol = array(probe.map(lit): _*)
    val expected = Tables.embeddings(spark, sf)
      .withColumn("bucket", VectorStore.bucketOf($"embedding", nBits))
      .filter($"bucket".isInCollection(buckets))
      .select($"vec_id", VectorOps.cosine6($"embedding", probeCol).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(10).as[(Long, Double)].collect().toSeq
    assert(got === expected)
    assert(got.head === ((0L, 1.0))) // the probe's own row is never pruned away
  }
}

object VectorStoreSpec {
  /** `.parquet` file count per immediate partition directory of `dir`. */
  def parquetFilesPerDir(dir: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(java.nio.file.Paths.get(dir))
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .toSeq.groupBy(_.getParent.getFileName.toString)
      .map { case (d, fs) => d -> fs.size }
    finally stream.close()
  }
}
