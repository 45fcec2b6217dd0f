package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Packing, Vamana}
import graft.sources._
import graft.streaming.Streams

/** Restart equivalence over the real drain: every streamed surface
  * drains three one-file micro-batches, then the same drain is crashed
  * after its last batch's sink writes and before its commit (the
  * checkpoint's last `commits/<n>` file is deleted) and restarted on the
  * same checkpoint. The replayed batch must leave every store surface,
  * side sink, state and output dir with the uninterrupted run's rows. */
class RestartEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  /** `slices` as one parquet file each, with ascending mtimes so a
    * `maxFilesPerTrigger = 1` drain delivers them in order. */
  private def staged(slices: Seq[DataFrame]): DataFrame = {
    val dir = Files.createTempDirectory("graft_restart_in")
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("graft_restart_tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = dir.resolve(f"slice_$i%03d.parquet")
      Files.copy(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 60000L))
    }
    spark.readStream.schema(slices.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
  }

  /** Rows of every leaf data dir under `root` but the checkpoint, keyed
    * by the dir's path below `root`. */
  private def snapshot(root: Path): Map[String, Seq[String]] = {
    val walk = Files.walk(root)
    val leaves =
      try walk.iterator().asScala.filter { d =>
        val rel = root.relativize(d).toString
        Files.isDirectory(d) && !rel.startsWith("ckpt") &&
          !rel.contains("_temporary") &&
          Files.list(d).iterator().asScala
            .exists(_.getFileName.toString.startsWith("part-"))
      }.toList
      finally walk.close()
    leaves.map { d =>
      root.relativize(d).toString ->
        spark.read.parquet(d.toString).collect().map(_.toString).sorted.toSeq
    }.toMap
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toList.reverse.foreach(Files.delete)
    finally walk.close()
  }

  /** Drain `start(root)` uninterrupted; then, in the same dirs, drain,
    * drop the last commit and drain again: the outputs must match.
    * `start` reuses one staged input, so the restart reads the files
    * its checkpoint recorded. */
  private def assertRestartEquivalent(start: String => StreamingQuery): Unit = {
    val root = Files.createTempDirectory("graft_restart")
    def drain(): Unit =
      assert(start(root.toString).awaitTermination(180000))
    drain()
    val uninterrupted = snapshot(root)
    assert(uninterrupted.nonEmpty)
    deleteTree(root)
    drain()
    val commits = root.resolve("ckpt/commits")
    val last = Files.list(commits).iterator().asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong).max
    assert(last >= 1, "fewer than two micro-batches drained")
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    drain()
    assert(Files.exists(commits.resolve(last.toString)),
      s"batch $last was not replayed")
    assert(snapshot(root) === uninterrupted)
  }

  // --- inputs --------------------------------------------------------

  /** Three document slices; the last re-sends slice 0's texts under new
    * ids, so the stores' decisions depend on the committed store. */
  private lazy val docSlices: Seq[DataFrame] = {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    Seq(docs.filter($"doc_id" < 20),
      docs.filter($"doc_id" >= 20 && $"doc_id" < 40),
      docs.filter($"doc_id" >= 40 && $"doc_id" < 50).unionByName(
        docs.filter($"doc_id" < 10).select(($"doc_id" + 1000L).as("doc_id"),
          $"text")))
  }

  /** Three slices of 30 ordered rows over two groups, for the monitors. */
  private lazy val eventSlices: Seq[DataFrame] = (0 until 3).map { b =>
    (1 to 30).map { i =>
      val t = (b * 30 + i).toLong
      (t, if (i % 3 == 0) "a" else "b", t,
        if (b == 2 && i % 3 == 0) 20.0 + i % 4 else 10.0 + i % 5,
        new java.sql.Timestamp(t0 + t * 1000000L), s"e${(i * 7 + b) % 3}")
    }.toDF("id", "g", "t", "x", "ts", "e")
  }

  private def ck(root: String) = s"$root/ckpt"

  // --- the six keyed stores ------------------------------------------

  test("SignatureStore.ingestDedup replays to the uninterrupted run") {
    val p = SignatureStore.Params(shingleK = 3, nBands = 8, rowsPerBand = 2,
      nShards = 8)
    val in = staged(docSlices)
    assertRestartEquivalent(r => SignatureStore.ingestDedup(in, "doc_id",
      "text", s"$r/store", s"$r/accepted", ck(r), p))
  }

  test("MediaDedupStore.ingestDedup replays to the uninterrupted run") {
    val images = "src/test/resources/graft/images"
    val dir = Files.createTempDirectory("graft_restart_media")
    // img_01 is a near-dup of img_00, so batch 1 keeps nothing; the
    // replayed last batch keeps its unique image
    Seq("img_00.bmp", "img_01.bmp", "img_28.bmp").zipWithIndex.foreach {
      case (n, i) =>
        val dest = dir.resolve(s"m$i.bmp")
        Files.copy(Paths.get(images, n), dest,
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + i * 60000L))
    }
    val in = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, " +
        "content BINARY")
      .option("maxFilesPerTrigger", 1).load(dir.toString)
    assertRestartEquivalent(r => MediaDedupStore.ingestDedup(in,
      s"$r/store", s"$r/accepted", ck(r)))
  }

  test("ParagraphStore.ingestClean replays to the uninterrupted run") {
    val in = staged(docSlices)
    assertRestartEquivalent(r => ParagraphStore.ingestClean(in, "doc_id",
      "text", s"$r/store", s"$r/cleaned", ck(r),
      ParagraphStore.Params(nShards = 4)))
  }

  test("SubstringStore.ingestScore replays to the uninterrupted run") {
    val in = staged(docSlices)
    assertRestartEquivalent(r => SubstringStore.ingestScore(in, "doc_id",
      "text", s"$r/store", s"$r/scored", ck(r),
      SubstringStore.Params(k = 8, nShards = 4)))
  }

  test("WinnowStore.ingestMatch replays to the uninterrupted run") {
    val in = staged(docSlices)
    assertRestartEquivalent(r => WinnowStore.ingestMatch(in, "doc_id",
      "text", s"$r/store", s"$r/pairs", ck(r),
      WinnowStore.Params(minShared = 3, nShards = 4)))
  }

  test("VamanaStore.ingest replays to the uninterrupted run") {
    val embs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val slices = Seq(embs.filter($"vec_id" < 20),
      embs.filter($"vec_id" >= 20 && $"vec_id" < 40),
      embs.filter($"vec_id" >= 40 && $"vec_id" < 60))
    val in = staged(slices)
    assertRestartEquivalent(r => VamanaStore.ingest(in,
      "vec_id", "embedding", s"$r/store", ck(r),
      Vamana.Params(r = 8, l = 16, nShards = 2)))
  }

  // --- packing and the eight monitors --------------------------------

  test("Packing.packStream replays to the uninterrupted run") {
    val toks = (1L to 60L).map(i =>
      (i, (0 until ((i % 7).toInt + 1)).map(j => ((i * 31 + j * 7) % 97).toInt)))
    val slices = Seq(1L to 20L, 21L to 40L, 41L to 60L).map(ids =>
      toks.filter(d => ids.contains(d._1)).toDF("doc_id", "toks"))
    val in = staged(slices)
    assertRestartEquivalent(r => Packing.packStream(in,
      "doc_id", "toks", 16, s"$r/out", s"$r/state", ck(r)))
  }

  private def monitor(name: String)(
      start: (DataFrame, String, String, String) => StreamingQuery): Unit =
    test(s"Streams.$name replays to the uninterrupted run") {
      val in = staged(eventSlices)
      assertRestartEquivalent(r =>
        start(in, s"$r/state", s"$r/out", ck(r)))
    }

  monitor("anomalyStream")((s, st, out, c) => Streams.anomalyStream(s, "g",
    Seq("t"), "x", window = 4, k = 3, minPeriods = 2, st, out, c))
  monitor("driftStream")((s, st, out, c) =>
    Streams.driftStream(s, "g", "x", 2.0, st, out, c))
  monitor("funnelStream")((s, st, out, c) => Streams.funnelStream(s,
    Seq[(String, DataFrame => DataFrame)](
      "high" -> (_.filter($"x" > 11.0)), "even" -> (_.filter($"id" % 2 === 0))),
    st, out, c))
  monitor("quantileStream")((s, st, out, c) =>
    Streams.quantileStream(s, "g", "x", st, out, c))
  monitor("kmvStream")((s, st, out, c) =>
    Streams.kmvStream(s, "g", "id", 4, st, out, c))
  monitor("stratifiedStream")((s, st, out, c) =>
    Streams.stratifiedStream(s, "id", "g", 10L, st, out, c))
  monitor("moversStream")((s, st, out, c) =>
    Streams.moversStream(s, "g", "ts", 10000000000L, 10, st, out, c))
  monitor("transitionStream")((s, st, out, c) =>
    Streams.transitionStream(s, "g", Seq("t"), "e", st, out, c))
}
