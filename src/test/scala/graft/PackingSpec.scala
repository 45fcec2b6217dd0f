package graft

import org.apache.spark.sql.functions._
import graft.operators.Packing
import graft.functions.TextOps

/** Sequence packing (operators/Packing.scala): the distributed prefix
  * scan must equal a sequential driver fold exactly, must NOT plan a
  * single-partition global window, and must be partition-count
  * independent (the structural form of the 3-vs-8-CPU crosscheck).
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("tokenShards == sequential fold; window is partitioned; partition-count independent") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", TextOps.tokenCount($"text").as("tokens"))
    val out = Packing.tokenShards(docs, "doc_id", "tokens", 512)
    val got = out.as[(Long, Int, Long, Int, Int)].collect().sortBy(_._1).toSeq

    val rows = docs.as[(Long, Int)].collect().sortBy(_._1)
    var cum = 0L
    val expected = rows.map { case (id, t) =>
      val before = cum
      cum += t
      (id, t, cum, (before / 512L).toInt, (before % 512L).toInt)
    }.toSeq
    assert(got === expected)
    assert(got.map(_._4).max > 0, "fixture corpus fits one shard — budget too large to test")

    // the running sum must ride a window PARTITIONED by the range
    // bucket — a global orderBy window (one partition for the whole
    // corpus) would show a windowspecdefinition without __pid
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(plan.split("windowspecdefinition")(1).contains("__pid"), plan)

    // output does not depend on the input's partitioning
    for (parts <- Seq(1, 7)) {
      val alt = Packing.tokenShards(docs.repartition(parts), "doc_id", "tokens", 512)
        .as[(Long, Int, Long, Int, Int)].collect().sortBy(_._1).toSeq
      assert(alt === expected, s"diverged at input partition count $parts")
    }
  }

  test("shuffleShards: a reproducible permutation with dense per-shard ranks") {
    import graft.operators.Packing
    val docs = Tables.documents(spark, sf)
    def run() = Packing.shuffleShards(docs, "doc_id", 8)
      .as[(Long, Long, Int, Int)].collect().toSeq
    val got = run()
    // covers every row exactly once
    assert(got.map(_._1).sorted === docs.select($"doc_id").as[Long]
      .collect().sorted.toSeq)
    // reference arithmetic per row
    got.foreach { case (id, key, shard, _) =>
      val k = ((id % (1L << 31)) * 1103515245L + 12345L) % (1L << 31)
      assert(key === k && shard === (k % 8).toInt, s"doc $id")
    }
    // per-shard ranks are dense 1..n and follow the (key, id) order
    got.groupBy(_._3).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4) === (1 to rows.length))
      assert(sorted.map(r => (r._2, r._1)) === sorted.map(r => (r._2, r._1)).sorted)
    }
    // every shard populated, deterministic across reruns
    assert(got.map(_._3).distinct.sorted === (0 until 8))
    assert(run() === got)
  }

  test("packSequences: hand-planted stream — boundary straddles, digests exact") {
    import graft.operators.Packing
    // token stream 1..9 across three docs at seqLen=4:
    //   seq0 = [1,2,3,4] (docs 1,2), seq1 = [5,6,7,8] (docs 2,3),
    //   seq2 = [9] (doc 3 tail) — docs 2 and 3 straddle boundaries
    val docs = Seq(
      (1L, Seq(1, 2, 3)), (2L, Seq(4, 5)), (3L, Seq(6, 7, 8, 9)),
      (4L, Seq.empty[Int])) // empty doc contributes nothing
      .toDF("doc_id", "toks")
    val got = Packing.packSequences(docs, "doc_id", "toks", 4)
      .orderBy($"seq_id")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 4L, 2L, 1, 4, 1L * 1 + 2 * 2 + 3 * 3 + 4 * 4),
      (1L, 4L, 2L, 5, 8, 1L * 5 + 2 * 6 + 3 * 7 + 4 * 8),
      (2L, 1L, 1L, 9, 9, 9L)))
    // total token conservation: sum of n_tokens == corpus token count
    assert(got.map(_._2).sum === 9L)
  }

  test("writePackedShards: written arrays reconstruct the digests and the stream") {
    import java.nio.file.Files
    import graft.operators.Packing
    val docs = (1L to 40L).map(i =>
      (i, (0 until ((i % 5).toInt + 1)).map(j => ((i * 13 + j) % 89).toInt)))
    val df = docs.toDF("doc_id", "toks")
    val out = Files.createTempDirectory("graft_shards").toString + "/p"
    Packing.writePackedShards(df, "doc_id", "toks", seqLen = 8,
      seqsPerShard = 4, out)
    val written = spark.read.parquet(out)
      .select($"seq_id", $"shard", $"tokens")
      .as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq
    // the concatenation of written sequences IS the doc-order stream
    val stream = docs.flatMap(_._2)
    assert(written.flatMap(_._3) === stream)
    // every sequence is exactly seqLen except the tail; shard = seq DIV 4
    written.dropRight(1).foreach { case (sid, sh, toks) =>
      assert(toks.length === 8 && sh === sid / 4)
    }
    // digests derived from the written arrays == packSequences
    val fromShards = written.map { case (sid, _, toks) =>
      (sid, toks.length.toLong, toks.head, toks.last,
        toks.zipWithIndex.map { case (t, p) => (p + 1L) * t }.sum)
    }
    val digests = Packing.packSequences(df, "doc_id", "toks", 8)
      .orderBy($"seq_id")
      .select($"seq_id", $"n_tokens", $"first_token", $"last_token", $"checksum")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(fromShards === digests)
  }

  test("packStream: continuous packing equals the batch form; crash-replay bit-identical") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import graft.operators.Packing
    // deterministic corpus; seqLen 16 forces sequences to straddle
    // both document AND micro-batch boundaries
    val docs = (1L to 60L).map(i =>
      (i, (0 until ((i % 7).toInt + 1)).map(j => ((i * 31 + j * 7) % 97).toInt)))
    val df = docs.toDF("doc_id", "toks")
    // one file per slice with ascending mtimes so the file source
    // delivers slices in id order (arrival order == the batch order)
    val staging = Files.createTempDirectory("graft_pack_stage")
    val slices = Seq(1L to 20L, 21L to 40L, 41L to 60L)
    slices.zipWithIndex.foreach { case (r, i) =>
      val tmp = Files.createTempDirectory(s"graft_pack_tmp$i")
      docs.filter(d => r.contains(d._1)).toDF("doc_id", "toks")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = Paths.get(staging.toString, f"slice_$i%03d.parquet")
      Files.copy(part.toPath, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    // file://-scheme URIs (not bare paths): the result/state machinery
    // must go through the Hadoop FileSystem, never java.io.File
    val out = "file://" + Files.createTempDirectory("graft_pack_out").toString + "/o"
    val state = "file://" + Files.createTempDirectory("graft_pack_state").toString + "/s"
    val ck = Files.createTempDirectory("graft_pack_ck").toString
    val q = Packing.packStream(
      spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(staging.toString),
      "doc_id", "toks", 16, out, state, ck)
    assert(q.awaitTermination(180000))
    def result(): Seq[(Long, Long, Long, Int, Int, Long)] =
      Packing.packedResult(spark, out, state)
        .orderBy($"seq_id")
        .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    val streamed = result()
    val batch = Packing.packSequences(df, "doc_id", "toks", 16)
      .orderBy($"seq_id")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.map(_._2).sum ===
      docs.map(_._2.length.toLong).sum)
    // crash-replay: re-run the LAST batch body against the same prior
    // state (a crash between the emission write and the state write
    // replays exactly this) — everything must be bit-identical
    val lastSlice = docs.filter(d => slices.last.contains(d._1))
      .toDF("doc_id", "toks")
    Packing.packBatch(lastSlice, 2L, "doc_id", "toks", 16, out, state)
    assert(result() === streamed)
    // retention: replay only ever reads batch id-1's state, so after
    // batch 2 only batch=1 and batch=2 survive (batch=0 pruned) — a
    // long-running ingest must not accrete one state dir per batch
    val stateDirs = Paths.get(new java.net.URI(state)).toFile.listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(stateDirs === Seq("batch=1", "batch=2"))
  }

  test("packedResult edges: absent dirs -> empty; zero-closed batch -> open partial only") {
    import java.nio.file.Files
    import graft.operators.Packing
    val tmp = "file://" + Files.createTempDirectory("graft_pack_edge").toString
    // nothing ever ran: no state dir, no out dir -> empty digest frame
    assert(Packing.packedResult(spark, tmp + "/o", tmp + "/s").isEmpty)
    // one batch that closes ZERO sequences (3 tokens < seqLen=16): the
    // out dir holds no committed data files, so reading it for schema
    // would throw — packedResult must return just the open partial
    Packing.packBatch(Seq((1L, Seq(1, 2, 3))).toDF("doc_id", "toks"),
      0L, "doc_id", "toks", 16, tmp + "/o", tmp + "/s")
    val got = Packing.packedResult(spark, tmp + "/o", tmp + "/s")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(got === Seq((0L, 3L, 1L, 1, 3, 1L * 1 + 2 * 2 + 3 * 3)))
  }

  test("bigint token columns digest identically (INT pin, carried-state union)") {
    import java.nio.file.Files
    import graft.operators.Packing
    // packSequences: long tokens produce the same INT digest schema
    val big = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L))).toDF("doc_id", "toks")
    val d = Packing.packSequences(big, "doc_id", "toks", 4).orderBy($"seq_id")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(d === Seq((0L, 4L, 1L, 1, 4, 30L), (1L, 1L, 1L, 5, 5, 5L)))
    // packBatch: the carried open partial from a LONG-token batch 0
    // merges into batch 1's digests (the unionByName/encoder path the
    // INT pin protects)
    val tmp = "file://" + Files.createTempDirectory("graft_pack_big").toString
    Packing.packBatch(Seq((1L, Seq(1L, 2L, 3L))).toDF("doc_id", "toks"),
      0L, "doc_id", "toks", 4, tmp + "/o", tmp + "/s")
    Packing.packBatch(Seq((2L, Seq(4L, 5L))).toDF("doc_id", "toks"),
      1L, "doc_id", "toks", 4, tmp + "/o", tmp + "/s")
    val got = Packing.packedResult(spark, tmp + "/o", tmp + "/s")
      .orderBy($"seq_id")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(got === Seq((0L, 4L, 2L, 1, 4, 30L), (1L, 1L, 1L, 5, 5, 5L)))
  }

  test("a fresh stream over reused dirs: batch 0 clears the prior run's " +
      "emissions and state") {
    import java.nio.file.Files
    val tmp = "file://" + Files.createTempDirectory("graft_pack_reuse").toString
    val (out, state) = (tmp + "/o", tmp + "/s")
    def corpus(ids: Seq[Long]) = ids.map(i =>
      (i, (0 until ((i % 7).toInt + 3)).map(j => ((i * 31 + j * 7) % 97).toInt)))
      .toDF("doc_id", "toks")
    // run A: three batches on one checkpoint
    Seq(1L to 20L, 21L to 40L, 41L to 60L).zipWithIndex.foreach {
      case (ids, b) =>
        Packing.packBatch(corpus(ids), b.toLong, "doc_id", "toks", 16,
          out, state)
    }
    // run B: a new checkpoint starts at batch 0 over the same dirs
    val b = corpus(101L to 105L)
    Packing.packBatch(b, 0L, "doc_id", "toks", 16, out, state)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy($"seq_id")
      .as[(Long, Long, Long, Int, Int, Long)].collect().toSeq
    assert(rows(Packing.packedResult(spark, out, state)) ===
      rows(Packing.packSequences(b, "doc_id", "toks", 16)))
    assert(graft.sources.StoreFs.childNames(spark, state)
      .filter(_.startsWith("batch=")) === Seq("batch=0"))
  }

  test("paddingEfficiency: hand-exact bucket ladder, chunked oversize " +
      "docs, exact waste ppm, guards, partition independence") {
    import graft.operators.Packing
    val df = Seq(10L, 16L, 17L, 100L, 300L).toDF("n_tokens")
    val got = Packing.paddingEfficiency(df, "n_tokens", 256, 16)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (16L, 2L, 26L, 32L, 187500L),
      (32L, 1L, 17L, 32L, 468750L),
      (128L, 1L, 100L, 128L, 218750L),
      (256L, 1L, 300L, 512L, 414062L)))
    // zero / null drop
    val withBad = df.unionByName(Seq(Option.empty[Long], Option(0L))
      .toDF("n_tokens"))
    assert(Packing.paddingEfficiency(withBad, "n_tokens", 256, 16)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq === got)
    intercept[IllegalArgumentException] {
      Packing.paddingEfficiency(df, "n_tokens", 100, 16)
    }
    val p1 = Packing.paddingEfficiency(df.repartition(1), "n_tokens", 256, 16)
      .collect().map(_.toString).toSeq
    val p5 = Packing.paddingEfficiency(df.repartition(5), "n_tokens", 256, 16)
      .collect().map(_.toString).toSeq
    assert(p1 === p5)
  }
}
