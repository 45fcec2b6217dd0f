package graft.tools

import org.apache.spark.sql.functions._

/** Streaming scaling harness (SCALING.md streaming section): drives
  * the three streaming surfaces — events ingest (ST1), incremental
  * store dedup (ST4/ST7), continuous sequence packing — over a scale
  * fixture dir restaged as `nBatches` files so AvailableNow executes a
  * real multi-micro-batch drain (one parquet file per trigger), and
  * reports the drain wall time + rows/s per surface. Running across
  * m1/m10 dirs from `tools/gen_scale_fixtures.py` yields the streaming
  * scaling curve with the micro-batch COUNT held constant — so the
  * comparison isolates per-row cost from per-batch machinery.
  *
  * Usage: `runMain graft.tools.StreamScaleBench <sfDir> [nFiles]
  * [filesPerTrigger]`. The third arg (round 12) sweeps the production
  * batch-size axis: the stage is cut into `nFiles` files and the drain
  * consumes `filesPerTrigger` of them per micro-batch — fpt=1 is the
  * per-batch-overhead-dominated regime, fpt=nFiles is one bulk batch.
  * rows/s across the sweep measures how much of the fpt=1 wall time is
  * per-batch machinery that amortizes at production batch sizes.
  */
object StreamScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val filesPerTrigger = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.local()

    val root = java.nio.file.Files.createTempDirectory("streamscale").toString

    def drain(label: String, rows: Long)(
        start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      val q = start()
      q.awaitTermination()
      val s = (System.nanoTime() - t0) / 1e9
      val batches = (nBatches + filesPerTrigger - 1) / filesPerTrigger
      println(f"[streamscale] $label%-16s $s%8.2f s  ${rows / s}%,10.0f rows/s" +
        f"  ($rows rows / $batches batches of $filesPerTrigger files)")
    }

    // --- events ingest (ST1: normalize -> filter -> chunk -> embed) ---
    val events = graft.Tables.events(spark, sfDir)
    val nEvents = events.count()
    val evStaged = s"$root/events_staged"
    events.repartition(nBatches).write.parquet(evStaged)
    val evSchema = spark.read.parquet(evStaged).schema
    drain("events_ingest", nEvents) { () =>
      val stream = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(evStaged)
        .withColumnRenamed("props", "body")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      graft.streaming.Streams.drain(stream, s"$root/ingest_ckpt")(
        graft.streaming.Streams.ingestBatch(_, _, s"$root/ingest_out"))
    }

    // --- incremental store dedup (ST4/ST7: probe + keep + append) ---
    val docs = graft.Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val docStaged = s"$root/docs_staged"
    docs.repartition(nBatches).write.parquet(docStaged)
    val docSchema = spark.read.parquet(docStaged).schema
    drain("ingest_dedup", nDocs) { () =>
      graft.sources.SignatureStore.ingestDedup(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(docStaged),
        "doc_id", "text",
        s"$root/sigstore", s"$root/accepted", s"$root/dedup_ckpt")
    }

    // --- continuous packing (the q95 stream form over real BPE tokens) ---
    val toks = docs
      .select(col("doc_id"), graft.functions.TextOps.bpeTokens(col("text")).as("toks"))
    val tokStaged = s"$root/toks_staged"
    toks.repartition(nBatches).write.parquet(tokStaged)
    val tokSchema = spark.read.parquet(tokStaged).schema
    drain("pack_stream", nDocs) { () =>
      graft.operators.Packing.packStream(
        spark.readStream.schema(tokSchema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(tokStaged),
        "doc_id", "toks", 512,
        s"$root/pack_out", s"$root/pack_state", s"$root/pack_ckpt")
    }

    // --- paragraph-df store (ST7: CCNet paragraph dedup, additive) ---
    drain("paragraph_clean", nDocs) { () =>
      graft.sources.ParagraphStore.ingestClean(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(docStaged),
        "doc_id", "text",
        s"$root/parastore", s"$root/para_cleaned", s"$root/para_ckpt")
    }

    // --- char-gram-df store (ST7: duplicated-substring scoring) ------
    drain("substring_score", nDocs) { () =>
      graft.sources.SubstringStore.ingestScore(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", filesPerTrigger).parquet(docStaged),
        "doc_id", "text",
        s"$root/substore", s"$root/sub_scored", s"$root/sub_ckpt")
    }

    spark.stop()
  }
}
