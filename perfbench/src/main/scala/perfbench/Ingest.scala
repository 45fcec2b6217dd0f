package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.{TextOps, VectorOps}
import graft.operators.{Chunker, MessageOps, NoiseFilter}
import graft.sources.VectorStore

/** `ingest`: drain a backlog of message files into a fresh VectorStore
  * with AvailableNow micro-batches of `FilesPerBatch` files each — the
  * reference's drain-until-QueueEmpty shape. Each batch runs
  * MessageOps.normalize → NoiseFilter → Chunker.chunk →
  * VectorOps.hashEmbed (dim 768) → VectorStore.append. Drains repeat,
  * each into a new store, until the run's time is up.
  *
  * Operation = one micro-batch; its time is the batch's
  * `triggerExecution` duration (batch start to offset commit). */
object Ingest {
  val FilesPerBatch = 4
  val Dim = 768
  val MinDrains = 2

  private def normalize(b: DataFrame): DataFrame =
    MessageOps.normalize(b, col("kind"), col("body"), col("quote"), col("emoji"))
  private def noise(d: DataFrame): DataFrame = NoiseFilter(d, "body")

  final case class Params(ideal: Int, words: Int, stride: Int)

  private def chunk(d: DataFrame, p: Params): DataFrame =
    Chunker.chunk(d, "body", p.ideal, p.words)
  private def embed(d: DataFrame, p: Params): DataFrame =
    d.select((col("msg_id") * p.stride + col("chunk_id")).as("id"),
      VectorOps.hashEmbed(TextOps.words(col("chunk_text")), Dim).as("embedding"))

  final case class Drain(wallMs: Double, durations: Seq[Map[String, Double]],
      rows: Long, storeBytes: Long) {
    def batchMs: Seq[Double] = durations.map(_("triggerExecution"))
  }

  /** Per-drain measurements of a traced drain. */
  final class Traced {
    val batchPrefixMs = mutable.ArrayBuffer.empty[Double]
    val selfMs = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val rows = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    var filesWritten = 0L
    var bytesWritten = 0L
  }

  /** Set up (warm-up drain) and return the timed part. */
  def setup(c: Ctx): () => Unit = {
    val spark = c.spark
    val res = c.res
    val man = Json.read(c.input("manifest.json"))
    val p = Params(man.get("ideal_tokens").asInt, man.get("chunk_words").asInt,
      man.get("id_stride").asInt)
    val inputRows = man.get("input_rows").asLong
    val bodyBytes = man.get("input_body_bytes").asDouble
    val backlog = c.input("backlog")
    val schema = spark.read.parquet(backlog).schema

    def drain(tag: String, traced: Option[Traced], backlog: String = backlog): Drain = {
      val dir = c.work(s"ingest/$tag")
      val store = s"$dir/store"
      val w = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", FilesPerBatch)
        .parquet(backlog)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch { (b: DataFrame, _: Long) =>
          traced match {
            case None =>
              VectorStore.append(embed(chunk(noise(normalize(b)), p), p),
                "id", "embedding", store)
            case Some(t) => tracedBatch(c, b, store, p, t)
          }
        }
      val (q, ms) = Io.timed { val q = w.start(); q.awaitTermination(); q }
      val prog = q.recentProgress.toSeq
      val d = Drain(ms,
        prog.filter(_.numInputRows > 0).map(_.durationMs.asScala.map {
          case (k, v) => k -> v.doubleValue }.toMap),
        prog.map(_.numInputRows).sum, Io.bytes(store))
      q.exception.foreach(e => throw e)
      d
    }

    // warm-up: one drain of a small backlog of the same shape
    val (_, warmMs) = Io.timed(drain("warm", None, c.input("warmup")))
    Io.rm(c.work("ingest/warm"))
    res.phase(s"warm-up drain: ${warmMs.round} ms")
    () => measure(c, (tag, t) => drain(tag, t), inputRows, bodyBytes)
  }

  private def measure(c: Ctx, drain: (String, Option[Traced]) => Drain,
      inputRows: Long, bodyBytes: Double): Unit = {
    val res = c.res
    val t0 = System.nanoTime()
    val drains = mutable.ArrayBuffer.empty[Drain]
    val tracedDrain = if (c.o.trace) Some(new Traced) else None
    tracedDrain.foreach(t => drains += drain("traced", Some(t)))
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < c.o.seconds || i < MinDrains) {
      // keep the last drain's store for run.py's key check
      if (i > 0) Io.rm(c.work(s"ingest/d${i - 1}"))
      drains += drain(s"d$i", None)
      i += 1
    }
    drains.foreach(d => res.attempted += d.batchMs.size)
    val untraced = drains.drop(if (c.o.trace) 1 else 0)
    // a traced drain reads each batch once per prefix materialization;
    // its observed row count is checked below instead
    untraced.zipWithIndex.foreach { case (d, j) =>
      res.check(d.rows == inputRows,
        s"ingest drain $j read ${d.rows} rows, backlog has $inputRows")
    }
    c.res.info("last_store") = Json.str(c.work(s"ingest/d${i - 1}/store"))

    val batchMs = untraced.flatMap(_.batchMs)
    res.phase(s"batches: ${batchMs.map(_.round).mkString(" ")}")
    res.put("throughput_per_s",
      untraced.map(_.rows).sum / (untraced.map(_.wallMs).sum / 1000.0))
    res.put("op_p50_ms", Stats.median(batchMs))
    res.put("op_p90_ms", Stats.pct(batchMs, 90))
    res.put("output_bytes_per_input_byte", untraced.last.storeBytes / bodyBytes)
    res.put("ops", batchMs.size.toDouble)
    res.put("drains", untraced.size.toDouble)

    tracedDrain.foreach { t =>
      val td = drains.head
      val nb = td.batchMs.size.toDouble
      t.selfMs.foreach { case (k, v) => res.put(k, v / nb) }
      t.rows.foreach { case (k, v) => res.put(k, v.toDouble) }
      res.check(t.rows("MessageOps.rows_in") == inputRows,
        s"ingest traced drain observed ${t.rows("MessageOps.rows_in")} rows, " +
          s"backlog has $inputRows")
      res.put("NoiseFilter.kept_ratio",
        t.rows("Chunker.rows_in").toDouble / t.rows("NoiseFilter.rows_in"))
      res.put("VectorStore.append.files_written", t.filesWritten / nb)
      res.put("VectorStore.append.bytes_written", t.bytesWritten / nb)
      val dur = untraced.flatMap(_.durations)
      def mean(k: String) = Stats.mean(dur.map(_.getOrElse(k, 0.0)))
      res.put("Streams.batches", nb)
      res.put("Streams.addBatch_ms", mean("addBatch"))
      res.put("Streams.queryPlanning_ms", mean("queryPlanning"))
      res.put("Streams.walCommit_ms", mean("walCommit"))
      res.put("Streams.commitOffsets_ms", mean("commitOffsets"))
      val netTraced = td.batchMs.zip(t.batchPrefixMs).map { case (a, b) => a - b }
      Layers.opWork(c, c.tr.named("batch"))
      Layers.overhead(c, netTraced, batchMs)
    }
  }

  /** One traced micro-batch: time each prefix of the chain (noop
    * writes) for layer self times, then run the real append with row
    * counts observed at every layer boundary. */
  private def tracedBatch(c: Ctx, b: DataFrame, store: String, p: Params,
      t: Traced): Unit = {
    val tr = c.tr
    tr.request()
    tr.span("batch") {
      val prefixes = Seq(
        "scan" -> b,
        "MessageOps.self_ms" -> normalize(b),
        "NoiseFilter.self_ms" -> noise(normalize(b)),
        "Chunker.self_ms" -> chunk(noise(normalize(b)), p),
        "VectorOps.hashEmbed.self_ms" -> embed(chunk(noise(normalize(b)), p), p))
      // best of two materializations per prefix, so a layer's self time
      // is not swamped by run-to-run jitter of the longer prefixes
      val times = prefixes.map { case (name, df) =>
        (1 to 2).map(_ => Io.timed(tr.span(s"prefix.$name")(Io.noop(df)))._2).min
      }
      prefixes.map(_._1).zip(times).zip(0.0 +: times).drop(1).foreach {
        case ((name, tm), prev) => t.selfMs(name) += tm - prev
      }
      val obs = Seq("MessageOps.rows_in", "NoiseFilter.rows_in", "Chunker.rows_in",
        "Chunker.chunks_out").map(n => n -> Observation(n.replace('.', '_')))
      def watch(d: DataFrame, i: Int) = d.observe(obs(i)._2, count(lit(1)).as("n"))
      val chain = tr.span("construct") {
        embed(watch(chunk(watch(noise(watch(normalize(watch(b, 0)), 1)), 2), p), 3), p)
      }
      val before = Io.listing(store)
      val (_, appendMs) = Io.timed(tr.span("VectorStore.append") {
        VectorStore.append(chain, "id", "embedding", store)
      })
      val added = Io.listing(store).filter { case (f, _) =>
        f.endsWith(".parquet") && !before.contains(f) }
      t.filesWritten += added.size
      t.bytesWritten += added.values.sum
      t.selfMs("VectorStore.append.ms") += appendMs - times.last
      obs.foreach { case (n, o) =>
        t.rows(n) += o.get("n").asInstanceOf[Long] }
      t.rows("VectorOps.hashEmbed.rows") = t.rows("Chunker.chunks_out")
      t.batchPrefixMs += tr.children(tr.current).filter(_.name.startsWith("prefix."))
        .map(_.ms).sum
    }
  }
}
