package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextOps, VectorOps}
import graft.operators.{Chunker, EmbedPipeline, MessageOps, NoiseFilter, RagPrompt}
import graft.sources.VectorStore

/** `serve`: one user asks RAG questions against a VectorStore built
  * during set-up — a closed loop with one client. A question runs
  * EmbedPipeline.probeVector → VectorStore.topK (k = 10) → a join back
  * to the chunk text → RagPrompt.prompts, with the prompts collected on
  * the driver. Writes are interleaved on a fixed operation-count
  * schedule: every cycle of `Cycle` operations holds one small
  * append, one delete and one compaction; the rest are questions,
  * drawn with Zipf weights from a seeded pool. Whole cycles run until
  * the run's time is up.
  *
  * Operation time reported as `op_p50_ms`/`op_p90_ms` is the question
  * latency (question to collected prompts); throughput counts every
  * operation. */
object Serve {
  val Dim = 768
  val K = 10
  val Cycle = 10
  val TracedCycles = 1
  val MinCycles = 1
  val CheckQuestions = 2
  val WarmQuestions = 1

  /** Operation at position `i` of the schedule: per cycle of ten, one
    * append, one delete and one compaction; the rest questions. */
  def opAt(i: Int): String = i % Cycle match {
    case 3 => "append"
    case 6 => "delete"
    case 9 => "compact"
    case _ => "question"
  }

  private def prepared(df: DataFrame, stride: Int, ideal: Int, words: Int): DataFrame = {
    val norm = MessageOps.normalize(df, col("kind"), col("body"), col("quote"), col("emoji"))
    Chunker.chunk(NoiseFilter(norm, "body"), "body", ideal, words)
      .select((col("msg_id") * stride + col("chunk_id")).as("id"),
        col("chunk_text"),
        VectorOps.hashEmbed(TextOps.words(col("chunk_text")), Dim).as("embedding"))
  }

  /** Set up (store build and warm-up) and return the timed part. */
  def setup(c: Ctx): () => Unit = {
    val spark = c.spark
    val res = c.res
    val tr = c.tr
    val man = Json.read(c.input("manifest.json"))
    val stride = man.get("id_stride").asInt
    val ideal = man.get("ideal_tokens").asInt
    val words = man.get("chunk_words").asInt
    val bodyBytes = man.get("input_body_bytes").asDouble
    val qs = Json.read(c.input("questions.json"))
    val pool = qs.get("pool").elements.asScala.map(_.asText).toVector
    val draws = qs.get("draws").elements.asScala.map(_.asInt).toVector
    val deletes = qs.get("delete_msgs").elements.asScala
      .map(_.elements.asScala.map(_.asLong).toVector).toVector
    val schema = spark.read.parquet(c.input("corpus")).schema
    val appendFiles = new java.io.File(c.input("appends")).listFiles
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted.toVector
    def msgs(path: String) = spark.read.schema(schema).parquet(path)

    Io.rm(c.work("serve"))
    val store = c.work("serve/store")
    val chunks = c.work("serve/chunks")

    def append(path: String): Unit = {
      val df = prepared(msgs(path), stride, ideal, words).persist()
      df.select("id", "chunk_text").write.mode("append").parquet(chunks)
      VectorStore.append(df, "id", "embedding", store)
      df.unpersist()
    }

    // --- set-up: build the store through the append path, which also
    // warms it for the appends of the timed loop ------------------------
    append(c.input("corpus"))
    // the chunk table is the benchmark's own: its schema is read once
    // here, so a question fires no schema-inference job for it
    val chunkSchema = spark.read.parquet(chunks).schema
    res.put("output_bytes_per_input_byte", Io.bytes(store) / bodyBytes)
    /** Delete every chunk of the given messages (ids of chunks that do
      * not exist are harmless). */
    def delete(msgIds: Seq[Long]): Unit = {
      import spark.implicits._
      val ids = msgIds.flatMap(m => (0 until 8).map(j => m * stride + j))
      VectorStore.delete(spark, store, ids.toDF("id"))
    }
    def ask(q: String, traced: Boolean): Array[org.apache.spark.sql.Row] = {
      val (top, joined, prompts) = tr.span("construct") {
        val probe = tr.span("EmbedPipeline.probeVector") {
          EmbedPipeline.probeVector(spark, q, Dim)
        }
        val top = tr.span("VectorStore.topK.build") {
          VectorStore.topK(spark, store, "id", "embedding", probe, K)
        }
        val text = spark.read.schema(chunkSchema).parquet(chunks)
        val joined = top.join(text, Seq("id"))
        val prompts = tr.span("RagPrompt.build") {
          RagPrompt.prompts(joined, q, "chunk_text")
        }.select("id", "sim", "chunk_text", "prompt")
          .orderBy(col("sim").desc, col("id"))
        (top, joined, prompts)
      }
      if (traced) {
        tr.span("prefix.topK")(Io.noop(top))
        tr.span("prefix.join")(Io.noop(joined))
      }
      tr.span("action")(prompts.collect())
    }
    def checkPrompts(q: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      res.expect(rows.length == K && rows.forall { r =>
        val p = r.getString(3)
        p.contains(q) && p.contains(r.getString(2))
      }, s"serve: prompts for question '$q' miss the question or a context")

    res.phase("store built")

    // --- warm-up: the other operation kinds, on the store itself -------
    tr.traced(enabled = false) {
      delete(deletes.last)
      VectorStore.compact(spark, store)
    }
    tr.traced(enabled = false) {
      (0 until WarmQuestions).foreach(qi => ask(pool(qi), traced = false))
    }
    res.phase("warm-up done")

    // --- recall (traced runs only): every question of the pool against
    // an exact unpruned top-10 over the store as set up -----------------
    if (c.o.trace) {
      val (_, oracleMs) = Io.timed(tr.traced(enabled = false) {
        val all = Oracle.collect(spark, store)
        val overlaps = pool.map { q =>
          val probe = EmbedPipeline.probeVector(spark, q, Dim)
          val got = VectorStore.topK(spark, store, "id", "embedding", probe, K)
            .collect().map(_.getLong(0)).toSet
          val exact = Oracle.topK(all, probe, K, _ => true).map(_._1).toSet
          (exact intersect got).size.toDouble / K
        }
        res.put("serve.recall_at_10", Stats.mean(overlaps))
      })
      res.benchMsInSetUp += oracleMs
      res.phase(s"recall over ${pool.size} questions: ${oracleMs.round} ms")
    }

    () => {
      // --- timed loop ----------------------------------------------------
      val qMs = mutable.ArrayBuffer.empty[Double]
      val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      val written = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      var nextAppend = 0
      var nextDelete = 0
      var nextDraw = 0
      var i = 0
      var loopMs = 0.0
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < c.o.seconds ||
          i < ((if (c.o.trace) TracedCycles else 0) + MinCycles) * Cycle) {
        val cycleStart = System.nanoTime()
        val traced = c.o.trace && i < TracedCycles * Cycle
        (0 until Cycle).foreach { _ =>
          val kind = opAt(i)
          if (traced) tr.request()
          res.attempted += 1
          val before = if (traced && kind != "question") Io.listing(store) else Map.empty[String, Long]
          try {
            val (_, ms) = Io.timed(tr.traced(traced)(tr.span(kind) {
              kind match {
                case "question" =>
                  val q = pool(draws(nextDraw % draws.size))
                  nextDraw += 1
                  checkPrompts(q, ask(q, traced))
                case "append" =>
                  append(appendFiles(nextAppend % appendFiles.size))
                  nextAppend += 1
                case "delete" =>
                  delete(deletes(nextDelete % deletes.size))
                  nextDelete += 1
                case "compact" => VectorStore.compact(spark, store)
              }
            }))
            if (!traced) opMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
            if (kind == "question" && !traced) qMs += ms
            if (traced && kind != "question") {
              val added = Io.listing(store).filter { case (f, _) =>
                f.endsWith(".parquet") && !before.contains(f) }
              written(s"$kind.files") += added.size
              written(s"$kind.bytes") += added.values.sum
            }
          } catch {
            case e: Exception => res.fail(s"serve $kind op $i failed: $e")
          }
          i += 1
        }
        if (!traced) loopMs += (System.nanoTime() - cycleStart) / 1e6
      }
      val untracedOps = opMs.values.map(_.size).sum
      res.put("throughput_per_s", untracedOps / (loopMs / 1000.0))
      res.put("op_p50_ms", Stats.median(qMs.toSeq))
      res.put("op_p90_ms", Stats.pct(qMs.toSeq, 90))
      res.put("ops", untracedOps.toDouble)
      res.put("questions", qMs.size.toDouble)
      opMs.foreach { case (k, v) => res.phase(s"$k: n=${v.size} p50=${Stats.median(v).round} ms") }

      // --- check pass: topK against an exact top-k over the same probed
      // buckets with tombstones removed (after a fresh delete, so some
      // are pending) ----------------------------------------------------
      delete(deletes(nextDelete % deletes.size))
      val all = Oracle.collect(spark, store)
      val dead = Oracle.tombstones(spark, store)
      (0 until CheckQuestions).foreach { qi =>
        val probe = EmbedPipeline.probeVector(spark, pool(qi), Dim)
        val buckets = VectorStore.probeBuckets(spark, probe).toSet
        val live = (r: Oracle.Row) => buckets.contains(r.bucket) && !dead.contains(r.id)
        val exact = Oracle.topK(all, probe, K, live)
        val got = VectorStore.topK(spark, store, "id", "embedding", probe, K)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        res.check(Oracle.sameTopK(got, exact, all, probe, live),
          s"serve: topK for question $qi differs from the exact top-$K: " +
            s"got ${got.take(3)}..., expected ${exact.take(3)}...")
      }

      if (c.o.trace) traceFigures(c, qMs.toSeq, written)
    }
  }

  private def traceFigures(c: Ctx, untraced: Seq[Double],
      written: collection.Map[String, Double]): Unit = {
    val tr = c.tr
    val res = c.res
    val questions = tr.named("question")
    Layers.opWork(c, questions)
    val n = math.max(1, questions.size).toDouble
    def sumUnder(op: Span, name: String): Double =
      tr.under(op).filter(_.name == name).map(_.ms).sum
    def spanOf(op: Span, name: String): Option[Span] =
      tr.under(op).find(_.name == name)
    res.put("VectorStore.topK.ms", questions.map(q =>
      sumUnder(q, "VectorStore.topK.build") + sumUnder(q, "prefix.topK")).sum / n)
    res.put("RagPrompt.self_ms", questions.map(q =>
      sumUnder(q, "action") - sumUnder(q, "prefix.join")).sum / n)
    res.put("RagPrompt.prompts", K.toDouble)
    val scans = questions.flatMap(q => spanOf(q, "prefix.topK"))
      .flatMap(s => tr.workUnder(s).scans)
      .filter(s => s.path.contains("serve/store") && !s.path.contains("_tombstones"))
    val sn = math.max(1, scans.size).toDouble
    res.put("VectorStore.topK.rows_scanned_per_result", scans.map(_.rows).sum / sn / K)
    res.put("VectorStore.topK.files_read", scans.map(_.files).sum / sn)
    res.put("VectorStore.topK.buckets_read_share",
      scans.map(_.partitions).sum / sn / (1 << 4))
    def opMean(kind: String) = {
      val ops = tr.named(kind)
      if (ops.isEmpty) 0.0 else Stats.mean(ops.map(_.ms))
    }
    res.put("VectorStore.append.ms", opMean("append"))
    res.put("VectorStore.compact.ms", opMean("compact"))
    def perOp(kind: String, k: String) = written(s"$kind.$k") / math.max(1, tr.named(kind).size)
    res.put("VectorStore.append.files_written", perOp("append", "files"))
    res.put("VectorStore.append.bytes_written", perOp("append", "bytes"))
    res.put("VectorStore.compact.bytes_rewritten", perOp("compact", "bytes"))
    val netTraced = questions.map(q => q.ms - sumUnder(q, "prefix.topK") -
      sumUnder(q, "prefix.join"))
    Layers.overhead(c, netTraced, untraced)
  }
}

/** Driver-side exact top-k over the store's rows: the oracle for
  * `VectorStore.topK`. Cosine is computed as the library defines it
  * (dot over the product of the norms, rounded half-up to 6 places). */
object Oracle {
  final case class Row(id: Long, bucket: Int, vec: Array[Double])

  def collect(spark: SparkSession, store: String): Array[Row] =
    spark.read.parquet(store).select("id", "bucket", "embedding").collect()
      .map(r => Row(r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))

  def tombstones(spark: SparkSession, store: String): Set[Long] = {
    val dir = new java.io.File(s"$store/_tombstones")
    if (!dir.exists) Set.empty
    else spark.read.parquet(dir.getPath).collect().map(_.getLong(0)).toSet
  }

  def cos6(a: Array[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def topK(rows: Array[Row], probe: Seq[Double], k: Int,
      keep: Row => Boolean): Seq[(Long, Double)] =
    rows.iterator.filter(keep).map(r => (r.id, cos6(r.vec, probe))).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** `got` is a correct top-k: every id is a live candidate whose
    * exact similarity matches the reported one, and the similarity
    * sequence equals the exact top-k's (ids may differ only inside a
    * tie). */
  def sameTopK(got: Seq[(Long, Double)], exact: Seq[(Long, Double)],
      rows: Array[Row], probe: Seq[Double], keep: Row => Boolean): Boolean = {
    val live = rows.iterator.filter(keep).map(r => r.id -> r).toMap
    val tol = 2e-6
    got.size == exact.size && got.map(_._1).distinct.size == got.size &&
      got.zip(exact).forall { case ((_, gs), (_, es)) => math.abs(gs - es) <= tol } &&
      got.forall { case (id, s) =>
        live.get(id).exists(r => math.abs(cos6(r.vec, probe) - s) <= tol)
      }
  }
}
