package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query task telemetry (round 12): spill bytes, peak execution
  * memory, and the max/median task-time ratio — the skew signature.
  * A uniform shuffle has ratio ≈ 1-3; a hot key pushes one task's time
  * far past the median while wall-clock hides it behind the other 31
  * cores. Stats accumulate between `reset()` and `snapshot()`. */
private final class TaskStatsListener extends SparkListener {
  private val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var spillBytes = 0L
  private var peakMem = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      durations += e.taskInfo.duration
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }
  def reset(): Unit = synchronized {
    durations.clear(); spillBytes = 0L; peakMem = 0L
  }
  /** (nTasks, maxTaskMs, medianTaskMs, spillBytes, peakExecMemBytes) */
  def snapshot(): (Int, Long, Long, Long, Long) = synchronized {
    val d = durations.sorted
    val max = if (d.nonEmpty) d.last else 0L
    val med = if (d.nonEmpty) d(d.length / 2) else 0L
    (d.length, max, med, spillBytes, peakMem)
  }
}

/** Scaling-curve harness (SCALING.md, round 11): time named operators
  * at a given fixture dir — `tools/gen_scale_fixtures.py` generates
  * the same distribution at any multiplier, so running this across
  * m=1/3/10 dirs yields per-operator scaling exponents.
  *
  * Usage: `runMain graft.tools.ScaleBench <sfDir> <name...>`.
  * Three timed passes per name (first is the warmup; min of the last
  * two reported, all three printed). Store-backed declared queries
  * (q72/q83/q93/q97) build their per-(JVM, dataset) stores during the
  * warmup pass — across scales the measured number is consistently the
  * warm probe.
  *
  * Beyond the declared queries, `q48_prod` times the production
  * near-dup regime (threshold 0.8, 8×8-bit bands): the DECLARED q48
  * pins the fixture regime (0.3, 16×1-bit) where 1-bit bands cannot
  * prune (p_agree≈0.6 — CLAUDE.md round-2), so its candidate volume is
  * inherently quadratic; the production regime is the 100 TB shape. */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = graft.Session.local()

    def build(name: String) = name match {
      case "q48_prod" =>
        graft.operators.Similarity.nearDupPairsLsh(
          graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding")
      // q65 breakdown: pair generation alone (attributes the super-linear
      // term — Σ_shingle df² — to the shingle equi-join, not the CC loop)
      case "q65_pairs" =>
        import org.apache.spark.sql.functions.{col, lit}
        graft.operators.Dedup.ngramJaccardPairs(
          graft.Tables.documents(spark, sfDir).withColumn("__g", lit(1)),
          "doc_id", "text", "__g", k = 3, threshold = 0.5)
      // q22 with the hot-shingle guard — the skew-study mitigation: the
      // Zipf fixture's hot source concentrates Σdf² in one group, and
      // the cap bounds exactly that term (SCALING.md skew section)
      case "q22_capped" =>
        graft.operators.Dedup.ngramJaccardPairs(
          graft.Tables.documents(spark, sfDir),
          "doc_id", "text", "source", k = 3, threshold = 0.5,
          maxShingleDf = 64)
      // q191 is UNGROUPED (quote detection crosses sources), so its
      // uncapped corpus-wide Σdf² is the q22 regime amplified — the
      // cap (maxShingleDf = 64) is the production posture AND the
      // operator default since r19; declared q191 pins Int.MaxValue
      case "q191_default" =>
        graft.operators.Dedup.containmentPairs(
          graft.Tables.documents(spark, sfDir),
          "doc_id", "text", k = 3, threshold = 0.5)
      // q193 with the blocks decomposition on both internal band joins
      // — the scale posture (declared query pins blocks=1 at sf0.01)
      case "q193_blocks" =>
        graft.operators.Curation.splitLeakage(
          graft.Tables.documents(spark, sfDir),
          "doc_id", "text", valPermille = 200, maxHamming = 3,
          selfJoinBlocks = 8)
      // the r14 merge tree at a WIDE partition layout: 2048 input
      // partitions force three tree levels (2048 → 64 → 2 → 1) where
      // the fixture scan gives one; the delta vs plain q100 prices the
      // tree machinery itself (the driver hold stays ≤ capacity)
      case "q100_wide" =>
        graft.operators.Scale.heavyHitters(
          graft.Tables.events(spark, sfDir).repartition(2048),
          "user_id", minShare = 0.008)
      // production keep-first: the SAME policy as declared q47 but over
      // the CAPPED pair stream — the hot-source regime where the
      // uncapped pair join is 107 s / 56 GB spill at m30z while the
      // capped one stays flat (SCALING.md)
      case "q47_capped" =>
        import org.apache.spark.sql.functions.col
        val docs = graft.Tables.documents(spark, sfDir)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs, "doc_id", "text", "source", k = 3, threshold = 0.5,
          maxShingleDf = 64)
        graft.operators.Dedup.keepFirst(docs, "doc_id", pairs)
          .select(col("doc_id"), col("source"), col("n_chars"))
      // q87's guarded plan — exact count-agg + sort-merge rejoin, no
      // list aggregate anywhere (the m30z straggler/OOM answer; the
      // former hot-set machinery measured 70 s here vs this plan's 37)
      case "q87_capped" =>
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.duplicatedSpans(
          graft.Tables.documents(spark, sfDir), "doc_id", "text",
          k = 32, boundedPlan = true)
          .orderBy(col("doc_id"))
      // q65 with the hot-shingle guard engaged — the 100 TB regime. A
      // shingle in >64 docs is corpus boilerplate (here: an artifact of
      // the closed 30-word fixture vocabulary, whose shingle df grows
      // ∝ N instead of saturating like natural text); capping bounds
      // join cost at Σ min(df,64)² = O(#distinct shingles · 64²).
      case "q65_capped" =>
        import org.apache.spark.sql.functions.{col, lit}
        val docs = graft.Tables.documents(spark, sfDir)
        val pairs = graft.operators.Dedup.ngramJaccardPairs(
          docs.withColumn("__g", lit(1)), "doc_id", "text", "__g",
          k = 3, threshold = 0.5, maxShingleDf = 64)
        graft.operators.Dedup.connectedComponents(
          docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
      // the r12 hot-band-bucket mitigation measured: clusters with the
      // block-decomposed self-join (8 blocks → a B-row bucket's pair
      // stream fans over 64 tasks instead of 1)
      case "q98_blocks" =>
        graft.operators.Dedup.simhashClusters(
          graft.Tables.documents(spark, sfDir), "doc_id", "text",
          maxHamming = 3, selfJoinBlocks = 8)
      // the doc-level pair form with the same decomposition
      case "q25_blocks" =>
        import org.apache.spark.sql.functions.col
        graft.operators.Dedup.simhashNearDups(
          graft.Tables.documents(spark, sfDir), "doc_id", "text",
          maxHamming = 3, selfJoinBlocks = 8)
          .orderBy(col("id_a"), col("id_b"))
      // q98 breakdown: attribute the cluster form's cost across its
      // stages — signature kernel, distinct-sig collapse, band join
      // over distinct sigs, CC over the group graph
      case "q98_sigs" | "q98_groups" | "q98_gpairs" | "q98_cc" =>
        import org.apache.spark.sql.functions.{col, min}
        val docs = graft.Tables.documents(spark, sfDir)
        val sigs = docs.select(col("doc_id").as("doc"), col("text"))
          .repartition(64, col("doc"))
          .select(col("doc"), graft.operators.Dedup.simhash(col("text"), 64).as("sig"))
        name match {
          case "q98_sigs" => sigs
          case "q98_groups" =>
            sigs.groupBy(col("sig")).agg(min(col("doc")).as("rep"))
          case _ =>
            val groups = sigs.groupBy(col("sig")).agg(min(col("doc")).as("rep"))
              .localCheckpoint()
            val pairs = graft.operators.Dedup.simhashBandPairs(
              groups.select(col("rep").as("doc"), col("sig")), 3)
            if (name == "q98_gpairs") pairs
            else graft.operators.Dedup.connectedComponents(
              groups.select(col("rep")), "rep", pairs, "id_a", "id_b")
        }
      // image-dedup scale probe: <sfDir> IS the image directory here
      // (tools/gen_image_fixtures.py can generate any count into a
      // temp dir) — decode-bound, binaryFile splits by file so the
      // hash stage parallelizes; the pair join is the measured
      // simhashBandPairs machinery
      case "q129_dir" =>
        graft.sources.Multimodal.imageNearDups(spark,
          graft.sources.Multimodal.readBinaryDir(spark, sfDir, "*.bmp"))
      case n => graft.SparkEntry.queries(n)(spark, sfDir)
    }

    val stats = new TaskStatsListener
    spark.sparkContext.addSparkListener(stats)

    names.foreach { name =>
      try {
        val ts = (1 to 3).map { pass =>
          if (pass == 3) {
            // telemetry from the final (warmest) pass only: stats from
            // the warmup pass would include store builds / checkpoints
            stats.reset()
          }
          val t0 = System.nanoTime()
          build(name).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // listener delivery is async; give the bus a beat to drain
        Thread.sleep(300)
        val (nTasks, maxMs, medMs, spill, peak) = stats.snapshot()
        val ratio = if (medMs > 0) maxMs.toDouble / medMs else 0.0
        println(f"[scale] $name%-28s min2=${ts.drop(1).min}%8.3f s  " +
          f"all=${ts.map(t => f"$t%.2f").mkString("/")}  " +
          f"tasks=$nTasks%d maxTask=${maxMs / 1e3}%.2fs medTask=${medMs / 1e3}%.3fs " +
          f"ratio=$ratio%.1f spillMB=${spill / 1048576.0}%.1f peakMemMB=${peak / 1048576.0}%.1f")
      } catch {
        case e: Exception =>
          println(s"[scale] $name ERROR: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    spark.stop()
  }
}
