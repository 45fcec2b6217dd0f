package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{SignatureStore, StoreFs}

/** Incremental dedup against the persisted MinHash signature store
  * (sources/SignatureStore.scala): batch-vs-store pairs must equal the
  * corpus-self near-dup pairs restricted to (batch, stored) cross
  * pairs, the probe's store read must prune shards at the PLAN level,
  * and a store built by streaming micro-batches must equal the
  * batch-built store.
  */
class SignatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private val p = SignatureStore.Params(shingleK = 3, nBands = 8,
    rowsPerBand = 2, nShards = 32)
  private val threshold = 0.5

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val stored = docs.filter($"doc_id" % 5 =!= 0)
  private lazy val batch = docs.filter($"doc_id" % 5 === 0)

  private lazy val path: String = {
    val dir = Files.createTempDirectory("graft_sigstore").toString
    SignatureStore.write(stored, "doc_id", "text", dir, p)
    dir
  }

  test("batch-vs-store pairs == corpus-self near-dup pairs restricted to cross pairs") {
    val got = SignatureStore
      .dedupAgainstStore(batch, "doc_id", "text", path, p, threshold)
      .as[(Long, Long, Double)].collect()
      .map { case (n, s, j) => ((math.min(n, s), math.max(n, s)), j) }
      .toMap
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val expected = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleK = p.shingleK, nBands = p.nBands, rowsPerBand = p.rowsPerBand,
        jaccardThreshold = threshold)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => batchIds.contains(a) != batchIds.contains(b) }
      .map { case (a, b, j) => ((a, b), j) }
      .toMap
    assert(got.nonEmpty, "fixture split produced no cross near-dup pairs")
    assert(got === expected)
  }

  test("probe read prunes shard partitions at plan time (PartitionFilters carry shard)") {
    // a tiny batch touches at most nBands distinct buckets → few shards
    val tiny = batch.orderBy($"doc_id").limit(2)
    val tinyShards = SignatureStore
      .dedupAgainstStore(tiny, "doc_id", "text", path, p, threshold)
    // recompute the shard set the probe derives, then inspect the read
    val shards = tiny.select($"doc_id".as("doc"), $"text")
      .select(Dedup.minhashSignature(
        Dedup.shingles($"text", p.shingleK), p.nBands * p.rowsPerBand).as("sig"))
      .select(posexplode(transform(sequence(lit(0), lit(p.nBands - 1)),
        b => array_join(slice($"sig", b * p.rowsPerBand + 1, lit(p.rowsPerBand)), ":")))
        .as(Seq("band", "bucket")))
      .select(pmod(hash($"bucket"), lit(p.nShards)).as("shard"))
      .distinct().as[Int].collect().toSeq
    assert(shards.nonEmpty && shards.length < p.nShards)
    val plan = SignatureStore.readShards(spark, path, shards)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.split("PartitionFilters")(1).contains("shard"), plan)
    // and the full probe still returns a subset of the all-pairs result
    val all = SignatureStore
      .dedupAgainstStore(batch, "doc_id", "text", path, p, threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(tinyShards.as[(Long, Long, Double)].collect().toSet.subsetOf(all))
  }

  test("streaming ingestDedup: survivors cover every dropped doc; exact re-ingest inserts NOTHING") {
    val staging = Files.createTempDirectory("graft_ing_stage").toString
    docs.repartition(4).write.mode("overwrite").parquet(staging)
    val store = Files.createTempDirectory("graft_ing_store").toString + "/s"
    val accepted = Files.createTempDirectory("graft_ing_acc").toString + "/a"
    def run(): Unit = {
      val ckpt = Files.createTempDirectory("graft_ing_ckpt").toString
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(staging)
      val q = SignatureStore.ingestDedup(stream, "doc_id", "text",
        store, accepted, ckpt, p, threshold)
      assert(q.awaitTermination(180000))
    }
    run()
    val acceptedIds = spark.read.parquet(accepted)
      .select($"doc_id").as[Long].collect().toSet
    val allIds = docs.select($"doc_id").as[Long].collect().toSet
    assert(acceptedIds.nonEmpty && acceptedIds.subsetOf(allIds))
    // every dropped doc is a near-dup (or exact dup) of an accepted one
    val dropped = docs.filter(!$"doc_id".isInCollection(acceptedIds))
    if (dropped.count() > 0) {
      val matched = SignatureStore.dedupAgainstStore(dropped, "doc_id", "text",
          store, p, threshold)
        .select($"id_new").as[Long].collect().toSet
      val exactDups = docs.as[(Long, String, String, String, Long)].collect()
        .groupBy(_._2).values.filter(_.length > 1)
        .flatMap(_.map(_._1)).toSet
      val droppedIds = allIds -- acceptedIds
      assert(droppedIds.forall(id => matched.contains(id) || exactDups.contains(id)))
    }
    // the reference's failure mode, fixed: re-running the same ingest
    // (fresh checkpoint, same data) must insert zero new documents
    run()
    val after = spark.read.parquet(accepted)
      .select($"doc_id").as[Long].collect()
    assert(after.length === acceptedIds.size)
    assert(after.toSet === acceptedIds)
  }

  test("crash-replay idempotence: a crash between the store append and the accepted " +
      "write loses nothing — replay converges to exactly one copy of every survivor") {
    val store = Files.createTempDirectory("graft_cr_store").toString + "/s"
    val accepted = Files.createTempDirectory("graft_cr_acc").toString + "/a"
    // batch 0 ingests normally (empty store: everything survives)
    SignatureStore.processBatch(stored, "b0_t", "doc_id", "text", store,
      accepted, p, threshold)
    val afterB0 = spark.read.parquet(accepted)
      .select($"doc_id").as[Long].collect().toSet
    // batch 1: reproduce the r8 crash window — the store append
    // COMPLETED, the accepted write never ran
    val kept1 = SignatureStore.decideKept(batch, "b1_t", "doc_id", "text",
      store, p, threshold)
    val survivors = kept1.select($"doc_id").as[Long].collect().toSet
    val exactIds = Dedup.exact(batch, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors.nonEmpty)
    assert((exactIds -- survivors).nonEmpty,
      "fixture split produced no store-dropped docs; crash window untested")
    SignatureStore.appendBatch(kept1, "doc_id", "text", store, "b1_t", p)
    // ...crash... then the streaming engine replays the WHOLE batch
    SignatureStore.processBatch(batch, "b1_t", "doc_id", "text", store,
      accepted, p, threshold)
    val acc = spark.read.parquet(accepted).select($"doc_id").as[Long].collect().toSeq
    // every survivor reached the accepted sink EXACTLY once (the r8 code
    // silently dropped all of batch 1 here: its rows near-dup-matched
    // their own prior insertion and never reached the accepted sink)
    assert(acc.size === acc.distinct.size)
    assert(acc.toSet === afterB0 ++ survivors)
    // and the store holds exactly one copy of every doc's band rows
    val bandDup = spark.read.parquet(store + "/bands")
      .groupBy($"doc", $"band").count().filter($"count" > 1).count()
    assert(bandDup === 0L)
  }

  test("production regime (0.8, 8 bands x 2 rows): planted near-dup batch survives the candidate stage") {
    // banding math (mirrors nearDupPairsLsh's documented split): at
    // jaccard j the per-band agreement is ~j^rowsPerBand, so P(pair
    // missed) = (1 - j^2)^8 ≈ 2.8e-4 at j = 0.8 — the DEFAULT Params
    // are this production regime; q72/these fixtures pin 8×2 only
    // because the corpus-self threshold there is 0.5. minhash is
    // seeded, so the outcome on the fixed fixture texts is
    // deterministic.
    val prodP = SignatureStore.Params() // defaults = production regime
    val dir = Files.createTempDirectory("graft_sig_prod").toString + "/s"
    SignatureStore.write(stored, "doc_id", "text", dir, prodP)
    // plant one-word-appended near-dups of 20 stored docs: a doc with
    // W >= 12 words has >= 10 distinct 3-shingles and the append adds
    // exactly one, so jaccard >= 10/11 ≈ 0.91 > 0.8
    val planted = stored
      .filter(size(graft.functions.TextOps.words($"text")) >= 12)
      .orderBy($"doc_id").limit(20)
      .select(($"doc_id" + 100000L).as("doc_id"),
        concat($"text", lit(" zzzplanted")).as("text"))
    val plantedIds = planted.select($"doc_id").as[Long].collect().toSet
    assert(plantedIds.size === 20)
    val got = SignatureStore
      .dedupAgainstStore(planted, "doc_id", "text", dir, prodP, 0.8)
      .as[(Long, Long, Double)].collect()
    got.foreach { case (_, _, j) => assert(j >= 0.8) }
    val pairs = got.map(r => (r._1, r._2)).toSet
    plantedIds.foreach { pid =>
      assert(pairs.contains((pid, pid - 100000L)), s"missed planted twin $pid")
    }
  }

  test("compaction: probe results identical, file count reduced") {
    val dir = Files.createTempDirectory("graft_cmp_store").toString + "/s"
    SignatureStore.write(stored, "doc_id", "text", dir, p)
    // simulate daily accretion: several small per-batch ingest partitions
    (0 until 3).foreach { i =>
      SignatureStore.appendBatch(batch.filter($"doc_id" % 3 === i),
        "doc_id", "text", dir, s"b${i}_x", p)
    }
    def probeRes() = SignatureStore
      .dedupAgainstStore(batch, "doc_id", "text", dir, p, threshold)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    def nFiles(): Int = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(f => f.toString.endsWith(".parquet"))
    }
    val before = probeRes()
    val filesBefore = nFiles()
    SignatureStore.compact(spark, dir, p)
    assert(probeRes() === before)
    assert(nFiles() < filesBefore, s"$filesBefore -> ${nFiles()}")
  }

  test("delete: a tombstoned doc stops acting as dedup evidence " +
      "immediately; compact removes its rows and clears the tombstones") {
    val dir = Files.createTempDirectory("graft_sigstore_del").toString
    SignatureStore.write(stored, "doc_id", "text", dir, p)
    def pairs(): Seq[(Long, Long, Double)] =
      SignatureStore.dedupAgainstStore(batch, "doc_id", "text", dir, p,
          threshold)
        .as[(Long, Long, Double)].collect().toSeq.sorted
    val before = pairs()
    assert(before.nonEmpty)
    val victim = before.head._2 // a stored doc that currently matches
    SignatureStore.delete(spark, dir, Seq(victim, -1L).toDF("doc_id"))
    val after = pairs()
    assert(after === before.filterNot(_._2 == victim))
    // compact: physically gone on both surfaces, tombstones cleared,
    // probe unchanged
    SignatureStore.compact(spark, dir, p)
    assert(pairs() === after)
    assert(spark.read.parquet(dir + "/bands")
      .filter($"doc" === victim).count() === 0L)
    assert(spark.read.parquet(dir + "/shingles")
      .filter($"doc" === victim).count() === 0L)
    assert(!new java.io.File(dir + "/_tombstones").exists())
  }

  test("streaming AvailableNow store build equals the batch-built store") {
    val staging = Files.createTempDirectory("graft_sig_stage").toString
    stored.repartition(4).write.mode("overwrite").parquet(staging)
    val streamed = Files.createTempDirectory("graft_sig_stream").toString
    val checkpoint = Files.createTempDirectory("graft_sig_ckpt").toString
    val stream = spark.readStream.schema(stored.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(staging)
    val q = SignatureStore.appendStream(stream, "doc_id", "text",
      streamed, checkpoint, p)
    assert(q.awaitTermination(120000))
    def bandSet(dir: String) = spark.read.parquet(dir + "/bands")
      .select($"doc", $"band", $"bucket", $"shard")
      .as[(Long, Int, String, Int)].collect().toSet
    assert(bandSet(streamed) === bandSet(path))
    val a = SignatureStore
      .dedupAgainstStore(batch, "doc_id", "text", streamed, p, threshold)
      .as[(Long, Long, Double)].collect().toSet
    val b = SignatureStore
      .dedupAgainstStore(batch, "doc_id", "text", path, p, threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("decontaminateAgainstStore == decontaminateFuzzy at the same " +
      "params (probe identity); a tombstoned benchmark doc stops " +
      "flagging immediately") {
    val p16 = SignatureStore.Params(shingleK = 3, nBands = 16,
      rowsPerBand = 1, nShards = 32)
    val bench = docs.filter($"doc_id" < 100)
    val corpus = docs.filter($"doc_id" >= 100)
    val dir = Files.createTempDirectory("graft_benchsig").toString
    SignatureStore.write(bench, "doc_id", "text", dir, p16)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val fromStore = collect(SignatureStore.decontaminateAgainstStore(
      corpus, "doc_id", "text", dir, p16, jaccardThreshold = 0.8))
    val fromFrame = collect(graft.operators.Curation.decontaminateFuzzy(
      corpus, bench, "doc_id", "text", shingleK = 3, nBands = 16,
      rowsPerBand = 1, jaccardThreshold = 0.8))
    assert(fromStore.nonEmpty, "fixture produced no contamination hits")
    assert(fromStore === fromFrame)
    // tombstone ONE benchmark doc that acted as evidence: the store
    // probe must now equal the frame form over bench-minus-that-doc
    val pairs = SignatureStore.dedupAgainstStore(corpus, "doc_id",
        "text", dir, p16, 0.8)
      .as[(Long, Long, Double)].collect()
    val victim = pairs.map(_._2).min
    SignatureStore.delete(spark, dir, Seq(victim).toDF("doc"))
    val masked = collect(SignatureStore.decontaminateAgainstStore(
      corpus, "doc_id", "text", dir, p16, jaccardThreshold = 0.8))
    val expectedMasked = collect(graft.operators.Curation.decontaminateFuzzy(
      corpus, bench.filter($"doc_id" =!= victim), "doc_id", "text",
      shingleK = 3, nBands = 16, rowsPerBand = 1,
      jaccardThreshold = 0.8))
    assert(masked === expectedMasked)
    assert(masked !== fromStore, "tombstone changed nothing — victim " +
      "was not evidence for any kept doc")
  }

  test("hasCommittedData probes through the Hadoop FileSystem (file:// URIs)") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_fsprobe")
    val uri = "file://" + tmp.toString
    // absent dir -> absent store
    assert(!StoreFs.hasCommittedData(spark, uri + "/absent"))
    // a dir holding ONLY a crashed write's _temporary debris is absent
    // (Spark hides _-prefixed paths; schema inference would throw)
    Files.createDirectories(tmp.resolve("store/_temporary/0"))
    Files.write(tmp.resolve("store/_temporary/0/part-0"), Array[Byte](1))
    assert(!StoreFs.hasCommittedData(spark, uri + "/store"))
    // one committed nested data file flips it, still through the URI
    Files.createDirectories(tmp.resolve("store/ingest=base"))
    Files.write(tmp.resolve("store/ingest=base/part-0.parquet"), Array[Byte](1))
    assert(StoreFs.hasCommittedData(spark, uri + "/store"))
  }
}
