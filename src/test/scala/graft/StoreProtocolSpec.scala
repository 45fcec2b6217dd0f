package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The store maintenance protocol has one home, `StoreFs.scala`
  * (`StoreFs` + `MaintainedStore`): no other main source calls its
  * lease, swap or retry primitives, or defines a store's delete,
  * reader retry or recover. The micro-batch replay protocol has one
  * home each: the drain and the state prune in `Streams`, the keyed
  * store ingest on `MaintainedStore`. So does the quantile family's
  * rank math: the cumulative rank range in `Analytics.rankRange`, the
  * interpolating and the lower-rule selections in its two pickers. The
  * near-dup family's shared-key self-join is `Dedup.sharedKeyPairs`.
  * Every library write starts at `StoreFs.writer`. Every vector-index
  * probe reads its store through `VectorStore.committedRead` and
  * reranks through `VectorStore.rerank`. */
class StoreProtocolSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  /** `pattern`'s first group per match, as `file: group`, over every
    * main source but StoreFs.scala (or every one, `all`). */
  private def hits(pattern: scala.util.matching.Regex,
      all: Boolean = false): List[String] = {
    val stream = Files.walk(mainSrc)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => all || p.getFileName.toString != "StoreFs.scala")
      .flatMap { p =>
        pattern.findAllMatchIn(Files.readString(p))
          .map(m => s"${mainSrc.relativize(p)}: ${m.group(1)}")
      }.toList
    finally stream.close()
  }

  test("no main source but StoreFs calls a lease, swap or retry primitive") {
    val offenders = hits(
      """\b(acquireLease|releaseLease|stageAndSwap|recoverSwap|retryingRead)\s*[\[(]""".r)
    assert(offenders.isEmpty,
      s"compact through MaintainedStore.compactWith: $offenders")
  }

  test("no store object defines its own delete, withReadRetry or recover") {
    val offenders = hits("""\bdef\s+(delete|withReadRetry|recover)\b""".r)
    assert(offenders.isEmpty,
      s"inherit the StoreFs protocol from MaintainedStore: $offenders")
  }

  test("the AvailableNow drain is defined once, in Streams.drain") {
    val found = hits("""(Trigger\.AvailableNow\(\)|"checkpointLocation")""".r,
      all = true)
    assert(found.sorted === List(
      "graft/streaming/Streams.scala: \"checkpointLocation\"",
      "graft/streaming/Streams.scala: Trigger.AvailableNow()"),
      s"drain through Streams.drain: $found")
  }

  test("no store source but StoreFs writes with dynamic partition overwrite") {
    val offenders = hits("""(partitionOverwriteMode)""".r)
      .filter(_.startsWith("graft/sources/"))
    assert(offenders.isEmpty,
      s"write a batch through MaintainedStore.writeIngest: $offenders")
  }

  test("the ingest key is built only in StoreFs") {
    val offenders = hits("""(streamKey\s*\(|b\$\{batchId\}_)""".r)
    assert(offenders.isEmpty,
      s"key a store batch through MaintainedStore.ingestStream: $offenders")
  }

  test("the batch-state prune is defined once, in Streams.pruneState") {
    val found = hits("""(batchId\s*-\s*2)""".r, all = true)
    assert(found === List("graft/streaming/Streams.scala: batchId - 2"),
      s"prune per-batch state through Streams.pruneState: $found")
  }

  test("the cumulative rank and its two selection rules are defined once") {
    val analytics = "graft/operators/Analytics.scala"
    val ranks = hits("""withColumn\(\s*"(__(?:hi|lo|hid|cum|cw))"""".r,
      all = true)
    assert(ranks.sorted === List(s"$analytics: __hi", s"$analytics: __lo"),
      s"rank through Analytics.rankRange: $ranks")
    val interpolated =
      hits("""(def\s+valueAtRank|col\("__lo"\)\s*<=)""".r, all = true)
    assert(interpolated.sorted === List(s"$analytics: col(\"__lo\") <=",
      s"$analytics: def valueAtRank"),
      s"interpolate through Analytics.interpolate: $interpolated")
    val lower = hits("""\b(div (?:\$\{?\w+\}?|100\b))""".r, all = true)
    assert(lower === List(s"$analytics: div $$den"),
      s"pick the lower rule through Analytics.lowerRule: $lower")
  }

  test("the shared-key self-join is defined once") {
    // an `a.<id> < b.<id>` pair predicate is a self-join forming pairs:
    // besides the kernel, only simhashBandPairs and
    // simhashCrossGroupEdges (hamming verify, sub-banding, group
    // counts) and Similarity's all-pairs nearDupPairs and
    // semDedupWithCentroids (cosine, not shared keys) may write one
    val found = hits(
      """(col\("(?:a\.\w+|id_a)"\)\s*<\s*col\("(?:b\.\w+|id_b)"\))""".r,
      all = true)
    val dedup = "graft/operators/Dedup.scala"
    val similarity = "graft/operators/Similarity.scala"
    assert(found.sorted === List(
      s"$dedup: col(\"a.__g\") < col(\"b.__g\")",
      s"$dedup: col(\"a.doc\") < col(\"b.doc\")",
      s"$dedup: col(\"id_a\") < col(\"id_b\")",
      s"$similarity: col(\"id_a\") < col(\"id_b\")",
      s"$similarity: col(\"id_a\") < col(\"id_b\")"),
      s"pair documents through Dedup.sharedKeyPairs: $found")
  }

  test("every library write goes through StoreFs.writer") {
    // Scale.writeBucketedAs keeps the plain writer: its saveAsTable
    // would store the writer's options in the catalog table's properties
    val found = hits("""(\.write\b(?!\s*\().*)""".r, all = true)
      .filter(h => Seq("graft/sources/", "graft/streaming/",
        "graft/operators/").exists(h.startsWith))
    assert(found.sorted === List(
      "graft/operators/Scale.scala: .write.mode(mode).format(\"parquet\")",
      "graft/sources/StoreFs.scala: .write.options(LocalFs.options(df.sparkSession))"),
      s"write through StoreFs.writer: $found")
  }

  test("the ANN probe's committed read and exact rerank are defined once") {
    // besides the rerank's fetch of the survivors' exact vectors, only
    // q79's fetch of its top-k texts joins back to a source frame
    val reranks = hits("""(join\(\s*source\.select\(.*)""".r, all = true)
    assert(reranks.sorted === List(
      "graft/SparkEntry.scala: join(source.select(col(\"doc_id\"), col(\"text\")), Seq(\"doc_id\"))",
      "graft/sources/VectorStore.scala: join(source.select(col(idCol), col(vecCol)), Seq(idCol)),"),
      s"rerank through VectorStore.rerank: $reranks")
    val indexes = Set("Pq.scala", "Vamana.scala", "VamanaStore.scala")
    val reads = hits("""(spark\.read\.parquet\(path\))""".r, all = true)
      .filter(h => indexes(h.takeWhile(_ != ':').split('/').last))
    assert(reads.isEmpty, s"read through VectorStore.committedRead: $reads")
  }
}
