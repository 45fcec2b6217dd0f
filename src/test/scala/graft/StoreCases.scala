package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Vamana
import graft.sources._

/** The seven persisted stores as small two-ingest fixtures, so a spec
  * can run one maintenance-protocol check over every store. */
trait StoreCases { this: SparkSpec =>
  import spark.implicits._

  /** One store. `tombstones(ids)` is the on-disk tombstone frame for
    * `ids` (the store's delete column); `stored` reads the ids
    * physically present on every surface. */
  final class StoreCase(val name: String, val surfaces: String => Seq[String],
      val lockPath: String => String, idCol: String, val build: () => String,
      val tombstones: Seq[String] => DataFrame,
      val delete: (String, DataFrame) => Unit, val compact: String => Unit,
      val recover: String => Unit) {

    def stored(path: String): Set[String] =
      surfaces(path).map(s => spark.read.parquet(s)
        .select(col(idCol).cast("string")).as[String].collect().toSet)
        .reduce(_ ++ _)

    /** Ids a probe sees: stored minus pending tombstones. */
    def visible(path: String): Set[String] =
      stored(path) -- StoreFs.tombstones(spark, path).toSeq.flatMap(t =>
        t.select(col(t.columns.head).cast("string")).as[String].collect())
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("store").toString

  private val sigP = SignatureStore.Params(shingleK = 3, nBands = 8,
    rowsPerBand = 2, nShards = 8)
  private val paraP = ParagraphStore.Params(nShards = 4)
  private val subP = SubstringStore.Params(k = 8, nShards = 4)
  private val winP = WinnowStore.Params(nShards = 4)
  private val vamP = Vamana.Params(r = 8, l = 16, nShards = 2)

  private def sibling(path: String) = path + ".compact_lock"
  private def longs(ids: Seq[String]) = ids.map(_.toLong)

  /** (h, cnt) rows: the ParagraphStore / SubstringStore batch shape. */
  private def counts(hs: String*): DataFrame =
    hs.map(h => (h, 1L)).toDF("h", "cnt")

  lazy val storeCases: Seq[StoreCase] = Seq(
    new StoreCase("VectorStore", Seq(_), sibling, "vec_id",
      () => {
        val p = tmp("graft_case_vec")
        val e = Tables.embeddings(spark, sf)
        VectorStore.write(e.filter($"vec_id" % 3 =!= 0), "vec_id", "embedding", p)
        VectorStore.append(e.filter($"vec_id" % 3 === 0), "vec_id", "embedding", p)
        p
      },
      ids => longs(ids).toDF("vec_id"),
      VectorStore.delete(spark, _, _), VectorStore.compact(spark, _),
      VectorStore.recover(spark, _)),
    new StoreCase("SignatureStore", p => Seq(p + "/bands", p + "/shingles"),
      _ + "/_compact_lock", "doc",
      () => {
        val p = tmp("graft_case_sig")
        val d = Tables.documents(spark, sf).filter($"doc_id" < 60)
        SignatureStore.write(d.filter($"doc_id" % 2 === 1), "doc_id", "text", p, sigP)
        SignatureStore.append(d.filter($"doc_id" % 2 === 0), "doc_id", "text", p, sigP)
        p
      },
      ids => longs(ids).toDF("doc_id"),
      SignatureStore.delete(spark, _, _), SignatureStore.compact(spark, _, sigP),
      SignatureStore.recover(spark, _)),
    new StoreCase("MediaDedupStore", Seq(_), sibling, "doc",
      () => {
        val p = tmp("graft_case_media")
        MediaDedupStore.appendBatch(
          Seq("a.bmp" -> 0x1111L, "b.bmp" -> 0x2222L).toDF("doc", "sig"), p, "b0_t")
        MediaDedupStore.appendBatch(
          Seq("c.wav" -> 0x3333L, "d.wav" -> 0x4444L).toDF("doc", "sig"), p, "b1_t")
        p
      },
      _.toDF("doc"),
      MediaDedupStore.delete(spark, _, _), MediaDedupStore.compact(spark, _),
      MediaDedupStore.recover(spark, _)),
    new StoreCase("ParagraphStore", Seq(_), sibling, "h",
      () => {
        val p = tmp("graft_case_para")
        ParagraphStore.appendBatch(counts("h0", "h1", "h2"), p, "b0_t", paraP)
        ParagraphStore.appendBatch(counts("h1", "h3"), p, "b1_t", paraP)
        p
      },
      _.toDF("h"),
      ParagraphStore.delete(spark, _, _), ParagraphStore.compact(spark, _, paraP),
      ParagraphStore.recover(spark, _)),
    new StoreCase("SubstringStore", Seq(_), sibling, "h",
      () => {
        val p = tmp("graft_case_sub")
        SubstringStore.appendBatch(counts("g0", "g1", "g2"), p, "b0_t", subP)
        SubstringStore.appendBatch(counts("g1", "g3"), p, "b1_t", subP)
        p
      },
      _.toDF("h"),
      SubstringStore.delete(spark, _, _), SubstringStore.compact(spark, _, subP),
      SubstringStore.recover(spark, _)),
    new StoreCase("WinnowStore", Seq(_), sibling, "doc",
      () => {
        val p = tmp("graft_case_winnow")
        WinnowStore.appendBatch(Seq("f0" -> "d0", "f1" -> "d0", "f1" -> "d1")
          .toDF("fp", "doc"), p, "b0_t", winP)
        WinnowStore.appendBatch(Seq("f1" -> "d2", "f2" -> "d3")
          .toDF("fp", "doc"), p, "b1_t", winP)
        p
      },
      _.toDF("doc"),
      WinnowStore.delete(spark, _, _), WinnowStore.compact(spark, _, winP),
      WinnowStore.recover(spark, _)),
    new StoreCase("VamanaStore", Seq(_), sibling, "id",
      () => {
        val p = tmp("graft_case_vamana")
        val e = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
        VamanaStore.processBatch(e.filter($"vec_id" < 40), "b0", 0L,
          "vec_id", "embedding", p, vamP)
        VamanaStore.processBatch(e.filter($"vec_id" >= 40 && $"vec_id" < 80),
          "b1", 1L, "vec_id", "embedding", p, vamP)
        p
      },
      ids => longs(ids).toDF("id"),
      VamanaStore.delete(spark, _, _), VamanaStore.compact(spark, _, vamP),
      VamanaStore.recover(spark, _)))
}
