package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity, Vamana}
import graft.sources.{StoreFs, VamanaStore, VectorStore}

/** Every vector-index probe over its own small store of the embeddings
  * fixture, so a spec can run one probe-protocol check over every
  * index. Stores and models are built on first use. */
trait AnnCases { this: SparkSpec =>
  import spark.implicits._

  /** One index. `top(probe, k)` builds its top-`k` (vec_id, sim) probe
    * over [[annSource]]; `delete(ids)` appends tombstones for `ids`
    * through the store's delete surface. */
  final class AnnCase(val name: String, build: String => Unit,
      probe: (String, Seq[Double], Int) => DataFrame,
      del: (String, DataFrame) => Unit) {
    lazy val path: String = {
      val p = Files.createTempDirectory("graft_ann").resolve("store").toString
      build(p)
      p
    }
    def top(v: Seq[Double], k: Int): DataFrame = probe(path, v, k)
    def delete(ids: Seq[Long]): Unit = del(path, ids.toDF("vec_id"))
  }

  lazy val annSource: DataFrame = Tables.embeddings(spark, sf)

  /** The embedding of `vec_id` `id`. */
  def annVector(id: Long): Seq[Double] =
    annSource.filter($"vec_id" === id).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble).toSeq

  private val mCand = 50
  private val nProbe = 4
  private lazy val model = Pq.train(annSource, "vec_id", "embedding", 64,
    m = 8, k = 16, maxIter = 5)
  private lazy val cents =
    Similarity.kMeans(annSource, "vec_id", "embedding", 16, maxIter = 5).centroids
  private lazy val residModel = Pq.trainResidual(annSource, "vec_id",
    "embedding", cents, 64, m = 8, k = 16, maxIter = 5)
  private lazy val opq = Pq.trainOpq(annSource, "vec_id", "embedding", 64,
    m = 8, k = 16, maxIter = 5)
  private lazy val (centsR, modelR) = {
    val rot = annSource.select($"vec_id",
      Pq.rotateExpr($"embedding", opq.rotation).as("__rx")).localCheckpoint()
    val c = Similarity.kMeans(rot, "vec_id", "__rx", 16, maxIter = 5).centroids
    (c, Pq.trainResidual(rot, "vec_id", "__rx", c, 64, m = 8, k = 16,
      maxIter = 5))
  }
  private val vamP = Vamana.Params(r = 8, l = 16, nShards = 2)

  private def vecDelete(path: String, ids: DataFrame): Unit =
    VectorStore.delete(spark, path, ids)

  lazy val annCases: Seq[AnnCase] = Seq(
    new AnnCase("VectorStore.topK",
      VectorStore.write(annSource, "vec_id", "embedding", _),
      (p, v, k) => VectorStore.topK(spark, p, "vec_id", "embedding", v, k),
      vecDelete),
    new AnnCase("VectorStore.topKQuantized",
      VectorStore.writeQuantized(annSource, "vec_id", "embedding", _),
      (p, v, k) => VectorStore.topKQuantized(spark, p, annSource, "vec_id",
        "embedding", v, k, mCand),
      vecDelete),
    new AnnCase("Pq.topK",
      Pq.writeStore(annSource, "vec_id", "embedding", _, model),
      (p, v, k) => Pq.topK(spark, p, annSource, "vec_id", "embedding", v,
        model, k, mCand),
      vecDelete),
    new AnnCase("Pq.topKOpq",
      Pq.writeStoreOpq(annSource, "vec_id", "embedding", _, opq),
      (p, v, k) => Pq.topKOpq(spark, p, annSource, "vec_id", "embedding", v,
        opq, k, mCand),
      vecDelete),
    new AnnCase("Pq.topKIvf",
      Pq.writeStoreIvf(annSource, "vec_id", "embedding", _, model, cents),
      (p, v, k) => Pq.topKIvf(spark, p, annSource, "vec_id", "embedding", v,
        model, cents, k, mCand, nProbe),
      vecDelete),
    new AnnCase("Pq.topKIvfResidual",
      Pq.writeStoreIvfResidual(annSource, "vec_id", "embedding", _,
        residModel, cents),
      (p, v, k) => Pq.topKIvfResidual(spark, p, annSource, "vec_id",
        "embedding", v, residModel, cents, k, mCand, nProbe),
      vecDelete),
    new AnnCase("Pq.topKIvfOpq",
      Pq.writeStoreIvfOpq(annSource, "vec_id", "embedding", _, opq, modelR,
        centsR),
      (p, v, k) => Pq.topKIvfOpq(spark, p, annSource, "vec_id", "embedding",
        v, opq, modelR, centsR, k, mCand, nProbe),
      vecDelete),
    // the batch graph has no delete surface: its probe masks whatever
    // tombstones the store holds
    new AnnCase("Vamana.topK",
      Vamana.writeStore(annSource, "vec_id", "embedding", _, vamP),
      (p, v, k) => Vamana.topK(spark, p, annSource, "vec_id", "embedding", v,
        vamP, k, mCand),
      StoreFs.appendTombstones(spark, _, _)),
    new AnnCase("VamanaStore.topK",
      VamanaStore.processBatch(annSource, "b0", 0L, "vec_id", "embedding", _,
        vamP),
      (p, v, k) => VamanaStore.topK(spark, p, annSource, "vec_id",
        "embedding", v, vamP, k, mCand),
      VamanaStore.delete(spark, _, _)))
}
