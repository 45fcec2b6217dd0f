package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink formats beyond parquet. The reference's only sink is a
  * row-at-a-time Postgres INSERT loop (`src/rag/sqlx.rs:56-82`) and its
  * only read is `SELECT *` (`:84-92`); here the same data moves through
  * Spark's bulk columnar paths. JDBC mirrors the reference's Postgres
  * topology when a database exists; CSV/JSON cover interchange. All
  * writers are bulk and partition-parallel — never per-row round trips.
  */
object Formats {

  def writeCsv(df: DataFrame, path: String): Unit =
    StoreFs.writer(df).mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    StoreFs.writer(df).mode("overwrite").json(path)

  /** ORC — the second columnar format Spark ships natively; same
    * predicate-pushdown/column-pruning behavior as parquet, relevant
    * when the surrounding lake is Hive/ORC. */
  def writeOrc(df: DataFrame, path: String): Unit =
    StoreFs.writer(df).mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JDBC sink — the bulk replacement for the reference's per-row
    * INSERT loop: batched writes (`batchsize`), parallel partitions.
    * Kept without a caller: it stands in for the reference's Postgres
    * sink (SURVEY §1). Untestable offline (no database in this
    * environment); the option surface is the documented contract. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      batchSize: Int = 10000, numPartitions: Int = 8): Unit =
    StoreFs.writer(df.repartition(numPartitions))
      .mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .save()
}
