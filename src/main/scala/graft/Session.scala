package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on (Bench keeps its own
  * frozen copy of the same conf). `SPARK_GRAFT_CPUS` sets the thread
  * count; unset, it is every core the JVM sees. */
object Session {

  /** `local[cpus]` with one shuffle partition per thread, UTC session
    * time and no UI. */
  def conf(cpus: Int): SparkConf = new SparkConf(false)
    .setMaster(s"local[$cpus]")
    .set("spark.sql.shuffle.partitions", cpus.toString)
    .set("spark.sql.session.timeZone", "UTC")
    .set("spark.ui.enabled", "false")

  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().config(conf(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
