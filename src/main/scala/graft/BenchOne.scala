package graft

/** Dev tool: time individual declared queries by name (warmup + two
  * timed passes each, min reported) without running the whole Bench
  * sweep. Usage: `runMain graft.BenchOne q26_hash_embed q17_quality_score`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    args.foreach { name =>
      once(name) // warmup
      val t = math.min(once(name), once(name))
      println(f"[benchone] $name%-28s $t%8.3f s")
    }
    spark.stop()
  }
}
