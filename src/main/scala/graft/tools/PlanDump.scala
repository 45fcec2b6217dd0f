package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Dev tool: write `.explain("formatted")` output for declared queries to
  * files (the optimization-round plan evidence). Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <queryName...>
  * writes <outDir>/<queryName>_<suffix>.txt for each name ("all" = every
  * declared query). By default plans are captured without running the
  * query's ACTION (the initial AQE plan, what `.explain` prints
  * pre-execution) — but note that queries whose operators contain an
  * eager `localCheckpoint` (rankTopK q66/q67/q164, splitLeakage q193,
  * the q65/q98 CC family...) execute real upstream jobs during
  * DataFrame CONSTRUCTION, so "no action" does not mean "no jobs" for
  * those (r20 ADVICE).
  *
  * With a suffix ending in "_executed" (e.g. `exec_executed`), the tool
  * instead RUNS each query through the noop sink and dumps the final
  * adaptively-optimized plan (`isFinalPlan=true` — ReusedExchange /
  * AQEShuffleRead nodes visible), which is the only evidence that
  * runtime exchange reuse actually happened. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...|all>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val executed = suffix.endsWith("_executed")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(outDir)
    val spark = graft.Session.local()
    // The noop save's own QueryExecution holds the final AQE plan. The
    // listener bus delivers executions asynchronously, and that includes
    // late ones from jobs a query fires while it is being built (an
    // eager localCheckpoint or collect), so only the noop write is
    // accepted: its logical root is the V2 OverwriteByExpression. The
    // listener's funcName cannot select it — Spark 4 never reports
    // "save" there.
    @volatile var lastQe: QueryExecution = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[OverwriteByExpression]) lastQe = qe
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    if (executed) spark.listenerManager.register(listener)
    val names =
      if (args.drop(2).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(
        name, sys.error(s"unknown query $name"))
      val plan =
        try {
          val df = fn(spark, sfDir)
          if (executed) {
            lastQe = null
            df.write.format("noop").mode("overwrite").save()
            var waited = 0
            while (lastQe == null && waited < 50) { Thread.sleep(100); waited += 1 }
            if (lastQe == null) "NO EXECUTION CAPTURED"
            else lastQe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
