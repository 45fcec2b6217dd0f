package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A call into a layer: name, start, end, the span that caused it, and
  * the request it belongs to. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
    startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One file scan of an executed query: root path, rows out, files and
  * partitions read. */
final case class Scan(path: String, rows: Long, files: Long, partitions: Long)

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleWrite = 0L
  var spill = 0L
  /** max over the span's stages (with at least two tasks) of the
    * slowest task's time over the median task's time */
  var taskRatio = 0.0
  var analysisMs = 0.0
  var optimizerMs = 0.0
  var planningMs = 0.0
  val scans = mutable.ArrayBuffer.empty[Scan]
}

/** Span recorder plus the listeners that attribute Spark work to spans.
  *
  * Each span sets a job group `pb-<span id>`; the SparkListener maps
  * every job (and its stages and tasks) to the span whose group was
  * set when the job started. Query executions carry no job group, so
  * each one is attributed to the innermost span that was open when the
  * listener bus was drained after it — spans that run an action drain
  * on close, and there is one client thread. With `on = false` a span
  * only runs its body: no listener is registered and nothing is
  * recorded. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val work = mutable.HashMap.empty[Int, Work]
  private val pendingQes = mutable.ArrayBuffer.empty[QueryExecution]
  private var nextReq = 0
  @volatile private var paused = false

  private object Jobs extends SparkListener {
    val stageSpan = mutable.HashMap.empty[Int, Int]
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SparkJobGroupKey)))
      g.filter(_.startsWith("pb-")).foreach { gid =>
        val sid = gid.stripPrefix("pb-").toInt
        workOf(sid).jobs += 1
        e.stageIds.foreach(s => stageSpan(s) = sid)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { sid =>
        val w = workOf(sid)
        w.tasks += 1
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val st = e.stageInfo.stageId
        stageSpan.get(st).foreach { sid =>
          val w = workOf(sid)
          w.stages += 1
          taskMs.remove(st).filter(_.size >= 2).foreach { ds =>
            val s = ds.sorted
            val med = math.max(1L, s(s.size / 2))
            w.taskRatio = math.max(w.taskRatio, s.last.toDouble / med)
          }
        }
      }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      keep(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      keep(qe)
    private def keep(qe: QueryExecution): Unit =
      if (!paused) Jobs.synchronized { pendingQes += qe }
  }

  private val SparkJobGroupKey = "spark.jobGroup.id"

  if (on) {
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Queries)
  }

  private def workOf(sid: Int): Work = work.getOrElseUpdate(sid, new Work)

  /** Start a new request: spans opened until the next call share its id. */
  def request(): Int = { nextReq += 1; nextReq }

  /** Run `body` with spans recorded only if `enabled`: the untraced
    * operations of a traced run, timed for the tracing overhead. */
  def traced[T](enabled: Boolean)(body: => T): T = {
    val was = paused
    paused = !enabled
    try body finally paused = was
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!on || paused) return body
    val parent = stack.headOption
    val s = Span(spans.size, parent.fold(-1)(_.id), name,
      parent.fold(nextReq)(_.req), System.nanoTime())
    spans += s
    stack.push(s)
    val prevGroup = sc.getLocalProperty(SparkJobGroupKey)
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      settle()
      stack.pop()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  /** Drain the listener bus, then attribute the query executions seen
    * since the last drain to the innermost open span. */
  private def settle(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val qes = Jobs.synchronized {
      val q = pendingQes.toList; pendingQes.clear(); q
    }
    val w = Jobs.synchronized(workOf(stack.head.id))
    qes.foreach { qe =>
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).fold(0.0)(_.durationMs.toDouble)
      w.analysisMs += d("analysis")
      w.optimizerMs += d("optimization")
      w.planningMs += d("planning")
      val helper = new AdaptiveSparkPlanHelper {}
      helper.collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanExec => f
      }.foreach { f =>
        def m(k: String) = f.metrics.get(k).fold(0L)(_.value)
        w.scans += Scan(f.relation.location.rootPaths.mkString(","),
          m("numOutputRows"), m("numFiles"), m("numPartitions"))
      }
    }
  }

  /** The innermost open span. */
  def current: Span = stack.head

  /** Spans named `name`. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Work of `s` plus its descendants, leaving out the subtrees of
    * spans that `skip` selects. */
  def workUnder(s: Span, skip: Span => Boolean = _ => false): Work =
      Jobs.synchronized {
    val ids = descendants(s.id, skip) + s.id
    val out = new Work
    ids.flatMap(work.get).foreach { w =>
      out.jobs += w.jobs; out.stages += w.stages; out.tasks += w.tasks
      out.shuffleWrite += w.shuffleWrite; out.spill += w.spill
      out.taskRatio = math.max(out.taskRatio, w.taskRatio)
      out.analysisMs += w.analysisMs; out.optimizerMs += w.optimizerMs
      out.planningMs += w.planningMs
      out.scans ++= w.scans
    }
    out
  }

  /** Spans below `s`, leaving out the subtrees `skip` selects. */
  def under(s: Span, skip: Span => Boolean = _ => false): Seq[Span] =
    descendants(s.id, skip).toSeq.sorted.map(spans(_))

  private def descendants(id: Int, skip: Span => Boolean): Set[Int] = {
    val kids = spans.filter(k => k.parent == id && !skip(k)).map(_.id)
    kids.toSet ++ kids.flatMap(descendants(_, skip))
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Spans as JSON lines, written once at the end of the run. */
  def writeSpans(path: String): Unit = if (on) {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
  }
}
