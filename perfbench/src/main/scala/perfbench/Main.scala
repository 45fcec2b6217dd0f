package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measured JVM of the benchmark: runs one workload against the
  * library, times it, and writes a result file that run.py checks and
  * turns into the reported metrics.
  *
  * Usage: perfbench.Main --workload ingest|serve|curate --input DIR
  *   --work DIR --seconds S --trace 0|1 --out FILE --cpus N */
object Main {

  final case class Opts(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, out: String, cpus: Int)

  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("input"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("out"), kv("cpus").toInt)
    val res = new Result
    val workload: Ctx => (() => Unit) = o.workload match {
      case "ingest" => Ingest.setup
      case "serve" => Serve.setup
      case "curate" => Curate.setup
      case w => sys.error(s"unknown workload $w")
    }
    // Set up `SetUps` times, each in a fresh Spark session, and measure
    // on the last: the first set-up starts at JVM start, the later ones
    // at the previous session's stop. A traced run reports no set-up
    // time and sets up once.
    var c: Ctx = null
    var measure: () => Unit = () => ()
    try {
      (1 to (if (o.trace) 1 else SetUps)).foreach { i =>
        val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
        if (c != null) {
          c.spark.stop()
          Io.rm(o.work + "/spark-local")
        }
        val spark = session(o)
        res.phase(s"set-up $i: session ready")
        c = Ctx(spark, o, new Tracer(spark, o.trace), res)
        measure = workload(c)
        res.setUpDone(i, t0)
      }
      res.startTiming()
      measure()
    } catch {
      case e: Throwable =>
        res.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    if (o.trace) {
      Jvm.record(res)
      if (c != null) c.tr.writeSpans(s"${o.work}/spans.jsonl")
    }
    res.phase("done")
    res.write(o.out)
    if (c != null) c.spark.stop()
  }

  /** The existing Bench session conf, with Spark's scratch space kept
    * inside the work directory. */
  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

final case class Ctx(spark: SparkSession, o: Main.Opts, tr: Tracer, res: Result) {
  def work(p: String): String = s"${o.work}/$p"
  def input(p: String): String = s"${o.input}/$p"
}

/** What the run measured and found. Times are kept raw; run.py
  * derives the reported figures. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** benchmark-side work inside the current set-up (oracles, checks) —
    * excluded from set-up time like input generation */
  var benchMsInSetUp = 0.0
  private val setUpMs = mutable.ArrayBuffer.empty[Double]
  private val t0Ms = System.currentTimeMillis()

  /** Call at the end of set-up `i`, which began at `startMs`. */
  def setUpDone(i: Int, startMs: Long): Unit = {
    val ms = System.currentTimeMillis() - startMs - benchMsInSetUp
    benchMsInSetUp = 0.0
    setUpMs += ms
    phase(f"set-up $i: ${ms / 1000.0}%.2f s")
  }

  /** Call once, right before the first timed operation. */
  def startTiming(): Unit = {
    phase("timing starts")
    put("setup_s", Stats.median(setUpMs) / 1000.0)
    put("setup_first_s", setUpMs.head / 1000.0)
  }

  def put(k: String, v: Double): Unit = metrics(k) = v

  /** Progress line in the JVM's log, seconds since the run began. */
  def phase(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.2f s $what")
  def fail(why: String): Unit = { failed += 1; failures += why }
  def check(ok: Boolean, why: => String): Unit = {
    attempted += 1
    expect(ok, why)
  }
  /** A check inside an operation already counted as attempted. */
  def expect(ok: Boolean, why: => String): Unit = if (!ok) fail(why)

  def write(path: String): Unit = {
    val m = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    val i = info.map { case (k, v) => s"${Json.str(k)}:$v" }
    val js = s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":{${m.mkString(",")}},"info":{${i.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), js.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new File(path))
}

object Stats {
  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Io {
  /** Force full evaluation of every column without a real sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def files(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir)
    else Option(dir.listFiles).toSeq.flatten.flatMap(files)

  /** Regular files under `path` with their sizes. */
  def listing(path: String): Map[String, Long] =
    files(new File(path)).map(f => f.getPath -> f.length).toMap

  def bytes(path: String): Long = listing(path).values.sum

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  /** Wall-clock milliseconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

object Jvm {
  def record(res: Result): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val code = pools.filter(p => p.getName.contains("CodeHeap") ||
      p.getName.contains("Code Cache")).map(_.getUsage.getUsed).sum
    val heapPeak = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    res.put("jvm.gc_ms", gcMs.toDouble)
    res.put("jvm.code_cache_mb", code / 1048576.0)
    res.put("jvm.heap_peak_mb", heapPeak / 1048576.0)
  }
}
