package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session.local]] without starting a session: the test JVM already
  * owns one SparkContext (SparkSpec), so the spec checks the conf the
  * builder is given, not a built session. */
class SessionSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  test("Session.conf matches Bench's frozen session literals") {
    val c = Session.conf(7)
    assert(c.get("spark.master") === "local[7]")
    assert(c.get("spark.sql.shuffle.partitions") === "7")
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.ui.enabled") === "false")
    assert(c.getAll.length === 4, c.getAll.toSeq)
    // the values above are Bench's own; if Bench's builder changes, so
    // must Session
    val bench = Files.readString(mainSrc.resolve("graft/Bench.scala"))
    Seq(
      """.master(s"local[$cpus]")""",
      """.config("spark.sql.shuffle.partitions", cpus)""",
      """.config("spark.sql.session.timeZone", "UTC")""",
      """.config("spark.ui.enabled", "false")""")
      .foreach(line => assert(bench.contains(line), line))
  }

  test("no main source but Session and Bench builds a SparkSession") {
    val allowed = Set("Session.scala", "Bench.scala")
    val stream = Files.walk(mainSrc)
    val offenders =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => allowed(p.getFileName.toString))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => mainSrc.relativize(p).toString).toList
      finally stream.close()
    assert(offenders.isEmpty,
      s"build the session with graft.Session.local(): $offenders")
  }
}
