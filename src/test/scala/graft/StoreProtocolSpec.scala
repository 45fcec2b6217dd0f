package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The store maintenance protocol has one home, `StoreFs.scala`
  * (`StoreFs` + `MaintainedStore`): no other main source calls its
  * lease, swap or retry primitives, or defines a store's delete,
  * reader retry or recover. */
class StoreProtocolSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  /** `pattern`'s first group per match, as `file: group`, over every
    * main source but StoreFs.scala. */
  private def hits(pattern: scala.util.matching.Regex): List[String] = {
    val stream = Files.walk(mainSrc)
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "StoreFs.scala")
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
}
