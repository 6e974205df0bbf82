package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one materialization rule, kept from drifting back: outside `Pins`,
  * no source under `src/main/scala` checkpoints a frame by hand. Operators
  * and gates pin through `Pins`, whose scopes release what their results
  * do not read.
  */
class PinRuleSpec extends AnyFunSuite {

  test("only Pins calls localCheckpoint") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val allowed = Set("org/apache/spark/sql/graft/Pins.scala")
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> p)
      .filterNot { case (rel, _) => allowed(rel) }
      .collect { case (rel, p)
        if comments.replaceAllIn(Files.readString(p), "").contains("localCheckpoint(") => rel }
      .toList.sorted
    assert(offenders.isEmpty,
      s"localCheckpoint( outside Pins: ${offenders.mkString(", ")}")
  }
}
