package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free guards over `src`: one session builder ([[GraftSession]])
  * and no returning `GRAFT_*_DEBUG` timing knob ([[Phases]] replaced
  * them). */
class SourceGuardSpec extends AnyFunSuite {

  private lazy val sources = {
    val walk = Files.walk(Paths.get("src"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    finally walk.close()
  }

  test("one session builder, in GraftSession") {
    assert(sources.size > 100, s"read ${sources.size} files under src")
    val builder = "SparkSession" + ".builder"
    assert(sources.collect { case (f, t) if t.contains(builder) => f } ===
      Seq("GraftSession.scala"))
  }

  test("no GRAFT_*_DEBUG env knob") {
    val knob = "GRAFT_[A-Z]+_DEBUG".r
    val hits = sources.flatMap { case (f, t) => knob.findAllIn(t).map(k => s"$f: $k") }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
