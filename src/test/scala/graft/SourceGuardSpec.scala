package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free guards over `src`: one session builder ([[GraftSession]]),
  * no returning `GRAFT_*_DEBUG` timing knob ([[Phases]] replaced them),
  * one removal commit (`IndexMaintenance.removal`), and one reader of an
  * index snapshot's meta and centroids (`IndexSnapshot`). */
class SourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[(String, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    finally walk.close()
  }

  private lazy val sources = scalaFiles("src")

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

  test("the removal commit primitives are called only by the envelope") {
    // a new removal verb passes its rows, meta row and retired tables to
    // IndexMaintenance.removal instead of growing its own commit;
    // ClusterRemoval keeps the staged commit of ClusterIndex.remove
    // qualified or imported: any call of the four names
    val primitive =
      """(?<![\w.])(Fingerprint\s*\.\s*)?(ensureRemoveState|resolveRemovalMeta|recordMerge|clearRemoveState)\s*\(""".r
    val main = scalaFiles("src/main")
    assert(main.size > 50, s"read ${main.size} files under src/main")
    val callers = main.collect {
      case (f, t) if primitive.findFirstIn(t).isDefined => f
    }.toSet
    assert(callers.subsetOf(Set("IndexMaintenance.scala", "ClusterRemoval.scala",
      "Fingerprint.scala")), callers.toSeq.sorted.mkString(", "))
    assert(callers.contains("IndexMaintenance.scala"), "the envelope commits")
  }

  test("index meta and centroids are read only by the snapshot reader") {
    // a serve path reading them itself would bring back the per-probe
    // meta, centroid and schema-inference jobs the snapshot memoizes
    val read = """read\s*\.\s*parquet\(\s*s"\$\{?[\w.]*\}?/(meta|centroids)"\s*\)""".r
    val readers = scalaFiles("src/main").collect {
      case (f, t) if read.findFirstIn(t).isDefined => f
    }
    assert(readers === Seq("IndexSnapshot.scala"))
  }
}
