package graft

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import graft.Phases.Phase

/** The self-defending bench archive (VERDICT r13 item 1): r13 shipped a
  * 40% inflated headline because nothing diffed the new artifact
  * against the previous one. These gates plant a fake prior archive and
  * assert the annotation actually fires — and stays quiet on in-band
  * wobble — so the defense itself can't silently rot. Pure-function
  * tests; no SparkSession. */
class BenchArchiveSpec extends AnyFunSuite {

  private val prior =
    """{"metric":"total","value":84.5,"unit":"sec","timing":"min_of_3",""" +
      """"queries":{"doc_heavy_terms":0.480,"vec_knn_join":1.720,""" +
      """"q01_agg":0.210,"doc_jaccard_pairs":3.500},""" +
      """"failed":[],"sf":"/root/testdata/sf0.1"}"""

  test("parseQueryMins recovers the flat per-query map") {
    val m = Bench.parseQueryMins(prior)
    assert(m === Map("doc_heavy_terms" -> 0.48, "vec_knn_join" -> 1.72,
      "q01_agg" -> 0.21, "doc_jaccard_pairs" -> 3.5))
    assert(Bench.parseQueryMins("""{"no_queries_here":1}""") === Map.empty)
  }

  test("a planted 10x slowdown on an untouched query fires the annotation") {
    // the exact r13 contamination shape: doc_heavy_terms 0.48 -> 5.03
    val now = Map("doc_heavy_terms" -> 5.03, "vec_knn_join" -> 1.75,
      "q01_agg" -> 0.24, "doc_jaccard_pairs" -> 3.4)
    val sus = Bench.suspectNoise(Bench.parseQueryMins(prior), now)
    assert(sus.contains("\"doc_heavy_terms\""), sus)
    assert(sus.contains("\"prev\":0.480") && sus.contains("\"now\":5.030"), sus)
    assert(!sus.contains("vec_knn_join"), s"in-band wobble flagged: $sus")
  }

  test("quiet on in-band wobble, and on sub-floor ratio noise") {
    // +/-40% moves (the box's documented wobble) must NOT flag
    val wobble = Map("doc_heavy_terms" -> 0.65, "vec_knn_join" -> 1.25,
      "doc_jaccard_pairs" -> 4.6)
    assert(Bench.suspectNoise(Bench.parseQueryMins(prior), wobble) === "{}")
    // a 3x move on a 0.05s query is ratio noise below the 0.5s floor
    assert(Bench.suspectNoise(Map("tiny" -> 0.05), Map("tiny" -> 0.15)) === "{}")
    // ...but a genuine 2x+ move above the floor flags in BOTH directions
    assert(Bench.suspectNoise(Map("q" -> 4.0), Map("q" -> 1.2)) !== "{}")
  }

  test("new and vanished queries never flag (no prior baseline to compare)") {
    val sus = Bench.suspectNoise(Bench.parseQueryMins(prior),
      Map("brand_new_query" -> 20.0))
    assert(sus === "{}")
  }

  test("a planted leg regression inside a stable-total row fires (r14 item 8)") {
    // the hole: suspect_noise keyed on whole queries, so index_remove
    // 2.1 -> 8.4 inside doc_cluster_index_remove could hide behind a
    // stable total. Leg mins now ride the same diff under their field
    // prefix, parsed from the prior artifact's own leg objects.
    val priorWithLegs = prior.dropRight(1) +
      ""","takedown_legs":{"ensure":0.010,"snapshot":1.200,"index_remove":2.100},""" +
      """"takedown_legs_logical":{"logical":2.300,"serve":1.100}}"""
    val prev = Bench.parseQueryMins(priorWithLegs) ++
      Bench.parseLegMins(priorWithLegs)
    assert(prev("takedown_legs.index_remove") === 2.1)
    assert(prev("takedown_legs_logical.serve") === 1.1)
    // whole-query mins unchanged, one leg regresses 4x
    val now = prev ++ Map("takedown_legs.index_remove" -> 8.4)
    val sus = Bench.suspectNoise(prev, now)
    assert(sus.contains("\"takedown_legs.index_remove\""), sus)
    assert(sus.contains("\"prev\":2.100") && sus.contains("\"now\":8.400"), sus)
    assert(!sus.contains("takedown_legs_logical"), s"stable legs flagged: $sus")
    // sub-floor leg wobble stays quiet (ensure 0.01 -> 0.04 is 4x but ms)
    assert(Bench.suspectNoise(prev,
      prev ++ Map("takedown_legs.ensure" -> 0.04)) === "{}")
    // an artifact without leg objects parses to no leg entries
    assert(Bench.parseLegMins(prior) === Map.empty)
  }

  test("retry-on-suspect: an in-band retry clears the flag, a real regression survives (r15 item 7)") {
    val prev = Bench.parseQueryMins(prior)
    // first-pass mins: one contaminated window inflates a light query 5x
    val pre = Map("doc_heavy_terms" -> 2.40, "vec_knn_join" -> 1.75,
      "q01_agg" -> 0.24, "doc_jaccard_pairs" -> 3.4)
    assert(Bench.suspectKeys(prev, pre) === Seq("doc_heavy_terms"))
    // the retry lands back in-band -> min folds in, flag clears
    val cleared = Bench.applyRetry(pre, Map("doc_heavy_terms" -> 0.52))
    assert(cleared("doc_heavy_terms") === 0.52)
    assert(Bench.suspectNoise(prev, cleared) === "{}")
    // a retry that CONFIRMS the slowdown leaves the flag standing
    val confirmed = Bench.applyRetry(pre, Map("doc_heavy_terms" -> 2.31))
    assert(Bench.suspectNoise(prev, confirmed).contains("doc_heavy_terms"))
    // a retry never inflates an existing min
    assert(Bench.applyRetry(Map("q" -> 1.0), Map("q" -> 9.9)) === Map("q" -> 1.0))
  }

  test("rm_* sub-legs attribute inside index_remove without double-booking serve (r17, r16 item 2)") {
    // index_remove = 10s of the 12s run; its windows rm_validate 2 +
    // rm_stage 7 + rm_flip 1 are NESTED inside that wall — serve must be
    // total - (top-level legs) = 12 - 11 = 1, never 12 - 21 clamped to 0
    val run = ListMap("ensure" -> Phase(0, 1.0), "index_remove" -> Phase(0, 10.0),
      "rm_validate" -> Phase(1, 2.0), "rm_stage" -> Phase(1, 7.0),
      "rm_flip" -> Phase(1, 1.0))
    val json = Bench.legSplitJson(Seq(12.0 -> run))
    val parsed = Bench.parseFlatObject(s""""takedown_legs":$json""", "takedown_legs")
    assert(parsed("serve") === 1.0, s"serve must skip rm_* sub-legs: $json")
    assert(parsed("rm_stage") === 7.0 && parsed("rm_validate") === 2.0 &&
      parsed("rm_flip") === 1.0, s"sub-legs must publish: $json")
    // and the prior-archive diff sees them under the same field prefix,
    // so a cross-box swing inside one window flags like any other leg
    val mins = Bench.parseLegMins(s"""{"takedown_legs":$json}""")
    assert(mins("takedown_legs.rm_stage") === 7.0, mins.toString)
    val prior = mins.updated("takedown_legs.rm_stage", 2.0)
    assert(Bench.suspectNoise(prior, mins).contains("rm_stage"),
      "a window regression must fire the suspect annotation")
    // the term family's composed takedown legs ride the same machinery
    // under their own field (r17)
    val term = Bench.parseLegMins(
      """{"takedown_legs_term":{"snapshot":1.2,"index_remove":3.4}}""")
    assert(term("takedown_legs_term.index_remove") === 3.4, term.toString)
  }

  test("leg fields: min per phase over the runs that have it, serve per run") {
    // run 2 never entered rm_flip (e.g. a replayed remove); its other
    // phases and its serve still count
    val runs = Seq(
      6.0 -> ListMap("index_remove" -> Phase(0, 5.0), "rm_flip" -> Phase(1, 1.5)),
      4.5 -> ListMap("index_remove" -> Phase(0, 4.0)))
    val parsed = Bench.parseFlatObject(
      s""""f":${Bench.legSplitJson(runs)}""", "f")
    assert(parsed === Map("index_remove" -> 4.0, "rm_flip" -> 1.5, "serve" -> 0.5))
    assert(Bench.legSplitJson(Seq(1.0 -> ListMap.empty)) === "{}")
    // the RTBF rows' per-store keys carry a dot and still join the diff
    assert(Bench.parseLegMins("""{"takedown_legs_rtbf":{"rm_idx.text":1.5}}""") ===
      Map("takedown_legs_rtbf.rm_idx.text" -> 1.5))
  }

  test("maintenance rows split out of the query band (r15 item 2)") {
    assert(Bench.isMaintenance("doc_cluster_index_remove"))
    assert(Bench.isMaintenance("doc_cluster_index_logical_remove"))
    assert(!Bench.isMaintenance("doc_cluster_index_probe"))
    assert(!Bench.isMaintenance("doc_bm25_index_topk"))
    assert(!Bench.isMaintenance("q01_pricing_summary"))
    // a future family's lifecycle rows join the band by name shape
    assert(Bench.isMaintenance("vec_index_remove"))
    assert(Bench.isMaintenance("doc_term_index_logical_remove"))
  }
}
