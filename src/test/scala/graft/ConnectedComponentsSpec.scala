package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** Gates for the alternating-star connected-components operator: exact
  * component assignment on shapes that stress different failure modes —
  * a long chain (what breaks O(diameter) label propagation), disjoint
  * components, a dense clique, and a pre-starred fixpoint input. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs BOTH execution paths — the driver-side union-find tail (every
    * graph here is under the default cap) and the pure-distributed star
    * rounds (cap 0) — and holds them to the same answer. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val local = ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val distributed = ConnectedComponents.components(edges.toDF("a", "b"), "a", "b",
        localTailMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == distributed,
      "local union-find tail and distributed star rounds disagree")
    local
  }

  test("chain contracts to its minimum (the O(diameter) killer)") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got == (1L to 40L).map(_ -> 1L).toMap)
  }

  test("disjoint components, cliques, reversed and duplicate edges") {
    // component {1,2,3} as a clique with duplicate + reversed edges,
    // component {10,11} as a single edge, {20,21,22} as a path
    val edges = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 1L),
      (11L, 10L), (20L, 21L), (21L, 22L))
    val got = cc(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("already-starred input is a fixpoint (converges immediately)") {
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L))
    assert(cc(star) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("self-loops are ignored; singleton callers attach via left join") {
    val got = cc(Seq((5L, 5L), (7L, 6L)))
    // 5 has only a self-loop -> no edges -> absent from the output
    assert(got == Map(6L -> 6L, 7L -> 6L))
  }

  test("doc_dedup_clusters equals the brute-force transitive closure on sf0.001") {
    import org.apache.spark.sql.functions._
    // ground truth: union-find over the BRUTE-FORCE jaccard pairs
    // (independent of SetSimJoin AND of the alternating-star operator)
    val pairs = graft.queries.TextPipeline.jaccardPairsBrute(spark, sf0001)
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables.documents(spark, sf0001).select(col("doc_id"))
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = ids.groupBy(find).view.mapValues(_.min).toMap
    val expect = ids.map(i => i -> roots(find(i))).toMap
    val got = graft.queries.TextPipeline.dedupClusters(spark, sf0001)
      .select(col("doc_id").cast("long"), col("component").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("component ids equal the component minimum on a random graph") {
    // pseudo-random graph, fixed seed; compare against a driver-side
    // union-find ground truth (test-only; the operator never collects)
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // min of the union-find component
        val root = find(v.toInt)
        (0 until n).filter(u => find(u) == root).min.toLong
      }).toMap
    assert(cc(edges) == expect)
  }

  test("DEEP chain: multi-round convergence inside the O(log n) bound") {
    // VERDICT r11 item 7: every other fixture's clusters are near-cliques
    // that contract in ONE star round — this is the shape that actually
    // exercises the round loop. A 1500-edge path must take more than one
    // round but far fewer than O(diameter) (naive label propagation
    // would need ~1500): alternating star rounds contract geometrically,
    // so <= ~2*log2(1500) ~ 22; empirically single digits.
    val chain = (1L until 1500L).map(i => (i, i + 1))
    val run = ConnectedComponents.run(chain.toDF("a", "b"), "a", "b",
        localTailMaxEdges = 0L)
    val got = run.components.as[(Long, Long)].collect().toMap
    assert(got == (1L to 1500L).map(_ -> 1L).toMap)
    val rounds = run.rounds
    assert(rounds >= 2, s"a diameter-1499 path cannot star-contract in $rounds round")
    assert(rounds <= 22, s"$rounds rounds blows the O(log n) bound on 1500 edges")
    assert(run.tailEdges == -1L, "cap 0 must never use the tail")
  }

  test("cap-guarded tail takes over mid-contraction (cliques collapse under the cap)") {
    // A CHAIN never hands over to the tail: star rounds contract its
    // diameter but the fixpoint is still one edge per member, so the
    // edge COUNT stays ~n (verified by the deep-chain test above, where
    // tailEdges stays -1 under cap 0 and would under any cap < n).
    // Cliques are the opposite: 3x C(30,2)=1305 parallel-path edges
    // collapse to ~87 star edges after one round — the count crosses a
    // 600 cap mid-run and the driver union-find finishes.
    val cliques = (0 until 3).flatMap { c =>
      val base = c * 100L
      for (i <- 0 until 30; j <- i + 1 until 30)
        yield (base + i, base + j)
    }
    assert(cliques.size > 600)
    val run = ConnectedComponents.run(cliques.toDF("a", "b"), "a", "b",
        localTailMaxEdges = 600L)
    val got = run.components.as[(Long, Long)].collect().toMap
    val expect = (0 until 3).flatMap(c =>
      (0 until 30).map(i => (c * 100L + i) -> c * 100L)).toMap
    assert(got == expect)
    assert(run.rounds >= 1,
      "1305 edges over a 600 cap must run at least one distributed round")
    val tail = run.tailEdges
    assert(tail > 0L && tail <= 600L,
      s"tail must engage under the cap once contraction crosses it, got $tail")
  }

  test("DEEP chain end-to-end: the doc pipeline's similarity graph is a path") {
    // ScaleGen.chainDocs through the real set-similarity edge builder:
    // consecutive docs are near-dups, skip-one is below threshold, so
    // the doc graph is one path and the whole corpus is ONE cluster.
    val docs = ScaleGen.chainDocs(spark, 300)
    val toks = docs.select(col("doc_id"),
      graft.operators.Dedup.hashedTokenSet(col("text")).as("toks"))
    val edges = graft.operators.SetSimJoin
      .jaccardEdgesWithLog(toks, "doc_id", "toks", 0.8, salt = "ccchain")._2
    val run = ConnectedComponents.run(edges, "u", "v", localTailMaxEdges = 0L)
    val comp = run.components
      .filter(col("id") >= 0) // drop virtual set nodes
      .as[(Long, Long)].collect().toMap
    // raw component ids can root at a NEGATIVE set node (the pipeline
    // canonicalizes to the min member doc afterwards — ClusterIndex
    // mechanics); the structural claim is: every doc, one component
    assert(comp.keySet == (0L until 300L).toSet,
      "every chain doc must be assigned")
    assert(comp.values.toSet.size == 1,
      s"the chain corpus must form ONE cluster, got ${comp.values.toSet.size}")
    assert(run.rounds >= 2,
      "the 300-doc chain graph must need multiple star rounds")
  }
}
