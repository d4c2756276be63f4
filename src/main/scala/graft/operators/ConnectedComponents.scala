package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list via the alternating
  * large-star / small-star algorithm (Kiveris, Lattanzi, Mirrokni,
  * Rastogi, Vassilvitskii — "Connected Components in MapReduce and
  * Beyond", SoCC'14; public literature).
  *
  * This is the dedup-clustering primitive: near-dup PAIRS (MinHash / LSH /
  * set-similarity output) only say "these two match"; choosing which
  * documents to keep requires grouping the pairs into components first
  * (S4's reference surface has no analogue — this is part of the
  * LLM-pipeline layer the brief mandates).
  *
  * Why this shape at 100 TB:
  *   - Each round is two map-reduce passes over the edge set (a groupBy
  *     for the per-node minimum + a join to rewrite edges) — no
  *     driver-side graph state; the only data on the driver is one
  *     (count, checksum) row per round for the convergence test.
  *   - The round count is O(log n) on ANY graph shape — naive min-label
  *     propagation needs O(diameter) rounds, and a chain of borderline
  *     near-dups (a1~a2~...~ak with no shortcut edges) has diameter k.
  *   - Each round's output is localCheckpointed: iterative DataFrame
  *     plans MUST truncate lineage, otherwise the logical plan gains two
  *     joins per round and both planning time and recovery cost grow
  *     without bound.
  */
object ConnectedComponents {

  /** Large-star: every node connects its larger neighbors to the minimum
    * of its neighborhood (including itself). Leaves component minima
    * fixed, strictly contracts long chains. */
  private def largeStar(edges: DataFrame): DataFrame = {
    // distinct names on each side: m derives FROM und, so this is a
    // self-join — name-based resolution survives Spark's relation
    // deduplication where stale df("col") references don't
    val und = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    val m = und.groupBy(col("u")).agg(min(col("v")).as("_mn"))
      .select(col("u").as("_u"), least(col("u"), col("_mn")).as("_m"))
    // NO distinct here: in near-clique graphs most of v's neighbors share
    // one minimum, so the raw output is heavily duplicated — but smallStar
    // consumes it with a groupBy + join and ends in ITS distinct, so the
    // round's output set is identical and this saves one full-width
    // shuffle per round (the dedup rides the groupBy that follows).
    und.join(m, col("u") === col("_u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("_m").as("dst"))
  }

  /** Small-star: orient every edge large→small; every node connects its
    * smaller neighbors (and itself) to the minimum among them. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val m = dir.groupBy(col("u")).agg(min(col("v")).as("_m"))
      .select(col("u").as("_u"), col("_m"))
    val rewired = dir.join(m, col("u") === col("_u"))
      .select(col("v").as("src"), col("_m").as("dst"))
    val selfToMin = m.select(col("_u").as("src"), col("_m").as("dst"))
    rewired.union(selfToMin)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Component assignment for every node appearing in `edges`
    * (undirected; self-loops ignored). Returns (id, component) with
    * component = the minimum node id in the component. Nodes with no
    * edges don't appear — callers attach singletons with a left join +
    * coalesce(component, id).
    *
    * Convergence is detected from a (count, checksum, checksum') triple
    * per round (two order-independent xor checksums with independent
    * mixing); `maxIter` (default 25 ≈ log2 of any realistic node
    * count, the paper's bound) only guards against a pathological
    * non-termination bug — reaching it raises rather than returning a
    * partially contracted (wrong) clustering.
    *
    * Hybrid tail finish: star rounds contract geometrically, so after a
    * round or two the surviving edge set is a tiny fraction of the input
    * — but each further distributed round still pays fixed scheduling
    * cost (at sf0.1 the tail rounds were ~40% of the operator's wall
    * time on ~0.5% of its data). Once a round's edge count is at most
    * `localTailMaxEdges` (default 100k rows ≈ 1.6 MB — bounded by
    * construction, NOT data-dependent), the remaining contraction runs
    * as driver-side union-find in one pass. Rounds stay fully
    * distributed while the edge set is above the cap, so at 100 TB the
    * driver never sees more than the cap no matter the input; pass 0 to
    * force the pure-distributed path (the spec covers both).
    *
    * `edgesNormalized = true` asserts the input is already what the
    * normalize stage would produce — src > dst on every row, no
    * self-loops, no duplicates — and skips that stage (one full shuffle
    * + checkpoint over the edge set). SetSimJoin.jaccardEdges satisfies
    * this by construction (member stars have rep < member, PPJoin pairs
    * are emit-once with id1 < id2, and the two sets are disjoint);
    * passing unnormalized edges with the flag set silently corrupts the
    * clustering, so leave it false unless the producer guarantees it. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 25, edgesNormalized: Boolean = false,
                 localTailMaxEdges: Long = 100000L): DataFrame =
    run(edges, srcCol, dstCol, maxIter, edgesNormalized, localTailMaxEdges).components

  /** One [[components]] call's result with its own diagnostics (the
    * test surface for the O(log n) round bound — the small-SF fixtures'
    * near-clique graphs converge in 1 round, so only a deep-chain
    * fixture exercises multi-round behavior): distributed star rounds
    * run, and the edge count handed to the local tail (-1 when the tail
    * was never used). Per call, so concurrent callers never see each
    * other's counts. */
  private[graft] final case class Run(components: DataFrame, rounds: Int,
                                      tailEdges: Long)

  private[graft] def run(edges: DataFrame, srcCol: String, dstCol: String,
                         maxIter: Int = 25, edgesNormalized: Boolean = false,
                         localTailMaxEdges: Long = 100000L): Run = {
    // canonical large→small orientation (both star steps emit src > dst,
    // so a fixpoint input is recognized after a single round)
    // LAZY checkpoints throughout: the signature aggregation is the
    // materializing action, so each round costs exactly ONE job (the r5
    // shape — eager checkpoint + separate signature — paid two; at sf0.1
    // the per-round fixed overhead dominated the whole operator)
    var cur =
      if (edgesNormalized)
        edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst")).localCheckpoint(eager = false)
      else edges
        .select(
          greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("src"),
          least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)
    // order-independent set checksum: xor of per-edge hashes (sum would
    // overflow under ANSI arithmetic; xor can't, and the edge set is
    // distinct so multiplicity never cancels). TWO independent xors
    // (argument order reverses the xxhash64 mixing) so a false fixpoint
    // needs simultaneous collisions — same agg, zero extra jobs.
    def signature(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)),
        coalesce(bit_xor(xxhash64(col("dst"), col("src"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // phases cc_input / cc_rounds / cc_tail say where the rounds go
    // (RunQuery prints them); Run.rounds / Run.tailEdges say how many
    var sig = graft.Phases.time("cc_input")(signature(cur))
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      if (localTailMaxEdges > 0 && sig._1 <= localTailMaxEdges) {
        return Run(graft.Phases.time("cc_tail")(localFinish(cur)), it, sig._1)
      }
      // ONE star round per materialization. (Chaining two rounds into a
      // single plan to halve the job count was tried and is SLOWER: each
      // star consumes its input twice, so un-checkpointed chaining
      // replicates the input subtree 4× per extra round — plan blowup
      // beats the saved scheduling.) The signature agg doubles as the
      // lazy checkpoint's materializing action: one job per round.
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = false)
      val nextSig = graft.Phases.time("cc_rounds")(signature(next))
      converged = nextSig == sig
      sig = nextSig
      cur = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    // at the fixpoint the edge set is a star per component: (member, root)
    // with root = component minimum; roots appear only on the dst side
    Run(cur.select(col("src").as("id"), col("dst").as("component"))
      .union(cur.select(col("dst").as("id"), col("dst").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component")), it, -1L)
  }

  /** Driver-side union-find over an edge set already known to fit the
    * tail cap. Union-by-min-root keeps every tree's root equal to the
    * minimum member id (both arguments to a union are their trees'
    * minima by induction), so the assignment needs no remap pass; path
    * halving keeps find amortized near-constant. */
  private def localFinish(edgesDf: DataFrame): DataFrame = {
    val rows = edgesDf.select(col("src"), col("dst")).collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    rows.foreach { r =>
      val ra = find(r.getLong(0))
      val rb = find(r.getLong(1))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val spark = edgesDf.sparkSession
    import spark.implicits._
    rows.iterator
      .flatMap(r => Iterator(r.getLong(0), r.getLong(1)))
      .toSet[Long].iterator
      .map(id => (id, find(id)))
      .toSeq.toDF("id", "component")
  }
}
