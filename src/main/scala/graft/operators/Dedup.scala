package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashBands, SortedIntersectSize, TextOps}

/** Deduplication operators for the LLM-data-pipeline layer (SURVEY.md §2b):
  * exact (hash-groupBy), MinHash+LSH near-dup, SimHash near-dup, and
  * token-set Jaccard verification.
  *
  * Scale design: candidate generation is always a shuffle on a *bucket*
  * key (band hash / simhash band), never an all-pairs product; the token
  * arrays are computed once and reused for both signatures and
  * verification. At production scale run `exactKeepFirst` FIRST and feed
  * only distinct texts here: exact-duplicate clusters are what create
  * degenerate buckets, and their pairs are trivially jaccard=1.0 — no LSH
  * needed to find them.
  *
  * MinHash correctness contract: the signature hashes the SAME set the
  * verifier scores (distinct tokens). Hashing a different unit (e.g.
  * order-sensitive shingles) while verifying token Jaccard makes recall
  * collapse on token-overlapping corpora — measured at 0.09% in round 1.
  * With b bands of r rows the candidate threshold is (1/b)^(1/r); the
  * default 16×8 (128 hashes) puts it at ~0.71, giving P(candidate) ≈
  * 94.7% for a pair at jaccard exactly 0.8 and >99% above 0.85. The
  * ScalaTest recall gate (DedupSpec) holds this against the brute-force
  * ground truth.
  *
  * Band hashes come from the fused [[MinHashBands]] kernel, which signs
  * each document once: a signature sliced inside a `transform` lambda is
  * re-evaluated per band, and `CollapseProject` inlines a separately
  * projected signature back into the lambda.
  */
object Dedup {

  /** Exact dedup: keep the lowest id per identical text. O(n) shuffle on
    * the text hash (group key is the 256-bit digest, not the full text —
    * cheaper shuffle keys for long docs). */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Candidate pairs from band buckets: self-join on (band, band_hash),
    * id1 < id2, distinct. `maxBucket` is a safety valve against a
    * quadratic blowup from one degenerate bucket, NOT a tuning knob: at
    * the default it never fires on deduplicated input (run exactKeepFirst
    * first). When it does fire the drop is SILENT here (a driver-side
    * count inside the operator would force an extra action); the
    * portable pipelines audit it on request: with `graft.dedup.capAudit`
    * set they refuse when any band bucket exceeds the cap. */
  def candidatePairs(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    val sized = banded
      .withColumn("_bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))))
      .filter(col("_bucket_n") <= maxBucket)
    val a = sized.select(col("band"), col("band_hash"), col(idCol).as("id1"))
    val b = sized.select(col("band"), col("band_hash"), col(idCol).as("id2"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** Distinct-free candidate pairs: input (idCol, bhCol: array<long> of
    * band hashes). A pair colliding in k bands would surface k times
    * from the band-bucket self-join; instead of collapsing duplicates
    * with a global distinct (the dominant cost of the round-2 pipeline —
    * 21.2M pre-distinct rows for 5.7M pairs at sf0.1), each pair is
    * emitted ONLY from the first band where its hashes agree
    * (`FirstBandMatch(bh1, bh2) === band`): exactly-once by
    * construction, dedup work moves from a shuffle to a codegen'd
    * per-row loop over `bands` longs.
    *
    * maxBucket valve semantics (vs [[candidatePairs]]): identical — the
    * emit-once predicate sees MASKED signatures
    * ([[maskedSurvivingBands]]), so a pair whose earliest agreeing band
    * was capped still surfaces once, from its first surviving agreeing
    * band. Only pairs with NO surviving agreeing band are dropped (the
    * same set [[candidatePairs]]' post-filter distinct would drop);
    * audit with `graft.dedup.capAudit`, as for [[candidatePairs]]. */
  def candidatePairsFirstBand(withBh: DataFrame, idCol: String,
                              maxBucket: Int): DataFrame = {
    val sized = maskedSurvivingBands(withBh, idCol, maxBucket)
    val a = sized.select(col("band"), col("band_hash"),
      col(idCol).as("id1"), col("_bh").as("_bh1"))
    val b = sized.select(col("band"), col("band_hash"),
      col(idCol).as("id2"), col("_bh").as("_bh2"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .filter(graft.functions.FirstBandMatch(col("_bh1"), col("_bh2")) === col("band"))
      .select(col("id1"), col("id2"))
  }

  /** Surviving band rows for the emit-once candidate join: explode the
    * band-hash array, drop rows in over-cap buckets, and MASK each doc's
    * carried signature — null at every band position the valve removed
    * for that doc — so [[graft.functions.FirstBandMatch]] computes the
    * first band a pair can actually surface from, not a band that no
    * longer exists in the join (VERDICT r8 item 9: a pair whose earliest
    * agreeing band was capped used to vanish even when a later healthy
    * band agreed).
    *
    * Cost discipline: the masking join is built from the rows the valve
    * DROPPED — empty on healthy (exact-deduplicated) input. Its size is
    * NOT bounded (a degenerate corpus puts every clique member in it),
    * so the join is left unhinted: AQE converts it to a broadcast join
    * at runtime when the capped-doc table is small (the plan gate in
    * PlanSpec holds that for the healthy case) and falls back to a
    * shuffle join on the degenerate corpora where a forced broadcast
    * would OOM the driver — exactly the input the valve exists for. */
  private[operators] def maskedSurvivingBands(withBh: DataFrame, idCol: String,
                                              maxBucket: Int): DataFrame = {
    // lazily checkpointed band arrays: both branches below (column
    // pruning gives each its own exchange) and the explode's inferred
    // size(_bh) > 0 filter would each run the kernel again (r19, at sf1:
    // two ~10 s signature jobs for a ~1 s band join)
    val exploded = withBh.localCheckpoint(eager = false)
      .select(col(idCol), col("_bh"),
        posexplode(col("_bh")).as(Seq("band", "band_hash")))
      .withColumn("_bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_hash"))))
    val cappedOfDoc = exploded.filter(col("_bucket_n") > maxBucket)
      .groupBy(col(idCol)).agg(collect_set(col("band")).as("_capped"))
    exploded.filter(col("_bucket_n") <= maxBucket)
      .join(cappedOfDoc, Seq(idCol), "left")
      .withColumn("_bh", when(col("_capped").isNull, col("_bh"))
        .otherwise(transform(sequence(lit(0), size(col("_bh")) - 1),
          b => when(array_contains(col("_capped"), b), lit(null).cast("long"))
            .otherwise(element_at(col("_bh"), b + 1)))))
      .select(col(idCol), col("_bh"), col("band"), col("band_hash"))
  }

  /** Exact token-set Jaccard for a pair table against a precomputed
    * (id, SORTED array<long> token set) table: the intersect
    * is the codegen'd two-pointer SortedIntersectSize instead of
    * array_intersect's per-pair hash set — the fast path for verifying
    * millions of candidate pairs. */
  def jaccardVerifySorted(pairs: DataFrame, toks: DataFrame,
                          idCol: String, toksCol: String): DataFrame = {
    val t = toks.select(col(idCol).as("_jid"), col(toksCol).as("_toks"))
    pairs
      .join(t.withColumnRenamed("_jid", "id1").withColumnRenamed("_toks", "_t1"), "id1")
      .join(t.withColumnRenamed("_jid", "id2").withColumnRenamed("_toks", "_t2"), "id2")
      .withColumn("_inter", SortedIntersectSize(col("_t1"), col("_t2")))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("_t1")) + size(col("_t2")) - col("_inter")))
      .drop("_t1", "_t2", "_inter")
  }

  /** Predicate-only verification: keeps exactly the candidate pairs with
    * Jaccard >= threshold, WITHOUT computing the value — the merge loop
    * short-circuits both ways (accepted once the overlap bound is met,
    * rejected once it is unreachable), via the equivalence
    * J(x,y) >= t ⟺ |x∩y| >= ceil(t/(1+t)·(|x|+|y|)). The right verify
    * form when downstream is a boolean edge (connected components), where
    * jaccardVerifySorted's exact count pays for a column nobody reads.
    * Same -1e-9 ceil slack as the prefix lengths (FP guard). */
  def jaccardVerifyAtLeast(pairs: DataFrame, toks: DataFrame,
                           idCol: String, toksCol: String,
                           threshold: Double): DataFrame = {
    val t = toks.select(col(idCol).as("_jid"), col(toksCol).as("_toks"))
    pairs
      .join(t.withColumnRenamed("_jid", "id1").withColumnRenamed("_toks", "_t1"), "id1")
      .join(t.withColumnRenamed("_jid", "id2").withColumnRenamed("_toks", "_t2"), "id2")
      .filter(graft.functions.SortedIntersectAtLeast(col("_t1"), col("_t2"),
        ceil(lit(threshold / (1 + threshold))
          * (size(col("_t1")) + size(col("_t2"))) - lit(1e-9)).cast("int")))
      .drop("_t1", "_t2")
  }

  /** Distinct tokens of a text column as a sorted array of 64-bit hashes:
    * the canonical token-set representation for the near-dup family —
    * set ops over sorted longs, sorted ONCE per doc at tokenization.
    * Fused codegen expression (bit-identical to the HOF chain it
    * replaced — ShingleHashSetSpec holds the equivalence; the HOF form
    * was CodegenFallback and cost ~1.5s/5000 docs at sf0.1). */
  def hashedTokenSet(text: Column): Column =
    graft.functions.ShingleHashSet(text, 1)

  /** Full MinHash-LSH near-dup pipeline: returns (id1, id2, jaccard) for
    * candidate pairs with verified token Jaccard >= threshold. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 128, bands: Int = 16,
                      threshold: Double = 0.8, maxBucket: Int = 100000,
                      seed: Int = 42): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Hashed sorted token sets computed once; reused for the signature
    // AND the fast-path verification (Jaccard over the hashed sets ==
    // Jaccard over the tokens barring a 64-bit collision). Eager
    // localCheckpoint, not persist: persist registers in the
    // CacheManager and — because the returned DataFrame is lazy — has no
    // natural unpersist point, so repeated calls leak cached blocks
    // (ADVICE r2). Checkpoint blocks are owned by the returned plan and
    // freed by the ContextCleaner when the caller drops it. Trade-off:
    // no lineage to recompute on executor loss — fine for an ephemeral
    // intermediate (ids + hashes, no text; spills to executor disk).
    val toks = docs.select(col(idCol), hashedTokenSet(col(textCol)).as("_toks"))
      .localCheckpoint()
    val withBh = toks.select(col(idCol),
      MinHashBands(col("_toks"), numHashes, bands, seed).as("_bh"))
    val cands = candidatePairsFirstBand(withBh, idCol, maxBucket)
    jaccardVerifySorted(cands, toks, idCol, "_toks")
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Opt-in cap audit for the PORTABLE pipelines (ADVICE r13): their
    * DuckDB oracles model banding as pure slice equality — the maxBucket
    * valve is deliberately absent from the SQL, so if the cap ever fires
    * at a larger fixture the oracle and the engine legitimately diverge
    * and the hash mismatch would be hunted as a hash-family bug. With
    * `graft.dedup.capAudit=true` in the session conf (Verify sets it;
    * Bench leaves it off — the audit is one extra count job per call),
    * refuse loudly when any band bucket exceeds the cap, naming the cap
    * as the cause. Input is the pre-masking (id, _bh) frame. */
  private def auditPortableCap(withBh: DataFrame, maxBucket: Int,
                               opName: String): Unit = {
    val s = withBh.sparkSession
    if (s.conf.get("graft.dedup.capAudit", "false").toBoolean) {
      val over = withBh
        .select(posexplode(col("_bh")).as(Seq("band", "band_hash")))
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket).count()
      if (over > 0L) throw new IllegalStateException(
        s"$opName: $over LSH band bucket(s) exceed maxBucket=$maxBucket — " +
          "the valve masked bands that the DuckDB oracle does not model, " +
          "so an oracle hash mismatch on this run is the cap firing, NOT " +
          "a hash-family bug. Exact-dedup the input or raise maxBucket.")
    }
  }

  /** Engine-NEUTRAL hashed token set: one md5 per token, first 15 hex
    * chars as a 60-bit long (the [[TextOps.fingerprint]] recipe — md5
    * is the one hash both engines compute bit-identically), sorted
    * distinct so [[jaccardVerifySorted]] applies. One md5 per token is
    * the whole portability cost; the 128 permutations on top are the
    * exact-integer LCG family ([[graft.functions.MinHashSig.lcg]]).
    * Fused single-pass expression, not the interpreted HOF chain —
    * see [[graft.functions.Md5ShingleSet]]. */
  def portableHashedTokenSet(text: Column): Column =
    graft.functions.Md5ShingleSet(text, 1)

  /** [[minhashNearDups]] with the engine-neutral hash family (VERDICT
    * r12 item 6): md5-derived element hashes + the a·x+b mod P
    * signature family, so a DuckDB oracle replays the banding
    * bit-identically — band agreement is slice equality, and every
    * slice value is exact integer arithmetic over md5 output on both
    * engines. Same pipeline shape, same banding theory (the LCG family
    * is a true permutation family over Z_P), same verified-Jaccard
    * output contract; DedupSpec gates recall against brute force like
    * the default family. */
  def minhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
                              numHashes: Int = 128, bands: Int = 16,
                              threshold: Double = 0.8,
                              maxBucket: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // Dedup-first (r19 — the SetSimJoin.jaccardSelfJoin r3 prescription,
    // never applied here): identical token sets have identical
    // signatures, identical bands, and score 1.0 against each other, so
    // the band join runs over ONE representative per distinct set and
    // member pairs are re-emitted afterwards — bit-identical output
    // (scores depend only on the sets; a cross-set pair's first
    // matching band is the same for every member combination), but an
    // exact-duplicate clique of size c costs the LSH buckets one row
    // instead of c, removing the c² bucket blowup degenerate corpora
    // hit at scale. Measured at sf0.1: band candidates 5.53M -> 2.43M
    // pairs (5000 docs -> 3935 reps) for the same 2.88M verified
    // output. Empty sets are dropped
    // exactly as the direct join dropped them (0/0 = NaN vs an empty,
    // 0.0 vs anything else — never >= a positive threshold).
    val groups = docs
      .select(col(idCol), portableHashedTokenSet(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .groupBy(col("_toks"))
      .agg(min(col(idCol)).as("_rep"), collect_list(col(idCol)).as("_ids"))
      .localCheckpoint()
    val reps = groups.select(col("_rep").as(idCol), col("_toks"))
    // Join strategy at sf1 is the planner's broadcast of the rep-level
    // band/token tables (their post-aggregate estimates sit under the
    // threshold): A/B-measured AGAINST forced SHUFFLE_MERGE hints and
    // the broadcasts win (8.2 s vs 15.9 s — sorting array-bearing rows
    // costs more than the ~4.5 s driver builds). At sizes where the
    // broadcast would truly be unsafe the estimates are proportionally
    // larger and the planner reverts to sort-merge on its own.
    val withBh = reps.select(col(idCol),
      MinHashBands.lcg(col("_toks"), numHashes, bands).as("_bh"))
    auditPortableCap(withBh, maxBucket, "Dedup.minhashNearDupsPortable")
    val cands = candidatePairsFirstBand(withBh, idCol, maxBucket)
    val repPairs = jaccardVerifySorted(cands, reps, idCol, "_toks")
      .filter(col("jaccard") >= threshold)
    val members = groups.select(col("_rep"), explode(col("_ids")).as("_mid"))
    val cliquePairs = members.alias("x")
      .join(members.alias("y"), col("x._rep") === col("y._rep"))
      .filter(col("x._mid") < col("y._mid"))
      .select(col("x._mid").as("id1"), col("y._mid").as("id2"),
        lit(1.0).as("jaccard"))
    val crossPairs = repPairs
      .join(members.select(col("_rep").as("id1"), col("_mid").as("_m1")), "id1")
      .join(members.select(col("_rep").as("id2"), col("_mid").as("_m2")), "id2")
      .select(least(col("_m1"), col("_m2")).as("id1"),
        greatest(col("_m1"), col("_m2")).as("id2"), col("jaccard"))
    crossPairs.unionByName(cliquePairs)
      .select(col("id1"), col("id2"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** [[simhashNearDups]] with the engine-neutral hash family (VERDICT
    * r12 item 6): 60-bit md5-derived token hashes feed the bit-vote
    * aggregate ([[TextOps.simhashPortable]]), the pigeonhole join uses
    * four 15-bit bands, and the output contract (pairs at hamming <=
    * maxHamming, which must be < 4 for the pigeonhole to be exact) is
    * unchanged — every step replayable in DuckDB. */
  def simhashNearDupsPortable(docs: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "four-band pigeonhole is exact only for hamming <= 3")
    val sigs = TextOps.simhashPortable(docs, idCol, TextOps.tokens(col(textCol)))
      .localCheckpoint()
    val banded = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col(idCol).as("id1"), col("simhash").as("sh1"))
    val b = banded.select(col("band"), col("band_hash"),
      col(idCol).as("id2"), col("simhash").as("sh2"))
    val diff = col("sh1").bitwiseXOR(col("sh2"))
    val firstMatchingBand = (0 until 3).foldLeft(lit(true)) { (acc, bp) =>
      acc && (col("band") <= bp ||
        shiftrightunsigned(diff, bp * 15).bitwiseAND(lit(0x7FFFL)) =!= 0L)
    }
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2") && firstMatchingBand)
      .select(col("id1"), col("id2"),
        TextOps.hamming(col("sh1"), col("sh2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** ASYMMETRIC MinHash-LSH near-dup — flag INCOMING docs that
    * near-duplicate any REFERENCE doc: the incremental-ingest shape
    * (dedup this month's crawl dump against the standing corpus)
    * where re-pairing the corpus against itself every ingest would be
    * quadratic waste. The band join is strictly ref-side × incoming-side
    * — the ref×ref and incoming×incoming pair spaces are never
    * generated (use [[minhashNearDups]] within one frame for those).
    * Pairs surface exactly once via the first-matching-band predicate;
    * verification is the exact sorted-set Jaccard; per-side bucket caps
    * bound any degenerate bucket's r×i blowup. Returns ONE row per
    * flagged incoming doc — its best match (highest verified Jaccard,
    * lowest ref id tiebreak) through a WindowGroupLimit-prunable rank. */
  def minhashNearDupsAgainst(ref: DataFrame, incoming: DataFrame,
                             idCol: String, textCol: String,
                             numHashes: Int = 128, bands: Int = 16,
                             threshold: Double = 0.8, maxBucket: Int = 100000,
                             seed: Int = 42): DataFrame = {
    nearDupsAgainst(ref, incoming, idCol, hashedTokenSet(col(textCol)),
      MinHashBands(col("_toks"), numHashes, bands, seed), threshold, maxBucket,
      auditAs = None)
  }

  /** [[minhashNearDupsAgainst]] with the engine-neutral hash family
    * (VERDICT r12 item 6, widened r13): md5-derived element hashes +
    * the a·x+b mod P signature family, so the DuckDB oracle replays the
    * asymmetric banding bit-identically — same ref×incoming-only pair
    * space, same best-match contract (highest verified Jaccard, lowest
    * ref id). */
  def minhashNearDupsAgainstPortable(ref: DataFrame, incoming: DataFrame,
                                     idCol: String, textCol: String,
                                     numHashes: Int = 128, bands: Int = 16,
                                     threshold: Double = 0.8,
                                     maxBucket: Int = 100000): DataFrame = {
    nearDupsAgainst(ref, incoming, idCol, portableHashedTokenSet(col(textCol)),
      MinHashBands.lcg(col("_toks"), numHashes, bands), threshold, maxBucket,
      auditAs = Some("Dedup.minhashNearDupsAgainstPortable"))
  }

  /** The body both asymmetric pipelines share: `toks` is the sorted
    * token set of a text row, `bandHashes` the band hashes of its
    * `_toks`; `auditAs` names a portable caller, whose bands are
    * cap-audited ([[auditPortableCap]]). */
  private def nearDupsAgainst(ref: DataFrame, incoming: DataFrame, idCol: String,
                              toks: Column, bandHashes: Column, threshold: Double,
                              maxBucket: Int, auditAs: Option[String]): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      df.select(col(idCol), toks.as("_toks"))
        .localCheckpoint() // reused by the band join AND verification
    def banded(t: DataFrame): DataFrame = {
      val withBh = t.select(col(idCol), bandHashes.as("_bh"))
      auditAs.foreach(auditPortableCap(withBh, maxBucket, _))
      maskedSurvivingBands(withBh, idCol, maxBucket)
    }
    val refToks = prep(ref)
    val incToks = prep(incoming)
    val r = banded(refToks).select(col("band"), col("band_hash"),
      col(idCol).as("ref_id"), col("_bh").as("_bh1"))
    val i = banded(incToks).select(col("band"), col("band_hash"),
      col(idCol).as("inc_id"), col("_bh").as("_bh2"))
    val cands = r.join(i, Seq("band", "band_hash"))
      .filter(graft.functions.FirstBandMatch(col("_bh1"), col("_bh2")) === col("band"))
      .select(col("inc_id"), col("ref_id"))
    bestMatches(cands,
      incToks.select(col(idCol).as("inc_id"), col("_toks").as("_ti")),
      refToks.select(col(idCol).as("ref_id"), col("_toks").as("_tr")), threshold)
  }

  /** Verify (inc_id, ref_id) candidates against the sorted token sets
    * (inc_id, _ti) and (ref_id, _tr), and keep each incoming doc's best
    * match: highest Jaccard >= threshold, lowest ref id on a tie. */
  private[operators] def bestMatches(cands: DataFrame, incToks: DataFrame,
                                     refToks: DataFrame, threshold: Double): DataFrame =
    cands.join(incToks, "inc_id").join(refToks, "ref_id")
      .withColumn("_inter", SortedIntersectSize(col("_ti"), col("_tr")))
      .withColumn("jaccard", col("_inter").cast("double") /
        (size(col("_ti")) + size(col("_tr")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("inc_id"))
          .orderBy(col("jaccard").desc, col("ref_id"))))
      .filter(col("_rn") === 1)
      .select(col("inc_id"), col("ref_id"), round(col("jaccard"), 3).as("jaccard"))

  /** SimHash near-dup: docs whose 64-bit simhash differs by <= maxHamming
    * bits. Candidate generation buckets on 4 × 16-bit simhash bands
    * (guarantees recall for hamming <= 3); verification checks the true
    * hamming distance.
    *
    * Scale shape: the signature table (id, long) is localCheckpointed so
    * the exploded 64-vote aggregation runs ONCE, not once per self-join
    * side; duplicate candidate pairs (a pair collides in every band whose
    * 16-bit slice of sh1^sh2 is zero) are suppressed emit-once-by-
    * construction — a pair is kept only in its FIRST matching band,
    * decided from pure bit ops on the two signatures already in the row —
    * instead of a global distinct() over all collision rows. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val sigs = TextOps.simhash(docs, idCol, TextOps.tokens(col(textCol)))
      .localCheckpoint()
    val banded = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col("band"), col("band_hash"),
      col(idCol).as("id1"), col("simhash").as("sh1"))
    val b = banded.select(col("band"), col("band_hash"),
      col(idCol).as("id2"), col("simhash").as("sh2"))
    val diff = col("sh1").bitwiseXOR(col("sh2"))
    // this row's band is the pair's first matching band <=> every earlier
    // band's slice of the xor is nonzero
    val firstMatchingBand = (0 until 3).foldLeft(lit(true)) { (acc, bp) =>
      acc && (col("band") <= bp ||
        shiftrightunsigned(diff, bp * 16).bitwiseAND(lit(0xFFFFL)) =!= 0L)
    }
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2") && firstMatchingBand)
      .select(col("id1"), col("id2"),
        TextOps.hamming(col("sh1"), col("sh2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
