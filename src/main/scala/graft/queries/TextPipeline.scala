package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Phases, Tables}
import graft.functions.TextOps
import graft.operators.{AsofJoin, ConnectedComponents, Dedup, SetSimJoin, WeightedSample}

/** LLM-data-pipeline text layer over `documents` (SURVEY.md §2b): dedup
  * (exact / MinHash-LSH / SimHash / n-gram Jaccard / edit-distance /
  * fixed-stride segment / content-defined chunk), text analysis (token
  * stats, quality, language-ID, fingerprints, TF-IDF, character
  * entropy, OOV rate), corpus preparation (train/val/test split, source
  * mixing, quality binning, shard packing, deterministic shuffle order,
  * BPE training + fertility, contamination check, DSIR importance
  * weights, source-overlap matrix exact + MinHash-sketched), plus the
  * as-of join operator exercised on `events`.
  *
  * Oracle-comparable queries carry DuckDB SQL; the LSH/SimHash/
  * fingerprint/sketch/BPE paths are engine-only (non-SQL-expressible)
  * and are instead verified by named ScalaTests against brute force or
  * sequential references on sf0.001 (SURVEY.md §5).
  */
object TextPipeline {

  /** Exact dedup: keep-first per identical text (hash group). */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactKeepFirst(Tables.documents(s, dir), "doc_id", "text")
      .select(col("text_hash"), col("keep_id"), col("n_copies"))
      .orderBy(col("text_hash"))

  /** Normalization-equivalence dedup (r17): casefold + punctuation
    * strip + whitespace collapse, then EXACT grouping on the normalized
    * form — the cheap first pass crawl pipelines run BEFORE MinHash
    * (case/punctuation variants are the most common duplicate class,
    * and a hash-groupBy costs one shuffle where banded MinHash costs
    * several). The group key is md5 of the normalized text — portable
    * (the CountMin/minhash md5 move) and id-sized, so the shuffle never
    * carries full documents at 100 TB. The fixture's organic
    * duplicates are byte-identical and exactDedup's, so this query
    * weaves deterministic case+punctuation variants of every 17th doc
    * (the PII/phash non-vacuous-fixture pattern) and the oracle replays
    * the same weave: every woven variant must land in its original's
    * group, or the normalization chain drifted between engines. */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val woven = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat(upper(substring(col("text"), 1, 40)),
          substring(col("text"), 41, Int.MaxValue), lit(" !!")).as("text"))
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
      "[^a-z0-9 ]", " "), " +", " "))
    docs.unionByName(woven)
      .select(col("doc_id"), md5(norm).as("norm_fp"))
      .groupBy(col("norm_fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("canonical_id"), col("n_copies"), col("norm_fp"))
      .orderBy(col("canonical_id"))
  }

  /** Token statistics per language. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"))

  /** Per-document quality stats: token counts, distinct ratio, stopword
    * ratio — the standard text-quality scoring features. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_uniq_tokens"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 3).as("uniq_ratio"),
        round(TextOps.stopRatio(toks), 3).as("stop_ratio"),
        round(length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double")
          / length(col("text")), 3).as("punct_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Regex (BPE-ish) token counting per source. */
  def regexTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_rtokens", size(TextOps.regexTokens(col("text"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_rtokens")).cast("long").as("total_rtokens"))
      .orderBy(col("source"))

  /** Distinct tokens hashed to 64-bit longs: set operations over longs
    * are several times cheaper than over strings, and Jaccard over the
    * hashed sets equals Jaccard over the tokens barring a 64-bit
    * collision (P ~ 1e-14 for this vocabulary; the brute-force
    * equivalence spec would catch one). */
  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Dedup.hashedTokenSet(col("text")).as("toks"))

  /** Exact token-set Jaccard near-dup pairs via prefix-filtered set-
    * similarity join (SetSimJoin) — bit-identical to the brute-force
    * cross join (SetSimJoinSpec holds the equivalence) but with no
    * O(n^2) stage, so it is safe to run at bench/production scale. */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    SetSimJoin.jaccardSelfJoin(docToks(s, dir), "doc_id", "toks", 0.8)
      .select(col("id1"), col("id2"), round(col("jaccard"), 3).as("jaccard"))
      .orderBy(col("id1"), col("id2"))

  /** Order-SENSITIVE near-dup pairs: exact Jaccard over word-3-gram
    * shingle sets (the brief's "n-gram Jaccard" — distinguishes docs
    * that share vocabulary from docs that share phrasing; a shuffled
    * bag-of-words dup scores ~1.0 on token Jaccard but ~0 here). Same
    * prefix-filtered exact join as jaccardPairs, over hashed shingles;
    * docs with fewer than 3 tokens have no shingles and are excluded,
    * matching the oracle's len(toks) >= 3 guard. */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // fused codegen shingle hasher (≡ the HOF chain bit-for-bit,
    // ShingleHashSetSpec) — the HOF form was the query's hottest stage
    val grams = graft.functions.ShingleHashSet(col("text"), 3)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), grams.as("toks"))
      .filter(size(col("toks")) > 0)
    SetSimJoin.jaccardSelfJoin(toks, "doc_id", "toks", 0.8)
      .select(col("id1"), col("id2"), round(col("jaccard"), 3).as("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Incremental-ingest dedup: treat `src19` as the NEWLY ARRIVED dump
    * and flag its documents that near-duplicate the STANDING corpus
    * (every other source) — the monthly-crawl shape where the corpus
    * must never be re-paired against itself. Engine-neutral hash family
    * (r13), so the DuckDB oracle replays the asymmetric banding and the
    * best-match rule exactly; DedupSpec additionally gates the
    * asymmetric operator against a brute-force cross-side scan on
    * planted fixtures, including that within-side duplicates never
    * flag. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.minhashNearDupsAgainstPortable(
      docs.filter(col("source") =!= "src19"),
      docs.filter(col("source") === "src19"),
      "doc_id", "text")
      .orderBy(col("inc_id"))
  }

  /** Pairwise corpus overlap between SOURCES: exact Jaccard over each
    * source's word-3-gram shingle set — the "how much does source A
    * duplicate source B" matrix that drives mixture design (drop a
    * crawl snapshot that is 90% contained in another, weight down
    * overlapping dumps before training).
    *
    * Scale shape: one explode → distinct on (source, gram) keys the
    * whole computation; per-source sizes are a tiny groupBy, and the
    * intersection counts come from a self-join ON THE GRAM (a gram
    * shared by k sources emits k·(k-1)/2 pair rows — bounded by the
    * source count squared per gram, never by corpus size). The final
    * pair frame is |sources|² rows: driver-safe at any corpus scale.
    * Nothing broadcasts the gram table; the all-pairs skeleton joins
    * two |sources|-row aggregates. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlapFrom(Tables.documents(s, dir))

  /** Core of [[sourceOverlap]] over any (source, text) frame —
    * separated so degenerate-input specs can gate it directly. */
  def sourceOverlapFrom(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // grams ride as xxhash64 longs through the distinct and the
    // gram-keyed self-join (r18 opt, guide §2.3 — the gram identity is
    // only compared, never displayed; same accepted collision class as
    // doc_span_dedup, oracle replays on strings and stays hash-green)
    val srcGrams = docs
      .filter(size(toks) >= 3)
      .select(col("source"), explode(TextOps.shingles(toks, 3)).as("_g"))
      .select(col("source"), xxhash64(col("_g")).as("gram"))
      .distinct()
      .localCheckpoint(eager = false) // fan-out: feeds sizes AND the self-join
    val sizes = srcGrams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = srcGrams.as("a")
      .join(srcGrams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    // all source pairs (|sources|² skeleton), zero-filled where disjoint
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** SKETCH estimate of the source-overlap matrix — the 100-TB path for
    * [[sourceOverlap]]: instead of self-joining the distinct
    * (source, gram) table (exact, but a gram-keyed shuffle of the whole
    * corpus), each source's shingle-set UNION is summarized by one
    * 128-long MinHash signature (element-wise min is exactly the
    * signature of the union — MinHashMerge scaladoc), so the estimate
    * costs ONE pass over the documents plus a |sources|-row broadcast
    * self-compare. Engine-only (sketch output is not SQL-expressible);
    * MinHashAggSpec gates the estimate against the exact matrix on the
    * fixture (max |est − exact| ≤ 0.15 at 128 hashes). */
  def sourceOverlapMinhash(s: SparkSession, dir: String): DataFrame = {
    val numHashes = 128
    val mergeSig = udaf(new graft.functions.MinHashMerge(numHashes))
    val toks = TextOps.tokens(col("text"))
    // engine-neutral family (VERDICT r12 item 6): md5-derived shingle
    // hashes + the exact-integer LCG permutations, so the DuckDB oracle
    // replays every signature slot bit-identically (the r11
    // doc_langid_fingerprint recipe, widened to the full sketch).
    // MinHashMerge is family-agnostic — elementwise min.
    val elems = graft.functions.Md5ShingleSet(col("text"), 3)
    val srcSigs = Tables.documents(s, dir)
      .filter(size(toks) >= 3) // same universe as the exact matrix
      .select(col("source"),
        graft.functions.MinHashSig.lcg(elems, numHashes).as("sig"))
      .groupBy(col("source")).agg(mergeSig(col("sig")).as("sig"))
    srcSigs.as("a")
      .join(broadcast(srcSigs.as("b")), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        round(aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes, 4)
          .as("jaccard_est"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its unigrams look drawn from a TARGET
    * distribution (here: the corpus's `lang = 'en'` slice) versus the
    * RAW distribution (the whole corpus) — sum over token occurrences
    * of log((c_target+1)/(c_raw+1)) plus the add-one normalizer. High
    * scores = resample into the training mix.
    *
    * Determinism across engines: each per-token log-odds is QUANTIZED
    * to an integer (floor of 1e6×) before summing, so the per-doc
    * aggregate is exact integer arithmetic — accumulation order can't
    * drift the hash. The readable per-token average re-derives from
    * the integers by one division.
    *
    * Scale shape: two token-keyed aggregations build the vocabulary
    * score table, the corpus totals ride as a one-row broadcast, and
    * the per-doc score is occurrences JOIN vocab ON the token (the
    * vocab is never broadcast — same shape as `doc_vocab_oov`) followed
    * by a doc-keyed sum. Every stage is key-partitioned. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(Tables.documents(s, dir))

  /** Core of [[dsirWeights]] over any (doc_id, lang, text) frame —
    * separated so degenerate-input specs can gate it directly. */
  def dsirWeightsFrom(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    // occ fans out 3 ways but is deliberately NOT checkpointed: it is
    // one row PER TOKEN — materializing it would write >the corpus to
    // executor disk, while recomputing costs column-pruned scans of the
    // text column. The checkpoint belongs on vocab (token-level
    // aggregate, corpus-independent size), below.
    val occ = docs
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
    val raw = occ.groupBy(col("tok")).agg(count(lit(1)).as("c_r"))
    val tgt = occ.filter(col("lang") === targetLang)
      .groupBy(col("tok")).agg(count(lit(1)).as("c_t"))
    val vocab = raw.join(tgt, Seq("tok"), "left")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
      .withColumn("q", floor(lit(1e6) *
        (log(col("c_t") + lit(1.0)) - log(col("c_r") + lit(1.0)))).cast("long"))
      .localCheckpoint(eager = false) // fan-out: totals AND the per-doc join
    val tot = vocab.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"),
      count(lit(1)).as("v"))
    val perDoc = occ.join(vocab.select(col("tok"), col("q")), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("q")).as("sq"))
    perDoc.crossJoin(broadcast(tot))
      .withColumn("offset_q", floor(lit(1e6) *
        (log(col("n_r") + col("v")) - log(col("n_t") + col("v")))).cast("long"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sq") + col("n_tokens") * col("offset_q")).as("weight_q"),
        // + 0.0 canonicalizes IEEE −0.0 so both engines print one zero
        (round((col("sq") + col("n_tokens") * col("offset_q")).cast("double")
          / (col("n_tokens") * lit(1e6)), 4) + lit(0.0)).as("avg_logodds"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTER assignment — pairs are not a dedup decision; this
    * is: every document mapped to its connected component of the
    * jaccard >= 0.8 graph (component id = min doc_id — the canonical
    * "keep" representative) plus the cluster size. Edges come from the
    * sparse connectivity-equivalent form (member→rep stars + rep pairs,
    * SetSimJoin.jaccardEdges), components from the O(log n)-round
    * alternating-star algorithm; docs in no pair are singletons. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    componentOf(s, dir)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("component"))))
      .orderBy(col("doc_id"))
  }

  /** Within-document repetition (Gopher/MassiveText-style quality
    * filter): fraction of duplicate word bigrams. High values flag
    * boilerplate/spam; docs with fewer than 2 tokens have no bigrams and
    * are excluded (matching the oracle's guard). */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val grams = TextOps.shingles(toks, 2)
    Tables.documents(s, dir)
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        size(grams).as("n_bigrams"),
        size(array_distinct(grams)).as("n_uniq_bigrams"),
        round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 3)
          .as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary build: terms above a document-frequency floor, assigned
    * dense ids by (doc_freq desc, term). The id assignment is the
    * distributed two-phase `DenseIds` operator (range-partition → local
    * rank → broadcast offsets) — a global `row_number` window would pull
    * the whole vocabulary through one task, the plan that dies when the
    * corpus (and with it the vocabulary) scales 100×. */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(s, dir)
      .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= 5)
    graft.operators.DenseIds
      .withDenseId(df, Seq(col("doc_freq").desc, col("term")), "vocab_id")
      .select(col("vocab_id").cast("int").as("vocab_id"), col("term"), col("doc_freq"))
      .orderBy(col("vocab_id"))
  }

  /** Bigram language-model counts: the 3 most frequent successors of
    * every term (count desc, successor asc) — the n-gram statistics pass
    * of a corpus pipeline. Two-phase: map-side-combined (w1, w2) counts,
    * then a per-w1 window over the already-aggregated (small) table. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col("text"))
    // bigrams as (w1, w2) structs via arrays_zip over two slices — all
    // codegen'd built-ins (the shingles HOF is CodegenFallback, and the
    // string concat + re-split round-trip it would need is pure waste)
    val grams = Tables.documents(s, dir)
      .select(col("text"), size(toks).as("_n"))
      .filter(col("_n") >= 2)
      .select(explode(arrays_zip(
        slice(toks, lit(1), col("_n") - 1),
        slice(toks, lit(2), col("_n") - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
    grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("w1")).orderBy(col("n").desc, col("w2"))))
      .filter(col("rk") <= 3)
      .select(col("w1"), col("w2"), col("n"), col("rk"))
      .orderBy(col("w1"), col("rk"))
  }

  /** END-TO-END training-data pipeline composition — the flow this
    * engine exists for, as ONE declarative DAG Catalyst optimizes
    * whole: quality filter (length + stopword-ratio gates) → exact
    * dedup keep-first → LEAKAGE-SAFE split assignment (by near-dup
    * cluster, the [[componentOf]] key [[leakageSafeSplit]] reports on —
    * per-doc splitting would let near-duplicates straddle train/test) →
    * per-split stats. The filter reaches the scan; the dedup window,
    * the CC pass, and the final aggregate are the shuffles. */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextOps.tokens(col("text"))
    val scored = Tables.documents(s, dir)
      .withColumn("_nt", size(toks))
      .withColumn("_stop", TextOps.stopRatio(toks))
      .filter(col("_nt").between(20, 400) && col("_stop") < 0.5)
    val kept = scored
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1)
    kept
      .join(componentOf(s, dir), "doc_id")
      .withColumn("split", splitCol(col("component")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).cast("long").as("total_tokens"))
      .orderBy(col("split"))
  }

  /** Train/test CONTAMINATION check (eval decontamination — the step
    * that keeps benchmark answers out of the training split): every
    * non-train document that shares at least one word-5-gram with any
    * train document, with the shared-gram count and ratio. Shingles are
    * the fused codegen'd hashed sets (counts over 64-bit hashes equal
    * counts over the strings barring a ~1e-14 collision, same
    * equivalence the ngram-jaccard oracle relies on); the train gram set
    * never collects — the check is a semi-join shuffled on the gram
    * hash, which IS the honest shape of decontamination at corpus
    * scale. */
  def contamination(s: SparkSession, dir: String): DataFrame =
    contamination(s, dir, bloomPrefilter = true)

  /** `bloomPrefilter = true` (the default and the scale shape) builds a
    * Bloom filter over the train grams and drops non-matching test-gram
    * rows BEFORE the semi-join shuffle — at a 1% false-positive rate
    * ~99% of clean grams never enter the exchange, which is where the
    * bytes go at corpus scale. The EXACT semi-join still runs behind it
    * as the verifier, so false positives cannot reach the output and the
    * oracle row is byte-identical either way (VERDICT r5 item 8; the
    * shuffle-bytes drop is visible in bench_result.json's
    * shuffle_write_mb). Driver-side bloom memory is ~1.2 B/gram at 1%
    * fpp — at extreme corpus sizes raise the fpp or switch to Spark's
    * runtime row-level bloom injection (PlanSpec gates that rewrite). */
  def contamination(s: SparkSession, dir: String, bloomPrefilter: Boolean): DataFrame = {
    val grams = graft.functions.ShingleHashSet(col("text"), 5)
    val g = Tables.documents(s, dir)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"), grams.as("gs"))
      .filter(size(col("gs")) > 0)
      .localCheckpoint()
    val train = g.filter(col("split") === "train")
      .select(explode(col("gs")).as("gram")).distinct()
    val testAll = g.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("gram"))
    val test = if (!bloomPrefilter) testAll else {
      // upper bound on distinct train grams from the checkpointed stage
      // (one tiny agg job); expectedNumItems only sizes the filter
      val nTrain = g.filter(col("split") === "train")
        .agg(coalesce(sum(size(col("gs"))), lit(0L))).head().getLong(0)
      val bloom = g.filter(col("split") === "train")
        .select(explode(col("gs")).as("gram"))
        .stat.bloomFilter("gram", math.max(nTrain, 1L), 0.01)
      // fused codegen probe (was the repo's last UDF — a per-row boxed
      // call off the codegen path); the sketch rides the task binary as
      // a foldable literal, see graft.functions.BloomContains
      testAll.filter(graft.functions.BloomContains(bloom, col("gram")))
    }
    test.join(train, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"), col("split"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_grams"), 3))
      .orderBy(col("doc_id"))
  }

  /** The cross-join brute force — O(n^2); exists ONLY as ground truth for
    * SetSimJoinSpec/DedupSpec on the small SFs, never in the bench path. */
  def jaccardPairsBrute(s: SparkSession, dir: String): DataFrame = {
    val toks = docToks(s, dir)
    val a = toks.select(col("doc_id").as("id1"), col("toks").as("t1"))
    val b = toks.select(col("doc_id").as("id2"), col("toks").as("t2"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("jaccard",
        size(array_intersect(col("t1"), col("t2"))).cast("double") /
          size(array_union(col("t1"), col("t2"))))
      .filter(col("jaccard") >= 0.8)
      .select(col("id1"), col("id2"), round(col("jaccard"), 3).as("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** MinHash-LSH near-dup pairs (engine-only; DedupSpec gates recall
    * >= 0.9 against jaccardPairs ground truth). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupsPortable(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 128, bands = 16, threshold = 0.8)
      .orderBy(col("id1"), col("id2"))

  /** SimHash near-dup pairs — the engine-neutral family, so the DuckDB
    * oracle replays the 60-bit signature and the hamming pairs exactly
    * (VERDICT r12 item 6). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupsPortable(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy(col("id1"), col("id2"))

  /** Language-ID heuristic + rolling-hash fingerprint (engine-only). */
  def langIdFingerprint(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextOps.langId(toks).as("pred_lang"),
        TextOps.fingerprint(toks, 3).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary: exact top-20 terms by document frequency — the
    * "what is this corpus made of" stat every pipeline starts with.
    * explode → two-level agg; the explode never collects, the term
    * space aggregates map-side first. */
  def topTerms(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term"))
      .limit(20)

  /** Deterministic train/val/test split assignment — the step every
    * training-data pipeline ends with. The split is a pure function of
    * the stable id (Knuth multiplicative hash, mod 100 → 80/10/10), so
    * it is reproducible run-to-run, engine-to-engine, and at any
    * parallelism — unlike `randomSplit`, whose assignment depends on
    * partitioning. Per-row work only; aggregates per split×source for a
    * bounded, oracle-hashable result. (doc_id ≤ ~1e7 keeps the product
    * < 2^63, so no overflow-semantics divergence between engines.) */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("split"), col("source"))

  /** The ONE definition of the deterministic split bucket (Knuth
    * multiplicative hash mod 100 → 80/10/10) — shared by splitAssign and
    * pipelineE2e so the multiplier/thresholds and their oracles can
    * never drift apart. doc_id ≤ ~1e7 keeps the product < 2^63 (no
    * overflow-semantics divergence between engines). */
  private def splitCol(id: Column): Column = {
    val bucket = pmod(id * lit(2654435761L), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** LEAKAGE-SAFE split assignment: assign train/val/test by near-dup
    * CLUSTER, not by document. Per-doc splitting ([[splitAssign]]) lets
    * near-duplicates straddle train and test — eval data leaks into
    * training through the duplicate, the classic benchmark-contamination
    * trap cluster-level splits close. The split key is the CC component
    * representative (min doc id of the near-dup cluster), so every
    * member of a cluster lands in the SAME split by construction; the
    * `n_rescued` column counts docs whose naive per-doc assignment
    * differed — the leakage this operator prevented. Cost is the same
    * CC pass `doc_dedup_clusters` runs; the split itself adds one hash
    * and one aggregate. */
  /** The ONE definition of the near-dup-cluster key: every doc's CC
    * component representative (min doc id of its Jaccard-0.8 cluster;
    * singletons map to themselves). Shared by [[dedupClusters]],
    * [[leakageSafeSplit]] and [[pipelineE2e]] so their split assignments
    * can never drift — the whole point of a leakage-safe split is that
    * every consumer keys on the same cluster.
    *
    * Served from the PERSISTED, fingerprinted [[ClusterIndex]] (VERDICT
    * r9 item 1): the tokenize → PPJoin → CC pass — the single most
    * expensive computation in the engine, and formerly re-run by all
    * three consumers — is paid once per corpus generation at ensure()
    * and every consumer reads the `(doc_id, component)` parquet map.
    * ClusterIndexSpec holds index ≡ fresh-CC; the fingerprint guard
    * rebuilds when the driver regenerates fixtures in place. */
  private def componentOf(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureClusterIndex(s, dir)
    graft.operators.ClusterIndex.assignments(s, idx, "doc_id")
  }

  /** Build-or-refresh the persisted near-dup cluster index for a fixture
    * dir — the text-side sibling of Vectors.ensureIndex (same lifecycle:
    * bench warms it, production amortizes the build over every consumer
    * query, the fingerprint catches in-place corpus regeneration). */
  def ensureClusterIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_clusteridx/" +
      Tables.fixtureKey(dir)
    graft.operators.ClusterIndex.ensure(
      Tables.documents(s, dir), "doc_id", "text", idx)
    idx
  }

  /** Build-or-refresh the STANDING-corpus index [[clusterIndexProbe]]
    * probes (every source but src19 — a different corpus than
    * [[ensureClusterIndex]]'s, hence its own dir). Bench warms this too:
    * the build is ingest-side cost, the timed query is the O(delta)
    * probe. */
  def ensureProbeClusterIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_clusteridx_probe/" +
      Tables.fixtureKey(dir)
    graft.operators.ClusterIndex.ensure(
      Tables.documents(s, dir).filter(col("source") =!= "src19"),
      "doc_id", "text", idx)
    idx
  }

  /** The incremental-ingest side of the cluster index as a first-class
    * query: index the standing corpus (every source but src19), then
    * PROBE the src19 docs — each incoming doc is assigned its connected
    * component under the UNION corpus exactly (quotient-graph CC over
    * delta edges + delta→component matches; see [[graft.operators
    * .ClusterIndex]]), in O(|delta| + touched partitions) instead of a
    * corpus-wide recompute. The oracle is the recursive-CTE CC over ALL
    * documents restricted to the probed ids — a full-strength DuckDB
    * check that the incremental path equals the batch answer, bridges
    * and rep-changes included. */
  def clusterIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val idx = ensureProbeClusterIndex(s, dir)
    graft.operators.ClusterIndex.probe(s, idx,
        Tables.documents(s, dir).filter(col("source") === "src19"),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The COMPOSED right-to-be-forgotten flow as a first-class query
    * (VERDICT r10 item 1): snapshot the persisted cluster index, scrub a
    * victim set from BOTH the lake and the index
    * ([[graft.operators.TargetedDelete]] +
    * [[graft.operators.ClusterIndex.remove]] — the latter re-splits any
    * component a victim held together, the inverse of append's quotient
    * trick), then serve the surviving assignments semi-joined against
    * the post-delete lake so the two stores must AGREE on survivorship.
    * The oracle is the recursive-CTE CC over the surviving corpus — a
    * full-strength check that targeted index deletion equals a fresh
    * rebuild without the victims, bridge-splits included.
    *
    * What's in the clock (VERDICT r11 item 2): the per-run index
    * snapshot (the takedown mutates it, so each run starts from a
    * pristine copy — a REAL remove runs every time, not a replay no-op),
    * the scoped index remove, the lake scrub, and the serve. What is NOT:
    * the scratch-lake rewrite of the whole corpus — pure bench
    * hermeticity, staged ONCE per fixture generation behind a
    * source-status marker ([[Staging.stageOnce]]) exactly like the scan
    * round-trips. On warm runs the lake already lacks the victims and the
    * scrub leg is an idempotent pruned no-op scan (the lake-delete cost
    * has its own bench row, `s4_targeted_delete`); the remove stays the
    * honest headline. */
  /** Parallel index snapshot: FileUtil.copy walks the index's few
    * hundred bucket files serially (~3 s of the timed path at sf0.1); a
    * small driver pool copies them concurrently — pure I/O either way.
    * Bench harness only: a PRODUCTION snapshot at 100 TB must be a
    * distributed copy (or an object-store server-side copy), never a
    * driver-side loop like this. */
  private[queries] def snapshotIndex(s: SparkSession, base: String, scratch: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val files = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).toSeq.flatMap(st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st.getPath))
      walk(basePath)
    }
    val baseUri = basePath.toUri.getPath
    graft.operators.IndexMaintenance.parallel(files.map(f => () => {
      val rel = f.toUri.getPath.stripPrefix(baseUri).stripPrefix("/")
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
        new org.apache.hadoop.fs.Path(s"$scratch/$rel"), false, conf)
    }), threads = 16)
  }

  def clusterIndexRemove(s: SparkSession, dir: String): DataFrame = {
    val base = Phases.time("ensure") { ensureClusterIndex(s, dir) }
    val key = Tables.fixtureKey(dir)
    val tmp = System.getProperty("java.io.tmpdir")
    val scratch = s"$tmp/graft_clusteridx_rm/$key"
    Phases.time("snapshot") { snapshotIndex(s, base, scratch) }
    val lake = s"$tmp/graft_rmlake/$key"
    val docs = Tables.documents(s, dir)
    Phases.time("lake_stage") {
      Staging.stageOnce(docs, lake)(
        docs.write.mode("overwrite").partitionBy("source").parquet(lake))
    }
    // victims read out of the FIXTURE (the lake may already be scrubbed
    // on a warm run) — remove() needs the exact ingested (id, text) rows
    // for its fingerprint subtraction
    val victims = Phases.time("victims") {
      docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"), col("text")).localCheckpoint()
    }
    Phases.time("lake_scrub") {
      graft.operators.TargetedDelete.delete(s, lake, Seq("source"), "doc_id",
        victims.select(col("doc_id")))
    }
    // the staged remove times its three windows (rm_validate, rm_stage,
    // rm_flip) nested inside index_remove (VERDICT r16 item 2)
    Phases.time("index_remove") {
      graft.operators.ClusterIndex.remove(victims, "doc_id", "text", scratch,
        tag = "takedown")
    }
    graft.operators.ClusterIndex.assignments(s, scratch, "doc_id")
      .join(s.read.parquet(lake).select(col("doc_id")), Seq("doc_id"), "leftsemi")
      .orderBy(col("doc_id"))
  }

  /** The LOGICAL right-to-be-forgotten flow as a first-class query
    * (VERDICT r12 item 1; r15 — the steady-state shape): snapshot the
    * persisted cluster index, tombstone a victim set
    * ([[graft.operators.ClusterIndex.logicalRemove]] — O(victims),
    * probes blind immediately), then SERVE the assignments. The serve
    * pays the r15 serve-time bridge-split (the victim-scoped re-split
    * from the adjacency log inside [[graft.operators.ClusterIndex
    * .assignments]]), so the oracle — the same full-strength
    * recursive-CTE CC over the surviving corpus as
    * `doc_cluster_index_remove` — holds WITHOUT an in-path compact():
    * logical takedown + serve equals a fresh build without the victims,
    * bridge-splits included. The physical reclaim is the amortized
    * maintenance pass production runs on its own cadence; its
    * equivalence (logical-then-compact == physical remove == fresh
    * build) is pinned by LogicalDeleteSpec, and its cost is measured
    * where maintenance belongs — the compaction benchmarks — not inside
    * every takedown (VERDICT r14 item 1: the in-path reclaim was 9.3 s
    * of this row's 13 s and mostly re-measured compact()). */
  def clusterIndexLogicalRemove(s: SparkSession, dir: String): DataFrame = {
    val base = Phases.time("ensure") { ensureClusterIndex(s, dir) }
    val key = Tables.fixtureKey(dir)
    val scratch =
      s"${System.getProperty("java.io.tmpdir")}/graft_clusteridx_lrm/$key"
    Phases.time("snapshot") { snapshotIndex(s, base, scratch) }
    val victims = Phases.time("victims") {
      Tables.documents(s, dir).filter(col("doc_id") % 41 === 0)
        .select(col("doc_id"), col("text")).localCheckpoint()
    }
    Phases.time("logical") {
      graft.operators.ClusterIndex.logicalRemove(victims, "doc_id", "text",
        scratch, tag = "rtbf")
    }
    graft.operators.ClusterIndex.assignments(s, scratch, "doc_id")
      .orderBy(col("doc_id"))
  }

  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    componentOf(s, dir)
      .withColumn("split", splitCol(col("component")))
      .withColumn("_doc_split", splitCol(col("doc_id")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_clusters"),
        sum(when(col("_doc_split") =!= col("split"), 1).otherwise(0))
          .cast("long").as("n_rescued"))
      .orderBy(col("split"))
  }

  /** Source-RELATIVE quality quartiles: classify each document against
    * its own source's quality distribution rather than the corpus's —
    * the fair cross-domain comparison (code and prose score on
    * different absolute scales, so one global threshold over- or
    * under-filters per domain). Exact per-source quartile boundaries
    * come from ONE sort-based percentile aggregate (|sources| boundary
    * rows, broadcast back); classification is a broadcast join + CASE —
    * nothing windows over a source's full document list (the
    * percent_rank trap at 100 TB). Scores are rounded to 3 decimals
    * BEFORE the percentile so interpolated boundaries sit ≥5e-4 from
    * any score and an engine ULP difference can never flip a quartile. */
  def sourceRelativeQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        round(size(array_distinct(toks)).cast("double") / size(toks), 3)
          .as("score"))
    val bounds = scored.groupBy(col("source"))
      .agg(expr("percentile(score, 0.25)").as("p25"),
        expr("percentile(score, 0.5)").as("p50"),
        expr("percentile(score, 0.75)").as("p75"))
    scored.join(broadcast(bounds), "source")
      .withColumn("quartile",
        when(col("score") < col("p25"), "q1")
          .when(col("score") < col("p50"), "q2")
          .when(col("score") < col("p75"), "q3")
          .otherwise("q4"))
      .groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_score"))
      .orderBy(col("source"), col("quartile"))
  }

  /** Multimodal plumbing: documents as opaque binary payloads with typed
    * metadata — byte length and content digest (format-aware decode lives
    * in graft.multimodal: real WAV header/sample parsing, deterministic
    * fakes only where codec libs are absent from the container). */
  def binaryStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("digest"))
      .orderBy(col("doc_id"))

  /** As-of join on events: each purchase matched to the user's latest
    * prior-or-simultaneous signup (left outer). */
  def asofPurchaseSignup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    AsofJoin.asofTs(purchases, signups, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("asof_ts")).as("signup_us"))
      .orderBy(col("event_id"))
  }

  /** Training-data MIXING: per-source sampling weights applied as
    * deterministic hash-bucket keep rates — the step that turns raw
    * corpus proportions into the target training mixture (web downsampled,
    * high-quality sources kept, etc.). The keep decision is a pure
    * function of doc_id, so it is reproducible, join-free, and stable
    * under re-partitioning/re-runs — the same contract as splitCol, on an
    * independent multiplier so mix and split don't correlate. The rate
    * here derives from the source's numeric suffix as a stand-in for the
    * per-source weight config a production pipeline would pass in. */
  def sampleMix(s: SparkSession, dir: String): DataFrame = {
    val nt = size(TextOps.tokens(col("text")))
    val rate = lit(10) + lit(4) * substring(col("source"), 4, 10).cast("int")
    val bucket = pmod(col("doc_id") * lit(2246822519L) + lit(1013), lit(100))
    Tables.documents(s, dir)
      .select(col("source"), rate.as("rate"), bucket.as("_b"), nt.as("_nt"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_b") < col("rate"), 1).otherwise(0)).cast("long").as("n_kept"),
        sum(when(col("_b") < col("rate"), col("_nt")).otherwise(0)).cast("long")
          .as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** LM-based NOVELTY scoring: the fraction of a document's distinct
    * bigrams that are corpus-rare (fewer than 5 occurrences in the whole
    * corpus) — the integer-exact core of perplexity-style quality
    * filtering (log-prob scoring drifts between libm and the JVM, so the
    * oracle-gated form stays in counts; high novelty = unusual phrasing =
    * candidate garbage or candidate gold, either way a routing signal).
    * Scale shape: corpus counts are one map-side-combined aggregation;
    * the doc-gram join shuffles on the gram key — never collects. */
  def lmNovelty(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), size(toks).as("_n"))
      .filter(col("_n") >= 2)
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(arrays_zip(
        slice(toks, lit(1), col("_n") - 1),
        slice(toks, lit(2), col("_n") - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val corpusCounts = grams(base)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("_c"))
    val docGrams = grams(base).dropDuplicates("doc_id", "w1", "w2")
    docGrams.join(corpusCounts, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_c") < 5, 1).otherwise(0)).cast("long").as("n_rare"))
      .withColumn("novelty",
        round(col("n_rare").cast("double") / col("n_bigrams"), 3))
      .orderBy(col("doc_id"))
  }

  /** Quality BINNING: per-source token-count deciles (ntile) with
    * deterministic tie-break — the bucketing step behind curriculum /
    * quality-stratified sampling. The window partitions by source, so the
    * ranking is distributed (a GLOBAL decile would be the single-partition
    * window vocabBuild just got rid of); per-source deciles are also the
    * semantically right ones — sources have different length profiles. */
  def qualityBins(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .withColumn("bin", ntile(10).over(
        Window.partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** Token-budget PACKING: documents assigned to fixed-budget shards
    * (8192 tokens) by running offset, per (split, bucket) — the sharding
    * step before sequence packing writes training chunks. A doc belongs
    * to the shard its START offset falls in (docs may straddle a
    * boundary; the packer downstream handles the tail). The running sum
    * is windowed by (split, 8-way doc_id bucket), so no partition ever
    * holds more than 1/24th of the corpus — packing is embarrassingly
    * parallel across buckets by design, matching how shards map to
    * writer tasks at scale. */
  def packShards(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("split"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"),
        pmod(col("doc_id"), lit(8)).cast("int").as("bucket"),
        size(TextOps.tokens(col("text"))).as("_nt"))
      .withColumn("_start", coalesce(sum(col("_nt")).over(w), lit(0L)))
      .withColumn("shard", floor(col("_start") / lit(8192)).cast("int"))
      .groupBy(col("split"), col("bucket"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).cast("long").as("shard_tokens"))
      .orderBy(col("split"), col("bucket"), col("shard"))
  }

  /** Fixed-length training-SEQUENCE packing (L = 128 tokens): the step
    * after sharding that every LLM training pipeline runs — concatenate
    * documents in a deterministic order and cut the token stream at L
    * boundaries, letting documents straddle a cut (the packer emits
    * attention-boundary metadata instead of padding). Output is the
    * per-sequence composition: contributing docs, tokens (every
    * non-tail sequence must hold exactly L), and how many docs carried
    * over a boundary.
    *
    * Same distributed shape as doc_pack_shards: the running token
    * offset windows over (split, 8-way bucket), so packing is
    * embarrassingly parallel across buckets and no partition ever sees
    * more than 1/24th of the corpus — exactly how packer workers shard
    * at 100 TB. A doc covering global offsets [o, o+nt) contributes
    * min(o+nt, (q+1)L) - max(o, qL) tokens to each sequence q in its
    * range — pure integer arithmetic, replayed identically by the
    * oracle. */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 128L
    val w = Window.partitionBy(col("split"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"),
        pmod(col("doc_id"), lit(8)).cast("int").as("bucket"),
        size(TextOps.tokens(col("text"))).cast("long").as("_nt"))
      .filter(col("_nt") > 0)
      .withColumn("_o", coalesce(sum(col("_nt")).over(w), lit(0L)))
      .withColumn("seq", explode(sequence(
        floor(col("_o") / lit(L)).cast("long"),
        floor((col("_o") + col("_nt") - 1) / lit(L)).cast("long"))))
      .withColumn("_contrib",
        least(col("_o") + col("_nt"), (col("seq") + 1) * L) -
          greatest(col("_o"), col("seq") * L))
      .withColumn("_carry", when(col("_o") < col("seq") * L, 1L).otherwise(0L))
      .groupBy(col("split"), col("bucket"), col("seq"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_contrib")).as("seq_tokens"),
        sum(col("_carry")).as("n_carryover"))
      .orderBy(col("split"), col("bucket"), col("seq"))
  }

  /** Content-defined chunk fingerprints + cross-document sharing: per
    * doc, its CDC chunk count and how many of its chunks also occur in
    * at least one OTHER document — the partial-duplication signal
    * (boilerplate, quoted text, mirrored-with-edits) that exact hashing
    * misses and shingle Jaccard blurs. Engine-only (a rolling hash is
    * not SQL-expressible); CdcChunksSpec gates the chunker against a
    * reference implementation and the self-synchronization property.
    * Scale shape: explode → two map-side-combined aggregations joined on
    * the chunk hash — the exact-dedup footprint, never quadratic. */
  def cdcChunkStats(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.CdcChunks(col("text"), 6)).as("c"))
      .select(col("doc_id"), col("c.hash").as("chunk_hash"))
      .localCheckpoint(eager = false)
    val docsPerChunk = chunks.dropDuplicates("doc_id", "chunk_hash")
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("_nd"))
    chunks.join(docsPerChunk, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_nd") >= 2, 1).otherwise(0)).cast("long").as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Approximate heavy-hitter terms per language via the Space-Saving
    * sketch — the O(capacity)-state form of doc_top_terms for when the
    * vocabulary doesn't fit an exact groupBy (the shuffle carries one
    * bounded counter table per language, never per-term rows). Engine-only:
    * sketch counts are approximate by design; SpaceSavingSpec gates the
    * tracked-above-threshold and count-bound guarantees under partial
    * aggregation, which is exactly the path this query exercises. */
  def heavyTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.SpaceSaving(20).toColumn
    Tables.documents(s, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("hh"))
      .toDF("lang", "hh")
      .select(col("lang"), posexplode(col("hh")).as(Seq("rank", "t")))
      .select(col("lang"), (col("rank") + 1).as("rank"),
        col("t._1").as("term"), col("t._2").as("count_hi"), col("t._3").as("err"))
      .filter(col("rank") <= 5)
      .orderBy(col("lang"), col("rank"))
  }

  /** Top-3 TF-IDF keywords per document — the classic per-doc salience
    * score (keyword extraction, indexing features, topic drift checks).
    * Smooth idf = ln((N+1)/(df+1)), always > 0 since df <= N.
    *
    * Scale shape: one explode → groupBy(doc, term) for tf (map-side
    * combined); df reuses that output with a second groupBy(term) — both
    * key-partitioned, no row ever leaves its key's partition twice. N
    * rides in as a one-row broadcast cross join (never a collect). The
    * per-doc top-3 is a WindowGroupLimit-prunable rank window keyed by
    * doc_id — fully distributed.
    *
    * Determinism: the window orders by the ROUNDED score (both engines
    * quantize identically before ranking, so accumulation-order ULPs
    * can't flip ranks) with the term as tiebreak. */
  def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // fan-out point: feeds df AND the score join
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 4))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 ranked retrieval (r15, VERDICT r14 item 2 — the most-used
    * text-pipeline primitive after dedup: quality-classifier
    * bootstrapping, contamination triage, and eval-set mining all rank
    * documents against a query). Okapi BM25 (Robertson et al., TREC-3 —
    * public literature) with the positive-idf variant
    * `ln((N - df + 0.5)/(df + 0.5) + 1)` and k1 = 1.2, b = 0.75: pure
    * closed-form algebra over tf/df/doclen, so the oracle replays it
    * value-exactly.
    *
    * The query set is FIXED in code (the `Vectors.probeIds` pattern):
    * four queries mixing common and rare corpus terms, broadcast to the
    * postings — the tf table is semi-joined down to query terms BEFORE
    * anything ranks, so the candidate set is O(matching postings), never
    * the corpus.
    *
    * Determinism (the [[tfidfTerms]] recipe, hardened): per-term partial
    * scores are quantized to 6 decimals and summed as DECIMAL(18,6) —
    * decimal addition is EXACT and order-independent, so the
    * merge-tree/shuffle order can never flip a rounded score the way an
    * IEEE double sum could — then the final score rounds to 4 and ranks
    * with doc_id tiebreak. Top-k per query is a rank-filter window
    * (Spark's WindowGroupLimit pushes the per-partition top-k map-side;
    * PlanSpec gates it), partitioned by query — at production scale the
    * per-query candidate stream is bounded by the postings of ITS terms,
    * the same per-key shape as any search engine's scatter-gather.
    *
    * Scale shape: one corpus tokenize feeding tf (the doc_tfidf_terms
    * fan-out), df over query terms only, doc lengths as a column-pruned
    * second aggregate, and a broadcast of the (tiny) query plan — no
    * single-partition stage, no collect. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val k1 = 1.2; val b = 0.75; val topK = 10
    val queries = Seq(
      (1L, "spark table join"),
      (2L, "data stream window agg"),
      (3L, "dup merge"),
      (4L, "customer query fast"))
    val qterms = queries.toDF("query_id", "q")
      .select(col("query_id"), explode(split(col("q"), " ")).as("term"))
      .distinct()
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // semi-join to query terms FIRST: df and the score join both see
      // only matching postings
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .localCheckpoint(eager = false) // fan-out: df AND the score join
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("dl"))
    // exact integer sum / count -> bit-identical avgdl on both engines
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      // exact decimal accumulation: order-independent by construction
      .agg(graft.functions.Bm25.score(graft.functions.Bm25.weight(k1, b))
        .as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Session-scoped ensure() memo (VERDICT r16 item 5 — the indexed
    * serve floor): one bench/verify run calls the ensure entries once
    * per SERVING ROW (doc_bm25_index_topk and doc_rrf_fusion_indexed
    * both probe the term index; vec_index_topk and the fusion both
    * probe the vector index), and each call pays FS probes plus a
    * parquet meta head even when fresh. After one ensure passes, later
    * calls for the SAME (index dir, corpus file-status) skip it. Keyed
    * by [[graft.operators.Fingerprint.sourceStatus]] — path|length|
    * mtime per corpus file, the exact signal statusFresh trusts — so a
    * regenerated fixture misses the memo and pays the full ensure; a
    * non-file corpus (empty status) never memoizes. JVM-scoped on
    * purpose: the driver re-launches per round, so cross-round
    * staleness cannot reach it. */
  private val ensureMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def memoizedEnsure(idx: String, corpus: DataFrame)
                                   (run: => Unit): Unit = {
    val status = graft.operators.Fingerprint.sourceStatus(corpus).getOrElse("")
    if (status.isEmpty || ensureMemo.get(idx) != status) {
      run
      if (status.nonEmpty) ensureMemo.put(idx, status)
    }
  }

  /** Build-or-refresh the persisted BM25 index over `documents` —
    * ingest-side cost the bench warms, like the other index families. */
  def ensureTermIndex(s: SparkSession, dir: String): String = {
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_termidx/" +
      Tables.fixtureKey(dir)
    memoizedEnsure(idx, Tables.documents(s, dir)) {
      graft.operators.TermIndex.ensure(Tables.documents(s, dir),
        "doc_id", "text", idx)
    }
    idx
  }

  /** [[bm25TopK]] served from the PERSISTED statistics
    * ([[graft.operators.TermIndex]]): same fixed query set, same
    * closed-form scorer, but tf/dl come off disk and only the query
    * terms' postings buckets are read — the build-once/serve-many shape
    * ranked retrieval actually runs at corpus scale. Value-exact
    * equality with the recompute path is the oracle (both replay the
    * identical DuckDB closed form). */
  def bm25IndexTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = ensureTermIndex(s, dir)
    val queries = Seq(
      (1L, "spark table join"),
      (2L, "data stream window agg"),
      (3L, "dup merge"),
      (4L, "customer query fast")).toDF("query_id", "q")
    graft.operators.TermIndex.topK(s, idx, queries, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The term family's COMPOSED physical takedown as a first-class query
    * (r17, the `doc_cluster_index_remove` shape): snapshot the persisted
    * BM25 index (each run starts pristine — a REAL remove runs every
    * time, never a replay no-op), physically remove a victim set
    * ([[graft.operators.TermIndex.remove]] — postings/dl rows leave
    * disk inside the call, meta stats survivor-exact under the barrier
    * protocol), then SERVE ranked retrieval from the post-remove index.
    * Oracle: the identical BM25 closed form over the SURVIVING corpus —
    * a full-strength check that targeted physical deletion equals a
    * fresh rebuild without the victims, df/N/avgdl included. Lands in
    * the bench's maintenance band by name shape. */
  def termIndexRemove(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Phases.time("ensure") { ensureTermIndex(s, dir) }
    val key = Tables.fixtureKey(dir)
    val scratch =
      s"${System.getProperty("java.io.tmpdir")}/graft_termidx_rm/$key"
    Phases.time("snapshot") { snapshotIndex(s, base, scratch) }
    val victims = Phases.time("victims") {
      Tables.documents(s, dir).filter(col("doc_id") % 43 === 0)
        .select(col("doc_id"), col("text")).localCheckpoint()
    }
    Phases.time("index_remove") {
      graft.operators.TermIndex.remove(victims, "doc_id", "text", scratch,
        tag = "takedown")
    }
    val queries = Seq(
      (1L, "spark table join"),
      (2L, "data stream window agg"),
      (3L, "dup merge"),
      (4L, "customer query fast")).toDF("query_id", "q")
    graft.operators.TermIndex.topK(s, scratch, queries, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/Büttcher,
    * SIGIR '09) — the standard way production search fuses a lexical and
    * a semantic ranker without score calibration: each leg contributes
    * 1/(60 + rank), so only RANKS cross the leg boundary and the two
    * score scales (BM25 vs cosine) never have to be commensurable.
    *
    * Query set: the fixed probe docs ([[Vectors.probeIds]] — the id
    * space is shared between `documents` and `embeddings`). Lexical leg
    * = BM25 more-like-this over the probe doc's own terms (the
    * [[bm25TopK]] closed form, self excluded); semantic leg = exact
    * cosine against the probe's embedding (the vec_brute_topk form,
    * self excluded). Legs keep their top-20; fusion keeps the top-10 by
    * (rrf DESC, doc_id).
    *
    * Scale shape: both legs end in row_number()<=k filters that plan as
    * partial WindowGroupLimit (PlanSpec), the per-query fusion join is
    * leg-bounded (≤ 2·20 rows per query), and every corpus-sized input
    * is the same tf/df/cosine fan-out the component queries already
    * bound — no new full-corpus stage. Fully DuckDB-portable: ranks are
    * integers, 1/(60+rank) is one IEEE division, and the two-term sum
    * is written identically on both engines. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VecDot
    val k1 = 1.2; val b = 0.75; val legN = 20; val topK = 10; val kRrf = 60
    val docs = Tables.documents(s, dir)
    // ---- lexical leg: BM25, query terms = the probe doc's distinct terms
    val qterms = docs.filter(col("doc_id").isInCollection(Vectors.probeIds))
      .select(col("doc_id").as("query_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .distinct()
      .localCheckpoint() // 5 probe docs' vocabulary — broadcast-small
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .localCheckpoint(eager = false) // fan-out: df AND the score join
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val lex = tf
      .join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id")) // more-like-this: not itself
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(graft.functions.Bm25.score(graft.functions.Bm25.weight(k1, b))
        .as("bscore"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bscore").desc, col("doc_id"))))
      .filter(col("lrank") <= legN)
      .select(col("query_id"), col("doc_id"), col("lrank"))
    // ---- semantic leg: exact cosine against the probe embedding
    val emb = Tables.embeddings(s, dir)
    val probes = emb.filter(col("vec_id").isInCollection(Vectors.probeIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val sem = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", round(
        VecDot(col("q_emb"), col("embedding")) /
          (sqrt(VecDot(col("q_emb"), col("q_emb"))) *
            sqrt(VecDot(col("embedding"), col("embedding")))), 4))
      .withColumn("vrank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("vrank") <= legN)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("vrank"))
    // ---- fuse: ranks in, one calibrated score out
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("vrank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[rrfFusion]] served from the PERSISTED index families (VERDICT
    * r15 item 3): lexical leg from [[graft.operators.TermIndex.topK]]
    * (exact BM25 off the postings buckets, more-like-this with the
    * probe doc excluded before ranking), semantic leg from
    * [[graft.operators.VectorIndex.topK]] (IVF, nprobe=8 of nlist=16
    * probed cells — the honest ANN serve path `doc_rrf_fusion`'s brute
    * cosine leg stands in for at fixture scale). Same rank-only fusion.
    *
    * Oracle (model-literal, [[Vectors.oracles]]): the lexical leg
    * replays as the shared BM25 closed form (TermIndex.topK is
    * value-exact against it by the `doc_bm25_index_topk` contract) and
    * the semantic leg replays probed-cell selection from the recorded
    * centroid literals — the `vec_index_topk` machinery — so the fused
    * ranks are value-exact, no rerank fudge needed. At FULL visit
    * fraction (nprobe = nlist) the indexed fusion provably equals the
    * exact-leg fusion (RrfIndexedSpec). */
  def rrfFusionIndexed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val legN = 20; val topK = 10; val kRrf = 60
    val docs = Tables.documents(s, dir)
    val (termIdx, vecIdx) = Phases.time("ensure") {
      (ensureTermIndex(s, dir), Vectors.ensureIndex(s, dir))
    }
    // Each leg materializes EAGERLY (<= 5 queries x 20 rows) on its own
    // driver thread, so the postings-bucket scan and the probed-cell
    // scan run CONCURRENTLY — the fused row's wall is max(leg), not
    // lex + sem + fuse in one serialized job DAG (the r17 serve floor:
    // fused 2.8s vs 1.5s leg sum came from exactly that serialization).
    // The fuse then joins two checkpointed 100-row tables — negligible.
    // Phase "legs" is the parallel section's wall, with the overlapping
    // rm_lex/rm_sem nested in it (VERDICT r17 item 2).
    val Seq(lex, sem) = Phases.time("legs")(graft.operators.IndexMaintenance.parallel(Seq(
      () => Phases.time("rm_lex") {
        graft.operators.TermIndex.topK(s, termIdx,
            docs.filter(col("doc_id").isInCollection(Vectors.probeIds))
              .select(col("doc_id").as("query_id"), col("text").as("q")),
            k = legN, excludeSelf = true)
          .select(col("query_id"), col("doc_id"), col("rank").as("lrank"))
          .localCheckpoint()
      },
      () => Phases.time("rm_sem") {
        val emb = Tables.embeddings(s, dir)
        graft.operators.VectorIndex.topK(s, vecIdx,
            emb.filter(col("vec_id").isInCollection(Vectors.probeIds))
              .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
            k = legN, excludeSelf = true)
          .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"),
            col("rn").as("vrank"))
          .localCheckpoint()
      })))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("vrank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fuzzy near-dup pairs by edit distance: all pairs within the same
    * language at Levenshtein distance 1..20 — the character-level dedup
    * family (OCR noise, template fills, small edits) that token-set
    * Jaccard over-merges and exact hashing misses entirely.
    *
    * EXACT under the declared threshold: |len(a) - len(b)| <= d is a
    * Levenshtein lower bound, so the length pre-filter loses nothing,
    * and the bucket-replication join below finds every pair passing it
    * — bucket width 32 > max length gap 20 means qualifying pairs sit
    * in the same or adjacent length bucket, and replicating each doc to
    * (own, own+1) buckets while probing from (own) meets each such pair
    * exactly once per orientation.
    *
    * Scale shape: the O(n^2)-prone comparison runs only within
    * (lang, 32-char length bucket) blocks after two LOSSLESS prunes —
    * the length lower bound, then the bag-distance lower bound
    * (levenshtein >= max(chars only a has, chars only b has), packed
    * per DOC by CharHistogram and compared per PAIR by the
    * zero-allocation BagDistanceLB codegen loop). The banded DP
    * (levenshtein(l, r, d): O(len * d), early-exit -1) runs on the few
    * survivors. No global stage is quadratic, and no prune can drop a
    * true pair — the oracle is the unblocked naive form. */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val d = 20
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 .,"
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"),
        floor(col("n_chars") / 32).as("bucket"),
        graft.functions.CharHistogram(col("text"), alphabet).as("h"))
    val probe = docs.select(col("lang"), col("bucket"),
      col("doc_id").as("id_a"), col("text").as("text_a"),
      col("n_chars").as("len_a"), col("h").as("h_a"))
    val index = docs
      .select(col("lang"), explode(array(col("bucket"), col("bucket") + 1)).as("bucket"),
        col("doc_id").as("id_b"), col("text").as("text_b"),
        col("n_chars").as("len_b"), col("h").as("h_b"))
    probe.join(index, Seq("lang", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= d)
      .filter(graft.functions.BagDistanceLB(col("h_a"), col("h_b")) <= d)
      .withColumn("dist", levenshtein(col("text_a"), col("text_b"), d))
      .filter(col("dist").between(1, d))
      // adjacent-bucket replication can meet a same-bucket pair twice
      // (once per orientation) — canonicalize and dedupe on the pair key
      .select(least(col("id_a"), col("id_b")).as("id1"),
        greatest(col("id_a"), col("id_b")).as("id2"),
        col("lang"), col("dist"))
      .dropDuplicates("id1", "id2")
      .orderBy(col("id1"), col("id2"))
  }

  /** Segment-level dedup stats (the C4/RefinedWeb line-dedup shape on a
    * corpus without newlines): each document splits into fixed 16-token
    * segments; a segment instance is duplicated if the identical segment
    * occurs anywhere else in the corpus (cross-doc or within-doc).
    * Unlike doc_cdc_chunks (content-defined boundaries, engine-only),
    * fixed-stride chunking is SQL-expressible, so this one is
    * oracle-checked end to end.
    *
    * Scale shape: explode → one groupBy(segment) count (map-side
    * combined) → join back on segment → groupBy(doc). Identical to the
    * exact-dedup footprint; the segment strings could be hashed to longs
    * at 100 TB to shrink the shuffle (kept as strings here to stay
    * byte-comparable with the oracle). Ratio is emitted as RAW double
    * division — identical longs through one IEEE divide are bit-equal in
    * both engines, while rounding could disagree on exact halfway
    * values like 1/16. */
  def segmentDedup(s: SparkSession, dir: String): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"),
        // zero-token guard: sequence(0, -1) is Spark's DESCENDING
        // sequence [0, -1] — it would emit two bogus segments where the
        // oracle's range(0) is empty. (split always yields >= 1 token
        // here, but the hazard must not be load-bearing.)
        explode(when(size(tk) > 0, transform(
          sequence(lit(0), ceil(size(tk) / lit(16.0)).cast("int") - 1),
          i => concat_ws(" ", slice(tk, i * 16 + 1, lit(16)))))
          .otherwise(array().cast("array<string>"))).as("seg"))
      .localCheckpoint(eager = false) // fan-out: segment counts + per-doc join
    val cnt = segs.groupBy(col("seg")).agg(count(lit(1)).as("_n"))
    val dup = when(col("_n") >= 2, 1).otherwise(0)
    segs.join(cnt, "seg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(dup).cast("long").as("n_dup_segs"),
        (sum(dup).cast("double") / count(lit(1))).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup pairs from shared winnowing fingerprints — MOSS's actual
    * match step: two documents pair when they share at least 40% of the
    * smaller one's fingerprint set (containment, not Jaccard — a short
    * doc embedded in a long one should flag). Candidates come from the
    * fingerprint-keyed self-join, so the pair space is Σ_fp df(fp)² over
    * the SAMPLED fingerprints (~2/(w+1) of all grams) rather than every
    * shared span; the overlap count then aggregates per pair. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps(col("text"), 4, 5)).as("fp"))
      .localCheckpoint(eager = false) // fan-out: sizes + pair join
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val shared = fps.select(col("fp"), col("doc_id").as("id1"))
      .join(fps.select(col("fp"), col("doc_id").as("id2")), "fp")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "id1")
        .withColumnRenamed("n_fps", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2")
        .withColumnRenamed("n_fps", "n2"), "id2")
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.4)
      .select(col("id1"), col("id2"), col("n_shared"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Hybrid retrieval rerank — the two-stage shape every production
    * search/dedup stack runs: CHEAP text candidates (winnowing
    * containment ≥ 0.4, the sampled-fingerprint join) reranked by an
    * EXPENSIVE exact embedding cosine computed only for the surviving
    * pairs. The embedding join touches |pairs| rows, never the corpus
    * squared, and the fused VecDot loop scores each pair in one pass —
    * at 100 TB the text stage is what makes the vector stage affordable. */
  def hybridRerank(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecDot
    val emb = Tables.embeddings(s, dir)
    val e1 = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val e2 = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    winnowPairs(s, dir)
      .join(e1, "id1").join(e2, "id2")
      .withColumn("emb_cosine",
        VecDot(col("e1"), col("e2")) /
          (sqrt(VecDot(col("e1"), col("e1"))) * sqrt(VecDot(col("e2"), col("e2")))))
      .select(col("id1"), col("id2"), col("containment"),
        round(col("emb_cosine"), 4).as("emb_cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  /** The dedup APPLY step the stats queries stop short of (Lee et al.
    * 2021's "deduplicate, then train" — actually rewriting the corpus):
    * every 16-token grid segment keeps only its EARLIEST witness
    * ((doc_id, idx) order — the deterministic keep-first rule), and each
    * document is REBUILT from its surviving segments in position order.
    * Emits per-doc survival counts and the md5 of the cleaned text — one
    * divergent character anywhere fails the oracle row. The earliest-
    * witness pick is a row_number over the segment key: state per
    * segment value, never per document, so the shuffle carries the
    * segment table once and skew lands on AQE like any hot key. */
  def segmentScrub(s: SparkSession, dir: String): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(when(size(tk) > 0, transform(
          sequence(lit(0), ceil(size(tk) / lit(16.0)).cast("int") - 1),
          i => concat_ws(" ", slice(tk, i * 16 + 1, lit(16)))))
          .otherwise(array().cast("array<string>"))).as(Seq("idx", "seg")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seg")).orderBy(col("doc_id"), col("idx"))
    val marked = segs.withColumn("keep", row_number().over(w) === 1)
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("seg"))))),
          e => e.getField("seg")), " ")).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping repeated-SPAN statistics — the substring-dedup shape of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better" (public literature): every stride-1 window of 16 tokens is
    * a span; a span occurring in >= 2 DISTINCT documents marks
    * cross-document boilerplate. The stride-1 windows are what
    * doc_segment_dedup's fixed grid cannot see: duplication that is not
    * aligned to segment boundaries still produces identical spans.
    * Output per document (>= 16 tokens): span count, spans shared with
    * another document, their ratio (raw IEEE divide — identical longs
    * both engines), and the max distinct-doc reach of any span.
    *
    * Scale shape = exact dedup's: explode -> distinct (doc, span) ->
    * one groupBy(span) doc-count (map-side combined) -> join back ->
    * per-doc agg. Spans ride the exchanges as xxhash64 LONGS (r18,
    * guide §2.3 — the identity is only compared, never displayed), an
    * accepted 2^-64 collision class; the oracle replays on the raw
    * string spans and stays hash-green. Output rows stay one per
    * document regardless of corpus size. */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val tk = TextOps.tokens(col("text"))
    // spans ride as xxhash64 longs, not ~100-byte strings (r18 opt,
    // guide §2.3 narrower shuffle keys): the span identity is only ever
    // COMPARED (distinct, doc-count, join back), never displayed, so
    // hashing inside the explode cuts both exchanges and the broadcast
    // ~10x. Same 2^-64 collision class the Jaccard family's
    // hashedTokenSet already accepts; the oracle replays on the string
    // spans and stays hash-green (no collision on any fixture).
    val spans = Tables.documents(s, dir)
      .filter(size(tk) >= 16)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), size(tk) - 16),
          i => xxhash64(concat_ws(" ", slice(tk, i + 1, lit(16)))))).as("span"))
      .localCheckpoint(eager = false) // fan-out: span doc-counts + join back
    val docCounts = spans.distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("n_docs"))
    spans.join(docCounts, "span")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_spans"),
        max(col("n_docs")).as("max_span_docs"))
      .withColumn("shared_ratio",
        col("n_shared_spans").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** Weighted sparse-vector similarity join: tf-idf cosine over each
    * document's DISCRIMINATIVE 3-gram profile — the retrieval-style
    * near-dup beside the set-based Jaccard families. Terms are word
    * 3-grams (the unigram vocabulary here is ~31 words, in every doc —
    * unigram profiles cannot discriminate); the profile keeps only
    * terms with df ≤ 50 and normalises over them, which is the sparse
    * all-pairs shape that survives scale: the term self-join's
    * cardinality is Σ_t df(t)² ≤ 50·Σ_t df(t) — LINEAR in corpus
    * postings, where one df-5000 shingle would alone contribute 12.5M
    * pairs. Dropping ubiquitous terms is the tf-idf rationale itself
    * (their idf ≈ 0); the oracle applies the identical profile. */
  def tfidfCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tk = TextOps.tokens(col("text"))
    val grams = transform(sequence(lit(0), size(tk) - 3),
      i => concat_ws(" ", slice(tk, i + 1, lit(3))))
    // terms ride as xxhash64 longs from the FIRST aggregate on (r18
    // opt, guide §2.3 — the r17 code hashed only the final self-join
    // key; the tf/df shuffles still carried ~20-byte gram strings).
    // The term identity is only ever compared, never displayed — same
    // accepted collision class as the final join key already had.
    val tf = docs
      .filter(size(tk) >= 3)
      .select(col("doc_id"), explode(grams).as("_g"))
      .select(col("doc_id"), xxhash64(col("_g")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // fans out: df, norms, pair scoring
    val n = docs.count()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = tf.join(df.filter(col("df") <= 50), "term")
      .select(col("doc_id"), col("term"),
        (col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0))).as("w"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val u = w.join(norms, "doc_id")
      .select(col("doc_id"), col("term").as("th"),
        (col("w") / col("nrm")).as("u"))
      .localCheckpoint(eager = false) // self-joined below
    // hash-partition the STREAMED side by doc_id before the self-join
    // (r19, VERDICT r18 item 6 + guide §2.4 "establish the partitioning
    // once"): the pair scoring broadcast-joins u to itself and then
    // aggregates by (id1, id2) — with id1 = the streamed side's doc_id,
    // HashPartitioning(doc_id) already CLUSTERS every (id1, id2) group
    // (alias-propagated through the projection), so EnsureRequirements
    // drops the aggregate's exchange — the suite's largest single
    // shuffle, ~25 MB of expanded pair partials at sf0.1 and Σ_t df(t)²
    // rows at scale. What shuffles instead is u itself: one postings-
    // sized pass, Σ_t df(t) rows. Explicit partition count (the
    // session's shuffle parallelism, scale-adaptive via conf) makes
    // this a REPARTITION_BY_NUM, which AQE never coalesces — the
    // partitioning the aggregate relies on can't be changed at runtime.
    // The repartition sits AFTER the checkpoint on purpose: a
    // partitioning established before it is discarded (with AQE the
    // checkpointed LogicalRDD always captures UnknownPartitioning), and
    // it must be inside the aggregate's own plan to be seen. If the
    // planner ever degrades the self-join to sort-merge at scale (u
    // outgrowing the auto-broadcast threshold), the th exchanges simply
    // override this one — same plan as before this change, never worse.
    u.repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("th"), col("doc_id").as("id1"), col("u").as("u1"))
      .join(u.select(col("th"), col("doc_id").as("id2"), col("u").as("u2")),
        "th")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("u1") * col("u2")).as("cos"))
      .filter(col("cos") >= 0.5)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03
    * — the MOSS algorithm; public literature): hash every word 4-gram,
    * then keep only the MINIMUM gram of each sliding window of 5 — a
    * guaranteed-density sample (~2/(w+1) of positions) that still catches
    * every shared substring of length ≥ k+w-1. Versus doc_span_dedup's
    * exhaustive stride-1 spans this is the scale path: the per-doc
    * fingerprint set (and therefore the shuffle into the doc-count join)
    * shrinks ~3×, with the winnowing guarantee bounding what overlap can
    * be missed. The total order is lexicographic on the raw gram (any
    * total order satisfies the winnowing theorem), which keeps the oracle
    * engine-portable — DuckDB's list_min picks the identical gram. */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame = {
    // fused codegen winnower (≡ the HOF chain value-for-value,
    // WinnowFpsSpec) — the HOF form allocated a w-slice per window and
    // was this query's whole cost; docs with < k+w-1 tokens yield an
    // empty array and vanish at the explode, matching the oracle guard
    val fps = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.WinnowFps(col("text"), 4, 5)).as("fp"))
      .localCheckpoint(eager = false) // fan-out: fp doc-counts + join back
    val docCounts = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    fps.join(docCounts, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_fps"),
        max(col("n_docs")).as("max_fp_docs"))
      .orderBy(col("doc_id"))
  }

  /** Point term-frequency estimates per language from a Count-Min sketch
    * — the "how often did THIS term occur" sketch next to doc_heavy_terms'
    * "which terms are frequent" (Space-Saving) and q20's "how many
    * distinct" (HLL). The shuffle carries one fixed width*depth counter
    * table per language, never per-term rows; probes are estimated
    * distributively from the finished sketch (a flatMap over the 5 lang
    * rows, not a collect).
    *
    * Oracle-gated since r15 (VERDICT r14 item 3): the portable md5
    * bucket family makes every cell of the sketch a SQL-expressible
    * GROUP BY — CM cells merge by ADDITION, so unlike Space-Saving
    * (whose evict order is merge-path-dependent) the whole sketch is
    * merge-order-independent and DuckDB can replay bucket sums and the
    * min-over-rows estimate exactly. CountMinSpec still gates the
    * never-undercount and eps*N bounds plus bit-exact merge
    * associativity for BOTH hash families. */
  def termFreqCm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cm = new graft.functions.CountMin(width = 1024, depth = 4,
      portableMd5 = true)
    val probeTerms = Seq("data", "table", "spark", "quantum")
    val sketches = Tables.documents(s, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(cm.toColumn.name("sk"))
    sketches
      .flatMap { case (lang, sk) => probeTerms.map(t => (lang, t, cm.estimate(sk, t))) }
      .toDF("lang", "term", "est_count")
      .orderBy(col("lang"), col("term"))
  }

  /** Vocabulary OOV (out-of-vocabulary) rate per source — the coverage
    * check a tokenizer/vocab pipeline runs before training: what
    * fraction of the corpus' token OCCURRENCES fall outside the df>=5
    * vocabulary, per source. Reuses the vocabBuild cutoff semantics.
    *
    * Scale shape: token occurrences left-join the vocabulary on the term
    * (key-partitioned shuffle; the vocabulary is NOT broadcast — at
    * corpus scale it's millions of rows), then one small groupBy(source).
    * OOV rate is raw IEEE division of two longs — no rounding drift. */
  def vocabOov(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 5)
      .withColumn("_inv", lit(1))
      .select(col("term"), col("_inv"))
    Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
      .join(vocab, Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1).otherwise(0)).cast("long").as("n_oov"),
        (sum(when(col("_inv").isNull, 1).otherwise(0)).cast("double")
          / count(lit(1))).as("oov_rate"))
      .orderBy(col("source"))
  }

  /** Deterministic global training-order shuffle: a reproducible
    * permutation position for every document (hash order, dense 1..N) —
    * the "shuffle the corpus before sharding" step of a training
    * pipeline, where randomSplit-style nondeterminism would make runs
    * unreproducible. Same Knuth multiplicative hash as q41/splitCol, so
    * the oracle expresses the identical order; DenseIds assigns the
    * dense position without a single-partition window (the vocab-build
    * scale fix, reused). */
  def shuffleOrder(s: SparkSession, dir: String): DataFrame = {
    val key = pmod(col("doc_id") * lit(2654435761L) + lit(17), lit(1000000007L))
    graft.operators.DenseIds
      .withDenseId(
        Tables.documents(s, dir).select(col("doc_id"), key.as("_k")),
        Seq(col("_k"), col("doc_id")), "position")
      .select(col("doc_id"), col("position"))
      .orderBy(col("doc_id"))
  }

  /** BPE tokenizer training over the corpus (engine-only: iterative
    * merges are not SQL-expressible; BpeSpec holds the merge table equal
    * to a sequential reference implementation and the classic hand
    * example). Each round is one distributed pair-count over the
    * word-frequency table plus a ONE-ROW collect; the result is the
    * learned merge-rules table itself. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Bpe.train(Tables.documents(s, dir), "text", numMerges = 10)
      .toDF("rank", "left", "right", "freq")
      .orderBy(col("rank"))
  }

  /** Tokenizer FERTILITY by source (subwords emitted per word — the
    * standard tokenizer-evaluation statistic: high fertility on a
    * source means the vocab fits it badly and its token budget buys
    * less text): trains the 10-merge BPE table, then APPLIES it to
    * every document — the corpus-scale tokenization pass itself.
    * Engine-only (the iterative merge fold is not SQL-expressible);
    * BpeSpec gates applyBpe's round trip and fertility's invariants
    * (chars/words bound at 0 merges, monotone non-increasing in the
    * merge count). The merge table is driver-held by construction
    * (numMerges rows) and ships inside the codegen'd fold — the apply
    * pass is one scan, no shuffle before the per-source agg. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.operators.Bpe.train(docs, "text", numMerges = 10)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    docs
      .select(col("source"), size(words).as("n_words"),
        size(graft.operators.Bpe.applyBpe(col("text"), merges)).as("n_subwords"))
      .filter(col("n_words") > 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("long").as("total_words"),
        sum(col("n_subwords")).cast("long").as("total_subwords"),
        round(sum(col("n_subwords")).cast("double") / sum(col("n_words")), 4)
          .as("fertility"))
      .orderBy(col("source"))
  }

  /** Per-document character-distribution entropy (alphanumerics) — the
    * compression-ratio-style quality signal: machine-generated or
    * repetitive text scores low, natural text clusters in a band.
    * Both engines fold the 36 per-char terms in THE SAME alphabet
    * order (Spark: HOF aggregate over a literal-ordered array; oracle:
    * list_aggregate over a list_transform of the same literal list), so
    * the sum is bit-identical before the final round. Summarized per
    * source with rounded aggregate bounds. */
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val counts = array(alphabet.map(ch =>
      (length(col("text")) - length(replace(col("text"), lit(ch.toString), lit(""))))
        .cast("double")): _*)
    val n = aggregate(counts, lit(0.0), (a, c) => a + c)
    val ent = minus(aggregate(counts, lit(0.0),
      (a, c) => a + when(c > 0, (c / n) * log(c / n)).otherwise(0.0)))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), round(ent, 4).as("entropy"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("entropy")), 4).as("min_entropy"),
        round(max(col("entropy")), 4).as("max_entropy"),
        round(avg(col("entropy")), 4).as("avg_entropy"))
      .orderBy(col("source"))
  }

  private def minus(c: Column): Column = lit(0.0) - c

  /** Per-source term-frequency table: one explode + hash aggregate.
    * Partial (map-side) combine keeps shuffle volume bounded by the
    * vocabulary, not the corpus — the input to the corpus-shape
    * diagnostics below. */
  private def termFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus-level lexical diversity per source: type–token ratio and
    * hapax-legomena fraction — the standard corpus-health dashboard
    * numbers for a training-data mix (a collapsing TTR or hapax rate
    * flags templated/spammy sources before they reach training). */
  def ttrDiversity(s: SparkSession, dir: String): DataFrame =
    termFreq(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("tf")).cast("long").as("n_tokens"),
        round(count(lit(1)).cast("double") / sum(col("tf")), 4).as("ttr"),
        round(sum(when(col("tf") === 1, 1).otherwise(0)).cast("double")
          / count(lit(1)), 4).as("hapax_frac"))
      .orderBy(col("source"))

  /** Zipf-law fit per source: OLS slope of log10(tf) on log10(rank)
    * over the term-frequency table (rank by tf desc, token text as the
    * deterministic tiebreak). Natural corpora sit near −1; templated or
    * machine-generated sources drift off. The rank window partitions by
    * source over the VOCABULARY (Heaps-law sublinear in corpus size),
    * not the corpus, so the per-task bound holds at 100× data;
    * covar_pop/var_pop are single-pass distributed aggregates. */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    termFreq(s, dir)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("tf").desc, col("tok"))))
      .select(col("source"),
        log10(col("rnk").cast("double")).as("lr"),
        log10(col("tf").cast("double")).as("lf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        round(covar_pop(col("lf"), col("lr")) / var_pop(col("lr")), 3)
          .as("zipf_slope"))
      .orderBy(col("source"))
  }

  // ---- PII detection / redaction (the Dolma/FineWeb scrub stage) ----
  // The patterns and their order live in TextOps.piiPatterns (the same
  // scrubber PiiScrubSpec gates); these queries surface that machinery
  // as oracle-checked rows.

  /** The synthetic corpus carries no natural PII, so weave deterministic
    * contact strings (email / phone / IPv4 / SSN, presence varying by
    * doc_id residue so most docs carry SOME but not ALL shapes) into the
    * text. Both engines derive the identical string from (doc_id, text),
    * so the oracle verifies the REGEX machinery — extraction counts and
    * global replacement — on a non-vacuous operating point (the r6
    * verdict's `vec_cosine_near_dups` lesson: an oracle row that checks
    * emptiness earns nothing). Pure per-row codegen'd concat — no
    * shuffle, no UDF. */
  private def withPiiText(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val email = concat(lit(" mail user"), id.cast("string"),
      lit("@example.com"))
    val phone = concat(lit(" tel 555-"),
      (id % 900 + 100).cast("string"), lit("-"),
      ((id * 7) % 9000 + 1000).cast("string"))
    val ip = concat(lit(" ip 10."), (id % 256).cast("string"), lit("."),
      ((id * 7) % 256).cast("string"), lit("."),
      ((id * 13) % 256).cast("string"))
    val ssn = concat(lit(" ssn "), (id % 900 + 100).cast("string"),
      lit("-"), (id % 90 + 10).cast("string"), lit("-"),
      ((id * 3) % 9000 + 1000).cast("string"))
    docs.select(col("doc_id"), concat(col("text"),
      when(id % 3 =!= 2, email).otherwise(lit("")),
      when(id % 2 === 0, phone).otherwise(lit("")),
      ip,
      when(id % 5 === 0, ssn).otherwise(lit(""))).as("text_pii"))
  }

  /** text_pii plus one column per scrub stage: `t0` = the raw text,
    * `t{i+1}` = `t{i}` with category i redacted, in TextOps.piiPatterns
    * ORDER (email → ipv4 → ssn → phone — the order PiiScrubSpec pins:
    * specific before loose, so an SSN can't be half-eaten by the loose
    * phone run). `t4` is exactly TextOps.scrubPii's output. All stages
    * are per-row codegen'd regexp_replace — no shuffle, no UDF. */
  private def piiStaged(docs: DataFrame): DataFrame =
    TextOps.piiPatterns.zipWithIndex.foldLeft(
      withPiiText(docs).withColumnRenamed("text_pii", "t0")) {
      case (df, ((name, pat), i)) =>
        df.withColumn(s"t${i + 1}",
          regexp_replace(col(s"t$i"), pat, s"[${name.toUpperCase}]"))
    }

  /** Per-doc PII hit counts by category (the scrub stage's audit
    * report). Each category counts on the PREVIOUS stage's text — after
    * more-specific categories are already redacted — so the counts are
    * exactly what the scrub removes (a bare `piiCounts` on raw text
    * would double-count an SSN as a phone). */
  def piiStats(s: SparkSession, dir: String): DataFrame = {
    val staged = piiStaged(Tables.documents(s, dir))
    val counts = TextOps.piiPatterns.zipWithIndex.map {
      case ((name, pat), i) =>
        regexp_count(col(s"t$i"), lit(pat)).cast("long").as(s"n_$name")
    }
    staged.select(col("doc_id") +: counts: _*)
      .withColumn("n_pii",
        col("n_email") + col("n_ipv4") + col("n_ssn") + col("n_phone"))
      .orderBy(col("doc_id"))
  }

  /** Global PII redaction via the full scrub chain. The oracle hashes
    * the redacted text (md5 is bit-identical across engines), so a
    * single surviving or mangled character anywhere in any doc fails
    * the row — much stronger than comparing counts. chars_removed pins
    * the redaction's footprint. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val nStages = TextOps.piiPatterns.size
    piiStaged(Tables.documents(s, dir))
      .select(col("doc_id"), md5(col(s"t$nStages")).as("redact_md5"),
        (length(col("t0")) - length(col(s"t$nStages")))
          .cast("long").as("chars_removed"))
      .orderBy(col("doc_id"))
  }

  /** Total PII matches remaining after the full scrub chain (PiiScrubSpec
    * gate: must be 0 — no category's redaction may expose or leave a
    * match for any other). */
  def piiRedactedResidue(s: SparkSession, dir: String): Long = {
    val nStages = TextOps.piiPatterns.size
    val residues = TextOps.piiPatterns.map { case (_, pat) =>
      regexp_count(col(s"t$nStages"), lit(pat)).cast("long")
    }.reduce(_ + _)
    piiStaged(Tables.documents(s, dir))
      .agg(sum(residues)).head().getLong(0)
  }

  /** Gopher-style quality rule filter (Rae et al. 2021 §A1.1 shape):
    * per-doc word count, mean word length, stopword fraction, and
    * most-frequent-word fraction, plus the composite keep/drop verdict.
    * Thresholds sit inside the fixture's observed ranges so both
    * verdicts occur (350 keep / 150 drop at sf0.01).
    *
    * Shape: explode → two hash aggs ((doc, word) then doc). Both aggs
    * partial-aggregate map-side and key on high-cardinality columns, so
    * no task ever holds a document's full text as one value — the
    * per-word contraction is what makes the plan 100×-safe (vs a HOF
    * over the token array, which is per-row codegen but recomputes the
    * mode scan per metric). Ratios compare UNROUNDED on both sides
    * (integer-over-integer IEEE division is bit-identical); rounding is
    * presentation only. */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to")
    val perWord = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
    val agg = perWord.groupBy(col("doc_id")).agg(
      sum(col("n")).as("n_words"),
      max(col("n")).as("mx"),
      sum(when(col("w").isin(stops: _*), col("n")).otherwise(0L)).as("n_stop"),
      sum(length(col("w")) * col("n")).as("n_chars"))
    val nw = col("n_words").cast("double")
    val meanLen = col("n_chars") * lit(1.0) / nw
    val stopFrac = col("n_stop") * lit(1.0) / nw
    val topFrac = col("mx") * lit(1.0) / nw
    agg.select(col("doc_id"), col("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(stopFrac, 4).as("stop_frac"),
        round(topFrac, 4).as("top_word_frac"),
        (col("n_words") >= 20 && topFrac <= 0.11 &&
          stopFrac > 0.0 && stopFrac <= 0.2 &&
          meanLen >= 3.0 && meanLen <= 8.0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The WeightedSample operator as an oracle-checked query (r6 verdict
    * item 1: it existed only behind WeightedSampleSpec): Efraimidis-
    * Spirakis weighted sampling without replacement over `documents`,
    * n_chars as the weight. The uniform draw here is a SQL-portable
    * seeded hash (the q41 multiplicative-hash recipe) instead of
    * `sample`'s xxhash64, so DuckDB replays the IDENTICAL draw; the ES
    * key u^(1/w) is quantized to 9 dp BEFORE ranking (the doc_tfidf
    * rule) so libm pow ULP drift can't flip ranks between engines.
    * Same distributed shape either way: per-row key + top-n. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = ((col("doc_id") * lit(2654435761L) + lit(17L)) % lit(1000000007L))
      .cast("double").plus(lit(1.0)).divide(lit(1000000007.0))
    val key = round(pow(u, lit(1.0) / col("n_chars").cast("double")), 9)
    WeightedSample.sampleByKey(
      Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          key.as("sample_key")),
      col("sample_key"), "doc_id", 25)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_weighted_sample" -> (weightedSample _),
    "doc_pii_stats" -> (piiStats _),
    "doc_pii_redact" -> (piiRedact _),
    "doc_gopher_quality" -> (gopherQuality _),
    "doc_char_entropy" -> (charEntropy _),
    "doc_bpe_merges" -> (bpeMerges _),
    "doc_bpe_fertility" -> (bpeFertility _),
    "doc_shuffle_order" -> (shuffleOrder _),
    "doc_vocab_oov" -> (vocabOov _),
    "doc_term_freq_cm" -> (termFreqCm _),
    "doc_segment_dedup" -> (segmentDedup _),
    "doc_span_dedup" -> (spanDedup _),
    "doc_winnow_fps" -> (winnowFingerprints _),
    "doc_tfidf_cosine_pairs" -> (tfidfCosinePairs _),
    "doc_segment_scrub" -> (segmentScrub _),
    "doc_winnow_pairs" -> (winnowPairs _),
    "doc_hybrid_rerank" -> (hybridRerank _),
    "doc_seq_pack" -> (seqPack _),
    "doc_tfidf_terms" -> (tfidfTerms _),
    "doc_bm25_topk" -> (bm25TopK _),
    "doc_bm25_index_topk" -> (bm25IndexTopK _),
    "doc_term_index_remove" -> (termIndexRemove _),
    "doc_rrf_fusion" -> (rrfFusion _),
    "doc_rrf_fusion_indexed" -> (rrfFusionIndexed _),
    "doc_editdist_pairs" -> (editDistancePairs _),
    "doc_heavy_terms" -> (heavyTerms _),
    "doc_cdc_chunks" -> (cdcChunkStats _),
    "doc_exact_dedup" -> (exactDedup _),
    "doc_normalized_dedup" -> (normalizedDedup _),
    "doc_token_stats" -> (tokenStats _),
    "doc_quality_score" -> (qualityScore _),
    "doc_regex_tokens" -> (regexTokenCount _),
    "doc_jaccard_pairs" -> (jaccardPairs _),
    "doc_dedup_clusters" -> (dedupClusters _),
    "doc_cluster_index_probe" -> (clusterIndexProbe _),
    "doc_cluster_index_remove" -> (clusterIndexRemove _),
    "doc_cluster_index_logical_remove" -> (clusterIndexLogicalRemove _),
    "doc_repetition_score" -> (repetitionScore _),
    "doc_vocab_build" -> (vocabBuild _),
    "doc_bigram_lm" -> (bigramLm _),
    "doc_pipeline_e2e" -> (pipelineE2e _),
    "doc_contamination" -> (contamination _),
    "doc_minhash_pairs" -> (minhashPairs _),
    "doc_ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "doc_source_overlap" -> (sourceOverlap _),
    "doc_incremental_dedup" -> (incrementalDedup _),
    "doc_source_overlap_minhash" -> (sourceOverlapMinhash _),
    "doc_dsir_weights" -> (dsirWeights _),
    "doc_simhash_pairs" -> (simhashPairs _),
    "doc_langid_fingerprint" -> (langIdFingerprint _),
    "doc_top_terms" -> (topTerms _),
    "doc_split_assign" -> (splitAssign _),
    "mm_binary_stats" -> (binaryStats _),
    "ev_asof_join" -> (asofPurchaseSignup _),
    "doc_sample_mix" -> (sampleMix _),
    "doc_lm_novelty" -> (lmNovelty _),
    "doc_quality_bins" -> (qualityBins _),
    "doc_pack_shards" -> (packShards _),
    "doc_ttr_diversity" -> (ttrDiversity _),
    "doc_zipf_slope" -> (zipfSlope _),
    "doc_leakage_safe_split" -> (leakageSafeSplit _),
    "doc_source_rel_quality" -> (sourceRelativeQuality _),
  )

  /** DuckDB replica of [[withPiiText]]'s weave (lateral column refs let
    * the staged scrub read like the Scala fold). */
  private val piiWeaveSql: String =
    """text
      | || CASE WHEN doc_id % 3 <> 2 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
      | || CASE WHEN doc_id % 2 = 0 THEN ' tel 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || CAST((doc_id*7) % 9000 + 1000 AS VARCHAR) ELSE '' END
      | || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id*7) % 256 AS VARCHAR) || '.' || CAST((doc_id*13) % 256 AS VARCHAR)
      | || CASE WHEN doc_id % 5 = 0 THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || CAST(doc_id % 90 + 10 AS VARCHAR) || '-' || CAST((doc_id*3) % 9000 + 1000 AS VARCHAR) ELSE '' END"""
      .stripMargin.linesIterator.mkString(" ")

  /** The BM25 closed form the retrieval rows replay — the recompute
    * query (`doc_bm25_topk`), the persisted-index path
    * (`doc_bm25_index_topk`), and the post-physical-remove serve
    * (`doc_term_index_remove`, r17 — `corpusWhere` restricts the oracle
    * to the SURVIVORS, so index-side remove == fresh survivor build is
    * a hash-exact contract) must rank identically. */
  private[queries] def bm25Sql(corpusWhere: String = ""): String =
    s"""WITH q AS (
      |  SELECT * FROM (VALUES (1, 'spark table join'),
      |                        (2, 'data stream window agg'),
      |                        (3, 'dup merge'),
      |                        (4, 'customer query fast')) AS t(query_id, qs)
      |), qt AS (
      |  SELECT DISTINCT query_id, unnest(string_split(qs, ' ')) AS term FROM q
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents $corpusWhere) o
      |  WHERE o.term IN (SELECT DISTINCT term FROM qt)
      |  GROUP BY doc_id, term
      |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
      |       FROM documents $corpusWhere),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM dl
      |), scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      |        * (tf.tf * 2.2)
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))),
      |      6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS score
      |  FROM tf
      |  JOIN qt ON qt.term = tf.term
      |  JOIN dfreq ON dfreq.term = tf.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats
      |  GROUP BY qt.query_id, tf.doc_id
      |), ranked AS (
      |  SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, doc_id, score FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Lexical leg (BM25 more-like-this over the probe docs, self
    * excluded, top-20) CTE chain shared by the exact and indexed RRF
    * oracles — the indexed variant ([[Vectors.oracles]], model-literal)
    * swaps only the semantic leg, so the two replays can never drift on
    * the lexical side. Ends at the `lex(query_id, doc_id, lrank)` CTE;
    * compose as `WITH $$rrfLexCtes, sem AS (...)$$rrfFuseTail`. */
  private[queries] val rrfLexCtes: String =
    """q AS (
      |  SELECT doc_id AS query_id, text FROM documents
      |  WHERE doc_id IN (1, 7, 42, 99, 123)
      |), qt AS (
      |  SELECT DISTINCT query_id, unnest(string_split(text, ' ')) AS term FROM q
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents) o
      |  WHERE o.term IN (SELECT DISTINCT term FROM qt)
      |  GROUP BY doc_id, term
      |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM dl
      |), bscored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      |        * (tf.tf * 2.2)
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))),
      |      6) AS DECIMAL(18,6))) AS DOUBLE), 4) AS bscore
      |  FROM tf
      |  JOIN qt ON qt.term = tf.term
      |  JOIN dfreq ON dfreq.term = tf.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats
      |  WHERE tf.doc_id <> qt.query_id
      |  GROUP BY qt.query_id, tf.doc_id
      |), lex AS (
      |  SELECT query_id, doc_id, lrank FROM (
      |    SELECT query_id, doc_id,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY bscore DESC, doc_id) AS lrank
      |    FROM bscored) t
      |  WHERE lrank <= 20
      |)""".stripMargin

  /** Rank-only fusion + final ranking tail shared by both RRF oracles —
    * expects `lex(query_id, doc_id, lrank)` and
    * `sem(query_id, doc_id, vrank)` CTEs in scope. */
  private[queries] val rrfFuseTail: String =
    """, fused AS (
      |  SELECT query_id, doc_id,
      |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.lrank), 0) +
      |          coalesce(CAST(1 AS DOUBLE) / (60 + s.vrank), 0), 6) AS rrf
      |  FROM lex l FULL OUTER JOIN sem s USING (query_id, doc_id)
      |), ranked AS (
      |  SELECT query_id, doc_id, rrf,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY rrf DESC, doc_id) AS rank
      |  FROM fused)
      |SELECT query_id, rank, doc_id, rrf FROM ranked
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "doc_pii_stats" ->
      s"""WITH s AS (
        |  SELECT doc_id, $piiWeaveSql AS t0,
        |    regexp_replace(t0, '${TextOps.piiPatterns(0)._2}', '[EMAIL]', 'g') AS t1,
        |    regexp_replace(t1, '${TextOps.piiPatterns(1)._2}', '[IPV4]', 'g') AS t2,
        |    regexp_replace(t2, '${TextOps.piiPatterns(2)._2}', '[SSN]', 'g') AS t3
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '${TextOps.piiPatterns(0)._2}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '${TextOps.piiPatterns(1)._2}')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t2, '${TextOps.piiPatterns(2)._2}')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t3, '${TextOps.piiPatterns(3)._2}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t0, '${TextOps.piiPatterns(0)._2}'))
        |     + len(regexp_extract_all(t1, '${TextOps.piiPatterns(1)._2}'))
        |     + len(regexp_extract_all(t2, '${TextOps.piiPatterns(2)._2}'))
        |     + len(regexp_extract_all(t3, '${TextOps.piiPatterns(3)._2}')) AS BIGINT) AS n_pii
        |FROM s ORDER BY doc_id""".stripMargin,
    "doc_pii_redact" ->
      s"""WITH s AS (
        |  SELECT doc_id, $piiWeaveSql AS t0,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(t0, '${TextOps.piiPatterns(0)._2}', '[EMAIL]', 'g'),
        |          '${TextOps.piiPatterns(1)._2}', '[IPV4]', 'g'),
        |        '${TextOps.piiPatterns(2)._2}', '[SSN]', 'g'),
        |      '${TextOps.piiPatterns(3)._2}', '[PHONE]', 'g') AS red
        |  FROM documents
        |)
        |SELECT doc_id, md5(red) AS redact_md5,
        |  CAST(length(t0) - length(red) AS BIGINT) AS chars_removed
        |FROM s ORDER BY doc_id""".stripMargin,
    "doc_gopher_quality" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), c AS (
        |  SELECT doc_id, w, count(*) AS n FROM w GROUP BY doc_id, w
        |), a AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_words, max(n) AS mx,
        |    CAST(sum(CASE WHEN w IN ('the','a','of','and','to') THEN n ELSE 0 END) AS BIGINT) AS n_stop,
        |    CAST(sum(length(w) * n) AS BIGINT) AS n_chars
        |  FROM c GROUP BY doc_id
        |)
        |SELECT doc_id, n_words,
        |  round(n_chars * 1.0 / n_words, 4) AS mean_word_len,
        |  round(n_stop * 1.0 / n_words, 4) AS stop_frac,
        |  round(mx * 1.0 / n_words, 4) AS top_word_frac,
        |  (n_words >= 20 AND mx * 1.0 / n_words <= 0.11
        |   AND n_stop * 1.0 / n_words > 0.0 AND n_stop * 1.0 / n_words <= 0.2
        |   AND n_chars * 1.0 / n_words BETWEEN 3.0 AND 8.0) AS keep
        |FROM a ORDER BY doc_id""".stripMargin,
    "doc_weighted_sample" ->
      """SELECT doc_id, source, n_chars, sample_key FROM (
        |  SELECT doc_id, source, n_chars,
        |    round(pow((CAST((doc_id * 2654435761 + 17) % 1000000007 AS DOUBLE) + 1.0) / 1000000007.0,
        |              1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_key
        |  FROM documents WHERE n_chars > 0) t
        |ORDER BY sample_key DESC, doc_id LIMIT 25""".stripMargin,
    "doc_char_entropy" ->
      """WITH chars AS (
        |  SELECT ['a','b','c','d','e','f','g','h','i','j','k','l','m',
        |          'n','o','p','q','r','s','t','u','v','w','x','y','z',
        |          '0','1','2','3','4','5','6','7','8','9'] AS cs),
        |perdoc AS (
        |  SELECT doc_id, source,
        |    round(-list_aggregate(list_transform(cs, ch ->
        |      CASE WHEN length(text) - length(replace(text, ch, '')) > 0
        |        THEN (CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE) /
        |              list_aggregate(list_transform(cs, c2 ->
        |                CAST(length(text) - length(replace(text, c2, '')) AS DOUBLE)), 'sum'))
        |             * ln(CAST(length(text) - length(replace(text, ch, '')) AS DOUBLE) /
        |              list_aggregate(list_transform(cs, c2 ->
        |                CAST(length(text) - length(replace(text, c2, '')) AS DOUBLE)), 'sum'))
        |        ELSE 0.0 END), 'sum'), 4) AS entropy
        |  FROM documents CROSS JOIN chars)
        |SELECT source, count(*) AS n_docs,
        |  round(min(entropy), 4) AS min_entropy,
        |  round(max(entropy), 4) AS max_entropy,
        |  round(avg(entropy), 4) AS avg_entropy
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,
    "doc_shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY (doc_id * 2654435761 + 17) % 1000000007, doc_id) AS BIGINT)
        |    AS position
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_vocab_oov" ->
      """WITH vocab AS (
        |  SELECT term
        |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |        FROM documents) t
        |  GROUP BY term HAVING count(*) >= 5
        |),
        |occ AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
        |FROM occ LEFT JOIN vocab v USING (term)
        |GROUP BY source ORDER BY source""".stripMargin,
    "doc_segment_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |segs AS (
        |  SELECT doc_id, array_to_string(tk[i*16+1 : i*16+16], ' ') AS seg
        |  FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(tk)/16.0) AS BIGINT))) AS i) r),
        |cnt AS (SELECT seg, count(*) AS n FROM segs GROUP BY seg)
        |SELECT s.doc_id, count(*) AS n_segs,
        |  CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
        |  CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
        |FROM segs s JOIN cnt c USING (seg)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "doc_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(doc_id % 8 AS INT) AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |o AS (
        |  SELECT *, coalesce(sum(nt) OVER (PARTITION BY split, bucket ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
        |  FROM d),
        |e AS (
        |  SELECT split, bucket, doc_id, nt, o,
        |    unnest(range(CAST(floor(o/128.0) AS BIGINT),
        |                 CAST(floor((o+nt-1)/128.0) AS BIGINT) + 1)) AS seq
        |  FROM o)
        |SELECT split, bucket, seq, count(*) AS n_docs,
        |  CAST(sum(least(o+nt, (seq+1)*128) - greatest(o, seq*128)) AS BIGINT) AS seq_tokens,
        |  CAST(sum(CASE WHEN o < seq*128 THEN 1 ELSE 0 END) AS BIGINT) AS n_carryover
        |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "doc_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |spans AS (
        |  SELECT doc_id, array_to_string(tk[i+1 : i+16], ' ') AS span
        |  FROM toks, LATERAL (SELECT unnest(range(len(tk) - 15)) AS i) r
        |  WHERE len(tk) >= 16),
        |dc AS (SELECT span, count(DISTINCT doc_id) AS n_docs FROM spans GROUP BY span)
        |SELECT s.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans,
        |  max(d.n_docs) AS max_span_docs,
        |  CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS shared_ratio
        |FROM spans s JOIN dc d USING (span)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "doc_winnow_fps" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (
        |  SELECT doc_id, list_transform(range(len(tk) - 3),
        |    i -> array_to_string(tk[i+1 : i+4], ' ')) AS g
        |  FROM toks WHERE len(tk) >= 8),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(g) - 4),
        |      j -> list_min(g[j+1 : j+5]))) AS fp
        |    FROM grams) u),
        |dc AS (SELECT fp, count(*) AS n_docs FROM fps GROUP BY fp)
        |SELECT f.doc_id, count(*) AS n_fps,
        |  CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_fps,
        |  max(d.n_docs) AS max_fp_docs
        |FROM fps f JOIN dc d USING (fp)
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
    "doc_tfidf_cosine_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(tk) - 2),
        |      i -> array_to_string(tk[i+1 : i+3], ' '))) AS term
        |    FROM toks WHERE len(tk) >= 3) t
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS w
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |  WHERE df.df <= 50),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
        |u AS (
        |  SELECT w.doc_id, w.term, w.w / norms.nrm AS u
        |  FROM w JOIN norms USING (doc_id)),
        |scored AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.u * b.u) AS cos
        |  FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id1, id2, round(cos, 4) AS cosine
        |FROM scored WHERE cos >= 0.5
        |ORDER BY id1, id2""".stripMargin,
    "doc_winnow_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (
        |  SELECT doc_id, list_transform(range(len(tk) - 3),
        |    i -> array_to_string(tk[i+1 : i+4], ' ')) AS g
        |  FROM toks WHERE len(tk) >= 8),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(g) - 4),
        |      j -> list_min(g[j+1 : j+5]))) AS fp
        |    FROM grams) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT id1, id2, n_shared,
        |    n_shared * 1.0 / least(s1.n, s2.n) AS containment
        |  FROM shared JOIN sizes s1 ON s1.doc_id = id1
        |              JOIN sizes s2 ON s2.doc_id = id2)
        |SELECT id1, id2, n_shared, round(containment, 4) AS containment
        |FROM sc WHERE containment >= 0.4
        |ORDER BY id1, id2""".stripMargin,
    "doc_hybrid_rerank" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |grams AS (
        |  SELECT doc_id, list_transform(range(len(tk) - 3),
        |    i -> array_to_string(tk[i+1 : i+4], ' ')) AS g
        |  FROM toks WHERE len(tk) >= 8),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(g) - 4),
        |      j -> list_min(g[j+1 : j+5]))) AS fp
        |    FROM grams) u),
        |sizes AS (SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
        |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT id1, id2,
        |    round(n_shared * 1.0 / least(s1.n, s2.n), 4) AS containment
        |  FROM shared JOIN sizes s1 ON s1.doc_id = id1
        |              JOIN sizes s2 ON s2.doc_id = id2
        |  WHERE n_shared * 1.0 / least(s1.n, s2.n) >= 0.4)
        |SELECT c.id1, c.id2, c.containment,
        |  round(
        |    list_aggregate(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE)
        |           * CAST(b.embedding[i] AS DOUBLE)), 'sum')
        |    / (sqrt(list_aggregate(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |       * sqrt(list_aggregate(list_transform(b.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
        |    4) AS emb_cosine
        |FROM cand c
        |JOIN embeddings a ON a.vec_id = c.id1
        |JOIN embeddings b ON b.vec_id = c.id2
        |ORDER BY c.id1, c.id2""".stripMargin,
    "doc_segment_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS idx,
        |    array_to_string(tk[i*16+1 : i*16+16], ' ') AS seg
        |  FROM toks, LATERAL (SELECT unnest(range(
        |    CAST(ceil(len(tk) / 16.0) AS INT))) AS i) r
        |  WHERE len(tk) > 0),
        |marked AS (
        |  SELECT doc_id, idx, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
        |  FROM segs)
        |SELECT doc_id, count(*) AS n_segs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY idx),
        |    '')) AS cleaned_md5
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_tfidf_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, tfidf FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // BM25 closed-form replay (r15): same k1/b constants, the same
    // positive-idf ln form, and the same 6-decimal DECIMAL accumulation
    // as the Spark side — decimal addition is exact, so the sum is
    // merge-order-independent on both engines by construction
    "doc_bm25_topk" -> bm25Sql(),
    // the persisted-index path serves the IDENTICAL ranking (TermIndex
    // stores exact tf/dl; df/N/avgdl derive from the stored rows), so
    // its oracle is the same closed form — index == recompute is the
    // equality the row checks, DuckDB-verified
    "doc_bm25_index_topk" -> bm25Sql(),
    // r17: the physical-takedown serve replays the SAME closed form over
    // the survivors — remove() == fresh survivor build, hash-exact
    "doc_term_index_remove" -> bm25Sql("WHERE doc_id % 43 <> 0"),
    // RRF replay (r15): both legs are the proven closed forms (the BM25
    // CTE chain above, self-excluded more-like-this; the vec_brute_topk
    // cosine), and the fusion itself is integer-rank arithmetic — ONE
    // IEEE division per leg and a two-term sum written identically on
    // both engines, so no accumulation-order risk exists at all
    "doc_rrf_fusion" ->
      s"""WITH $rrfLexCtes, sem AS (
        |  SELECT query_id, doc_id, vrank FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |       round(list_aggregate(list_transform(range(1, len(q.embedding) + 1),
        |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), 'sum')
        |        / (sqrt(list_aggregate(list_transform(q.embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        |           * sqrt(list_aggregate(list_transform(c.embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4) DESC,
        |       c.vec_id) AS vrank
        |    FROM embeddings q CROSS JOIN embeddings c
        |    WHERE q.vec_id IN (1, 7, 42, 99, 123) AND c.vec_id <> q.vec_id) t
        |  WHERE vrank <= 20
        |)$rrfFuseTail""".stripMargin,
    // full Count-Min replay (r15, VERDICT r14 item 3): the portable md5
    // bucket family makes every sketch cell a GROUP BY over
    // (lang, row, 60-bit-md5-prefix % width) — cells merge by addition,
    // so the replay is merge-order-independent by construction — and the
    // point estimate is the min over the depth rows, 0 when a probe
    // term's bucket was never touched
    "doc_term_freq_cm" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
        |), rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |cells AS (
        |  SELECT lang, r,
        |    CAST('0x' || substr(md5(term || '#' || CAST(r AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1024 AS b,
        |    count(*) AS c
        |  FROM toks CROSS JOIN rws
        |  GROUP BY 1, 2, 3
        |), probes AS (SELECT unnest(['data', 'table', 'spark', 'quantum']) AS term),
        |pq AS (
        |  SELECT l.lang, p.term, r.r,
        |    CAST('0x' || substr(md5(p.term || '#' || CAST(r.r AS VARCHAR)), 1, 15)
        |         AS BIGINT) % 1024 AS b
        |  FROM (SELECT DISTINCT lang FROM documents) l
        |  CROSS JOIN probes p CROSS JOIN rws r
        |)
        |SELECT pq.lang, pq.term,
        |  CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS est_count
        |FROM pq LEFT JOIN cells
        |  ON cells.lang = pq.lang AND cells.r = pq.r AND cells.b = pq.b
        |GROUP BY pq.lang, pq.term
        |ORDER BY pq.lang, pq.term""".stripMargin,
    "doc_editdist_pairs" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2, a.lang,
        |       levenshtein(a.text, b.text) AS dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 20
        |WHERE levenshtein(a.text, b.text) BETWEEN 1 AND 20
        |ORDER BY id1, id2""".stripMargin,
    "doc_sample_mix" ->
      """SELECT source,
        |  10 + 4 * CAST(substr(source, 4) AS INT) AS rate,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN (doc_id * 2246822519 + 1013) % 100
        |                     < 10 + 4 * CAST(substr(source, 4) AS INT)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN (doc_id * 2246822519 + 1013) % 100
        |                     < 10 + 4 * CAST(substr(source, 4) AS INT)
        |           THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "doc_lm_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |           i -> [toks[i], toks[i+1]])) AS bg
        |  FROM tok WHERE len(toks) >= 2
        |), c AS (
        |  SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS n FROM g GROUP BY 1, 2
        |), dg AS (
        |  SELECT DISTINCT doc_id, bg[1] AS w1, bg[2] AS w2 FROM g
        |)
        |SELECT dg.doc_id AS doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN c.n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  round(CAST(sum(CASE WHEN c.n < 5 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 3) AS novelty
        |FROM dg JOIN c ON dg.w1 = c.w1 AND dg.w2 = c.w2
        |GROUP BY dg.doc_id ORDER BY doc_id""".stripMargin,
    "doc_quality_bins" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT source, n_tokens,
        |    CAST(ntile(10) OVER (PARTITION BY source
        |                         ORDER BY n_tokens, doc_id) AS INT) AS bin
        |  FROM t
        |)
        |SELECT source, bin, count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "doc_pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(doc_id % 8 AS INT) AS bucket,
        |    len(string_split(text, ' ')) AS nt
        |  FROM documents
        |), o AS (
        |  SELECT split, bucket, nt,
        |    CAST(coalesce(sum(nt) OVER (PARTITION BY split, bucket
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) // 8192 AS INT) AS shard
        |  FROM t
        |)
        |SELECT split, bucket, shard, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS shard_tokens
        |FROM o GROUP BY split, bucket, shard
        |ORDER BY split, bucket, shard""".stripMargin,
    "doc_split_assign" ->
      """SELECT CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |            WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        | source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY split, source ORDER BY split, source""".stripMargin,
    "doc_source_overlap" ->
      """WITH tok AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(range(1, len(toks) - 1),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS gram
        |  FROM tok WHERE len(toks) >= 3
        |), sz AS (
        |  SELECT source, count(*) AS n FROM g GROUP BY source
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT x.source AS src_a, y.source AS src_b, x.n AS n_a, y.n AS n_b,
        |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
        |  round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
        |    / (x.n + y.n - coalesce(i.n_common, 0)), 4) AS jaccard
        |FROM sz x JOIN sz y ON x.source < y.source
        |LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source
        |ORDER BY src_a, src_b""".stripMargin,
    "doc_dsir_weights" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), raw AS (
        |  SELECT tok, count(*) AS c_r FROM occ GROUP BY tok
        |), tgt AS (
        |  SELECT tok, count(*) AS c_t FROM occ WHERE lang = 'en' GROUP BY tok
        |), vocab AS (
        |  SELECT r.tok, r.c_r, coalesce(t.c_t, 0) AS c_t,
        |    CAST(floor(1e6 * (ln(coalesce(t.c_t, 0) + 1.0) - ln(r.c_r + 1.0)))
        |      AS BIGINT) AS q
        |  FROM raw r LEFT JOIN tgt t ON r.tok = t.tok
        |), tot AS (
        |  SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t,
        |    count(*) AS v
        |  FROM vocab
        |), pd AS (
        |  SELECT doc_id, count(*) AS n_tokens, CAST(sum(q) AS BIGINT) AS sq
        |  FROM occ JOIN vocab USING (tok) GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens,
        |  sq + n_tokens * CAST(floor(1e6 * (ln(n_r + v) - ln(n_t + v))) AS BIGINT)
        |    AS weight_q,
        |  round(CAST(sq + n_tokens * CAST(floor(1e6 * (ln(n_r + v) - ln(n_t + v)))
        |      AS BIGINT) AS DOUBLE) / (n_tokens * 1e6), 4) + 0.0 AS avg_logodds
        |FROM pd, tot ORDER BY doc_id""".stripMargin,
    "doc_ngram_jaccard_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS grams
        |  FROM tok WHERE len(toks) >= 3
        |)
        |SELECT id1, id2, round(jaccard, 3) AS jaccard FROM (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |      (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
        |      AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |) p WHERE jaccard >= 0.8 ORDER BY id1, id2""".stripMargin,
    "doc_exact_dedup" ->
      """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY text_hash""".stripMargin,
    // the same casefold/punct-strip/space-collapse chain as the Spark
    // side (character-class regexes — identical semantics in Java and
    // RE2 — with DuckDB's 'g' flag matching Spark's replace-all default)
    "doc_normalized_dedup" ->
      """WITH woven AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    upper(substring(text, 1, 40)) || substring(text, 41) || ' !!' AS text
        |  FROM documents WHERE doc_id % 17 = 0
        |), alld AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM woven
        |), n AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp
        |  FROM alld
        |)
        |SELECT min(doc_id) AS canonical_id,
        |  CAST(count(*) AS BIGINT) AS n_copies, norm_fp
        |FROM n GROUP BY norm_fp HAVING count(*) > 1
        |ORDER BY canonical_id""".stripMargin,
    "doc_ttr_diversity" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS tf
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY source, tok)
        |SELECT source, count(*) AS n_types,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(CAST(count(*) AS DOUBLE) / sum(tf), 4) AS ttr,
        |  round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 4) AS hapax_frac
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,
    "doc_zipf_slope" ->
      """WITH tf AS (
        |  SELECT source, tok, count(*) AS tf
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY source, tok),
        |r AS (
        |  SELECT source,
        |    log10(CAST(row_number() OVER (PARTITION BY source ORDER BY tf DESC, tok) AS DOUBLE)) AS lr,
        |    log10(CAST(tf AS DOUBLE)) AS lf
        |  FROM tf)
        |SELECT source, count(*) AS n_types,
        |  round(covar_pop(lf, lr) / var_pop(lr), 3) AS zipf_slope
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "doc_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_quality_score" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
        | round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |       / len(string_split(text, ' ')), 3) AS uniq_ratio,
        | round(CAST(len(list_filter(string_split(text, ' '),
        |   t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |       / len(string_split(text, ' ')), 3) AS stop_ratio,
        | round(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |       / length(text), 3) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_regex_tokens" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
        |   AS total_rtokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "doc_jaccard_pairs" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        | round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |       / len(list_distinct(list_concat(a.toks, b.toks))), 3) AS jaccard
        |FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
        |JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
        |  ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |ORDER BY id1, id2""".stripMargin,
    "doc_dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size
        |FROM comp ORDER BY doc_id""".stripMargin,
    "doc_cluster_index_probe" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |)
        |SELECT c.doc_id, c.component
        |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        |WHERE d.source = 'src19'
        |ORDER BY c.doc_id""".stripMargin,
    "doc_cluster_index_remove" ->
      """WITH RECURSIVE surv AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
        |), tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM surv
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM surv
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |)
        |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    "doc_cluster_index_logical_remove" ->
      """WITH RECURSIVE surv AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0
        |), tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM surv
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM surv
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |)
        |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    "doc_source_rel_quality" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 3) AS score
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    quantile_cont(score, 0.25) AS p25,
        |    quantile_cont(score, 0.5) AS p50,
        |    quantile_cont(score, 0.75) AS p75
        |  FROM scored GROUP BY source)
        |SELECT s.source,
        |  CASE WHEN score < p25 THEN 'q1' WHEN score < p50 THEN 'q2'
        |       WHEN score < p75 THEN 'q3' ELSE 'q4' END AS quartile,
        |  count(*) AS n_docs, round(avg(score), 4) AS avg_score
        |FROM scored s JOIN b ON s.source = b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_leakage_safe_split" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |), assigned AS (
        |  SELECT doc_id, component,
        |    CASE WHEN (component * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (component * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS doc_split
        |  FROM comp
        |)
        |SELECT split, count(*) AS n_docs,
        |  count(DISTINCT component) AS n_clusters,
        |  CAST(sum(CASE WHEN doc_split <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin,
    "doc_contamination" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |         WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split,
        |    string_split(text, ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, split, list_distinct(list_transform(range(1, len(toks) - 3),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))
        |      AS grams
        |  FROM d WHERE len(toks) >= 5
        |), tr AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE split = 'train'
        |), te AS (
        |  SELECT doc_id, split, len(grams) AS n_grams, unnest(grams) AS gram
        |  FROM g WHERE split <> 'train'
        |)
        |SELECT doc_id, split, n_grams, count(*) AS n_shared,
        |  round(CAST(count(*) AS DOUBLE) / n_grams, 3) AS shared_ratio
        |FROM te JOIN tr USING (gram)
        |GROUP BY doc_id, split, n_grams
        |ORDER BY doc_id""".stripMargin,
    "doc_pipeline_e2e" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
        |), e AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
        |), und AS (
        |  SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e
        |), cc(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT und.v, cc.r FROM cc JOIN und ON und.u = cc.id
        |), comp AS (
        |  SELECT id AS doc_id, min(r) AS component FROM cc GROUP BY id
        |), scored AS (
        |  SELECT doc_id, text, len(string_split(text, ' ')) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop
        |  FROM documents
        |), filt AS (
        |  SELECT * FROM scored WHERE nt BETWEEN 20 AND 400 AND stop < 0.5
        |), kept AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM filt) r
        |  WHERE rn = 1
        |)
        |SELECT CASE WHEN (component * 2654435761) % 100 < 80 THEN 'train'
        |            WHEN (component * 2654435761) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens
        |FROM kept JOIN comp USING (doc_id)
        |GROUP BY split ORDER BY split""".stripMargin,
    "doc_vocab_build" ->
      """WITH df AS (
        |  SELECT term, count(*) AS doc_freq
        |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |        FROM documents) t
        |  GROUP BY term HAVING count(*) >= 5
        |)
        |SELECT CAST(row_number() OVER (ORDER BY doc_freq DESC, term) AS INT) AS vocab_id,
        |  term, doc_freq
        |FROM df ORDER BY vocab_id""".stripMargin,
    "doc_bigram_lm" ->
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |           i -> [toks[i], toks[i+1]])) AS bg
        |  FROM tok WHERE len(toks) >= 2
        |), c AS (
        |  SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS n FROM g GROUP BY 1, 2
        |)
        |SELECT w1, w2, n, rk FROM (
        |  SELECT w1, w2, n,
        |    CAST(row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS INT) AS rk
        |  FROM c) r
        |WHERE rk <= 3 ORDER BY w1, rk""".stripMargin,
    "doc_repetition_score" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, list_transform(range(1, len(toks)),
        |           i -> concat_ws(' ', toks[i], toks[i+1])) AS grams
        |  FROM tok WHERE len(toks) >= 2
        |)
        |SELECT doc_id, len(grams) AS n_bigrams,
        |  len(list_distinct(grams)) AS n_uniq_bigrams,
        |  round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 3)
        |    AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "doc_top_terms" ->
      """SELECT term, count(DISTINCT doc_id) AS doc_freq
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |      FROM documents) t
        |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20""".stripMargin,
    // full-strength replay of the language-ID argmax (stopword hit
    // counts, alphabetical tie-break, 'und' on zero) and the 1-hash
    // MinHash fingerprint (min over 3-token shingles of the first 15
    // md5 hex chars — md5 is engine-neutral, which is why the engine
    // uses it here)
    "doc_minhash_pairs" ->
      // full LSH replay (VERDICT r12 item 6): md5-derived 60-bit element
      // hashes, the a·x+b mod P signature family (exact 64-bit integer
      // arithmetic, no overflow at a,v < 2^31), band agreement as SLICE
      // equality (the engine's xxhash64 band buckets key the same
      // slices), then the exact hashed-set Jaccard the engine verifies
      """WITH tok AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    string_split(text, ' '),
        |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS es
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id, es,
        |    list_transform(range(128), i -> list_min(list_transform(es, v ->
        |      ((2654435761 * (i + 1)) % 2147483647 * (v % 2147483647) +
        |       (40503 * (i + 1) + 7) % 2147483647) % 2147483647))) AS sg
        |  FROM tok
        |)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  round(CAST(len(list_intersect(a.es, b.es)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.es, b.es))), 3) AS jaccard
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE len(list_filter(range(16), bb ->
        |        a.sg[bb*8+1:bb*8+8] = b.sg[bb*8+1:bb*8+8])) > 0
        |  AND CAST(len(list_intersect(a.es, b.es)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.es, b.es))) >= 0.8
        |ORDER BY id1, id2""".stripMargin,
    "doc_incremental_dedup" ->
      // asymmetric LSH replay (r13): ref x incoming band agreement as
      // signature slice equality, exact hashed-set Jaccard, best match
      // ranked by the UNROUNDED jaccard then lowest ref id — exactly
      // the engine's window rule
      """WITH tok AS (
        |  SELECT doc_id, source, list_sort(list_distinct(list_transform(
        |    string_split(text, ' '),
        |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)))) AS es
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id, source, es,
        |    list_transform(range(128), i -> list_min(list_transform(es, v ->
        |      ((2654435761 * (i + 1)) % 2147483647 * (v % 2147483647) +
        |       (40503 * (i + 1) + 7) % 2147483647) % 2147483647))) AS sg
        |  FROM tok
        |), ver AS (
        |  SELECT i.doc_id AS inc_id, r.doc_id AS ref_id,
        |    CAST(len(list_intersect(i.es, r.es)) AS DOUBLE) /
        |      len(list_distinct(list_concat(i.es, r.es))) AS jraw
        |  FROM sig i JOIN sig r
        |    ON i.source = 'src19' AND r.source <> 'src19'
        |  WHERE len(list_filter(range(16), bb ->
        |          i.sg[bb*8+1:bb*8+8] = r.sg[bb*8+1:bb*8+8])) > 0
        |    AND CAST(len(list_intersect(i.es, r.es)) AS DOUBLE) /
        |        len(list_distinct(list_concat(i.es, r.es))) >= 0.8
        |)
        |SELECT inc_id, ref_id, round(jraw, 3) AS jaccard FROM (
        |  SELECT inc_id, ref_id, jraw,
        |    row_number() OVER (PARTITION BY inc_id ORDER BY jraw DESC, ref_id) AS rn
        |  FROM ver)
        |WHERE rn = 1 ORDER BY inc_id""".stripMargin,
    "doc_simhash_pairs" ->
      // 60-bit md5 SimHash replay: per-bit majority votes over token
      // OCCURRENCES (not distinct — repetition weights the vote), then
      // all pairs at hamming <= 3 (the engine's 4-band pigeonhole is
      // exact below 4, so the candidate stage drops out of the oracle)
      """WITH tok AS (
        |  SELECT doc_id, list_transform(string_split(text, ' '),
        |    t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
        |  FROM documents
        |), fp AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(60), j ->
        |      CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)
        |           THEN CAST(1 AS BIGINT) << j ELSE 0 END)) AS simhash
        |  FROM tok
        |)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id1, id2""".stripMargin,
    "doc_source_overlap_minhash" ->
      // merged per-source signatures = min over the UNION of shingle
      // hashes (MinHashMerge is elementwise min), replayed as one
      // group-by over (source, shingle-hash) x 128 permutations
      """WITH tok AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT source, v FROM (
        |    SELECT source, UNNEST(list_transform(range(1, len(toks) - 1), i ->
        |      CAST('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15)
        |        AS BIGINT) % 2147483647)) AS v
        |    FROM tok)
        |), sig AS (
        |  SELECT source, i,
        |    min(((2654435761 * (i + 1)) % 2147483647 * v +
        |         (40503 * (i + 1) + 7) % 2147483647) % 2147483647) AS m
        |  FROM sh CROSS JOIN range(128) AS r(i)
        |  GROUP BY source, i
        |)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  round(CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS DOUBLE) / 128, 4)
        |    AS jaccard_est
        |FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_langid_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    string_split(text, ' ') AS toks FROM documents
        |), sc AS (
        |  SELECT doc_id, labeled_lang, toks,
        |    len(list_filter(toks, x -> list_contains(['der','die','das','und','zu','in','ein','eine','ist','von'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','for','on'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','un','una','los','por'], x))) AS s_es,
        |    len(list_filter(toks, x -> list_contains(['le','la','de','et','que','en','un','une','les','pour'], x))) AS s_fr,
        |    len(list_filter(toks, x -> list_contains(['de','le','shi','bu','wo','you','ta','zhe','men','zai'], x))) AS s_zh
        |  FROM t
        |)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
        |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  CASE WHEN len(toks) >= 3 THEN
        |    list_min(list_transform(range(1, len(toks) - 1), i ->
        |      CAST('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15) AS BIGINT)))
        |  END AS fingerprint
        |FROM sc ORDER BY doc_id""".stripMargin,
    "mm_binary_stats" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ev_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(s.ts) AS signup_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin,
  )
}
