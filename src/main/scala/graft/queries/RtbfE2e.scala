package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Phases, Tables}
import graft.operators.{ClusterIndex, IndexMaintenance, Rtbf, RtbfTargets,
  TermIndex, TextIndex, VectorIndex}

/** `rtbf_purge_e2e` — the single-call RTBF orchestrator driven
  * end-to-end as an oracle row (VERDICT r17 item 1).
  *
  * One [[graft.operators.Rtbf.purge]] call scrubs a victim set from SIX
  * stores at once — the document lake, the embedding lake, and all four
  * persisted index families — and the row then serves EVERY surface
  * from what the purge left on disk:
  *
  *   - `lake`:    the purged document lake, one `(doc_id, md5(text))`
  *                row per survivor — the system-of-record scan;
  *   - `term`:    BM25 top-10 from the purged term index (the fixed
  *                4-query set every bm25 row shares);
  *   - `cluster`: near-dup component assignments from the purged
  *                cluster index (victims' components re-split);
  *   - `vector`:  IVF top-5 from the purged vector index over fixed
  *                survivor probes;
  *   - `textidx`: distinct doc ids still present in the purged MinHash
  *                text index (membership — band-level identity has its
  *                own spec gates in TextIndexSpec).
  *
  * The DuckDB oracle replays each surface over the SURVIVING corpus
  * alone (`doc_id % 5 = 0 AND doc_id % 65 <> 0` — the corpus is a
  * fixture subset ON PURPOSE: the per-family takedown rows already
  * measure each remove at full corpus scale, so this composed row buys
  * its six-store composition + agreement coverage at a fifth of the
  * data instead of re-paying four full-size removes per run): BM25 closed
  * form, recursive-CTE connected components, centroid-literal IVF
  * replay (the `vec_index_topk` machinery with the THIS-index quantizer
  * recorded at query time), and plain survivor scans. Hash-green here
  * means the five serve surfaces and the two lakes AGREE with a fresh
  * survivors-only world — a half-completed purge cannot hide in any of
  * them.
  *
  * What's in the clock: four per-run index snapshots (pristine copies —
  * a REAL multi-store purge runs every time, never a replay no-op), the
  * purge itself (victim snapshot + manifest + four physical removes +
  * two lake scrubs + the cross-store agreement certificate), and the
  * five serves. Staged once per fixture generation: the subset lakes
  * and the four index builds (ingest-side cost, same rule as every
  * other index row). The vector index trains under its OWN seed (7) so
  * its quantizer never collides with the shared `(16,2,42)`
  * model-literal key the vec_* oracles record. */
object RtbfE2e {

  /** The purged vector index's quantizer, recorded when the query RAN
    * in this JVM — unrolled into DuckDB centroid literals by [[oracles]]
    * (the model-literal pattern of [[Vectors]]). */
  @volatile private var lastCentroids: Option[Seq[Seq[Double]]] = None

  private val corpusWhere = "WHERE doc_id % 5 = 0 AND doc_id % 65 <> 0"
  private val vecCorpusWhere = "WHERE vec_id % 5 = 0 AND vec_id % 65 <> 0"
  private val probeIds = Seq(5L, 10L, 45L, 95L) // survivors at every sf
  private val vecSeed = 7L

  def purgeE2e(s: SparkSession, dir: String): DataFrame =
    purgeImpl(s, dir, logical = false)

  /** `rtbf_purge_logical` — the SAME six-store composed flow under
    * `Rtbf.purge(logical = true)` (r18): index verbs are
    * tombstone-overlay logicalRemoves, the lakes still scrub
    * physically, and every serve below reads THROUGH each family's
    * overlay (TermIndex.topK / ClusterIndex.assignments /
    * VectorIndex.topK do natively; the text-membership surface hides
    * explicitly). The oracle is IDENTICAL to the physical row's — a
    * logical purge promises exactly that every serve surface equals
    * the survivors-only world while the bytes await compact() — so
    * hash-green here proves blind-serving equivalence, not just the
    * spec gates. Own run namespace and tag so the two rows never share
    * purge state. */
  def purgeLogicalE2e(s: SparkSession, dir: String): DataFrame =
    purgeImpl(s, dir, logical = true)

  private def purgeImpl(s: SparkSession, dir: String,
                        logical: Boolean): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    val key = Tables.fixtureKey(dir)
    val tmp = System.getProperty("java.io.tmpdir")
    val base = s"$tmp/graft_rtbf/$key" // staged-once builds (SHARED)
    val run = // per-run pristine copies, one namespace per mode
      if (logical) s"$tmp/graft_rtbf_runlg/$key"
      else s"$tmp/graft_rtbf_run/$key"

    val docs = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), col("source"))
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"), col("label"))
    val lake = s"$base/lake"
    val vecLake = s"$base/veclake"

    // ---- staged once per fixture generation: lakes + index builds ----
    Phases.time("ensure") {
      Staging.stageOnce(docs, lake)(docs.write.mode("overwrite")
        .partitionBy("source").parquet(lake))
      Staging.stageOnce(emb, vecLake)(emb.write.mode("overwrite")
        .partitionBy("label").parquet(vecLake))
      val docsIdx = docs.select(col("doc_id"), col("text"))
      TextPipeline.memoizedEnsure(s"$base/textidx", docsIdx)(
        TextIndex.ensure(docsIdx, "doc_id", "text", s"$base/textidx"))
      TextPipeline.memoizedEnsure(s"$base/clusteridx", docsIdx)(
        ClusterIndex.ensure(docsIdx, "doc_id", "text", s"$base/clusteridx"))
      TextPipeline.memoizedEnsure(s"$base/termidx", docsIdx)(
        TermIndex.ensure(docsIdx, "doc_id", "text", s"$base/termidx"))
      val embIdx = emb.select(col("vec_id"), col("embedding"))
      TextPipeline.memoizedEnsure(s"$base/vecidx", embIdx)(
        VectorIndex.ensure(embIdx, s"$base/vecidx", nlist = 16,
          seed = vecSeed))
    }

    // ---- per run: pristine index copies + a clean purge namespace ----
    Phases.time("snapshot") {
      // the four copies are independent file trees — run them
      // concurrently (r18 opt, guide §2.6: serial they cost four I/O
      // walls; this is bench-harness plumbing, see snapshotIndex's
      // production caveat)
      IndexMaintenance.parallel(Seq("textidx", "clusteridx", "termidx", "vecidx")
        .map(ix => () => TextPipeline.snapshotIndex(s, s"$base/$ix", s"$run/$ix")))
      // prior runs' purge state would read THIS run as a completed
      // replay and no-op the verbs against the fresh copies
      val st = new org.apache.hadoop.fs.Path(s"$lake/_rtbf")
      val fs = st.getFileSystem(conf)
      if (fs.exists(st)) fs.delete(st, true)
    }

    // victims read out of the FIXTURE subset (the staged lake is
    // already scrubbed on warm runs) — the verbs need the exact
    // ingested rows for their fingerprint subtraction
    val (victims, vecVictims) = Phases.time("victims") {
      (docs.filter(col("doc_id") % 65 === 0)
         .select(col("doc_id"), col("text")).localCheckpoint(),
       emb.filter(col("vec_id") % 65 === 0)
         .select(col("vec_id"), col("embedding")).localCheckpoint())
    }

    val targets = RtbfTargets(
      lakeDir = lake, lakePartitionCols = Seq("source"),
      textIndex = Some(s"$run/textidx"),
      clusterIndex = Some(s"$run/clusteridx"),
      termIndex = Some(s"$run/termidx"),
      vectorIndex = Some(s"$run/vecidx"),
      vecLakeDir = Some(vecLake), vecLakePartitionCols = Seq("label"))
    // each store's verb times itself as rm_<store>, nested in purge
    Phases.time("purge") {
      Rtbf.purge(victims, Some(vecVictims), targets,
        tag = if (logical) "e2e-log" else "e2e", logical = logical)
    }

    // record the quantizer for the oracle's centroid-literal replay
    lastCentroids = Some(VectorIndex.loadCentroids(s, s"$run/vecidx"))

    // ---- serve every surface from what the purge left on disk ----
    import s.implicits._
    val bm25Queries = Seq(
      (1L, "spark table join"),
      (2L, "data stream window agg"),
      (3L, "dup merge"),
      (4L, "customer query fast")).toDF("query_id", "q")
    val probes = emb.filter(col("vec_id").isInCollection(probeIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def shaped(surface: String, k: org.apache.spark.sql.Column,
               v: org.apache.spark.sql.Column)(df: DataFrame) =
      df.select(lit(surface).as("surface"), k.cast("long").as("k"),
        v.cast("string").as("v"))
    // the five serve surfaces are independent reads of five different
    // stores, and building the term/cluster/vector ones runs their
    // serve paths' bounded collects — construct them CONCURRENTLY
    // (r18 opt, guide §2.6); the union below is unchanged
    val out = IndexMaintenance.parallel(Seq(
        () => shaped("lake", col("doc_id"),
          md5(col("text").cast("binary")))(s.read.parquet(lake)),
        () => shaped("term",
          col("query_id") * 1000 + col("rank"), col("doc_id"))(
          TermIndex.topK(s, s"$run/termidx", bm25Queries, k = 10)),
        () => shaped("cluster", col("doc_id"), col("component"))(
          ClusterIndex.assignments(s, s"$run/clusteridx", "doc_id")),
        () => shaped("vector",
          col("q_id") * 100 + col("rn"), col("vec_id"))(
          VectorIndex.topK(s, s"$run/vecidx", probes, k = 5)),
        // text membership is a raw band read for the physical row (the rows
        // must be GONE); the logical row reads the SERVE view — the same
        // overlay anti-join TextIndex.probe consults
        () => {
          val bandsRaw = s.read.parquet(
            s"${IndexMaintenance.liveRoot(conf, s"$run/textidx")}/bands")
          shaped("textidx", col("doc_id"), lit("1"))(
            (if (logical)
               graft.operators.LogicalDelete.hide(bandsRaw, "doc_id",
                 graft.operators.LogicalDelete.ids(s, s"$run/textidx"))
             else bandsRaw)
              .select(col("doc_id")).distinct())
        }))
      .reduce(_ unionByName _)
      .orderBy(col("surface"), col("k"), col("v"))
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rtbf_purge_e2e" -> (purgeE2e _),
    "rtbf_purge_logical" -> (purgeLogicalE2e _))

  /** Model-literal like the vec family: present once the query RAN in
    * this JVM (Verify runs every query before dumping oracle SQL). The
    * LOGICAL row replays the IDENTICAL survivors-only SQL — both modes
    * promise serve surfaces equal to the surviving corpus; they differ
    * only in what remains on disk underneath (spec-gated). The shared
    * centroid literals are sound because both rows snapshot the same
    * staged build (deterministic k-means under seed 7) and a logical
    * remove never retrains. */
  def oracles: Map[String, String] = lastCentroids.toSeq.flatMap { cents =>
    val probeWhere = s"WHERE vec_id IN ${probeIds.mkString("(", ", ", ")")}"
    val sql =
      s"""SELECT surface, k, v FROM (
         |SELECT 'lake' AS surface, doc_id AS k, md5(text) AS v
         |FROM documents $corpusWhere
         |UNION ALL
         |SELECT 'textidx' AS surface, doc_id AS k, '1' AS v
         |FROM documents $corpusWhere
         |UNION ALL
         |SELECT 'term' AS surface, query_id * 1000 + "rank" AS k,
         |  CAST(doc_id AS VARCHAR) AS v
         |FROM (${TextPipeline.bm25Sql(corpusWhere)}) tq
         |UNION ALL
         |SELECT 'cluster' AS surface, doc_id AS k,
         |  CAST(component AS VARCHAR) AS v
         |FROM (WITH RECURSIVE surv AS (
         |  SELECT doc_id, text FROM documents $corpusWhere
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
         |SELECT doc_id, component FROM comp) cq
         |UNION ALL
         |SELECT 'vector' AS surface, q_id * 100 + rn AS k,
         |  CAST(vec_id AS VARCHAR) AS v
         |FROM (${Vectors.ivfFamilySql(cents, probeWhere, nprobe = 8, k = 5,
                 excludeSelf = false, corpusWhere = vecCorpusWhere)}) vq
         |) ORDER BY surface, k, v""".stripMargin
    Seq("rtbf_purge_e2e" -> sql, "rtbf_purge_logical" -> sql)
  }.toMap
}
