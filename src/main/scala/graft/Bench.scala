package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Driver-run benchmark: times every SparkEntry query at the requested SF.
  *
  * Reporting contract (VERDICT r1 item 5): failures are loud — a failed
  * query is recorded with `"ok":false` and excluded from the headline
  * total, never silently timed as if it succeeded. The one-line JSON is
  * printed to stdout (build.sbt routes forked stdout through unprefixed)
  * and also written to `bench_result.json` so the driver can always parse
  * it.
  *
  * Run hygiene (VERDICT r3 item 3): the near-dup/ANN pipelines
  * localCheckpoint their token tables; those blocks are owned by the
  * returned plan and normally freed only when the GC collects it — across
  * a 60-query run they accumulated gigabytes of storage, squeezing
  * execution memory and slowing every later shuffle/sort 5–10×
  * (q10–q15/q26/q27 in r3 regressed with no code change; ngram measured
  * 53.8s in-bench vs 1.3s standalone). After each query's action
  * completes, its checkpoint RDDs are explicitly unpersisted (safe: the
  * plan is never re-executed), so every query starts with a clean block
  * manager.
  *
  * Attribution (VERDICT r3 item 10): per-query peak execution memory, GC
  * time, and post-run storage bytes are recorded in the result JSON so
  * the next regression cluster is diagnosable from the artifact alone.
  */
object Bench {

  /** Self-defending archive (VERDICT r13 item 1): the r13 headline
    * shipped 40% slow because a contaminated measurement window inflated
    * queries whose source was untouched, and nothing in the pipeline
    * flagged it. Before overwriting `bench_result.json`, the previous
    * artifact's per-query mins are parsed and any query that moved >2×
    * in either direction (above a 0.5 s floor — ratio noise on
    * millisecond queries is meaningless) is listed under
    * `"suspect_noise"` with both values, so a loaded box reads as
    * "suspect" in the artifact itself instead of as a silent regression.
    * Pure functions, unit-gated by BenchArchiveSpec with a planted
    * prior archive. */
  private[graft] def parseFlatObject(json: String, field: String): Map[String, Double] = {
    // the artifact's "queries"/"takedown_legs*" objects are flat
    // ("name":sec,...) by the driver contract; a tolerant regex scan
    // beats a JSON dependency
    val start = json.indexOf(s""""$field":{""")
    if (start < 0) Map.empty
    else {
      val body = json.substring(start + s""""$field":{""".length,
        json.indexOf('}', start))
      raw""""([A-Za-z0-9_.]+)":([0-9.Ee+-]+)""".r.findAllMatchIn(body)
        .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
        .toMap
    }
  }

  private[graft] def parseQueryMins(json: String): Map[String, Double] =
    parseFlatObject(json, "queries")

  /** The prior archive's takedown leg mins, keyed `<field>.<leg>` so they
    * ride the same [[suspectNoise]] diff as the whole-query mins
    * (VERDICT r14 item 8: the leg maps had no prior-archive comparison,
    * so a regression inside one leg of a stable-total row still hid). */
  private[graft] def parseLegMins(json: String): Map[String, Double] =
    legFields.map(_._2)
      .flatMap(f =>
        parseFlatObject(json, f).map { case (k, v) => s"$f.$k" -> v }).toMap

  private def isSuspect(p: Double, n: Double): Boolean =
    math.max(p, n) >= 0.5 && (n > 2 * p || n < p / 2)

  private[graft] def suspectNoise(prev: Map[String, Double],
                                  now: Map[String, Double]): String = {
    val sus = now.toSeq.sorted.flatMap { case (k, n) =>
      prev.get(k).collect {
        case p if isSuspect(p, n) =>
          s""""$k":{"prev":${f"$p%.3f"},"now":${f"$n%.3f"}}"""
      }
    }
    sus.mkString("{", ",", "}")
  }

  /** Keys [[suspectNoise]] would flag — the retry pass's work list
    * (VERDICT r15 item 7). */
  private[graft] def suspectKeys(prev: Map[String, Double],
                                 now: Map[String, Double]): Seq[String] =
    now.toSeq.sorted.collect {
      case (k, n) if prev.get(k).exists(isSuspect(_, n)) => k
    }

  /** Fold one retry measurement per flagged query into the per-query
    * mins — an in-band retry clears its flag; a genuine regression
    * survives the extra run. */
  private[graft] def applyRetry(mins: Map[String, Double],
                                retries: Map[String, Double]): Map[String, Double] =
    mins.map { case (k, v) => k -> retries.get(k).fold(v)(math.min(v, _)) }

  /** Index-MAINTENANCE rows (VERDICT r15 item 2): takedown/lifecycle
    * protocol queries whose cost measures removal machinery, not query
    * answering. Published as `total_maintenance` beside `total_queries`
    * so a regression in either band is legible on its own — the two
    * takedown rows were 21% of the r15 headline and every protocol
    * hardening inflated the one conflated number. */
  private[graft] def isMaintenance(name: String): Boolean =
    name.matches(".*_index_(logical_)?remove$") || name.startsWith("rtbf_")

  /** The rows whose phases ([[Phases]]) the artifact publishes, and the
    * field each lands in (VERDICT r12 item 4 onward: a driver-side
    * regression in a composed row names its phase instead of hiding in
    * one conflated number). */
  private[graft] val legFields = Seq(
    "doc_cluster_index_remove" -> "takedown_legs",
    "doc_cluster_index_logical_remove" -> "takedown_legs_logical",
    "doc_term_index_remove" -> "takedown_legs_term",
    "rtbf_purge_e2e" -> "takedown_legs_rtbf",
    "rtbf_purge_logical" -> "takedown_legs_rtbf_logical",
    "doc_rrf_fusion_indexed" -> "rrf_legs")

  /** One leg field from a row's successful timed runs, each its wall
    * total and phase record: the min over runs of every phase (a phase
    * missing from some runs takes the min over the runs that have it),
    * plus "serve" = the min over runs of total minus that run's
    * TOP-LEVEL phases. Nested phases (depth > 0, e.g. the `rm_*`
    * windows inside index_remove) attribute inside their parent's wall;
    * counting them in the serve subtraction would double-book it. */
  private[graft] def legSplitJson(runs: Seq[(Double, Map[String, Phases.Phase])]): String =
    if (runs.forall(_._2.isEmpty)) "{}"
    else {
      val keys = runs.flatMap(_._2.keys).distinct
      val serve = runs.map { case (t, ph) =>
        math.max(0.0, t - ph.values.filter(_.depth == 0).map(_.seconds).sum)
      }.min
      (keys.map(k => k -> runs.flatMap(_._2.get(k)).map(_.seconds).min) :+
        ("serve" -> serve))
        .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString("{", ",", "}")
    }

  /** One row's timed runs (wall seconds and phases; a retry carries no
    * phases) and the first run's attribution metrics. */
  private final case class Row(name: String, ok: Boolean,
                               runs: Seq[(Double, Map[String, Phases.Phase])],
                               peakMb: Double, gcMs: Long, storMb: Double,
                               shufMb: Double) {
    def times: Seq[Double] = runs.map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // scale-band archives (VERDICT r16 item 3): SPARK_GRAFT_BENCH_OUT
    // redirects the artifact (e.g. bench_result_sf1.json) so an sf1 band
    // keeps its OWN prior-mins lineage — same suspect-noise diff, same
    // retry machinery, never clobbering the driver's sf0.1 artifact.
    // The driver never sets it, so the headline contract is unchanged.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    val spark = GraftSession(Some(cpus.toInt), logLevel = "ERROR")
    val sc = spark.sparkContext
    val listener = new WorkListener
    sc.addSparkListener(listener)

    /** Storage memory held by cached/checkpointed RDD blocks right now. */
    def storageBytes(): Long =
      sc.getRDDStorageInfo.map(_.memSize).sum

    /** Free every persisted RDD block (localCheckpoint blocks register as
      * persistent RDDs). Only called BETWEEN queries, after the previous
      * plan's action finished — nothing re-executes those plans. */
    def dropPersistedBlocks(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    // dev convenience: SPARK_GRAFT_BENCH_ONLY=name1,name2 times a subset
    // for fast iteration on one query. The driver never sets it, so the
    // headline artifact always covers the full set. Unknown names fail
    // fast — a typo must not silently emit a plausible empty artifact.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)

    // untimed warmup: run the WHOLE query set once at the smallest SF so
    // JIT + whole-stage-codegen compilation of every pipeline happens
    // before the clock starts — otherwise it all lands on whichever
    // query sorts first (measured: doc_jaccard_pairs 11.6s cold vs 5.7s
    // steady-state at sf0.1). Falls back to a scan warmup if the tiny
    // fixture is absent.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      selected.values.foreach { fn =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        dropPersistedBlocks()
      }
    else spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // index warm builds are ingest-side work in the build-once/query-many
    // lifecycle: pay them (or the fingerprint-triggered rebuild after a
    // fixture regen) here, so the timed runs measure the query path
    // production actually repeats. Under a BENCH_ONLY subset, build only
    // the indexes a selected query consumes — the dev loop should stay
    // proportional to the subset.
    def warmIndex(name: String, consumers: String => Boolean)(build: => Unit): Unit =
      if (only.forall(_ => selected.keys.exists(consumers)))
        try build
        catch { // NonFatal only (ADVICE r9): an OOM/interrupt must kill
          // the bench, not let it continue on a broken session
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup $name FAILED: ${e.getMessage}")
        }
    warmIndex("ensureIndex",
      n => n.startsWith("vec_") || n == "doc_rrf_fusion_indexed")(
      graft.queries.Vectors.ensureIndex(spark, sfDir))
    // the near-dup cluster index: the PPJoin+CC build is ingest-side work
    // paid once per corpus generation; the timed CC family measures the
    // query path (freshness check + assign read)
    warmIndex("ensureClusterIndex",
      Set("doc_dedup_clusters", "doc_leakage_safe_split", "doc_pipeline_e2e"))(
      graft.queries.TextPipeline.ensureClusterIndex(spark, sfDir))
    // ...and the standing-corpus index doc_cluster_index_probe probes
    // (a separate, filtered corpus — without this its first timed run
    // pays the build and mislabels the attribution metrics)
    warmIndex("ensureProbeClusterIndex", Set("doc_cluster_index_probe"))(
      graft.queries.TextPipeline.ensureProbeClusterIndex(spark, sfDir))
    warmIndex("ensureTermIndex",
      Set("doc_bm25_index_topk", "doc_rrf_fusion_indexed"))(
      graft.queries.TextPipeline.ensureTermIndex(spark, sfDir))
    // scan staging is ingest-side too since r11 (stage-once markers):
    // pay the format writes here so every timed iteration — not just
    // iterations 2-3 under the min — measures the read path
    warmIndex("stageScans", _.startsWith("scan_"))(
      selected.view.filterKeys(_.startsWith("scan_")).values
        .foreach(fn => fn(spark, sfDir).count()))
    dropPersistedBlocks()
    // prior artifact's per-query mins, read BEFORE this run overwrites
    // it — feeds the suspect_noise annotation (VERDICT r13 item 1).
    // Only comparable at the SAME scale factor: a dev smoke at sf0.001
    // against an sf0.1 archive would flag everything.
    val priorMins =
      try {
        val prior = Files.readString(Paths.get(outPath))
        // the pattern includes the CLOSING quote (the 4-quote run ends
        // the interpolation with a literal "), so an sf10 archive can
        // never prefix-match a run at sf1. Leg mins ride the same map
        // under their `takedown_legs*.` prefix (r14 item 8).
        if (prior.contains(s""""sf":"$sfDir""""))
          parseQueryMins(prior) ++ parseLegMins(prior)
        else Map.empty[String, Double]
      } catch { case _: Exception => Map.empty[String, Double] }

    // bench-noise attribution (VERDICT r6 item 8, widened to EVERY query
    // by r9 item 5): this box's run-to-run variance is ±20-40%, and
    // first-run JIT noise has misled two rounds of headline totals. Each
    // query runs 3× and the per-query headline number is the MIN — the
    // comparable statistic across rounds (noise only ever adds time).
    // Attribution metrics (peak exec mem / GC / shuffle write) come from
    // the first run; all three raw times + min + median are archived.
    // One run of a row under a fresh phase recorder (Phases): its wall
    // seconds, and its phases unless it failed — a failure is logged
    // loudly and contributes no phases.
    def runOnce(name: String, label: String)
        : (Double, Option[ListMap[String, Phases.Phase]]) = {
      val t0 = System.nanoTime()
      val phases =
        try Some(Phases.record(selected(name)(spark, sfDir).count())._2)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name$label FAILED: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      ((System.nanoTime() - t0) / 1e9, phases)
    }
    val results = selected.keys.toSeq.sorted.map { name =>
      listener.reset()
      val (first, firstPhases) = runOnce(name, "")
      val storMb = storageBytes() / 1e6
      val peakMb = listener.peakExecMem / 1e6
      val gcMs = listener.gcTimeMs
      val shufMb = listener.shuffleWriteBytes / 1e6
      dropPersistedBlocks()
      // a FAILED re-run contributes NO time (its fast failure would
      // otherwise become the min and report a broken query as fast —
      // the exact masquerade the failed:[] contract forbids); it is
      // logged loudly and the min falls back to the successful runs
      val reruns = if (firstPhases.isEmpty) Seq.empty else (1 to 2).flatMap { i =>
        val (sec, phases) = runOnce(name, s" re-run $i")
        dropPersistedBlocks()
        phases.map(sec -> _)
      }
      Row(name, firstPhases.nonEmpty,
        (first -> firstPhases.getOrElse(ListMap.empty)) +: reruns,
        peakMb, gcMs, storMb, shufMb)
    }
    // csv round-trip attribution (VERDICT r5 item 9): the query's cost is
    // dominated by the gzip WRITE (the operator under test), which the
    // single timing above can't show — time the two halves separately.
    // Skipped when a BENCH_ONLY subset doesn't include the query.
    val csvSplit = if (!selected.contains("scan_csv_roundtrip")) """{}""" else try {
      // force = true: stage-once would make this a marker-check no-op on
      // a warmed box and write_s would silently measure nothing
      val (_, ph) = Phases.record {
        val path = Phases.time("write_s")(graft.queries.Scans.csvWrite(spark, sfDir, force = true))
        Phases.time("read_s")(graft.queries.Scans.csvRead(spark, path).count())
      }
      ph.map { case (k, p) => f""""$k":${p.seconds}%.3f""" }.mkString("{", ",", "}")
    } catch { case _: Throwable => """{}""" }

    // leg splits: min-of-3 per phase of each composed row (legFields),
    // from the same runs as the headline numbers.
    // bench_result.json only (stdout stays compact).
    val legs = legFields.map { case (row, field) =>
      field -> results.find(r => r.name == row && r.ok)
        .fold("{}")(r => legSplitJson(r.runs))
    }
    // leg mins join the diff under their field prefix — parsed back out
    // of the EXACT strings the artifact will carry, so the comparison
    // can never drift from what a future run reads as its prior
    val nowLegs = legs.flatMap { case (f, j) =>
        parseFlatObject(s""""$f":$j""", f).map { case (k, v) => s"$f.$k" -> v } }
      .toMap

    // retry-on-suspect (VERDICT r15 item 7): one contaminated
    // measurement window on the driver box smeared 4.8 s across three
    // light queries in r15, and min-of-3 inside that window could not
    // clear it. Each QUERY-level flagged query is re-run once more and
    // the extra time joins its min — an in-band retry clears the flag, a
    // genuine regression survives a 4th run. Leg-level flags are not
    // retried standalone: a leg re-runs only inside its query, and the
    // leg strings above are already final.
    // ok-only: a failed query's time-to-failure is not a min, and
    // flagging it as a >2x "speedup" would conflate breakage with the
    // measurement noise this annotation isolates (review-caught r14).
    val preMins = results.collect { case r if r.ok => r.name -> r.times.min }.toMap
    val retryTimes: Map[String, Double] = suspectKeys(priorMins, preMins)
      .filter(selected.contains).flatMap { k =>
        System.err.println(s"[bench] retrying suspect query $k once")
        val (sec, phases) = runOnce(k, " retry")
        dropPersistedBlocks()
        phases.map(_ => k -> sec)
      }.toMap
    val resultsF = results.map { r =>
      retryTimes.get(r.name).fold(r)(t => r.copy(runs = r.runs :+ (t -> ListMap.empty)))
    }
    val repJson = resultsF.map { r =>
      val sorted = r.times.sorted
      s""""${r.name}":{"runs":${r.times.map(t => f"$t%.3f").mkString("[", ",", "]")},""" +
        s""""min":${f"${sorted.head}%.3f"},"median":${f"${sorted(sorted.size / 2)}%.3f"}}"""
    }.mkString("{", ",", "}")

    // driver contract: queries maps name -> seconds (plain numbers; the
    // per-query MIN of 3 runs since r10 — "timing" says so); failures
    // are excluded from the total and listed in "failed" so a broken
    // query can never masquerade as a fast one. peak_exec_mb / gc_ms /
    // storage_mb are the per-query attribution channels.
    def jmap(f: Row => String): String =
      resultsF.map(r => s""""${r.name}":${f(r)}""").mkString("{", ",", "}")
    val qs = jmap(r => f"${r.times.min}%.3f")
    val mem = jmap(r => f"${r.peakMb}%.1f")
    val gc = jmap(_.gcMs.toString)
    val stor = jmap(r => f"${r.storMb}%.1f")
    val shuf = jmap(r => f"${r.shufMb}%.1f")
    val okTotal = resultsF.filter(_.ok).map(_.times.min).sum
    // headline split (VERDICT r15 item 2): query-answering vs
    // index-maintenance bands, each legible on its own
    val okMaint = resultsF.filter(r => r.ok && isMaintenance(r.name)).map(_.times.min).sum
    val failed = resultsF.filterNot(_.ok).map(r => s""""${r.name}"""").mkString("[", ",", "]")
    // stdout line stays COMPACT (driver captures only the tail of stdout;
    // r4's line with the three attribution maps inlined grew past that
    // window and the driver recorded parsed:null). The attribution maps
    // (peak_exec_mb / gc_ms / storage_mb) go to bench_result.json only.
    val line =
      s"""{"metric":"total","value":${f"$okTotal%.3f"},"unit":"sec","timing":"min_of_3",""" +
        s""""total_queries":${f"${okTotal - okMaint}%.3f"},""" +
        s""""total_maintenance":${f"$okMaint%.3f"},""" +
        s""""queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    val nowMins = applyRetry(preMins, retryTimes)
    val suspect = suspectNoise(priorMins, nowMins ++ nowLegs)
    if (suspect != "{}") System.err.println(
      s"[bench] SUSPECT NOISE vs prior $outPath (>2x moves): $suspect")
    // name the retried queries in the artifact: their runs arrays carry
    // a 4th element, so "min_of_3" is min-of-4 for exactly these rows —
    // the reader should not have to infer that from array shapes
    val retriedJson = retryTimes.keys.toSeq.sorted
      .map(q => s""""$q"""").mkString("[", ",", "]")
    val detail =
      line.dropRight(1) + s""","peak_exec_mb":$mem,"gc_ms":$gc,"storage_mb":$stor,""" +
        s""""shuffle_write_mb":$shuf,"csv_split":$csvSplit,""" +
        legs.map { case (f, j) => s""""$f":$j,""" }.mkString +
        s""""suspect_noise":$suspect,"retried":$retriedJson,""" +
        s""""repeats":$repJson}"""
    Files.writeString(Paths.get(outPath), detail)
    // totals-first compact line BEFORE the full line (VERDICT r18
    // item 2): the driver archives only a stdout TAIL, and at 174 rows
    // the full line alone outgrew the r17 window — the artifact parsed
    // as null and the per-query round-over-round channel went dark. A
    // window too small for the full line still ends with ...compact
    // line + full line's tail; the compact line carries the headline
    // totals either way. The FULL line stays last — that is the line
    // the driver's parser consumes today (contract unchanged).
    println(
      s"""{"metric":"total_compact","value":${f"$okTotal%.3f"},"unit":"sec",""" +
        s""""total_queries":${f"${okTotal - okMaint}%.3f"},""" +
        s""""total_maintenance":${f"$okMaint%.3f"},""" +
        s""""n":${resultsF.size},"failed":$failed,"sf":"$sfDir"}""")
    println(line)
    spark.stop()
  }
}
