package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SetSimJoin}

/** Dev-only stage profiler for the document near-dup pipelines (not part
  * of the shipped library or the driver contract; run with
  * `sbt "Test/runMain graft.ProfileMain [sfDir]"`). Reps matter: rep 1
  * carries JVM/codegen warmup. Each stage prints its row count; the
  * stage walls, and the engine phases nested inside them (e.g. the
  * connected-components rounds), print as one phase table at the end. */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(Some(32), logLevel = "ERROR")

    def t(name: String)(df: => DataFrame): Unit = {
      val n = Phases.time(name)(df.count())
      println(f"[profile] $name%-34s rows=$n")
    }

    val docs = Tables.documents(spark, dir)
    docs.count()
    val (_, phases) = Phases.record {
      if (args.contains("ngram")) {
        // stage-by-stage decomposition of the ngram pipeline (the r3 bench
        // hotspot): where do the seconds go?
        val grams = graft.functions.ShingleHashSet(col("text"), 3)
        for (rep <- 1 to 2) {
          val toks = docs.select(col("doc_id"), grams.as("toks"))
            .filter(size(col("toks")) > 0)
          t(s"rep$rep ngram tokenize")(toks)
          val cached = toks.localCheckpoint()
          val t0 = 0.8
          val sized = cached.select(col("doc_id"), col("toks").as("_tk"),
            size(col("toks")).as("_sz"))
          t(s"rep$rep ngram df-count")(sized.select(explode(col("_tk")).as("_tok"))
            .groupBy(col("_tok")).agg(count(lit(1)).as("_df")))
          t(s"rep$rep ngram candidates")(
            SetSimJoin.prefixCandidates(cached, "doc_id", "toks", t0))
          t(s"rep$rep ngram full")(SetSimJoin.jaccardSelfJoin(cached, "doc_id", "toks", t0))
        }
      } else if (args.contains("cc")) {
        // doc_dedup_clusters decomposition: PPJoin edge generation vs the
        // connected-components rounds vs the full query
        for (rep <- 1 to 3) {
          val toks = docs.select(col("doc_id"), Dedup.hashedTokenSet(col("text")).as("toks"))
            .filter(size(col("toks")) > 0)
          val cachedToks = toks.localCheckpoint()
          t(s"rep$rep cc candidates")(
            SetSimJoin.prefixCandidates(cachedToks, "doc_id", "toks", 0.8))
          val cands = SetSimJoin.prefixCandidates(cachedToks, "doc_id", "toks", 0.8)
            .localCheckpoint()
          t(s"rep$rep cc verify-only")(
            Dedup.jaccardVerifySorted(cands, cachedToks, "doc_id", "toks")
              .filter(col("jaccard") >= 0.8))
          t(s"rep$rep cc edges")(
            SetSimJoin.jaccardEdges(toks, "doc_id", "toks", 0.8))
          val edges = SetSimJoin.jaccardEdges(toks, "doc_id", "toks", 0.8)
            .localCheckpoint()
          t(s"rep$rep cc rounds-only")(
            graft.operators.ConnectedComponents.components(
              edges, "id2", "id1", edgesNormalized = true))
          t(s"rep$rep cc full query")(
            graft.queries.TextPipeline.dedupClusters(spark, dir))
        }
      } else if (args.contains("jaccard")) {
        // doc_jaccard_pairs decomposition (VERDICT r18 item 4): tokenize /
        // dedup-first grouping / prefix candidates / verify / pair
        // expansion — which of them owns the one dominant job?
        for (rep <- 1 to 3) {
          val toks = docs.select(col("doc_id"),
            Dedup.hashedTokenSet(col("text")).as("toks"))
          t(s"rep$rep jac tokenize")(toks)
          val cached = toks.localCheckpoint()
          val groups = cached.filter(size(col("toks")) > 0)
            .groupBy(col("toks"))
            .agg(min(col("doc_id")).as("_rep"),
              collect_list(col("doc_id")).as("_ids"))
            .localCheckpoint()
          t(s"rep$rep jac groups")(groups)
          val reps = groups.select(col("_rep").as("doc_id"), col("toks"))
          t(s"rep$rep jac candidates")(
            SetSimJoin.prefixCandidates(reps, "doc_id", "toks", 0.8))
          val cands = SetSimJoin.prefixCandidates(reps, "doc_id", "toks", 0.8)
            .localCheckpoint()
          t(s"rep$rep jac verify-only")(
            Dedup.jaccardVerifySorted(cands, reps, "doc_id", "toks")
              .filter(col("jaccard") >= 0.8))
          val repPairs = Dedup.jaccardVerifySorted(cands, reps, "doc_id", "toks")
            .filter(col("jaccard") >= 0.8).localCheckpoint()
          val members = groups.select(col("_rep"), explode(col("_ids")).as("_mid"))
            .localCheckpoint()
          t(s"rep$rep jac expansion-only")(
            repPairs
              .join(members.select(col("_rep").as("id1"), col("_mid").as("_m1")), "id1")
              .join(members.select(col("_rep").as("id2"), col("_mid").as("_m2")), "id2")
              .select(least(col("_m1"), col("_m2")).as("id1"),
                greatest(col("_m1"), col("_m2")).as("id2"), col("jaccard"))
              .unionByName(members.alias("x")
                .join(members.alias("y"), col("x._rep") === col("y._rep"))
                .filter(col("x._mid") < col("y._mid"))
                .select(col("x._mid").as("id1"), col("y._mid").as("id2"),
                  lit(1.0).as("jaccard"))))
          t(s"rep$rep jac full query")(
            graft.queries.TextPipeline.jaccardPairs(spark, dir))
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
      } else if (args.contains("minhash")) {
        // doc_minhash_pairs decomposition: portable tokenize / signatures /
        // band candidates / verify
        for (rep <- 1 to 3) {
          val ptoks = docs.select(col("doc_id"),
            Dedup.portableHashedTokenSet(col("text")).as("_toks"))
          t(s"rep$rep mh tokenize")(ptoks)
          val cached = ptoks.localCheckpoint()
          val withBh = cached.select(col("doc_id"),
            graft.functions.MinHashBands.lcg(col("_toks"), 128, 16).as("_bh"))
          t(s"rep$rep mh signatures")(withBh)
          val bhCached = withBh.localCheckpoint()
          t(s"rep$rep mh candidates")(
            Dedup.candidatePairsFirstBand(bhCached, "doc_id", 100000))
          val cands = Dedup.candidatePairsFirstBand(bhCached, "doc_id", 100000)
            .localCheckpoint()
          t(s"rep$rep mh verify-only")(
            Dedup.jaccardVerifySorted(cands, cached, "doc_id", "_toks")
              .filter(col("jaccard") >= 0.8))
          t(s"rep$rep mh full query")(
            graft.queries.TextPipeline.minhashPairs(spark, dir))
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
      } else if (args.contains("probe")) {
        // doc_cluster_index_probe decomposition: which leg of the probe
        // path (delta-internal PPJoin, candidate generation against the
        // persisted postings, verify, quotient CC) carries the cost?
        val idx = graft.queries.TextPipeline.ensureProbeClusterIndex(spark, dir)
        val incoming = Tables.documents(spark, dir)
          .filter(col("source") === "src19").localCheckpoint()
        // pin the keep-boundary NOW: Dataset.rdd is a lazy val, so reading
        // it inside the cleanup filter would allocate its id AFTER every
        // rep-1 checkpoint RDD, keep them all persisted, and skew reps 2-3
        // with exactly the storage bloat this profiler exists to measure
        val keepId = incoming.rdd.id
        for (rep <- 1 to 3) {
          val incToks = incoming.select(col("doc_id"),
            Dedup.hashedTokenSet(col("text")).as("_toks"))
          t(s"rep$rep probe tokenize")(incToks)
          val cached = incToks.localCheckpoint()
          t(s"rep$rep probe inner-edges")(
            SetSimJoin.jaccardEdges(cached, "doc_id", "_toks", 0.8))
          t(s"rep$rep probe full")(
            graft.operators.ClusterIndex.probe(spark, idx, incoming,
              "doc_id", "text"))
          t(s"rep$rep probe e2e query")(
            graft.queries.TextPipeline.clusterIndexProbe(spark, dir))
          spark.sparkContext.getPersistentRDDs.values
            .filterNot(_.id <= keepId).foreach(_.unpersist(true))
        }
      } else {
        for (rep <- 1 to 3) {
          t(s"rep$rep minhashNearDups")(Dedup.minhashNearDups(docs, "doc_id", "text"))
          t(s"rep$rep jaccardSelfJoin") {
            val toks = docs.select(col("doc_id"), Dedup.hashedTokenSet(col("text")).as("toks"))
            SetSimJoin.jaccardSelfJoin(toks, "doc_id", "toks", 0.8)
          }
          t(s"rep$rep simhashNearDups")(Dedup.simhashNearDups(docs, "doc_id", "text"))
        }
      }
    }
    Phases.lines(phases).foreach(l => println(s"[profile] $l"))
    spark.stop()
  }
}
