package graft

import org.apache.spark.sql.functions._

/** One-off leg profiler for doc_cluster_index_remove (r11 tuning), plus
  * the victim-fraction COST CURVE (r12: `RemoveProfile <dir> sweep`):
  * remove() wall time at 0.01% / 0.1% / 1% / 10% victims, each fraction
  * A/B'd between the small-set fast path (collected-literal prunes +
  * broadcast semi-joins) and the mass-victim join path (forced via
  * graft.delete.broadcastKeys=1) — the SCALING.md evidence that the
  * takedown primitive's cost is driven by affected-component fan-out,
  * and where the two victim-handling shapes cross. */
object RemoveProfile {
  def main(args: Array[String]): Unit = {
    if (args.length > 1 && args(1) == "sweep") return sweep(args(0))
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(Some(32))
    (1 to 2).foreach { round =>
      println(s"=== round $round ===")
      val (_, phases) = Phases.record {
        val conf = spark.sparkContext.hadoopConfiguration
        val base = Phases.time("ensure_base") { graft.queries.TextPipeline.ensureClusterIndex(spark, dir) }
        val key = graft.Tables.fixtureKey(dir)
        val tmp = System.getProperty("java.io.tmpdir")
        val scratch = s"$tmp/graft_clusteridx_rm/$key"
        Phases.time("snapshot_copy") {
          val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
          fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
          org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
            fs, new org.apache.hadoop.fs.Path(scratch), false, conf)
        }
        val lake = s"$tmp/graft_rmlake/$key"
        val docs = graft.Tables.documents(spark, dir)
        Phases.time("lake_write") {
          docs.write.mode("overwrite").partitionBy("source").parquet(lake)
        }
        val victims = Phases.time("victims_pin") {
          docs.filter(col("doc_id") % 37 === 0)
            .select(col("doc_id"), col("text")).localCheckpoint()
        }
        Phases.time("lake_delete") {
          graft.operators.TargetedDelete.delete(spark, lake, Seq("source"),
            "doc_id", victims.select(col("doc_id")))
        }
        Phases.time("index_remove") {
          graft.operators.ClusterIndex.remove(victims, "doc_id", "text",
            scratch, tag = "takedown")
        }
        Phases.time("serve") {
          graft.operators.ClusterIndex.assignments(spark, scratch, "doc_id")
            .join(spark.read.parquet(lake).select(col("doc_id")), Seq("doc_id"), "leftsemi")
            .orderBy(col("doc_id")).count()
        }
      }
      Phases.lines(phases).foreach(l => println(s"[rmprof] $l"))
    }
    spark.stop()
  }

  /** Victim-fraction cost curve (r12): remove() wall time per fraction,
    * fast path vs forced join path, each on a FRESH index snapshot. */
  private def sweep(dir: String): Unit = {
    val spark = GraftSession(Some(32), logLevel = "ERROR")
    val conf = spark.sparkContext.hadoopConfiguration
    val base = graft.queries.TextPipeline.ensureClusterIndex(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    val n = docs.count()
    println(s"[rmsweep] corpus=$n docs, index=$base")
    println("fraction,victims,mode,remove_s")
    val tmp = System.getProperty("java.io.tmpdir")
    // mode "logical" (r13) is the tombstone fast path: its row is the
    // marginal takedown cost (sub-second target), and the paired
    // "reclaim" row is the compact() that physically reclaims —
    // amortized across every takedown since the last compaction
    for (frac <- Seq(0.0001, 0.001, 0.01, 0.1);
         mode <- Seq("fast", "join", "logical")) {
      val k = math.max(1L, (n * frac).toLong).toInt
      // deterministic pseudo-random victim spread across components
      val victims = docs.orderBy(xxhash64(col("doc_id"))).limit(k)
        .localCheckpoint()
      val scratch = s"$tmp/graft_rmsweep/idx"
      val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
        fs, new org.apache.hadoop.fs.Path(scratch), false, conf)
      if (mode == "join") System.setProperty("graft.delete.broadcastKeys", "1")
      else System.clearProperty("graft.delete.broadcastKeys")
      val (_, ph) = Phases.record {
        if (mode == "logical") {
          Phases.time("logical")(graft.operators.ClusterIndex.logicalRemove(
            victims, "doc_id", "text", scratch, tag = s"sw_${frac}_$mode"))
          Phases.time("reclaim")(graft.operators.ClusterIndex.compact(spark, scratch))
        } else Phases.time(mode)(graft.operators.ClusterIndex.remove(
          victims, "doc_id", "text", scratch, tag = s"sw_${frac}_$mode"))
      }
      ph.filter(_._2.depth == 0).foreach { case (m, p) =>
        println(f"$frac%,.4f,$k,$m,${p.seconds}%.2f")
      }
    }
    System.clearProperty("graft.delete.broadcastKeys")
    spark.stop()
  }
}
