package graft

import org.apache.spark.sql.functions._

/** Takedown-under-ingest pause measurement (VERDICT r12 item 5): the
  * `remove` lease is globally exclusive, so a takedown PAUSES every
  * ingest append on that index for its full wall time — this harness
  * measures that pause at fixture scale, for the physical remove() and
  * for the r13 logical fast path, against the undisturbed append
  * latency baseline.
  *
  * Method: snapshot the persisted cluster index, start the takedown on
  * a second thread, and from the moment it starts hammer appends of a
  * small fresh-id delta with a 250 ms retry on LeaseConflictException;
  * the reported pause is takedown-start -> first append COMMIT (so it
  * includes the blocked append's own run time — what a streaming
  * micro-batch actually experiences).
  *
  * `Test/runMain graft.TakedownIngestProfile /tmp/sf1` — CSV on stdout,
  * rows land in SCALING.md.
  */
object TakedownIngestProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val spark = GraftSession(Some(32), logLevel = "ERROR")
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val base = graft.queries.TextPipeline.ensureClusterIndex(spark, dir)
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    // 0.1% victim fraction — the RemoveProfile sweep's mid point
    val victims = docs.orderBy(xxhash64(col("doc_id"))).limit(50).localCheckpoint()
    val tmp = System.getProperty("java.io.tmpdir")

    def snapshot(tag: String): String = {
      val scratch = s"$tmp/graft_tkingest/$tag"
      val fs = new org.apache.hadoop.fs.Path(scratch).getFileSystem(conf)
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(base),
        fs, new org.apache.hadoop.fs.Path(scratch), false, conf)
      scratch
    }
    // each append ingests 50 FRESH ids (ingest-batch-sized)
    var nextId = 10000000L
    def delta(): org.apache.spark.sql.DataFrame = {
      val b = (nextId until nextId + 50)
        .map(i => (i, s"novel ingest doc $i " + (0 until 40).map(j => s"iw${i}_$j").mkString(" ")))
      nextId += 50
      b.toDF("doc_id", "text")
    }
    def appendOnceWithRetry(idx: String, tag: String): (Double, Int) = {
      val d = delta().localCheckpoint()
      val t0 = System.nanoTime()
      var retries = 0
      var done = false
      while (!done) {
        try { graft.operators.ClusterIndex.append(d, "doc_id", "text", idx, tag); done = true }
        catch {
          case _: graft.operators.IndexMaintenance.LeaseConflictException =>
            retries += 1; Thread.sleep(250L)
        }
      }
      ((System.nanoTime() - t0) / 1e9, retries)
    }

    println("scenario,pause_s,retries")
    // baseline: undisturbed append latency (3 samples on one snapshot)
    val sBase = snapshot("base")
    (1 to 3).foreach { i =>
      val (w, r) = appendOnceWithRetry(sBase, s"b$i")
      println(f"baseline,$w%.2f,$r")
    }
    // takedown-under-ingest: physical vs logical operator calls, plus
    // the STREAMING takedown loop's full micro-batch over the cluster
    // feed (victim resolve + content tombstones + manifest +
    // logicalRemove + feed scrub + agreement check + marker) — what a
    // production takedown queue actually costs the ingest side
    val lake = s"$tmp/graft_tkingest/lake_stream"
    for (mode <- Seq("physical", "logical", "streaming")) {
      val idx = snapshot(mode)
      if (mode == "streaming") { // stale purge state would replay old victims
        val lp = new org.apache.hadoop.fs.Path(lake)
        lp.getFileSystem(conf).delete(lp, true)
        victims.write.parquet(s"$lake/batch=0") // the feed's rows of record
      }
      val started = new java.util.concurrent.CountDownLatch(1)
      val tk = new Thread(() => {
        started.countDown()
        mode match {
          case "physical" =>
            graft.operators.ClusterIndex.remove(victims, "doc_id", "text", idx, tag = "tk")
          case "logical" =>
            graft.operators.ClusterIndex.logicalRemove(victims, "doc_id", "text", idx, tag = "tk")
          case _ =>
            // the loop's index leg does pre-lease work (victim resolve,
            // tombstones, manifest), so a hammering ingest can win the
            // lease first — the batch then fails with the TYPED refusal
            // (tombstones rolled back) and the stream replays it, which
            // is exactly what this retry models
            val t = graft.operators.RtbfTargets(lakeDir = lake,
              lakePartitionCols = Seq("batch"), clusterIndex = Some(idx))
            var done = false
            while (!done) {
              try {
                graft.streaming.S4Stream.processRtbfPurgeBatch(
                  victims.select(col("doc_id")), 0L, t, runKey = "prof",
                  logical = true)
                done = true
              } catch {
                case _: graft.operators.IndexMaintenance.LeaseConflictException =>
                  Thread.sleep(250L)
              }
            }
        }
      })
      tk.start()
      started.await()
      Thread.sleep(500L) // let the takedown actually take the lease
      val (w, r) = appendOnceWithRetry(idx, "during")
      tk.join()
      println(f"$mode%s,$w%.2f,$r")
    }
    spark.stop()
  }
}
