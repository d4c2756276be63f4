package graft

import org.apache.spark.sql.functions._

/** The key-route comparison behind the `graft.delete.broadcastKeys`
  * default: for each count in `keys`, one
  * [[graft.operators.TargetedDelete.delete]] of that many distinct victim
  * ids (every `rows / count`-th id) from a `rows`-row lake in `parts`
  * partitions, timed through the key-set route (bound = count) and the
  * shuffle-join route (bound = count - 1), on a fresh copy of the lake
  * each run, the two routes alternating. Every run checks that exactly
  * the victims went.
  *
  * {{{
  * sbt "Test/runMain graft.DeleteRouteProfile <workDir> [rows] [parts] [keys,...] [rounds]"
  * }}}
  * Defaults: 6,000,000 rows, 30 partitions, 1,000,000 keys, 2 rounds. */
object DeleteRouteProfile {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val rows = args.lift(1).map(_.toLong).getOrElse(6000000L)
    val parts = args.lift(2).map(_.toInt).getOrElse(30)
    val counts = args.lift(3).map(_.split(",").map(_.toLong).toSeq).getOrElse(Seq(1000000L))
    val rounds = args.lift(4).map(_.toInt).getOrElse(2)
    val spark = GraftSession(Some(4))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val base = new org.apache.hadoop.fs.Path(s"$work/base")
    spark.range(rows).select(col("id").as("event_id"),
        concat(lit("u"), (col("id") % 100000L).cast("string")).as("user"),
        (col("id") % parts.toLong).as("day"))
      .write.partitionBy("day").parquet(base.toString)
    for (keys <- counts) {
      val step = rows / keys
      val victims = spark.range(0L, keys * step, step).select(col("id").as("event_id"))
        .localCheckpoint()
      val routes = Seq("set" -> keys, "join" -> (keys - 1L))
      val times = (1 to rounds).flatMap { round =>
        (if (round % 2 == 1) routes else routes.reverse).map { case (route, bound) =>
          val lake = new org.apache.hadoop.fs.Path(s"$work/lake_$route")
          fs.delete(lake, true)
          org.apache.hadoop.fs.FileUtil.copy(fs, base, fs, lake, false, conf)
          System.setProperty("graft.delete.broadcastKeys", bound.toString)
          val t0 = System.nanoTime()
          val n = try graft.operators.TargetedDelete.delete(spark, lake.toString,
            Seq("day"), "event_id", victims)
          finally System.clearProperty("graft.delete.broadcastKeys")
          val secs = (System.nanoTime() - t0) / 1e9
          val left = spark.read.parquet(lake.toString)
          val nLeft = left.count()
          val nVictimsLeft = left.filter(col("event_id") % step === 0L &&
            col("event_id") < keys * step).count()
          require(nLeft == rows - keys && nVictimsLeft == 0L,
            s"$route route: $nLeft rows left, $nVictimsLeft victims")
          println(f"[route] keys $keys round $round $route%-4s partitions $n%3d wall $secs%.2f s")
          route -> secs
        }
      }
      times.groupBy(_._1).foreach { case (route, ts) =>
        println(f"[route] keys $keys $route%-4s min ${ts.map(_._2).min}%.2f s over ${ts.size} runs")
      }
    }
    spark.stop()
  }
}
