package graft

/** Dev-loop single-query runner: time one named SparkEntry query (or a
  * comma list) under the same session config as Bench, without paying
  * for the other ~95. `runMain graft.RunQuery <sfDir> <name[,name...]>
  * [--explain | --explain-only] [--jobs]`. Each query runs twice; the
  * second (warm) time is the comparable number, and the warm run's
  * phases ([[Phases]]) print one line each, indented by depth.
  * `--jobs` also prints a per-Spark-job wall/desc table for the warm
  * run — the "is this wall Spark work or driver-side gaps" attribution
  * question the maintenance rows need. `--explain-only` prints each
  * row's formatted plan without running it. */
object RunQuery {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val explainOnly = args.contains("--explain-only")
    val explain = args.contains("--explain") || explainOnly
    val jobs = args.contains("--jobs")
    val spark = GraftSession(Some(32))
    val jl = new WorkListener
    if (jobs) spark.sparkContext.addSparkListener(jl)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) {
        println(s"== [explain] $name ==")
        fn(spark, sfDir).explain("formatted")
      }
      if (!explainOnly) (1 to 2).foreach { i =>
        jl.reset()
        jl.recordJobs = jobs && i == 2
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (n, phases) = Phases.record(fn(spark, sfDir).count())
        val s = (System.nanoTime() - t0) / 1e9
        if (jl.recordJobs) {
          Thread.sleep(300) // let the listener bus drain the last job-end
          import scala.jdk.CollectionConverters._
          val rs = jl.jobs.asScala.toSeq.sortBy(_._2)
          var prevEnd = wall0
          rs.foreach { case (id, st, en, desc) =>
            println(f"[job] #$id%-4d wall=${(en - st) / 1e3}%7.3fs " +
              f"gapBefore=${math.max(0L, st - prevEnd) / 1e3}%6.3fs  " +
              desc.take(110))
            prevEnd = math.max(prevEnd, en)
          }
          val jobWall = rs.map(r => r._3 - r._2).sum / 1e3
          println(f"[jobs] $name n=${rs.size} sumJobWall=$jobWall%.3fs " +
            f"queryWall=$s%.3fs driverGap=${s - jobWall}%.3fs " +
            "(jobs overlap, so sum can exceed wall)")
        }
        if (i == 2) Phases.lines(phases).foreach(l => println(s"[phase] $l"))
        println(f"[runquery] $name run$i rows=$n $s%.3f s")
      }
    }
    spark.stop()
  }
}
