package graft

/** Dev tool: sweep every SparkEntry query's physical plan for the two
  * anti-patterns that kill 100 TB plans — CartesianProduct and
  * single-partition exchanges — and print offenders with context.
  * `runMain graft.PlanAudit <sfDir>` */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession(Some(8), logLevel = "ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct")
        val single = p.contains("Exchange SinglePartition")
        if (cart || single)
          println(s"[planaudit] $name cartesian=$cart singlePartition=$single")
      } catch {
        case e: Throwable => println(s"[planaudit] $name ERROR ${e.getMessage}")
      }
    }
    println("[planaudit] done")
    spark.stop()
  }
}
