package graft.tools

/** Ad-hoc plan auditor: run any registered queries and print the executed
  * plan's load-bearing shape — exchange count/kinds, parquet scans (with
  * pushed filters visible), codegen span count, and any nested-loop or
  * cartesian fallback. Usage:
  * `runMain graft.tools.PlanAudit <sfDir> <queryName>...` */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.engine.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { q =>
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val ex = ("Exchange hashpartitioning|Exchange rangepartitioning|" +
        "Exchange SinglePartition").r
      println("exchanges: " + ex.findAllIn(plan).toSeq.groupBy(identity)
        .map { case (k, v) => s"$k x${v.size}" }.mkString("; "))
      println("scans:\n  " + "FileScan parquet [^\\n]*".r.findAllIn(plan)
        .map(_.take(110)).mkString("\n  "))
      println("codegen spans: " +
        "\\*\\(\\d+\\)".r.findAllIn(plan).map(_.toString).toSet.size +
        ", BNLJ/cartesian: " +
        "BroadcastNestedLoop|CartesianProduct".r.findAllIn(plan).size)
    }
    spark.stop()
  }
}
