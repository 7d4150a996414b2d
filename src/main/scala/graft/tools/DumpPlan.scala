package graft.tools

/** Dev tool: print a registry query's optimized and executed plans
  * plus operator counts, built in `GraftSession.local(8)`. Usage:
  *   sbt 'runMain graft.tools.DumpPlan <queryName> <sfDir> [noexec]'
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    val df = graft.queries.Registry.queries(args(0))(spark, args(1))
    println("=== OPTIMIZED ===")
    println(df.queryExecution.optimizedPlan.treeString.take(12000))
    // the physical tree is where subplan duplication is adjudicated:
    // identical branches up to an Exchange collapse to ReusedExchange,
    // branches that diverge below it really do run twice (the t16
    // double-tokenization class)
    println("=== EXECUTED ===")
    val executed = df.queryExecution.executedPlan.toString
    println(executed.take(60000))
    def n(pat: String) = pat.r.findAllIn(executed).size
    println(s"Exchange=${n("Exchange")} SMJ=${n("SortMergeJoin")} " +
      s"BHJ=${n("BroadcastHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
      s"Cartesian=${n("CartesianProduct")} Window=${n("Window")} " +
      s"scans=${n("Scan parquet")} WSCG=${n("WholeStageCodegen")}")
    // under AQE, exchange/stage reuse is decided at RUNTIME — the
    // static tree above shows duplicated subtrees even when AQE will
    // dedupe them. Execute, then print the final adaptive plan: real
    // duplication survives here; reused stages print as ReusedQueryStage
    // (pass `noexec` as a third arg to skip for expensive queries).
    if (args.length < 3 || args(2) != "noexec") {
      df.queryExecution.toRdd.count(): Unit
      println("=== FINAL (post-execution) ===")
      // an executed AdaptiveSparkPlan prints BOTH '== Final Plan =='
      // and '== Initial Plan ==' sections; the Initial section shows
      // pre-AQE duplicated subtrees that never ran — cut it, it reads
      // as phantom duplication
      val t = df.queryExecution.executedPlan.treeString
      val cut = t.indexOf("== Initial Plan ==")
      println((if (cut >= 0) t.substring(0, cut) else t).take(60000))
    }
    spark.stop()
  }
}
