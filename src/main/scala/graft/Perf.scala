package graft

import org.apache.spark.sql.DataFrame

/** Dev perf tool. For each query it prints, as markdown: the seconds spent
  * building the DataFrame (eager jobs a query runs while it is being
  * constructed land here, not in the action), the seconds spent in the
  * action, and the finalized post-AQE physical plan.
  * `runMain graft.Perf <sfDir> [query ...]` (every query when none named).
  */
object Perf {

  /** Run `df`'s own plan to completion and return its finalized physical
    * plan. `count()` would execute a derived plan and leave this one at
    * isFinalPlan=false.
    */
  def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Perf <sfDir> [query ...]")
    val sfDir = args.head
    val names =
      if (args.length > 1) args.toSeq.drop(1) else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    names.foreach { name =>
      println(s"\n## $name\n")
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val build = secs(t0)
        val t1 = System.nanoTime()
        val plan = finalPlan(df)
        println(f"build $build%.3f s, action ${secs(t1)}%.3f s\n\n```\n$plan\n```")
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
