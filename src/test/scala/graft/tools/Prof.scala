package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: plan inspection + steady-state timing for selected queries.
  * `Test/runMain graft.tools.Prof [queryName ...]` — prints formatted plans and 3 timed runs.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftCli.session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_filter_project", "q5_join_broadcast")
    for (q <- names) {
      println(s"===== $q plan =====")
      println(graft.SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // time construction + execution together: eager steps (localCheckpoint,
      // iterative loops) run at construction, exactly as Bench measures them
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"[prof] $q run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
