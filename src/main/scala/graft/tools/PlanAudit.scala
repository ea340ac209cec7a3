package graft.tools

/** Prints the formatted physical plan of the given SparkEntry keys —
  * the round-checklist audit surface ("is this the plan you'd want at
  * 100×": pushdown reached the scan, dims broadcast, codegen fused).
  *
  *   sbt "runMain graft.tools.PlanAudit <sfDir> <key>[,key...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = graft.SparkEntry.select(Some(args(1)))
    // the env-driven width of Bench and KeyProf, so width-sensitive plan
    // evidence (r19 dataWidth caps vs the session shuffle width) is
    // visible at the bench's width
    val spark = graft.util.Session()
    keys.foreach { case (k, fn) =>
      println(s"========== $k ==========")
      println(fn(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
