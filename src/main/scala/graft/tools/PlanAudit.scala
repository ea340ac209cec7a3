package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints the formatted physical plan of the given SparkEntry keys —
  * the round-checklist audit surface ("is this the plan you'd want at
  * 100×": pushdown reached the scan, dims broadcast, codegen fused).
  *
  *   sbt "runMain graft.tools.PlanAudit <sfDir> <key>[,key...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",")
    // same env-driven session shape as Bench/KeyProf (default stays the
    // historical local[4]) so width-sensitive plan evidence (r19 dataWidth
    // caps vs the session shuffle width) is visible at the bench's width
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${graft.util.Scratch.root}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      println(s"========== $k ==========")
      println(graft.SparkEntry.queries(k)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
