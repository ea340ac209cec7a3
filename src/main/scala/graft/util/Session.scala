package graft.util

import org.apache.spark.sql.SparkSession

/** The one recipe for an in-repo SparkSession (the mains, the tools and
  * the specs): `local[width]` with as many shuffle partitions, UTC, no
  * UI, the warehouse under [[Scratch.root]], one log level, and
  * everything [[graft.plans.GraftExtensions]] declares installed. The
  * mains and tools take the width from `SPARK_GRAFT_CPUS`, else 4. */
object Session {
  def apply(width: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$width]")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${Scratch.root}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
