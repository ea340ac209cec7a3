package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** Driver-held frames: the small-input finish of the shared kernels
  * (Text.sigsAndSets, Dedup.verifiedCands, Pipeline.starContract) returns
  * its answer as a `LocalRelation`, and a consumer that sees one keeps
  * working on the driver instead of planning Spark jobs over a few
  * thousand rows. The optimizer folds projections and filters over a
  * `LocalRelation` into a new one, so a selection of a local frame is
  * still local. */
object Local {

  /** Row count of `df` when its optimized plan is a `LocalRelation`
    * (no job runs), else None. */
  def size(df: DataFrame): Option[Int] = df.queryExecution.optimizedPlan match {
    case r: LocalRelation => Some(r.data.size)
    case _ => None
  }

  /** The rows of a local `df` (collecting a `LocalRelation` starts no job),
    * else None. */
  def rows(df: DataFrame): Option[Array[Row]] = size(df).map(_ => df.collect())

  /** A driver-held frame over `rows`. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
