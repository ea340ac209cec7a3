package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Schema-pinned parquet readers for the driver fixtures (see FIXTURES.md).
  *
  * The reference repo (/root/reference/README.md:1) declares a telecom
  * ETL-pipeline domain but ships no code or data; the capability surface we
  * implement is SURVEY.md §2 over the driver-provided TPC-H-ish star schema
  * plus `events` / `documents` / `embeddings`.
  *
  * Scale posture: every reader is a plain parquet scan — Catalyst pushes
  * filters/column pruning into the vectorized reader, so callers should
  * `.select`/`.where` on the returned frame rather than materialize it.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The footer schema of a fixture file, inferred ONCE per JVM: a read
    * without a schema runs a Spark schema-inference job on every call.
    * Keyed by the file's length and mtime (a regenerated fixture is
    * re-inferred) and by the nanos-as-long setting (it changes the
    * inferred type of a TIMESTAMP(NANOS) column). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, String), StructType]

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    val key = (path, st.getLen, st.getModificationTime, spark.conf.get(NanosAsLong, "false"))
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** `events.ts` has shipped as two physical layouts across fixture
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to read as
    * a timestamp — the legacy conf surfaces it as raw nanos) and plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Normalize BOTH to session-UTC TimestampType micros:
    * nanos floor-divide to µs — exactly DuckDB's ns→µs truncation, integer
    * `div` (not `/`) because ns-since-epoch exceeds 2^53 — and NTZ casts
    * value-preserving under the pinned UTC session timezone. Every
    * downstream operator and oracle sees the same instants either way. */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val tsType = eventsTsType(spark, sfDir) // sets nanos-as-long first
    normalizeTs(table(spark, sfDir, "events"), tsType, sfDir)
  }

  /** The fixture's physical ts type, read off the cached footer schema
    * (the streaming reader needs it for its explicit schema). Sets the
    * nanos-as-long reading the events readers rely on. */
  def eventsTsType(s: SparkSession, d: String): DataType = {
    s.conf.set(NanosAsLong, "true")
    schemaOf(s, s"$d/events.parquet")("ts").dataType
  }

  /** events.ts has shipped as INT64 TIMESTAMP(NANOS) or TIMESTAMP(MICROS)
    * NTZ across fixture generations — ONE normalization to session-UTC
    * TimestampType shared by the batch and stream readers (they
    * previously carried verbatim copies that could drift). */
  def normalizeTs(df: DataFrame,
      tsType: org.apache.spark.sql.types.DataType, at: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case dt => throw new IllegalStateException(
        s"events.ts read as unsupported type $dt at $at")
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
