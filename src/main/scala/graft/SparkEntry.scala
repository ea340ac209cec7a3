package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query keys are SURVEY.md §2's operator inventory; each has a DuckDB
  * oracle in [[oracleSql]] unless sanctioned no-oracle (rule D5). */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.joinBroadcast(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each key
    * first installs [[plans.GraftExtensions]] in the session it is
    * given, so a session built elsewhere runs it like an in-repo one. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ops.Relational.queries ++ ops.Windows.queries ++ ops.Scalars.queries ++
      ops.Etl.queries ++ ops.Text.queries ++ ops.Dedup.queries ++
      ops.Vectors.queries ++ ops.Extensions.queries ++ ops.Multimodal.queries ++
      ops.Streaming.queries ++ ops.Sql.queries ++ ops.Pipeline.queries ++
      ops.Scale.queries ++ ops.Geo.queries).map { case (name, fn) =>
      name -> { (spark: SparkSession, sf: String) =>
        plans.GraftExtensions.install(spark)
        fn(spark, sf)
      }
    }

  /** The keys a run asks for: every key, by name, when `names` is None;
    * else the comma-separated names in their order. An unknown name
    * fails the run and is named, so a typo never selects nothing. */
  def select(names: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    names.fold(all.toSeq.sortBy(_._1)) { list =>
      val want = list.split(",", -1).map(_.trim).distinct.toSeq
      val unknown = want.filterNot(all.contains)
      require(unknown.isEmpty,
        s"unknown SparkEntry.queries key(s): ${unknown.map("'" + _ + "'").mkString(", ")}")
      want.map(k => k -> all(k))
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.Windows.oracle ++ ops.Scalars.oracle ++
      ops.Etl.oracle ++ ops.Text.oracle ++ ops.Dedup.oracle ++
      ops.Vectors.oracle ++ ops.Extensions.oracle ++ ops.Multimodal.oracle ++
      ops.Streaming.oracle ++ ops.Sql.oracle ++ ops.Pipeline.oracle ++
      ops.Scale.oracle ++ ops.Geo.oracle
}
