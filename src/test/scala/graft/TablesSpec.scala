package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Tables

/** The fixture readers are schema-pinned: each file's footer schema is
  * inferred once per JVM, equals a plain inference, and a repeated read
  * starts no Spark job. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every sf0.01 fixture schema equals a plain inference, and a repeated read starts no job") {
    // the events readers read TIMESTAMP(NANOS) as raw longs; infer alike
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names.foreach { n =>
      val pinned = Tables.table(spark, sf01, n).schema
      assert(pinned == spark.read.parquet(s"$sf01/$n.parquet").schema, n)
      var again: org.apache.spark.sql.types.StructType = null
      assert(jobsOf { again = Tables.table(spark, sf01, n).schema } == 0,
        s"second read of $n started a job")
      assert(again == pinned, n)
    }
    // the plain read above does start the inference job the cache saves
    assert(jobsOf(spark.read.parquet(s"$sf01/region.parquet")) > 0)
  }

  test("a regenerated fixture is re-inferred") {
    import spark.implicits._
    val dir = tmp("tables_spec")
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    Thread.sleep(20) // a distinct mtime even on a coarse clock
    Seq("x").toDF("b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("b"))
    assert(Tables.table(spark, dir, "t").collect().map(_.getString(0)).toSeq == Seq("x"))
  }
}
