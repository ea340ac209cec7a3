package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-surface capabilities beyond the oracle contract: optimizer-rule
  * injection, CSV/JSON sources, and bucketed (shuffle-free) joins — the
  * co-location story that matters at 100 TB. */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  // ----------------------------------------------- custom optimizer rule

  test("FoldIdempotent rule rewrites upper(upper(x)) -> upper(x)") {
    val df = graft.util.Tables.customer(spark, sf001)
      .select(upper(upper(col("c_name"))).as("u"),
        abs(abs(col("c_acctbal"))).as("a"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("upper(upper"), optimized)
    assert(!optimized.contains("abs(abs"), optimized)
    // and semantics are unchanged
    val expected = graft.util.Tables.customer(spark, sf001)
      .select(upper(col("c_name")).as("u"), abs(col("c_acctbal")).as("a"))
    assert(df.collect().toSeq == expected.collect().toSeq)
  }

  // ----------------------------------------------------- CSV/JSON sources

  test("CSV source roundtrip preserves rows (explicit schema, header)") {
    val tmp = TestSpark.tmp("graft_csv")
    val src = graft.util.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/orders_csv")
    val back = spark.read.schema(src.schema).option("header", "true")
      .csv(s"$tmp/orders_csv")
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0) ==
      src.agg(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("JSON-lines source roundtrip preserves rows") {
    val tmp = TestSpark.tmp("graft_json")
    val src = graft.util.Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    src.write.mode("overwrite").json(s"$tmp/cust_json")
    val back = spark.read.schema(src.schema).json(s"$tmp/cust_json")
    assert(back.count() == src.count())
    assert(back.select(col("c_name")).except(src.select(col("c_name"))).count() == 0)
  }

  // ------------------------------------------------------- skew salting

  test("saltedJoin equals the plain join on a skewed key distribution") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // 90% of left rows hit one hot key
    val left = Seq.tabulate(20000)(i =>
      (if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(100).toLong, i)).toDF("k", "v")
    val right = Seq.tabulate(100)(i => (i.toLong, s"dim_$i")).toDF("rk", "name")
    val plain = left.join(right, col("k") === col("rk"))
      .select(col("k"), col("v"), col("name"))
    val salted = graft.util.Skew.saltedJoin(left, right, "k", "rk", 8)
      .select(col("k"), col("v"), col("name"))
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  // ------------------------------------------------- partition pruning

  test("hive-style partitioned writes prune partitions on read") {
    val tmp = TestSpark.tmp("graft_part")
    val src = graft.util.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(s"$tmp/orders_part")
    val pruned = spark.read.parquet(s"$tmp/orders_part")
      .where(col("o_orderstatus") === "O")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      plan)
    assert(pruned.count() == src.where(col("o_orderstatus") === "O").count())
  }

  // ------------------------------------------- bucketed co-located joins

  test("bucketed tables join without a shuffle exchange") {
    val o = graft.util.Tables.orders(spark, sf001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = graft.util.Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_mktsegment"))
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == o.join(c, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
