package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 layer 4 — streaming semantics: the late-data harness drops
  * exactly the planted late row, and AvailableNow streaming keys equal
  * their batch formulations. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("stream_late_data drops exactly the planted late row") {
    val rows = SparkEntry.queries("stream_late_data")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 08:00 window: rows 1,2 (the 07:30 late row never lands — no 07:00
    // window exists at all); 10:00 window: rows 3,5.
    assert(rows == Seq((1704096000L, 2L), (1704103200L, 2L)), rows.toString)
  }

  test("stream_tumbling equals the batch formulation") {
    val streamed = SparkEntry.queries("stream_tumbling")(spark, sf001).collect().toSeq
    val ev = graft.util.Tables.events(spark, sf001)
    val batch = ev
      .groupBy((floor(col("ts").cast("timestamp").cast("long") / 3600) * 3600)
          .cast("long").as("ws_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_val"))
      .orderBy(col("ws_epoch"), col("event_type"))
      .collect().toSeq
    assert(streamed == batch)
  }

  test("stream_dedup equals batch distinct") {
    val streamed = SparkEntry.queries("stream_dedup")(spark, sf001).count()
    val batch = graft.util.Tables.events(spark, sf001).select("event_id").distinct().count()
    assert(streamed == batch)
  }

  test("transformWithState and mapGroupsWithState stateful counts agree") {
    val tws = SparkEntry.queries("stream_stateful_count")(spark, sf001).collect()
    val mgs = SparkEntry.queries("stream_stateful_count_mgs")(spark, sf001).collect()
    assert(tws.nonEmpty)
    assert(tws.map(_.toSeq).toSeq == mgs.map(_.toSeq).toSeq)
  }

  test("RocksDB state survives a checkpoint restart") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.ops.Streaming.{SEvent, UserRunningAgg}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = tmp("graft_ckpt")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[SEvent]
      val agg = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new UserRunningAgg(), TimeMode.None(),
          OutputMode.Update())
      // memory sinks refuse checkpoint recovery; foreachBatch supports it
      // (and runs on the driver, so the buffer is plain local state).
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
      def run(): Set[(Long, Long, Long)] = {
        buf.clear()
        val q = agg.toDF().writeStream.outputMode(OutputMode.Update())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              buf.add((r.getLong(0), r.getLong(1), r.getLong(2))))
          }
          .option("checkpointLocation", ckpt).start()
        q.processAllAvailable(); q.stop(); q.awaitTermination()
        buf.iterator().asScala.toSet
      }
      ms.addData(SEvent(1, 10, 5), SEvent(2, 10, 7), SEvent(3, 20, 100))
      val r1 = run()
      assert(r1 == Set((10L, 2L, 12L), (20L, 1L, 100L)), r1.toString)
      // STOP, then a brand-new query resumes from the SAME checkpoint: the
      // second batch must see the RocksDB state written by the first query.
      ms.addData(SEvent(4, 10, 11))
      val r2 = run()
      // user 10: 3 events / 23 cents TOTAL — n and sum include the two
      // pre-restart rows, which only restored state can supply. user 20
      // saw no new rows, so the restarted query emits nothing for it.
      assert(r2 == Set((10L, 3L, 23L)), r2.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }

  test("value-state TTL expires idle state between batches") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.ops.Streaming.{SEvent, UserRunningAggTtl}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(provKey)
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // without this, TTL + ProcessingTime reports shouldRunAnotherBatch =
    // true on every batch and NO trigger ever terminates (AvailableNow
    // included — it schedules empty eviction batches forever)
    spark.conf.set(ndKey, "false")
    try {
      val ms = MemoryStream[SEvent]
      // 5 s TTL (ADVICE r5): a 100 ms TTL assumed the first run's two
      // events land within one state read/write window — on a loaded host
      // a >100 ms stall inside that run observed premature expiry. The
      // wide margin (5 s TTL, 6.5 s sleep) makes both directions robust.
      val out = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new UserRunningAggTtl(5000L),
          TimeMode.ProcessingTime(), OutputMode.Update())
      // two AvailableNow runs over a shared checkpoint (not
      // processAllAvailable on a continuous trigger, which never quiesces
      // here) — this also proves the stronger property that expiry holds
      // across a query restart.
      val ckpt = tmp("graft_ttl")
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
      def run(): Set[(Long, Long, Long)] = {
        buf.clear()
        val q = out.toDF().writeStream.outputMode(OutputMode.Update())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r =>
              buf.add((r.getLong(0), r.getLong(1), r.getLong(2))))
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        buf.iterator().asScala.toSet
      }
      ms.addData(SEvent(1, 7, 100), SEvent(2, 7, 50))
      val r1 = run()
      assert(r1 == Set((7L, 2L, 150L)), r1.toString)
      // sleep far past the 5 s TTL: the second run's processing time
      // is beyond the expiry, so the state MUST read as absent and the
      // aggregate restarts at zero — a TTL-free processor would emit
      // (7, 3, 175) here (exactly what the restart test above shows for
      // UserRunningAgg); the restart-at-zero is the TTL's observable
      // effect.
      Thread.sleep(6500L)
      ms.addData(SEvent(3, 7, 25))
      val r2 = run()
      assert(r2 == Set((7L, 1L, 25L)), r2.toString)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
      prevNd match {
        case Some(v) => spark.conf.set(ndKey, v)
        case None    => spark.conf.unset(ndKey)
      }
    }
  }

  test("event-time timers close idle keys and clear their state") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.ops.Streaming.{CountUntilIdle, TimedEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val ms = MemoryStream[TimedEvent]
      val out = ms.toDS().withWatermark("ts", "0 seconds")
        .groupByKey(_.user_id)
        .transformWithState(new CountUntilIdle(), TimeMode.EventTime(),
          OutputMode.Update())
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]
      val q = out.toDF().writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r =>
            buf.add((r.getLong(0), r.getLong(1), r.getInt(2))))
        }.start()
      def snap = buf.iterator().asScala.toSet
      ms.addData(TimedEvent(10, t("2024-01-01 10:00:00")),
        TimedEvent(10, t("2024-01-01 10:00:01")),
        TimedEvent(20, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(snap == Set((10L, 2L, 0), (20L, 1L, 0)), snap.toString)
      // batch 2 (other key) advances the watermark to 10:01:00 post-batch;
      // the follow-up NO-DATA micro-batch (noDataMicroBatches, on by
      // default) then runs at the new watermark and fires both idle timers
      // (10:00:11 / 10:00:10): one final closed row each, state cleared
      ms.addData(TimedEvent(30, t("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val closed = snap.filter(_._3 == 1)
      assert(closed == Set((10L, 2L, 1), (20L, 1L, 1)), snap.toString)
      // the cleared key returns: its count restarts from zero — the state
      // really was dropped, not just muted
      ms.addData(TimedEvent(10, t("2024-01-01 10:01:06")))
      q.processAllAvailable()
      assert(snap.contains((10L, 1L, 0)), snap.toString)
      q.stop(); q.awaitTermination()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None    => spark.conf.unset(provKey)
    }
  }
}
