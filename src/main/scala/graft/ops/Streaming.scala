package graft.ops

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types._

import graft.util.Confs.withConfs
import graft.util.Determinism._

/** SURVEY.md §2.L — real Structured Streaming over the events table replayed
  * as a stream (file source, `Trigger.AvailableNow`, memory sink), returned
  * as a batch DataFrame. All data is available before the query starts, so
  * results equal batch-window semantics — giving an honest batch-SQL oracle.
  *
  * Output-mode choices are load-bearing for that equivalence: windowed aggs
  * run in COMPLETE mode (append would withhold windows newer than the final
  * watermark), dedup in APPEND (rows emit on first sight), and the stateful
  * op in UPDATE (one state row per key per batch; AvailableNow on a single
  * parquet file = exactly one batch).
  *
  * Scale: state is keyed by (window[, user]) — shuffled, bounded by
  * watermark eviction in a live deployment; nothing driver-side except the
  * MemoryStream late-data harness, which is a test fixture by design.
  */
object Streaming {

  /** events.ts has shipped as INT64 TIMESTAMP(NANOS) or TIMESTAMP(MICROS)
    * NTZ across fixture generations (see util/Tables.eventsRaw). A stream
    * read needs an explicit schema, so probe the batch footer first and
    * pin the matching raw type, then normalize to session-UTC
    * TimestampType exactly like the batch reader. */
  private def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  private def eventsStream(spark: SparkSession, sf: String): DataFrame = {
    // The file stream source wants a directory; expose the single fixture
    // file through a fixed per-(run, sf) scratch dir (symlink — no copy;
    // idempotent across repeated calls, removed at JVM exit).
    val dir = java.nio.file.Paths.get(graft.util.Scratch.dir("stream", sf))
    val link = dir.resolve("events.parquet")
    // ABSOLUTE target (a relative one resolves against the link's parent
    // and dangles); NOFOLLOW existence (a dangling link reads as absent
    // through exists(), which would make every later call throw); and a
    // caught EEXIST (two concurrent stream keys race this check — the
    // loser's link is the same bytes) — round-16b review findings.
    if (!java.nio.file.Files.exists(link,
        java.nio.file.LinkOption.NOFOLLOW_LINKS))
      try java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$sf/events.parquet").toAbsolutePath)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val tsType = graft.util.Tables.eventsTsType(spark, sf) // sets nanos-as-long
    val raw = spark.readStream.schema(rawSchema(tsType)).parquet(dir.toString)
    graft.util.Tables.normalizeTs(raw, tsType, sf)
  }

  /** Pin the stateful-shuffle width while a streaming query runs: Spark
    * materializes one state-store instance per shuffle partition per
    * stateful operator per micro-batch, so at shuffle=32 every streaming
    * key pays 32× store init/commit for fixtures whose whole state fits in
    * one. A live deployment sizes this to key cardinality; these harness
    * queries pin it small. The toggle mutates the SHARED session conf, so
    * the whole set/run/restore is synchronized on the session — concurrent
    * callers (parallel suites, future parallel key execution) serialize
    * here instead of silently running batch work at width 4. */
  private def withStreamShuffle[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> "4")(body)

  /** Run a streaming frame to completion (foreachBatch accumulation with
    * memory-sink semantics), return the result as a batch frame. A round-6
    * measurement found no-data-batch removal a wash under the OLD
    * driver-collect memory sink; re-measured in r19 under the r18
    * foreachBatch drain, the trailing empty batch costs a full re-run of
    * the Complete-mode output scan + localCheckpoint — see the r19 notes
    * inside. */
  private def drain(spark: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    // r18: foreachBatch materializes each micro-batch ON THE EXECUTORS
    // (eager localCheckpoint — the only action, so the batch plan runs
    // once), where the former memory sink collected every batch to the
    // driver and the result then paid a full re-parallelize
    // (spark.table(name).localCheckpoint() — measured as the largest
    // stage of the cheap streaming keys: 5.2 s + 1.6 s task time of
    // stream_session's 9 s total). Complete mode keeps the LAST batch's
    // full result, Append/Update union the per-batch emissions — exactly
    // the memory sink's accumulation semantics. Blocks release with the
    // returned frame via the ContextCleaner, same as before (round-16b
    // review: nothing pins results for the JVM lifetime).
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // r19: two floor cuts, both output-neutral for this harness's shapes:
    //  - checkpoint (offset/commit/state-delta) logs land on the
    //    tmpfs-rooted Scratch instead of a disk-backed temp dir (guide §6
    //    — these are many tiny fsync-ish metadata writes). UNIQUE dir per
    //    invocation: reusing one would make the next run a checkpoint
    //    RESUME that sees no new data and emits nothing.
    //  - the trailing no-data micro-batch is disabled: with AvailableNow
    //    over a single fixture file every operator here emits in its one
    //    data batch (Complete re-emits everything per batch; Append dedup
    //    and inner stream-stream joins emit on sight; Update stateful ops
    //    emit per update) — the extra batch only re-ran the Complete-mode
    //    output scan + localCheckpoint and advanced state eviction that
    //    nothing downstream observes. Measured (KeyProf, 32c):
    //    stream_dedup 1.53→0.96 s, stream_stream_join 2.51→1.6-1.9 s.
    val ck = graft.util.Scratch.dir("drain_ck", "s") +
      "/" + java.util.UUID.randomUUID().toString.take(12)
    withConfs(spark,
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      // pre-merge session rows map-side before the stateful shuffle
      // (engine rewrite, output-identical; only session_window plans read
      // it). Measured: stream_session taskSum 3.1→2.0 s, wall 1.62→1.47 s.
      "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition"
        -> "true") {
      val q = df.writeStream.outputMode(mode)
        .option("checkpointLocation", ck)
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          val snap = b.localCheckpoint()
          buf.synchronized {
            if (mode == OutputMode.Complete()) buf.clear()
            buf += snap
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    buf.synchronized {
      if (buf.isEmpty)
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], df.schema)
      else buf.reduce(_.unionByName(_))
    }
  }

  def streamTumbling(spark: SparkSession, sf: String): DataFrame = {
    val agg = eventsStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("sum_val"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("window.start").cast(TimestampType).cast(LongType).as("ws_epoch"),
        col("event_type"), col("n"), col("sum_val"))
      .orderBy(col("ws_epoch"), col("event_type"))
  }

  def streamSliding(spark: SparkSession, sf: String): DataFrame = {
    val agg = eventsStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("window.start").cast(TimestampType).cast(LongType).as("ws_epoch"),
        col("n"))
      .orderBy(col("ws_epoch"))
  }

  def streamSession(spark: SparkSession, sf: String): DataFrame = {
    val agg = eventsStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    drain(spark, agg, OutputMode.Complete())
      .select(col("user_id"),
        col("session_window.start").cast(TimestampType).cast(LongType).as("first_epoch"),
        (col("session_window.end").cast(TimestampType).cast(LongType) - 1800)
          .as("last_epoch"),
        col("n_events"))
      .orderBy(col("user_id"), col("first_epoch"))
  }

  /** Watermarked streaming dedup over a doubled input stream. */
  def streamDedup(spark: SparkSession, sf: String): DataFrame = {
    val s = eventsStream(spark, sf)
    val dedup = s.unionByName(s)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))
    drain(spark, dedup, OutputMode.Append())
      .orderBy(col("event_id"))
  }

  // public: Janino-generated (de)serializers cannot access private classes
  case class SEvent(event_id: Long, user_id: Long, cents: Long)
  case class UserState(user_id: Long, n_events: Long, sum_cents: Long)
  case class TimedEvent(user_id: Long, ts: java.sql.Timestamp)
  case class ExpiryOut(user_id: Long, n_events: Long, closed: Int)

  /** StatefulProcessor with EVENT-TIME TIMERS — the state-lifecycle pattern
    * that keeps 100 TB streaming state bounded: every batch re-arms an idle
    * timer 10 s past the key's max event time, and when the watermark
    * passes it, [[handleExpiredTimer]] emits one final `closed = 1` row and
    * CLEARS the state — an idle key costs nothing forever after (without
    * this, per-key state grows monotonically with key cardinality).
    * Deterministic by construction: expiry is driven by the event-time
    * watermark, never the wall clock (exercised batch by batch in
    * StreamingSpec). */
  class CountUntilIdle extends StatefulProcessor[Long, TimedEvent, ExpiryOut] {
    @transient private var st: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[TimedEvent],
        tv: TimerValues): Iterator[ExpiryOut] = {
      var n = if (st.exists()) st.get() else 0L
      var maxTs = Long.MinValue
      rows.foreach { r => n += 1; maxTs = math.max(maxTs, r.ts.getTime) }
      st.update(n)
      // re-arm: drop any earlier idle timer, keep exactly one per live
      // key — at the MAX of the old and new expiry. An out-of-order
      // batch (allowed-late rows under the watermark) must never move
      // the timer BACKWARDS: re-arming at its earlier max-ts would fire
      // immediately, emit a spurious close and reset the count
      // (round-16b review).
      val prev = getHandle.listTimers().foldLeft(Long.MinValue)(math.max)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.max(maxTs + 10000L, prev))
      Iterator.single(ExpiryOut(user, n, 0))
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[ExpiryOut] = {
      val n = if (st.exists()) st.get() else 0L
      st.clear()
      Iterator.single(ExpiryOut(user, n, 1))
    }
  }

  /** TTL twin of [[UserRunningAgg]]: identical running aggregate, but the
    * ValueState carries a processing-time TTL — the zero-code state-bound
    * mechanism for keys that never go idle-with-a-timer: state older than
    * the TTL reads as absent and is physically evicted by the store. At
    * 100 TB this is what keeps an unbounded-cardinality keyspace (user
    * ids, session ids) from growing state forever when upstream keys
    * churn. Expiry semantics are proven with a millisecond TTL across two
    * MemoryStream batches in StreamingSpec. */
  class UserRunningAggTtl(ttlMs: Long)
      extends StatefulProcessor[Long, SEvent, UserState] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("agg",
        org.apache.spark.sql.Encoders.product[UserState],
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(user: Long, rows: Iterator[SEvent],
        tv: TimerValues): Iterator[UserState] = {
      // an expired entry reads as absent — the aggregate restarts cleanly
      val prev = if (st.exists()) st.get() else UserState(user, 0L, 0L)
      var n = prev.n_events; var s = prev.sum_cents
      rows.foreach { r => n += 1; s += r.cents }
      val out = UserState(user, n, s)
      st.update(out)
      Iterator.single(out)
    }
  }

  /** StatefulProcessor for [[streamStatefulCount]]: one ValueState row per
    * user holding (n_events, sum_cents), emitted on every update. */
  class UserRunningAgg extends StatefulProcessor[Long, SEvent, UserState] {
    @transient private var st: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserState]("agg",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[SEvent],
        tv: TimerValues): Iterator[UserState] = {
      val prev = if (st.exists()) st.get() else UserState(user, 0L, 0L)
      var n = prev.n_events; var s = prev.sum_cents
      rows.foreach { r => n += 1; s += r.cents }
      val out = UserState(user, n, s)
      st.update(out)
      Iterator.single(out)
    }
  }

  private def typedEvents(spark: SparkSession, sf: String): Dataset[SEvent] = {
    import spark.implicits._
    eventsStream(spark, sf)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).cast(LongType).as("cents"))
      .as[SEvent]
  }

  /** Arbitrary stateful processing: running per-user count + exact cents
    * sum. Round 3: the MAIN path is Spark 4's `transformWithState`
    * (StatefulProcessor + RocksDB state store — the modern arbitrary-state
    * surface SURVEY §2.L names); [[streamStatefulCountMgs]] keeps the
    * `mapGroupsWithState` formulation as the semantics twin asserted
    * result-equal in StreamingSpec. */
  def streamStatefulCount(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val updated = typedEvents(spark, sf).groupByKey(_.user_id)
      .transformWithState(new UserRunningAgg(), TimeMode.None(),
        OutputMode.Update())
    withRocksDb(spark) {
      drain(spark, updated.toDF(), OutputMode.Update())
        .orderBy(col("user_id"))
    }
  }

  /** transformWithState requires the RocksDB state store provider. */
  private def withRocksDb[T](spark: SparkSession)(body: => T): T =
    withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** TTL-STATE variant of [[streamStatefulCount]] — the same running
    * per-user aggregate through [[UserRunningAggTtl]], whose ValueState
    * carries a 1-hour processing-time TTL. TTL requires
    * `TimeMode.ProcessingTime`; with a 1-hour bound nothing can expire
    * inside a single AvailableNow run, so the output is deterministic and
    * fully oracled (identical to the TTL-free aggregate) — the EXPIRY
    * path is wall-clock-dependent by definition and is proven instead in
    * StreamingSpec with a millisecond TTL across two batches. */
  def streamStateTtl(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val updated = typedEvents(spark, sf).groupByKey(_.user_id)
      .transformWithState(new UserRunningAggTtl(3600 * 1000L),
        TimeMode.ProcessingTime(), OutputMode.Update())
    // noDataMicroBatches MUST be off here: in ProcessingTime mode a
    // TTL-bearing operator reports shouldRunAnotherBatch = true on every
    // batch (the clock always advances, expiry work is always possible),
    // so with no-data batches enabled even Trigger.AvailableNow never
    // terminates — it schedules empty eviction batches forever. Expiry
    // itself doesn't need them: state is filtered on READ past its TTL.
    withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      drain(spark, updated.toDF(), OutputMode.Update())
        .orderBy(col("user_id"))
    }
  }

  /** `mapGroupsWithState` twin of [[streamStatefulCount]] (the pre-Spark-4
    * arbitrary-state API), kept as a registered surface with the same
    * oracle. */
  def streamStatefulCountMgs(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val updated = typedEvents(spark, sf).groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SEvent], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r.cents }
          state.update((n, s))
          UserState(user, n, s)
      }
    drain(spark, updated.toDF(), OutputMode.Update())
      .orderBy(col("user_id"))
  }

  /** Stream-stream inner join with event-time bounds: each purchase joined
    * to same-user click events in the preceding 24 h. Both sides carry
    * watermarks and the join condition bounds event time on both, so state
    * is evictable — the required shape for unbounded stream-stream joins.
    * Inner-join matches emit as found; with AvailableNow over one batch the
    * result equals the batch join, giving an honest oracle. */
  def streamStreamJoin(spark: SparkSession, sf: String): DataFrame = {
    val s = eventsStream(spark, sf)
    val p = s.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = s.where(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS") &&
        col("c_ts") < col("p_ts"))
    drain(spark, joined, OutputMode.Append())
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        epochS(col("p_ts")).as("p_epoch"), epochS(col("c_ts")).as("c_epoch"))
      .orderBy(col("p_id"), col("c_id"))
  }

  /** STREAM-STATIC dimension enrichment — the most common production join:
    * a fact stream against a slowly-changing dim table loaded as a plain
    * batch frame. No state store is involved at all (unlike
    * [[streamStreamJoin]]): the static side is simply (re)broadcast into
    * every micro-batch, so the stream side never shuffles and the dim can
    * be swapped between batches. At 100 TB of stream this is a map-side
    * hash join per batch — the shape to reach for before any stateful
    * join. Aggregated per (segment, type) in COMPLETE mode for the batch
    * oracle equivalence. */
  def streamStaticJoin(spark: SparkSession, sf: String): DataFrame = {
    val dim = graft.util.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(spark, sf)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("sum_val"))
    drain(spark, agg, OutputMode.Complete())
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** STREAMING WRITE through the custom V2 sink
    * (graft.sources.GraftSinkStreamingWrite) in the v1 csv line codec:
    * each epoch lands atomically as a table version, which is the
    * idempotent-sink half of exactly-once (checkpointed offsets being the
    * other half; a re-run against the same checkpoint produces no new
    * epochs and the read-back is unchanged). The result is the aggregate
    * of ONLY what the committed versions name, oracled against the plain
    * batch SQL over the same events. */
  def streamSinkCustom(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.util.Scratch.dir("v2ssink", sf)
    val chk = graft.util.Scratch.dir("v2ssink_chk", sf)
    val q = eventsStream(spark, sf)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .writeStream.format("graft-sink")
      // pin the v1 line codec (default is parquet since round 11): this
      // key keeps the csv part format under streaming commits
      .option("format", "csv")
      .option("path", dir).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.format("graft-sink").option("path", dir).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type"))
  }

  /** STREAMING INGEST AS VERSIONED TABLE COMMITS: each micro-batch
    * epoch lands as an ordinary table version (op=STREAM APPEND), so
    * streamed-in rows are immediately time-travelable, CDF-visible, and
    * readable through the SAME manifest-trusting batch path as every
    * other commit — no epoch-glue code at read time, which is the point.
    * Exactly-once across epoch re-delivery and restarts rides the
    * `#txn=<queryId>:<epoch>` watermark (the Delta SetTransaction design
    * re-derived; SourceSpec re-delivers an epoch and proves one version).
    * The fixture drains the events stream once, RESTARTS the query from
    * its checkpoint (no new data → REQUIREd no new version — restart
    * safety), and reads the table back both directly and as a change
    * feed from 0 (all rows must surface as 'insert'). The oracle is the
    * same aggregate computed from events. */
  def streamSinkVersioned(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.util.Scratch.dir("vsink", sf)
    val chk = graft.util.Scratch.dir("vsink_chk", sf)
    def drain(): Unit = {
      val q = eventsStream(spark, sf)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
        .writeStream.format("graft-sink")
        .option("path", dir).option("checkpointLocation", chk)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val vs1 = graft.sources.GraftManifest.versions(dir)
    require(vs1.nonEmpty, "versioned streaming ingest must commit table versions")
    drain() // restart from the checkpoint: no new data, no new version
    val head = graft.sources.GraftManifest.readVersion(dir, None).get
    require(graft.sources.GraftManifest.versions(dir) == vs1,
      "a no-new-data restart must not commit a new version")
    require(head.op.contains("STREAM APPEND") && head.txns.size == 1,
      s"head must be a txn-watermarked STREAM APPEND, got op=${head.op} txns=${head.txns}")
    val table = spark.read.format("graft-sink").option("path", dir).load()
    val cdf = spark.read.format("graft-sink").option("path", dir)
      .option("changesFrom", "0").load()
    def agg(df: DataFrame, via: String): DataFrame = df
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .withColumn("via", lit(via))
    agg(table, "table")
      .unionByName(agg(cdf.where(col("_change_type") === "insert"), "cdf"))
      .orderBy(col("via"), col("event_type"))
  }

  /** THE CLOSED LAKEHOUSE LOOP in one key: a streaming producer lands
    * events as VERSIONED commits, and a second,
    * independent streaming consumer drains the SAME table through the
    * table-feed source into parquet — producer and consumer meet only at
    * the committed manifests, which is exactly how a 100 TB pipeline's
    * stages decouple (no epoch glue, no shared driver state; the
    * consumer's checkpoint + version offsets make the handoff
    * exactly-once). The oracle recomputes the aggregate from events —
    * two streaming hops must not change a row. */
  def streamLakehouseRoundtrip(spark: SparkSession, sf: String): DataFrame = {
    val table = graft.util.Scratch.dir("lhrt_table", sf)
    val chkIn = graft.util.Scratch.dir("lhrt_chk_in", sf)
    val out = graft.util.Scratch.dir("lhrt_out", sf)
    val chkOut = graft.util.Scratch.dir("lhrt_chk_out", sf)
    // stage 1: stream INTO the versioned table
    val producer = eventsStream(spark, sf)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .writeStream.format("graft-sink")
      .option("path", table).option("checkpointLocation", chkIn)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    producer.awaitTermination()
    require(graft.sources.GraftManifest.versions(table).nonEmpty,
      "the producer must land versioned commits")
    // stage 2: an independent consumer streams OUT of the table
    val consumer = spark.readStream.format("graft-sink")
      .option("path", table).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chkOut)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    consumer.awaitTermination()
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type"))
  }

  case class LateEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long)

  /** Watermark late-data drop, demonstrated with a two-batch MemoryStream:
    * batch 2 contains a row older than the advanced watermark, which must
    * not change any count. Sanctioned no-oracle (D5) — multi-batch watermark
    * advancement is engine-internal; the unit test asserts exact output. */
  def streamLateData(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(h: Int, m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ms = MemoryStream[LateEvent]
    val agg = ms.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val name = s"late_${UUID.randomUUID().toString.replace("-", "")}"
    // NOTE (r19): noDataMicroBatches must stay ON here, unlike the drain
    // family — the planted late-row drop needs the empty batch after
    // processAllAvailable to commit the advanced watermark before batch 2
    // arrives (StreamingSpec fails with it disabled; measured, not
    // assumed).
    withStreamShuffle(spark) {
      val q = agg.writeStream.outputMode(OutputMode.Update()).format("memory")
        .queryName(name).start()
      // batch 1: three on-time rows up to 10:00 → watermark advances to 09:00
      ms.addData(LateEvent(1, t(8, 5), 1), LateEvent(2, t(8, 40), 1),
        LateEvent(3, t(10, 0), 2))
      q.processAllAvailable()
      // batch 2: one LATE row (07:30 < watermark) must be dropped; one on-time
      ms.addData(LateEvent(4, t(7, 30), 1), LateEvent(5, t(10, 30), 2))
      q.processAllAvailable()
      q.stop()
    }
    // update-mode sink: max(n) per window = final count. The 07:30 row is
    // dropped, so NO 07:00 window ever appears in the output; the final
    // windows are 08:00 with n=2 and 10:00 with n=2 (StreamingSpec asserts
    // exactly this).
    spark.table(name)
      .select(col("window.start").cast(TimestampType).cast(LongType).as("ws_epoch"),
        col("n"))
      .groupBy(col("ws_epoch")).agg(max(col("n")).as("n"))
      .orderBy(col("ws_epoch"))
  }

  /** foreachBatch sink surface: every micro-batch lands as parquet in a
    * per-run staging dir (the idiomatic "stream into a lake table" path —
    * foreachBatch is where streaming meets arbitrary batch sinks); the
    * result is the aggregate over the staged files. AvailableNow over one
    * fixture file = one batch, so the staged table equals the batch input
    * and the oracle is plain batch SQL. */
  def streamForeachBatch(spark: SparkSession, sf: String): DataFrame = {
    // fixed per-(run, sf) staging dir built ONCE per JVM (Scratch.once —
    // the stream is deterministic, so repeated invocations reuse the
    // staged files; the previous wipe-before-each-run raced a concurrent
    // invocation's in-flight appends and invalidated earlier returned
    // lazy frames — round-16b review); JVM exit removes it (Scratch hook)
    val dir = graft.util.Scratch.dir("fb", sf)
    graft.util.Scratch.once(dir) {
      val src = eventsStream(spark, sf)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
      withStreamShuffle(spark) {
        val q = src.writeStream
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            batch.write.mode("append").parquet(dir)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    spark.read.parquet(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type"))
  }

  /** Streaming read through the custom DSv2 connector (graft.sources.
    * DocsSource, TableCapability.MICRO_BATCH_READ): readStream on the
    * "graft-docs" format drains the deterministic corpus through the
    * MicroBatchStream offset path into a Complete-mode aggregate. Because
    * the generator is replayable md5, the DuckDB oracle rebuilds the same
    * aggregate — the stream path earns the same hash-match bar as batch. */
  def streamCustomSource(spark: SparkSession, sf: String): DataFrame = {
    val src = spark.readStream.format("graft-docs")
      .option("nDocs", "1000").load()
    val agg = src.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
    drain(spark, agg, OutputMode.Complete()).orderBy(col("lang"))
  }

  /** RESTART CONTINUITY through the offset-tracked connector (VERDICT r6
    * missing #1 — the Kafka/Kinesis-shaped first hop of an AWS ETL
    * pipeline, built on the graft-docs MicroBatchStream's
    * SupportsAdmissionControl path): run 1 drains docs [0, 600) in
    * 250-doc admission-capped micro-batches (so the offset log commits
    * REAL intermediate offsets, not one end-to-end jump); the corpus then
    * "grows" to 1000 and run 2 — same checkpoint — resumes at the
    * committed offset 600 and reads EXACTLY the unseen [600, 1000),
    * tagging each run's rows as it lands them. The whole key is
    * idempotent at BOTH layers of the exactly-once contract:
    * checkpointed offsets make re-invocation a no-op (the source reports
    * no-new-data), and the LANDING is batchId-keyed — foreachBatch is
    * at-least-once under crash-replay, so each micro-batch OVERWRITES
    * its own deterministic `batch=<id>` directory instead of blindly
    * appending; a replayed batch rewrites the same rows into the same
    * place rather than duplicating them (the idempotent-sink half that
    * composes with the offset log into exactly-once). The oracle
    * rebuilds both runs from the doc_id ranges the offset log forces. */
  def streamSourceResume(spark: SparkSession, sf: String): DataFrame = {
    val chk = graft.util.Scratch.dir("resume_chk", sf)
    val out = graft.util.Scratch.dir("resume_out", sf)
    def runOnce(nDocs: Long, run: Long): Unit = withStreamShuffle(spark) {
      val q = spark.readStream.format("graft-docs")
        .option("nDocs", nDocs.toString)
        .option("maxDocsPerBatch", "250")
        .load()
        .select(col("doc_id"), col("lang")) // pruned: text never generated
        .writeStream
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.withColumn("run", lit(run))
            .write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce(600, 1L)   // cold start: [0, 600) in 3 capped batches
    runOnce(1000, 2L)  // corpus grew; resume reads exactly [600, 1000)
    spark.read.parquet(out)
      .groupBy(col("run"), col("lang"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("run"), col("lang"))
  }

  /** The VERSIONED TABLE AS A STREAMING SOURCE — readStream over the
    * graft-sink connector, offsets = manifest versions, each micro-batch
    * reading only the files its version range ADDED (the manifest diff;
    * the already-streamed table is never rescanned). This closes the
    * lakehouse loop the round-7/8 connector built: one directory is now
    * batch sink + batch source (time travel, CDF) + streaming sink +
    * resumable streaming source. The scenario proves the three contracts
    * that matter at 100 TB:
    *  - `maxVersionsPerTrigger=1` (admission control): the first drain
    *    covers versions 1-2 as TWO offset-committed micro-batches;
    *  - AvailableNow termination: the drain stops at the head captured
    *    when the trigger started;
    *  - checkpointed RESUME: version 3, appended after the first drain,
    *    is picked up by a second run as exactly one batch — no re-read
    *    of versions 1-2 (the `run` column pins which drain saw which
    *    slice, and slice 2 appearing ONLY under run 2 is the proof).
    * Results land via foreachBatch into per-batch parquet and aggregate
    * to a batch frame; the oracle recomputes each slice from events. */
  def streamTableFeed(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.util.Scratch.dir("tfeed", sf)
    val chk = graft.util.Scratch.dir("tfeed_chk", sf)
    val out = graft.util.Scratch.dir("tfeed_out", sf)
    def append(slice: Int): Unit =
      graft.util.Tables.events(spark, sf)
        .where(col("user_id") % 4 === slice)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
        .withColumn("slice", lit(slice.toLong))
        .write.format("graft-sink").option("path", dir)
        .mode(if (slice == 0) "overwrite" else "append").save()
    def drain(run: Long): Unit = withStreamShuffle(spark) {
      val q = spark.readStream.format("graft-sink")
        .option("path", dir)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.withColumn("run", lit(run))
            .write.mode("overwrite").parquet(s"$out/batch=$run-$id")
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.util.Scratch.once(dir) {
      append(0); append(1)
      drain(1L) // versions 1-2, one per micro-batch
      append(2)
      drain(2L) // resume: exactly version 3
    }
    spark.read.parquet(out)
      .groupBy(col("run"), col("slice"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("run"), col("slice"), col("event_type"))
  }

  /** STREAMING MERGE-BY-KEY VIA EQUALITY DELETES (VERDICT r10 next #4):
    * a CDC upsert feed lands in the versioned sink with
    * `upsertKey=user_id` — each epoch appends its rows PLUS one
    * equality-delete sidecar of its keys ([[graft.sources.GraftEqDel]]),
    * so older rows for those keys vanish at scan time WITHOUT the sink
    * ever reading the target: O(changed keys) per epoch, the property a
    * 100 TB streaming MERGE lives or dies by (a merge-on-read DV MERGE
    * must read-join the target to find positions; a copy-on-write MERGE
    * rewrites it). Scenario: epoch 1 = the initial per-user state, epoch
    * 2 (a resumed AvailableNow run over the same checkpoint) = updated
    * rows for the user_id%3=0 keys plus fresh inserts. REQUIREd: the
    * update epoch rewrote NO data file and registered the eqdel; a
    * REPLAYED drain commits nothing (the `#txn` watermark — exactly-once
    * across restart); and OPTIMIZE (a base-conditioned rewrite)
    * MATERIALIZES the deletes: pending entries gone, merged content
    * identical. The oracle recomputes MERGE semantics from events
    * (latest-epoch row wins per key). */
  def streamMergeUpsert(spark: SparkSession, sf: String): DataFrame = {
    val src = graft.util.Scratch.dir("upsrc", sf)
    val dst = graft.util.Scratch.dir("updst", sf)
    val chk = graft.util.Scratch.dir("updst_chk", sf)
    def slice(m: Int): DataFrame = graft.util.Tables.events(spark, sf)
      .where(col("event_id") % 2 === (m - 1) &&
        (if (m == 2) col("user_id") % 3 === 0 else lit(true)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))
      .withColumn("slice", lit(m.toLong))
    def drain(): Unit = withStreamShuffle(spark) {
      val q = spark.readStream.format("graft-sink").option("path", src).load()
        .writeStream.format("graft-sink")
        .option("path", dst).option("checkpointLocation", chk)
        .option("upsertKey", "user_id")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.util.Scratch.once(dst) {
      slice(1).write.format("graft-sink").option("path", src).mode("overwrite").save()
      drain() // epoch 1: initial state (its eqdel prunes away — nothing is older)
      val m = graft.sources.GraftManifest
      val v1 = m.readVersion(dst, None).get
      require(v1.eqDels.isEmpty,
        s"the initial load must carry no pending eqdel, got ${v1.eqDels}")
      slice(2).write.format("graft-sink").option("path", src).mode("append").save()
      drain() // epoch 2: keyed updates + inserts, NO target read
      val v2 = m.readVersion(dst, None).get
      require(v2.version > v1.version, "the update epoch must commit")
      require(v1.metas.map(_.name).toSet.subsetOf(v2.metas.map(_.name).toSet) &&
        v2.metas.forall(_.dv.isEmpty),
        "streaming upsert must neither rewrite nor vector any data file")
      require(v2.eqDels.nonEmpty && v2.eqDels.forall(_.col == "user_id"),
        s"the update epoch must register user_id equality deletes, got ${v2.eqDels}")
      drain() // replayed drain: no new source version → no new commit
      require(m.readVersion(dst, None).get.version == v2.version,
        "a replayed drain must commit nothing (exactly-once)")
      // OPTIMIZE: materialize the equality deletes via a base-conditioned
      // full rewrite — entries retire (no surviving file predates them)
      val before = spark.read.format("graft-sink").option("path", dst).load().count()
      spark.read.format("graft-sink").option("path", dst).load()
        .write.format("graft-sink").option("path", dst)
        .option("expectedBaseVersion", v2.version.toString)
        .option("operation", "OPTIMIZE").mode("overwrite").save()
      val v3 = m.readVersion(dst, None).get
      require(v3.eqDels.isEmpty,
        s"OPTIMIZE must materialize pending equality deletes, got ${v3.eqDels}")
      require(spark.read.format("graft-sink").option("path", dst).load()
          .count() == before,
        "materialization must not change the merged content")
    }
    spark.read.format("graft-sink").option("path", dst).load()
      .select(col("user_id"), col("n"), col("cents"), col("slice"))
      .orderBy(col("user_id"))
  }

  /** STREAMING CHANGE DATA FEED — `readChangeFeed=true` on the versioned
    * table stream makes rewrites part of the contract instead of an
    * error: each micro-batch emits the offset range's added files as
    * `_change_type='insert'` rows and its dropped files as 'delete' rows,
    * which is exactly what a downstream incremental materialized view
    * consumes (Delta's table_changes streaming). The scenario: drain 1
    * streams two append versions as inserts; a GDPR-style DELETE rewrite
    * (base-conditioned overwrite) lands as version 3; drain 2 resumes
    * from the checkpoint and emits the rewrite as delete-of-old +
    * insert-of-surviving — replaying it onto drain 1's state reproduces
    * the head, with no rescan of unchanged data (the plan is the
    * manifest diff). The oracle recomputes all three change sets from
    * events. */
  def streamChangeFeed(spark: SparkSession, sf: String): DataFrame = {
    val dir = graft.util.Scratch.dir("cdfeed", sf)
    val chk = graft.util.Scratch.dir("cdfeed_chk", sf)
    val out = graft.util.Scratch.dir("cdfeed_out", sf)
    def slice(m: Int): DataFrame = graft.util.Tables.events(spark, sf)
      .where(col("user_id") % 4 === m)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .withColumn("slice", lit(m.toLong))
    def drain(run: Long): Unit = withStreamShuffle(spark) {
      val q = spark.readStream.format("graft-sink")
        .option("path", dir).option("readChangeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
          b.withColumn("run", lit(run))
            .write.mode("overwrite").parquet(s"$out/batch=$run-$id")
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.util.Scratch.once(dir) {
      slice(0).write.format("graft-sink").option("path", dir).mode("overwrite").save()
      slice(1).write.format("graft-sink").option("path", dir).mode("append").save()
      drain(1L) // versions 1-2 stream as inserts
      spark.read.format("graft-sink").option("path", dir).load()
        .where(col("event_type") =!= "view")
        .write.format("graft-sink").option("path", dir)
        .option("expectedBaseVersion", "2").mode("overwrite").save()
      drain(2L) // the rewrite streams as delete-of-old + insert-of-surviving
    }
    spark.read.parquet(out)
      .groupBy(col("run"), col("_change_type").as("change_type"),
        col("slice"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))
      .select(col("run"), col("change_type"), col("slice"), col("event_type"),
        col("n"), col("sum_cents"))
      .orderBy(col("run"), col("change_type"), col("slice"), col("event_type"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_source_resume" -> streamSourceResume,
    "stream_table_feed" -> streamTableFeed,
    "stream_merge_upsert" -> streamMergeUpsert,
    "stream_change_feed" -> streamChangeFeed,
    "stream_custom_source" -> streamCustomSource,
    "stream_foreach_batch" -> streamForeachBatch,
    "stream_tumbling" -> streamTumbling,
    "stream_sliding" -> streamSliding,
    "stream_session" -> streamSession,
    "stream_dedup" -> streamDedup,
    "stream_stateful_count" -> streamStatefulCount,
    "stream_stateful_count_mgs" -> streamStatefulCountMgs,
    "stream_state_ttl" -> streamStateTtl,
    "stream_stream_join" -> streamStreamJoin,
    "stream_static_join" -> streamStaticJoin,
    "stream_sink_custom" -> streamSinkCustom,
    "stream_sink_versioned" -> streamSinkVersioned,
    "stream_lakehouse_roundtrip" -> streamLakehouseRoundtrip,
    "stream_late_data" -> streamLateData
  )

  def oracle: Map[String, String] = Map(
    "stream_merge_upsert" ->
      """WITH u1 AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(1 AS BIGINT) AS slice
        |  FROM events WHERE event_id % 2 = 0 GROUP BY user_id),
        |u2 AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(2 AS BIGINT) AS slice
        |  FROM events WHERE event_id % 2 = 1 AND user_id % 3 = 0 GROUP BY user_id)
        |SELECT user_id, n, cents, slice FROM u2
        |UNION ALL
        |SELECT user_id, n, cents, slice FROM u1
        |WHERE user_id NOT IN (SELECT user_id FROM u2)
        |ORDER BY user_id""".stripMargin,

    "stream_change_feed" ->
      """WITH s AS (
        |  SELECT user_id % 4 AS slice, event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 <= 1 GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS run, 'insert' AS change_type,
        |  slice, event_type, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'delete', slice, event_type, n, sum_cents FROM s
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'insert', slice, event_type, n, sum_cents
        |FROM s WHERE event_type != 'view'
        |ORDER BY run, change_type, slice, event_type""".stripMargin,

    "stream_table_feed" ->
      """WITH s AS (
        |  SELECT user_id % 4 AS slice, event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events WHERE user_id % 4 <= 2 GROUP BY 1, 2)
        |SELECT CAST(CASE WHEN slice <= 1 THEN 1 ELSE 2 END AS BIGINT) AS run,
        |  slice, event_type, n, sum_cents
        |FROM s
        |ORDER BY run, slice, event_type""".stripMargin,

    "stream_sink_custom" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_lakehouse_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_sink_versioned" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |    min(event_id) AS min_id
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n, sum_cents, min_id, 'cdf' AS via FROM s
        |UNION ALL
        |SELECT event_type, n, sum_cents, min_id, 'table' FROM s
        |ORDER BY via, event_type""".stripMargin,

    "stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,

    "stream_foreach_batch" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_custom_source" ->
      """SELECT CASE CAST(i % 3 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |       ELSE 'fr' END AS lang,
        |  CAST(count(*) AS BIGINT) AS n, min(i) AS min_id, max(i) AS max_id
        |FROM (SELECT unnest(generate_series(0, 999)) AS i)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "stream_source_resume" ->
      """SELECT CAST(CASE WHEN i < 600 THEN 1 ELSE 2 END AS BIGINT) AS run,
        |  CASE CAST(i % 3 AS INT) WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |       ELSE 'fr' END AS lang,
        |  CAST(count(*) AS BIGINT) AS n, min(i) AS min_id, max(i) AS max_id
        |FROM (SELECT unnest(generate_series(0, 999)) AS i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_tumbling" ->
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS ws_epoch,
        |  event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM events GROUP BY ws_epoch, event_type
        |ORDER BY ws_epoch, event_type""".stripMargin,

    "stream_sliding" ->
      """SELECT ws_epoch, count(*) AS n FROM (
        |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k * 900 AS ws_epoch
        |  FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS k))
        |GROUP BY ws_epoch ORDER BY ws_epoch""".stripMargin,

    "stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS b
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), n AS (
        |  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM x)
        |SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS first_epoch,
        |  CAST(floor(epoch(MAX(ts))) AS BIGINT) AS last_epoch, count(*) AS n_events
        |FROM n GROUP BY user_id, sid
        |ORDER BY user_id, first_epoch""".stripMargin,

    "stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,

    "stream_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS user_id,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS p_epoch,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS c_epoch
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY p_id, c_id""".stripMargin,

    "stream_stateful_count" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_stateful_count_mgs" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "stream_state_ttl" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

    // stream_late_data: sanctioned no-oracle (D5) — unit-tested instead.
  )
}
