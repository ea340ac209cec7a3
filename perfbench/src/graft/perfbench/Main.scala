package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, then a closed loop of timed calls
  * (each starts after the previous one returned), then exit. Every call
  * goes through a public entry point: a `SparkEntry.queries` key, a table
  * operation (see [[TableRw]]) or, in a traced run, a shared kernel.
  * Each output is fully collected and fingerprinted after its clock stops.
  *
  * Raw records go to `--out` as JSON lines; `perfbench/run.py` turns them
  * into metrics and checks the fingerprints.
  *
  * Options: --workload --seed --seconds --trace 0|1
  *          --data <fixture dir> --keys <key list> --out <records>
  *          --warehouse <dir> --local-dir <dir> --launched-ms <epoch ms>
  *          --nproc <cores> --dump <dir or -> */
object Main {
  /** Every workload's pass is sized to take about this long on 4 cores. */
  val PassSeconds = 10.0

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val data = o("data")
    val nproc = o("nproc").toInt
    val rec = new Records(o("out"))
    val keys = scala.io.Source.fromFile(o("keys")).getLines().map(_.split("\t"))
      .collect { case Array(m, k) => (m, k) }.toVector
    val dump = Some(o("dump")).filter(_ != "-")

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o("warehouse"))
      .config("spark.local.dir", o("local-dir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val queries = graft.SparkEntry.queries
    val launched = o("launched-ms").toLong
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionMs = System.currentTimeMillis()
    // Warm-up: one untimed pass over the same kinds of calls. It builds the
    // fixture layouts and setup memos the keys read but do not produce, and
    // it lets the timed passes measure the calls rather than first-use code
    // generation and JIT compilation (a key that fails here fails again
    // when timed).
    val warm = new Records(o("out") + ".warmup")
    if (workload == "table_rw")
      new TableRw(spark, warm, seed + 1, None, "warmup").run(TableRw.Ops / 8)
    new scala.util.Random(seed + 1).shuffle(keys).foreach { case (_, k) =>
      graft.util.Memos.dropResults(sc)
      try queries(k)(spark, data).collect() catch { case _: Exception => () }
    }
    warm.close()
    graft.util.Memos.dropResults(sc)
    val readyMs = System.currentTimeMillis()
    rec.write("setup", "setup_s" -> (readyMs - launched) / 1000.0,
      "jvm_s" -> (jvmStart - launched) / 1000.0, "session_s" -> (sessionMs - jvmStart) / 1000.0,
      "warmup_s" -> (readyMs - sessionMs) / 1000.0)

    // A traced run makes the same passes as an untraced one, with the
    // listeners on; the difference of the two runs' pass_s is the overhead.
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val gc0 = gcMs()
    val builds0 = graft.util.Memos.builds

    def call(module: String, key: String, pass: Int): Double = {
      graft.util.Memos.dropResults(sc)
      val startMs = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = 0L
      val res = try {
        val df = queries.getOrElse(key,
          throw new NoSuchElementException(s"no SparkEntry.queries key '$key'"))(spark, data)
        b = System.nanoTime()
        Right((df, df.collect()))
      } catch { case e: Throwable => Left(e) }
      val c = System.nanoTime()
      if (b == 0L) b = c
      for (d <- dump; (df, rows) <- res.toOption)
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$d/$key")
      val (fp, n, err) = res match {
        case Right((df, rows)) => (Fingerprint.ofRows(df.schema, rows), rows.length, null)
        case Left(e) => (null, 0, e.toString)
      }
      rec.write("call", "module" -> module, "key" -> key, "pass" -> pass,
        "build_s" -> (b - a) / 1e9, "action_s" -> (c - b) / 1e9,
        "rows" -> n, "fp" -> fp, "err" -> err,
        "start_ms" -> startMs, "end_ms" -> (startMs + (c - a) / 1000000L))
      (c - a) / 1e9
    }

    // A run makes round(seconds / PassSeconds) whole passes, at least one,
    // each in a new order drawn from the seed.
    val rnd = new scala.util.Random(seed)
    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)
    trace.foreach(_.from = System.currentTimeMillis())
    (0 until passes).foreach { pass =>
      val startMs = System.currentTimeMillis()
      var wall = 0.0
      if (workload == "table_rw")
        wall += new TableRw(spark, rec, seed, trace, s"t$pass").run(TableRw.Ops)
      rnd.shuffle(keys).foreach { case (m, k) => wall += call(m, k, pass) }
      rec.write("pass", "pass" -> pass, "wall_s" -> wall,
        "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
    }

    trace.foreach { t =>
      val end = System.currentTimeMillis()
      val gc = gcMs() - gc0
      val builds = graft.util.Memos.builds - builds0
      t.quiesce()
      t.synchronized {
        t.jobs.foreach { case (id, start, site) =>
          rec.write("job", "id" -> id, "start_ms" -> start,
            "end_ms" -> t.jobEnds.getOrElse(id, end), "site" -> site)
        }
        rec.write("layer", "jobs" -> t.jobs.size, "stages" -> t.stages, "tasks" -> t.tasks,
          "failed_tasks" -> t.failedTasks, "task_ms" -> t.taskMs,
          "serial_stage_ms" -> t.serialStageMs, "shuffle_write" -> t.shuffleWrite,
          "shuffle_read" -> t.shuffleRead, "spill" -> t.spill, "gc_ms" -> gc,
          "memo_builds" -> builds,
          "analysis_ms" -> t.phases("analysis"), "optimizer_ms" -> t.phases("optimization"),
          "planning_ms" -> t.phases("planning"))
        def med(k: String) = median(t.progress.flatMap(_._2.get(k)).map(_.toDouble).toSeq)
        rec.write("stream", "batches" -> t.progress.count(_._3 > 0),
          "trigger_ms" -> med("triggerExecution"), "add_batch_ms" -> med("addBatch"),
          "wal_commit_ms" -> med("walCommit"), "commit_offsets_ms" -> med("commitOffsets"),
          "query_planning_ms" -> med("queryPlanning"), "state_rows" -> t.stateRows.values.sum)
      }
      if (workload == "curation") kernelChain(spark, data, queries, t, rec)
    }
    // the dump is laid out as graft.Verify writes it, for tools/parity.py
    dump.foreach { d =>
      val oracle = graft.SparkEntry.oracleSql.filter(e => keys.exists(_._2 == e._1))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
        oracle.map { case (k, sql) => s"${Records.q(k)}: ${Records.q(sql)}" }
          .mkString("{", ",", "}"))
    }
    rec.write("end", "scratch_bytes" -> du(new java.io.File(graft.util.Scratch.root)),
      "vmhwm_kb" -> vmHwmKb(), "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    rec.close()
    spark.stop()
  }

  /** The shared dedup kernels, called in dependency order after the memos
    * are dropped, so each one's upstream is warm and its time is self time.
    * The last two are reached through the keys that own them. */
  private def kernelChain(spark: SparkSession, data: String,
      queries: Map[String, (SparkSession, String) => DataFrame], t: Trace, rec: Records): Unit = {
    graft.util.Memos.dropResults(spark.sparkContext)
    val spans = Seq[(String, () => Any)](
      "shingles" -> (() => graft.ops.Text.shingles(spark, data)),
      "sigsAndSets" -> (() => graft.ops.Text.sigsAndSets(spark, data)),
      "verifiedCands" -> (() => graft.ops.Dedup.verifiedCands(spark, data)),
      "jaccardPairs" -> (() => graft.ops.Text.jaccardPairs(spark, data)),
      "winnowSel" -> (() => graft.ops.Text.winnowSel(spark, data)),
      "thresholdPairs" -> (() => queries("vec_threshold_pairs")(spark, data)),
      "lshCcLabels" -> (() => queries("dedup_lsh_cc")(spark, data))
    ).map { case (name, body) =>
      val a = System.currentTimeMillis()
      val n0 = System.nanoTime()
      body()
      (name, a, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
    }
    t.quiesce()
    spans.foreach { case (name, a, b, s) =>
      val jobs = t.jobsIn(a, b + 1)
      rec.write("kernel", "name" -> name, "s" -> s, "jobs" -> jobs.size,
        "checksum_jobs" -> jobs.count(_._3.startsWith("head at Pipeline.scala")))
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private[perfbench] def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}
