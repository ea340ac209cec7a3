package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query (`.count()`) at the
  * SPARK_GRAFT_SF_DIR scale factor and prints one JSON line.
  *
  * Untimed warm-up actions run first ([[warmUp]]). Keys run in sorted
  * order for stable, comparable per-query timings across rounds.
  *
  * Output hygiene (the round-1 driver failed to parse the bench line): the
  * driver keeps only the LAST 2000 chars of output, and a 104-entry queries
  * map (~2.9 KB) can never fit, so the line it must parse is printed LAST,
  * after spark.stop(), with only the 20 slowest per-query timings (the full
  * map is printed earlier for the logs). Timings are rounded to
  * milliseconds; a failed query records value -1.0 (never a silent timing)
  * and forces a nonzero exit code.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated key filter for targeted perf iteration
    // (builder-side only; the driver never sets it).
    val keys = SparkEntry.select(sys.env.get("SPARK_GRAFT_KEYS")).sortBy(_._1)
    val spark = graft.util.Session()
    warmUp(spark)
    // Contention immunity (adjudicated across seven rounds of driver-vs-local
    // forensics, see DECISIONS.md): a shared driver host can land a multi-
    // second OS/IO spike on ANY key — r10 saw a 0.3 s projection report
    // 3.4 s. Each key therefore runs SPARK_GRAFT_MIN_OF times (default 2,
    // VERDICT r17 next #7 made the count an explicit knob for close
    // benches on a decaying host) and reports the MINIMUM: the min of N
    // runs is the standard contention-free latency estimator (a spike only
    // ever ADDS time), and a key whose min is still >2 s gets one extra
    // run so one unlucky set can't misreport a genuinely cheap plan.
    // MIN_OF=1 is the fast iteration mode; the reported number measures
    // the operator's plan, not the host's mood.
    val minOf = sys.env.get("SPARK_GRAFT_MIN_OF") match {
      case None => 2
      case Some(raw) =>
        scala.util.Try(raw.trim.toInt).toOption.filter(n => n >= 1 && n <= 10)
          .getOrElse {
            // loud fallback (round-18 review): a close bench run with a
            // typo'd knob must not silently record min-of-2 numbers as
            // if the higher repetition count had been in effect
            System.err.println(s"[bench] ignoring SPARK_GRAFT_MIN_OF='$raw'" +
              " (want an integer in 1..10); using the default 2")
            2
          }
    }
    val results = keys.map { case (name, fn) =>
      def once(): Double = {
        // r19 (VERDICT r18 #3): drop the session-scoped RESULT memos
        // before every timed run, so a key consuming a shared memoized
        // kernel (Text.sigsAndSets, Dedup.verifiedCands, …) pays that
        // kernel's full standalone cost in EVERY run — min-of-N can no
        // longer report a memo-warm minimum that excludes the kernel
        // from all per-key numbers. Idempotent SETUP memos (catalog DDL,
        // bucketed layouts) stay: they are fixture, not operator cost.
        graft.util.Memos.dropResults(spark.sparkContext)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val tally0 = graft.util.Memos.builds
        val best0 = Seq.fill(minOf)(once()).min
        val best = if (best0 > 2.0 && minOf > 1) math.min(best0, once()) else best0
        // OLD-PROTOCOL companion number ("keep the old numbers too"):
        // a key that rebuilt any memoized kernel gets ONE extra run with
        // the memos left warm — that run's time ≈ what the pre-r19
        // min-of-N (whose run 2+ was always memo-warm) used to report.
        // Keys that touch no memo reuse the honest min (identical by
        // construction). Reported as queries_warm in the full map only;
        // the driver-parsed tail line carries the honest numbers.
        val warm = if (graft.util.Memos.builds == tally0) best else {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (name, math.max(best, 0.001), math.max(warm, 0.001), true)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        (name, -1.0, -1.0, false)
      }
    }
    def r3(v: Double): String = f"$v%.3f"
    def qjson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    val nFailed = results.count(!_._4)
    val honest = results.map { case (k, v, _, ok) => (k, v, ok) }
    val total = honest.filter(_._3).map(_._2).sum
    val totalWarm = results.filter(_._4).map(_._3).sum
    def line(qs: String, extra: String = ""): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"failed":$nFailed,"queries":$qs$extra,"sf":"$sfDir"}"""
    // Full per-query map for the logs (too long for the driver's 2000-char
    // tail capture — informational only). Since r19 it also carries the
    // OLD-PROTOCOL memo-warm numbers (queries_warm/total_warm) so
    // round-over-round comparisons against pre-r19 benches stay
    // like-for-like; see BASELINE.md "Bench protocol".
    val fullLine = line(qjson(honest.map(r => (r._1, r._2))),
      ",\"queries_warm\":" + qjson(results.map(r => (r._1, r._3))) +
        s""","total_warm":${r3(totalWarm)}""")
    println(fullLine)
    Console.out.flush()
    // ... and persisted to a stable file (VERDICT r13 next #2): the
    // driver's tail capture keeps only the 20 slowest keys, so every
    // round's contention adjudication (driver-vs-local outliers) was a
    // local re-bench; with the complete map on disk it's a file diff.
    // Best-effort — a read-only cwd must not fail the bench itself.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json"))
      java.nio.file.Files.write(out, (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query map -> ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist full map: ${e.getMessage}")
    }
    spark.stop()
    // The line the driver parses: LAST on stdout (nothing interleaves after
    // spark.stop()) and compact enough (~700 chars) to sit entirely inside
    // the tail capture — only the 20 slowest queries inline.
    println(line(qjson(honest.sortBy(-_._2).take(20).sortBy(_._1)
      .map(r => (r._1, r._2)))))
    Console.out.flush()
    if (nFailed > 0) sys.exit(1)
  }

  /** Untimed warm-up actions, so the timed runs measure operator cost,
    * not SparkSession/codegen/JIT bring-up (which otherwise lands on
    * whichever key runs first): the entry query exercises scan, join and
    * aggregate codegen; the second action the HOF, explode, window and
    * hash families the entry query never touches. */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    try {
      spark.range(1000).toDF("id")
        .select(col("id"),
          explode(split(md5(col("id").cast("string")), "")).as("ch"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("ch")).orderBy(col("id"))))
        .where(expr("aggregate(sequence(1, 4), 0L, (a, b) -> a + b) = 10"))
        .count()
    } catch { case _: Throwable => }
  }
}
