package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 layer 3 — seeded randomized properties (deterministic seeds, so
  * CI is stable) over generated frames, checking algebraic laws the operator
  * implementations rely on. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("decimal sums are invariant under arbitrary repartitioning") {
    val rnd = new Random(42)
    val values = Seq.fill(5000)(math.round(rnd.nextDouble() * 1e6) / 100.0)
    val df = values.toDF("x")
    val sums = Seq(1, 3, 7, 16).map { n =>
      df.repartition(n)
        .agg(sum(col("x").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)))
        .head.getDecimal(0)
    }
    assert(sums.distinct.size == 1, sums.toString)
  }

  test("bound envelopes contain every string: seeded unicode incl. astral planes") {
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.sql.types.StringType
    import graft.sources.{GraftSinkScan, GraftSinkWriter}
    val rnd = new Random(77)
    def cmp(a: String, b: String) = GraftSinkScan.cmpStats(StringType, a, b)
    // code-point generator biased to the edges the truncation/increment
    // logic cares about: the surrogate-gap borders, BMP max, plane starts,
    // U+10FFFF, plus plain ASCII runs
    val edges = Seq(0x20, 0x41, 0xD7FF, 0xE000, 0xFFFD, 0xFFFF,
      0x10000, 0x1F600, 0x10FFFF)
    def randCp(): Int = {
      val r = rnd.nextInt(10)
      if (r < 5) 0x20 + rnd.nextInt(0x5F) // ASCII
      else if (r < 8) edges(rnd.nextInt(edges.size))
      else rnd.nextInt(0x110000) match { // skip the surrogate gap
        case s if s >= 0xD800 && s <= 0xDFFF => 0xE000 + (s - 0xD800)
        case s => s
      }
    }
    (0 until 2000).foreach { _ =>
      val n = 1 + rnd.nextInt(70)
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(_ => sb.appendCodePoint(randCp()))
      val s = sb.toString
      val lo = GraftSinkWriter.lowerBound(s)
      assert(cmp(lo, s) <= 0, s"lower must be <= value: '$lo' vs '$s'")
      assert(lo == new String(lo.getBytes(UTF_8), UTF_8),
        s"lower bound must be UTF-8 clean: '$lo'")
      GraftSinkWriter.upperBound(s).foreach { hi =>
        assert(cmp(s, hi) < 0, s"upper must be > value: '$s' vs '$hi'")
        assert(hi == new String(hi.getBytes(UTF_8), UTF_8),
          s"upper bound must be UTF-8 clean: '$hi'")
        // and the envelope is well-formed
        assert(cmp(lo, hi) < 0)
      }
    }
    // cmpStats order agrees with Spark's UTF8String binary order on the
    // same seeded corpus — the alignment the round-13 fix pins
    val pairs = (0 until 500).map { _ =>
      def mk(): String = {
        val sb = new java.lang.StringBuilder
        (0 until 1 + rnd.nextInt(8)).foreach(_ => sb.appendCodePoint(randCp()))
        sb.toString
      }
      (mk(), mk())
    }
    pairs.foreach { case (a, b) =>
      val ours = Integer.signum(cmp(a, b))
      val sparks = Integer.signum(
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      assert(ours == sparks, s"order mismatch on '$a' vs '$b': $ours vs $sparks")
    }
  }

  test("compound sorted writes tile the key space (seeded)") {
    import org.apache.spark.sql.types.StringType
    import graft.sources.{GraftManifest, GraftSinkScan}
    val rnd = new Random(1301)
    (1 to 3).foreach { round =>
      val nGroups = 2 + rnd.nextInt(6)
      val n = 400 + rnd.nextInt(800)
      val rows = (0 until n).map { _ =>
        (s"g${rnd.nextInt(nGroups)}", rnd.nextLong().abs % 100000, rnd.nextInt())
      }
      val dir = tmp(s"graft_prop_ms$round")
      rows.toDF("g", "k", "v")
        .write.format("graft-sink").option("path", dir)
        .option("sortBy", "g,k").option("writePartitions", "4")
        .option("distributionStrict", "true").mode("overwrite").save()
      val head = GraftManifest.readVersion(dir, None).get
      assert(head.sortSpec.contains("g,k"))
      assert(head.metas.map(_.rows).sum == n.toLong)
      // leading-key envelopes may TOUCH at a group a file boundary splits,
      // but must never interleave — the tiling range pruning relies on
      val envs = head.metas.flatMap(_.stats.get(0))
        .sortBy(_._1)(Ordering.fromLessThan(
          GraftSinkScan.cmpStats(StringType, _, _) < 0))
      assert(envs.sliding(2).forall {
        case Seq((_, aMax), (bMin, _)) =>
          GraftSinkScan.cmpStats(StringType, aMax, bMin) <= 0
        case _ => true
      }, s"round $round: leading envelopes interleave: $envs")
      // and a leading-key point probe plans a strict subset of the files
      val probe = spark.read.format("graft-sink").option("path", dir).load()
        .where(col("g") === "g0")
      assert(probe.rdd.getNumPartitions < head.metas.size ||
        head.metas.size == 1,
        s"round $round: leading probe must prune")
      assert(probe.count() == rows.count(_._1 == "g0").toLong)
    }
  }

  test("graft-avro roundtrip is bit-exact over seeded extreme values") {
    val rnd = new Random(1234)
    val edgeL = Seq(Long.MinValue, Long.MaxValue, 0L, -1L)
    val edgeD = Seq(Double.MinPositiveValue, Double.MaxValue,
      -0.0, 0.0, 1e-300, -1e300)
    val edgeS = Seq("", "a,b\nc", "日本語 🙂 ügé", "\t quoted \"x\" ")
    val rows = (0 until 500).map { i =>
      (if (i < edgeL.size) edgeL(i) else rnd.nextLong(),
        if (i < edgeD.size) edgeD(i) else rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10),
        if (i < edgeS.size) edgeS(i) else rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    }
    val df = rows.toDF("l", "d", "s")
    val dir = tmp("graft_avro_prop")
    df.write.format("graft-avro").option("path", dir).mode("append").save()
    val back = spark.read.format("graft-avro").load(dir)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getString(2)))
    val want = rows.map { case (l, d, s) =>
      (l, java.lang.Double.doubleToLongBits(d), s) }
    // bit-level double compare (doubleToLongBits) catches any lossy
    // encode/decode path that plain == would mask (e.g. -0.0 vs 0.0)
    assert(back.toSeq.sorted == want.sorted)
  }

  test("window-survivor dedup is idempotent and keeps one row per key") {
    val rnd = new Random(7)
    val rows = Seq.fill(2000)((rnd.nextInt(300).toLong, rnd.nextInt(1000)))
    val df = rows.toDF("k", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("v").asc)
    def dedup(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    val once = dedup(df)
    val twice = dedup(once)
    assert(once.count() == rows.map(_._1).distinct.size)
    assert(once.except(twice).count() == 0 && twice.except(once).count() == 0)
    // survivor is the minimum v per key — the deterministic-survivor law
    val expect = rows.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).min) }.toSet
    assert(once.collect().map(r => (r.getLong(0), r.getInt(1))).toSet == expect)
  }

  test("last-writer-wins upsert applied twice equals applied once") {
    val rnd = new Random(13)
    val base = Seq.tabulate(500)(i => (i.toLong, rnd.nextInt(100)))
    val upd = Seq.fill(200)((rnd.nextInt(700).toLong, rnd.nextInt(100) + 1000))
    def upsert(b: Seq[(Long, Int)], u: Seq[(Long, Int)]): Map[Long, Int] =
      (b.toMap ++ u.toMap)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("src").desc)
    def sparkUpsert(b: org.apache.spark.sql.DataFrame, u: org.apache.spark.sql.DataFrame) =
      b.withColumn("src", lit(0)).unionByName(u.withColumn("src", lit(1)))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("k"), col("v"))
    val b = base.toDF("k", "v"); val u = upd.toDF("k", "v").dropDuplicates("k")
    val got1 = sparkUpsert(b, u)
    val got2 = sparkUpsert(got1, u)
    assert(got1.collect().map(r => (r.getLong(0), r.getInt(1))).toMap ==
      got2.collect().map(r => (r.getLong(0), r.getInt(1))).toMap)
  }

  test("bitmap-word distinct equals countDistinct on random skewed ids") {
    val rnd = new Random(21)
    // zipfian-ish: many repeats, ids up to 5000
    val rows = Seq.fill(8000)((rnd.nextInt(4).toLong,
      (math.pow(rnd.nextDouble(), 2) * 5000).toLong))
    val df = rows.toDF("g", "id")
    val got = df
      .select(col("g"), expr("id div 62").as("wd"),
        expr("shiftleft(1L, CAST(id % 62 AS INT))").as("bit"))
      .groupBy(col("g"), col("wd")).agg(bit_or(col("bit")).as("bits"))
      .groupBy(col("g")).agg(sum(bit_count(col("bits"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expect = rows.groupBy(_._1).map { case (g, vs) =>
      (g, vs.map(_._2).distinct.size.toLong) }
    assert(got == expect)
  }

  test("count-min estimates never underestimate on random frequencies") {
    val rnd = new Random(33)
    val keys = Seq.fill(6000)((math.pow(rnd.nextDouble(), 3) * 400).toLong)
    val df = keys.toDF("pk")
    val rowsExpr = (0 until 4).map(r =>
      struct(lit(r).as("r"), pmod(xxhash64(lit(r), col("pk")), lit(128)).as("b")))
    val counters = df.select(explode(array(rowsExpr: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val est = df.groupBy(col("pk")).agg(count(lit(1)).as("exact"))
      .select(col("pk"), col("exact"), explode(array(rowsExpr: _*)).as("rb"))
      .join(broadcast(counters),
        col("rb.r") === counters("r") && col("rb.b") === counters("b"))
      .groupBy(col("pk"), col("exact")).agg(min(col("cnt")).as("est"))
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
        s"CMS underestimated: $r") // the deterministic CMS guarantee
    }
  }

  test("substring-dup pairs: planted spans found, disjoint docs silent") {
    val rnd = new Random(55)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia")
    def doc(): String =
      Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val span = "the exact same forty character span here okay" // > 40 chars
    val docs = Seq(
      (1L, doc() + " " + span),
      (2L, span + " " + doc()),          // same span, different offset
      (3L, doc() + " stopword")          // no shared span
    ).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.substringPairsOf(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
  }

  test("bigram Jaccard is symmetric and bounded by [0,1]") {
    val rnd = new Random(99)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def doc(): Seq[String] = Seq.fill(5 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
    def shingles(ws: Seq[String]): Set[String] =
      ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSet
    (1 to 50).foreach { _ =>
      val (sa, sb) = (shingles(doc()), shingles(doc()))
      val i = (sa & sb).size; val u = (sa | sb).size
      assert(u == sa.size + sb.size - i) // the i/u identity used in queries
      assert(i >= 0 && i <= u)
      val j1 = if (u == 0) 0.0 else i.toDouble / u
      assert(j1 >= 0.0 && j1 <= 1.0)
    }
  }

  test("graft-sink manifest head replays any seeded append/truncate sequence") {
    // The versioned-commit semantics as an algebraic law: after any
    // interleaving of append (head-files ∪ job-files) and truncate
    // (job-files only), the head manifest must equal a driver-side replay
    // of the same fold — and every intermediate version must still parse.
    import graft.sources.GraftManifest
    val rnd = new Random(77)
    val dir = tmp("graft_mprop")
    var expect = Vector.empty[(String, Long)]
    for (step <- 0 until 25) {
      val files = (0 to rnd.nextInt(3)).map(j => (s"part-$step-$j.csv", rnd.nextInt(100).toLong))
      val truncate = rnd.nextBoolean()
      GraftManifest.commit(dir, files, "a BIGINT", truncate)
      expect = (if (truncate) Vector.empty else expect) ++ files
    }
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.version == 25)
    assert(head.files == expect.toSeq, "head must equal the semantic replay")
    assert(head.total == expect.map(_._2).sum)
    (1 to 25).foreach { v =>
      val m = GraftManifest.readVersion(dir, Some(v)).get
      assert(m.total == m.files.map(_._2).sum, s"v$v total must equal its file sum")
    }
  }

  test("graft-sink manifest CAS: concurrent appenders all land, none lost") {
    // 8 threads race commit(append) on one table. The version slot is
    // claimed by createLink — link(2) atomically FAILS on an existing
    // target, unlike rename, which silently replaces (this very test
    // caught the rename-based first draft losing 5 of 8 versions); a
    // loser re-reads the new head (so it merges the WINNER's files, not
    // a stale view) and retries. Law: all 8 versions exist and the head
    // names every thread's file exactly once — a lost update would drop one.
    import graft.sources.GraftManifest
    val dir = tmp("graft_mcas")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            GraftManifest.commit(dir, Seq(s"part-t$i.csv" -> (i + 1).toLong),
              "a BIGINT", truncate = false)
            ()
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(graft.sources.GraftManifest.versions(dir) == (1 to 8))
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.files.map(_._1).sorted == (0 until 8).map(i => s"part-t$i.csv"),
      s"every concurrent append must survive: ${head.files}")
    assert(head.total == (1 to 8).sum)
  }

  test("graft-avro manifest generations: concurrent appenders all land, none lost") {
    // The avro twin of the graft-sink CAS law: 8 racing append commits
    // each claim a _avro_manifest.g{N} generation via createLink; the
    // newest generation must name every job's file (the pre-generation
    // read-merge-rename lost updates here).
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = tmp("graft_avrocas")
    val schema = StructType(Seq(StructField("a", LongType)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            new graft.sources.AvroBatchWrite(dir, schema, replace = false, s"q$i")
              .commit(Array(graft.sources.AvroCommit(s"$dir/part-$i.avro", 1L)))
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // assert through committedFiles — the READ path — which consults the
    // max generation, the only record
    val head = graft.sources.AvroSourceProvider.committedFiles(dir).map(_.getName)
    assert(head.sorted == (0 until 8).map(i => s"part-$i.avro"),
      s"every concurrent avro append must survive: $head")
    val gens = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("_avro_manifest.g")).sorted.toSeq
    assert(gens == (1 to 8).map(g => s"_avro_manifest.g$g"), gens.toString)
  }

  test("graft-sink rewrite-vs-append race: conditioned commit never drops a row") {
    // The conflict rule VERDICT r7 flagged as the commit protocol's one
    // design gap: an OPTIMIZE that loses the version race and retries
    // with a BLIND truncate publishes a head without the concurrent
    // append's files — silently dropping committed rows. With
    // expectedBase the truncate is conditioned on the version the
    // rewrite planned against: a moved head throws
    // ConcurrentModificationException and the compactor re-reads and
    // re-compacts. Law: whatever interleaving the scheduler produces,
    // the final head's total equals every appended row exactly once.
    import graft.sources.{GraftFileMeta, GraftManifest}
    val dir = tmp("graft_mrw")
    val nAppenders = 7
    val perAppender = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nAppenders + 1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var compactions = 0
    var conflicts = 0
    try {
      val appends = (0 until nAppenders).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until perAppender).foreach { j =>
            GraftManifest.commit(dir, Seq(s"part-t$i-$j.csv" -> 1L),
              "a BIGINT", truncate = false)
          }
        })
      }
      val compactor = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) {
          GraftManifest.readVersion(dir, None).foreach { head =>
            val merged = GraftFileMeta(s"compact-v${head.version}.csv",
              head.total, 1, Map.empty, None)
            try {
              GraftManifest.commitMetas(dir, Seq(merged),
                truncate = true, expectedBase = Some(head.version),
                header = _.copy(schemaDdl = Some("a BIGINT")))
              compactions += 1
            } catch {
              case _: java.util.ConcurrentModificationException => conflicts += 1
            }
          }
        }
      })
      appends.foreach(_.get())
      stop.set(true)
      compactor.get()
    } finally pool.shutdown()
    val head = GraftManifest.readVersion(dir, None).get
    // every appended row survives — as an original part or inside a
    // compacted file, but counted exactly once
    assert(head.total == nAppenders.toLong * perAppender,
      s"rows lost or duplicated: total=${head.total}, " +
        s"compactions=$compactions conflicts=$conflicts head=${head.files}")
    // the race was real: the compactor must have actually committed or
    // conflicted at least once alongside 28 appends
    assert(compactions + conflicts > 0, "compactor never ran against the appenders")
  }

  test("graft-sink vacuum-vs-append race: fold-rewrite never strands a chain or loses a row") {
    // Vacuum REWRITES retained delta manifests (atomic REPLACE with the
    // folded full body) while appenders keep committing deltas whose
    // header reads race those replacements, and drops base manifests the
    // next vacuum's folds no longer need. Law: at every quiescent point
    // the head folds to exactly the rows appended so far, and after the
    // final vacuum every retained version is readable.
    import graft.sources.GraftManifest
    val dir = tmp("graft_vac_race")
    val nAppenders = 4
    val perAppender = 30 // deep enough to cross several checkpoints
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nAppenders + 1)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var vacuums = 0
    try {
      val appends = (0 until nAppenders).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until perAppender).foreach { j =>
            GraftManifest.commit(dir, Seq(s"part-t$i-$j.csv" -> 1L),
              "a BIGINT", truncate = false)
          }
        })
      }
      val vacuumer = pool.submit(new Runnable {
        def run(): Unit = while (!stop.get()) {
          // grace window at default (10 min): no DATA file is ever young
          // enough to reclaim mid-test — this race is about MANIFESTS
          if (GraftManifest.versions(dir).size > 6) {
            GraftManifest.vacuum(dir, retainLast = 5)
            vacuums += 1
          }
        }
      })
      appends.foreach(_.get())
      stop.set(true)
      vacuumer.get()
    } finally pool.shutdown()
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.total == nAppenders.toLong * perAppender,
      s"rows lost or duplicated after $vacuums concurrent vacuums: ${head.total}")
    assert(vacuums > 0, "vacuum never ran against the appenders")
    // every retained version must fold cleanly (no stranded chains)
    GraftManifest.versions(dir).foreach { v =>
      GraftManifest.readVersion(dir, Some(v)).get
    }
  }

  test("graft-sink delta auto-rebase: appender vs deleter both land, no caller replan") {
    // Logically disjoint commits (VERDICT r9 next #6): a DML delete that
    // loses its commit race to PURE APPENDS must rebase internally onto
    // the moved head and land — the appended files survive, the vectors
    // apply, and nobody re-plans. Repeat under true concurrency.
    import graft.sources.{GraftDeltaBatchWrite, GraftDeltaCommit, GraftDv, GraftDvFragment, GraftManifest}
    import org.apache.spark.sql.types.StructType
    val dir = tmp("graft_rebase")
    spark.range(10).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val head1 = GraftManifest.readVersion(dir, None).get
    val file = head1.metas.head.name
    val schema = StructType.fromDDL("id BIGINT")
    def frag(tag: String, positions: Seq[Long]): GraftDvFragment = {
      val name = s"$file.$tag.dv.tmp"
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        GraftDv.encode(positions.toArray))
      GraftDvFragment(file, name, positions.length.toLong)
    }
    // DELETE planned against v1; APPENDS land v2 and v3 before its commit
    val delete = new GraftDeltaBatchWrite(dir, schema, "rb", head1.version)
    spark.range(100, 105).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    spark.range(200, 203).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    assert(GraftManifest.versions(dir).max == 3)
    delete.commit(Array(GraftDeltaCommit(Seq.empty, Seq(frag("rb", Seq(2L, 5L))))))
    val fin = GraftManifest.readVersion(dir, None).get
    assert(fin.version == 4 && fin.total == 16L,
      s"rebase must keep both appends (8 + 5 + 3 rows): $fin")
    val live = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(_.getLong(0)).toSet
    assert(live == ((0L until 10L).toSet -- Set(2L, 5L)) ++ (100L until 105L) ++ (200L until 203L))
    // a CONFLICTING rewrite (another DML's vector) still throws: plan two
    // deletes off the rebased head, race them — exactly one loses loudly
    val base = fin.version
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = Seq(Seq(0L), Seq(7L)).zipWithIndex.map { case (ps, i) =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] =
          try {
            new GraftDeltaBatchWrite(dir, schema, s"rb$i", base)
              .commit(Array(GraftDeltaCommit(Seq.empty, Seq(frag(s"rb$i", ps)))))
            None
          } catch { case t: Throwable => Some(t) }
      })
    }.map(_.get())
    pool.shutdown()
    assert(results.flatten.size == 1 &&
      results.flatten.head.isInstanceOf[java.util.ConcurrentModificationException],
      s"a concurrent DML conflict must still lose loudly: $results")
  }

  test("deletion-vector codec: encode/decode roundtrips every seeded shape, both containers") {
    import graft.sources.GraftDv
    val rnd = new Random(77)
    val shapes: Seq[Array[Long]] = Seq(
      Array.empty[Long], // no positions
      Array(0L), Array(123456789L), // single points
      (0L until 5000L).toArray, // full contiguous run (RLE: one pair)
      (0L until 70000L by 7L).toArray, // every-7th (bitmap wins)
      Array(3L, 10L, 17L, 1000000L, 1000001L), // mixed
      // random sparse + random dense
      Seq.fill(2000)(math.abs(rnd.nextLong()) % 1000000L).distinct.sorted.toArray,
      Seq.fill(4000)(math.abs(rnd.nextLong()) % 8000L).distinct.sorted.toArray)
    shapes.foreach { ps =>
      val enc = GraftDv.encode(ps)
      val dec = GraftDv.positions(enc).toArray
      assert(dec.sameElements(ps),
        s"roundtrip failed for ${ps.length} positions (format ${if (enc.length > 1) enc(1) else -1})")
    }
    // container choice sanity: contiguous run compresses to O(1); the
    // every-7th pattern lands under 1 byte/row (the bitmap container)
    val run = GraftDv.encode((0L until 100000L).toArray)
    assert(run.length < 16, s"contiguous run must be O(1) bytes, got ${run.length}")
    val mod7 = GraftDv.encode((0L until 700000L by 7L).toArray)
    assert(mod7.length.toDouble / 100000 < 1.0,
      s"every-7th delete must encode under 1 byte/row, got ${mod7.length.toDouble / 100000}")
    // legacy ASCII sidecars stay readable
    val legacy = "3\n10\n17\n".getBytes("UTF-8")
    assert(GraftDv.positions(legacy).toSeq == Seq(3L, 10L, 17L))
    // an unknown format byte fails loudly instead of misdecoding
    intercept[IllegalStateException] {
      GraftDv.positions(Array(0x47.toByte, 0x7f.toByte, 1.toByte)).toArray
    }
  }

  test("graft-sink delta-commit race: two DML jobs off one base — one wins, one throws, no row lost") {
    // The DML twin of the rewrite-vs-append law: two merge-on-read
    // deletes plan against the SAME base version and race their commits.
    // Exactly one may win; the loser must throw
    // ConcurrentModificationException (a blind retry would publish a
    // head that silently forgets the winner's vector). Sequential
    // re-plan then succeeds, and the final head reflects BOTH deletes.
    import graft.sources.{GraftDeltaBatchWrite, GraftDeltaCommit, GraftDvFragment, GraftManifest}
    import org.apache.spark.sql.types.StructType
    val dir = tmp("graft_dml_race")
    spark.range(10).selectExpr("id").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val head = GraftManifest.readVersion(dir, None).get
    val file = head.metas.head.name
    val schema = StructType.fromDDL("id BIGINT")
    def frag(tag: String, positions: Seq[Long]): GraftDvFragment = {
      val name = s"$file.$tag.dv.tmp"
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        positions.mkString("\n").getBytes("UTF-8"))
      GraftDvFragment(file, name, positions.length.toLong)
    }
    def commitDelete(tag: String, positions: Seq[Long]): Unit =
      new GraftDeltaBatchWrite(dir, schema, tag, GraftManifest.versions(dir).last)
        .commit(Array(GraftDeltaCommit(Seq.empty, Seq(frag(tag, positions)))))
    // both plan against v1; run them truly concurrently
    val base = head.version
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = Seq(Seq(2L, 4L), Seq(4L, 7L)).zipWithIndex.map { case (ps, i) =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] =
          try {
            new GraftDeltaBatchWrite(dir, schema, s"race$i", base)
              .commit(Array(GraftDeltaCommit(Seq.empty, Seq(frag(s"race$i", ps)))))
            None
          } catch { case t: Throwable => Some(t) }
      })
    }.map(_.get())
    pool.shutdown()
    val failures = results.flatten
    assert(failures.size == 1 &&
      failures.head.isInstanceOf[java.util.ConcurrentModificationException],
      s"exactly one racer must lose with CME, got $results")
    // loser re-plans against the new head and lands; both deletes hold
    val winnerKilled = GraftManifest.readVersion(dir, None).get.total
    assert(winnerKilled == 8L)
    val loserPs = if (results.head.isEmpty) Seq(4L, 7L) else Seq(2L, 4L)
    commitDelete("replan", loserPs)
    // whoever won, the union of both racers' positions is {2,4,7}
    val fin = GraftManifest.readVersion(dir, None).get
    assert(fin.total == 7L)
    val live = spark.read.format("graft-sink").option("path", dir).load()
      .collect().map(_.getLong(0)).toSet
    assert(live == (0L until 10L).toSet -- Set(2L, 4L, 7L))
    // RESTORE to the vectored middle version keeps its sidecar referenced
    val mid = GraftManifest.versions(dir)(1) // the race winner's version
    val midMetas = GraftManifest.readVersion(dir, Some(mid)).get
    GraftManifest.commitMetas(dir, midMetas.metas,
      truncate = true, expectedBase = Some(GraftManifest.versions(dir).last),
      header = _.copy(schemaDdl = midMetas.schemaDdl))
    GraftManifest.vacuum(dir, 1, 0)
    assert(spark.read.format("graft-sink").option("path", dir).load().count() == 8L)
  }

  test("bundle ref codec: seeded parse/absolutize/render round-trips") {
    import graft.sources.GraftBloomSidecars._
    val rnd = new Random(1616)
    // name alphabet mirrors what the writers generate (no ':' ever), plus
    // dots and dashes in the positions real sidecar/bundle names use them
    def randName(): String = {
      val chars = "abcdefghijklmnopqrstuvwxyz0123456789.-_"
      (0 until (3 + rnd.nextInt(24)))
        .map(_ => chars(rnd.nextInt(chars.length))).mkString + ".idb"
    }
    for (_ <- 1 to 2000) {
      val name = randName()
      val (off, len) = (rnd.nextInt(1 << 24), 1 + rnd.nextInt(1 << 20))
      val ranged = bundleRef(name, off, len)
      assert(isRef(ranged) && refName(ranged).contains(name))
      assert(splitRef(ranged.drop(1)) == ((name, Some((off, len)))))
      // absolutize → render is identity on the bare form; absolutize is
      // idempotent (a re-parse of a rendered manifest re-qualifies)
      val abs = absolutize(ranged, Some("/t/dir"))
      assert(abs == s"@/t/dir/$name:$off:$len")
      assert(renderPayload(abs) == ranged)
      assert(absolutize(renderPayload(abs), Some("/t/dir")) == abs)
      // the plain (un-ranged) form survives the same cycle
      val plain = s"@$name"
      assert(splitRef(plain.drop(1)) == ((name, None)))
      assert(renderPayload(absolutize(plain, Some("/t/dir"))) == plain)
    }
    // oversized ranges (10+ digits / past Int.MaxValue) parse as PLAIN
    // names — the degrade path, never a NumberFormatException at parse
    for (bad <- Seq("f.idb:9999999999:1", "f.idb:1:2147483648",
        s"f.idb:${Long.MaxValue}:${Long.MaxValue}")) {
      assert(splitRef(bad)._2.isEmpty, s"must fall through to plain: $bad")
      assert(refName("@" + bad).isDefined) // still a name, still degradable
    }
    // a name that ENDS in small :digits:digits is indistinguishable from
    // a ranged ref by design — pin that the generated-name alphabet
    // (writers never emit ':') is what keeps this unambiguous
    assert(!randName().contains(":"))
  }

}
