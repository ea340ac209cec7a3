package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}

import graft.util.Tables._

/** SURVEY.md §2.J + the LLM-training-data text operators ([R2] north star):
  * term frequencies, n-grams, tf-idf ranking, shingle-Jaccard near-dup
  * detection, language ID, quality scoring, token counting, fingerprinting.
  *
  * Determinism: all outputs are integers, strings, or ranks (rule D3); the
  * only float in any plan is tf-idf's ln(), which is validated against the
  * oracle at t2 (both engines call libm log on identical doubles).
  *
  * Scale: tokenize/count paths are explode→groupBy (shuffle on the token,
  * map-side partial aggregation); pairwise operators block on `lang` here and
  * degrade to MinHash-LSH banding (ops/Dedup.scala) at 100 TB where any
  * all-pairs join is infeasible.
  */
object Text {

  private def words: Column = split(col("text"), " ")

  /** Per-doc distinct bigram shingles — the unit for Jaccard/MinHash. The
    * fixtures' 31-word vocabulary makes word-set similarity meaningless
    * (median pairwise Jaccard 0.63); bigrams are discriminative (q99 0.08,
    * planted near-dups at 0.9+).
    *
    * zip_with(slice, slice) rather than transform(sequence, element_at):
    * element_at inside a lambda re-evaluates split() per ELEMENT (~180
    * splits/doc — subexpression elimination does not cross lambda
    * boundaries), while the slice form evaluates it ~3× per row. Measured
    * 60× cheaper on the hot near-dup paths. */
  private[graft] def bigramsOf(ws: Column): Column =
    array_distinct(zip_with(
      slice(ws, lit(1), size(ws) - 1),
      slice(ws, lit(2), size(ws) - 1),
      (x, y) => concat(x, lit(" "), y)))

  private def bigrams: Column = bigramsOf(words)

  def textTokenizeTf(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("word").asc)
    documents(spark, sf)
      .select(col("lang"), explode(words).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 20)
      .select(col("lang"), col("rn"), col("word"), col("cnt"))
      .orderBy(col("lang"), col("rn"))
  }

  def textNgrams(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram").asc)
    documents(spark, sf)
      .select(col("lang"),
        explode(zip_with(
          slice(words, lit(1), size(words) - 1),
          slice(words, lit(2), size(words) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
      .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 10)
      .select(col("lang"), col("rn"), col("bigram"), col("cnt"))
      .orderBy(col("lang"), col("rn"))
  }

  /** tf-idf top-5 terms per English doc; output is (doc, term, rank) only —
    * the ln() score itself never leaves the plan (rule D3). */
  def textTfidfTopterms(spark: SparkSession, sf: String): DataFrame = {
    val en = documents(spark, sf).where(col("lang") === "en")
    val tokens = en.select(col("doc_id"), explode(words).as("word"))
    val tf = tokens.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tokens.select(col("doc_id"), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = en.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("word").asc)
    tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("doc_id"), col("rn"), col("word"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Near-duplicate pairs by exact bigram-shingle Jaccard ≥ 0.5, same-lang
    * blocked. Threshold applied as 2·i ≥ u — pure integer arithmetic, no
    * division anywhere (D3). The naive pairwise SQL is kept as the oracle
    * to prove the formulation identical.
    *
    * Formulation (round 2): dictionary-encode shingles to dense ints
    * (broadcast join over the vocabulary), pack each doc's shingle set as a
    * SORTED int array, then lang-blocked pair join with the codegen'd
    * [[graft.functions.SortedIntersectSize]] merge scan and the
    * size-compatibility residual (J≥0.5 ⇒ 2·min(n) ≥ max(n)) inside the
    * join. This replaced the round-1 postings co-occurrence plan: with a
    * dense vocabulary every shingle is common, so co-occurrence shuffles
    * O(Σ df²) ≈ 80M rows at sf0.1 (11 s), while the packed-set pair scan
    * streams the same pairs with zero per-pair allocation (<2 s). At
    * 100 TB neither exact variant runs on the full corpus — MinHash-LSH
    * banding (ops/Dedup.scala) prunes candidates first and THIS kernel
    * verifies the survivors exactly. */
  def textJaccardDup(spark: SparkSession, sf: String): DataFrame =
    jaccardPairs(spark, sf).orderBy(col("doc_a"), col("doc_b"))

  /** The exact near-dup pair list, computed ONCE per (session, sf) and
    * localCheckpointed — [[textJaccardDup]] presents it and
    * [[Pipeline.dedupCcComponents]] clusters it; without the memo the
    * pair scan ran end-to-end twice across those keys (same discipline as
    * Pipeline.lshCcMemo). Each key stays a pure function of (spark, sf). */
  private val pairsMemo = graft.util.Memos.memo[DataFrame]

  private[graft] def jaccardPairs(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(pairsMemo, spark, sf)(
      jaccardPairsFresh(spark, sf).localCheckpoint())

  /** (doc_id, lang, n, sh): the fixture documents' exploded distinct-bigram
    * shingles with the per-doc distinct count — the shared base every
    * shingle consumer (minhash signatures, packed sets, the exact pair
    * scan, simhash) derives from, computed ONCE per (session, sf) and
    * localCheckpointed. The bigram HOF pipeline carries ~2 s of fixed
    * codegen/planning cost (measured r4) regardless of data size; sharing
    * the materialized explode pays it once per session instead of once
    * per key. */
  private val shinglesMemo = graft.util.Memos.memo[DataFrame]

  private[graft] def shingles(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(shinglesMemo, spark, sf) {
      val docs = documents(spark, sf)
      docs
        // spread the CPU-bound bigram/explode pipeline off the 1-task
        // single-file scan (r18); r19 caps the width by INPUT SIZE
        // (VERDICT r18 #2 — width = cores planned 32 tiny tasks on the
        // 5 000-doc fixture; ~64 KB of text per bigram/explode task, words
        // are proportional to bytes here)
        .repartition(graft.util.Widths.dataWidth(docs, 64 << 10),
          col("doc_id"))
        .select(col("doc_id"), col("lang"), bigrams.as("bg"))
        .select(col("doc_id"), col("lang"), size(col("bg")).as("n"),
          explode(col("bg")).as("sh"))
        .localCheckpoint()
    }

  /** Un-memoized pair kernel (DeterminismSpec re-runs it under both codegen
    * modes — a memo would make that comparison vacuous; the scan CONSUMES
    * the memoized packed-set index, which both codegen runs read
    * identically — the merge scan is what the comparison exercises). The
    * df ≥ 2 id space is exact for |A∩B| (a df = 1 term can appear in no
    * intersection) while `n` counts ALL distinct terms, so this is the
    * same i/u the full-dictionary encoding produced. */
  private[graft] def jaccardPairsFresh(spark: SparkSession, sf: String): DataFrame = {
    val sets = packedSets(spark, sf)
    // The packed-set frame is tiny in bytes, so AQE coalesces the post-agg
    // shuffle to ONE partition — and the O(pairs) scan below would run on a
    // single core (measured 9.6 s vs 2.4 s at local[32], sf0.1). Pin the
    // streamed side to the session's shuffle width: pair-scan cost is per
    // ROW-PAIR, not per byte, so partition count must follow cores, not data
    // size. Explicit N stops AQE from re-coalescing.
    val width = spark.sessionState.conf.numShufflePartitions
    val a = sets.repartition(width, col("doc_id"))
      .select(col("lang"), col("doc_id").as("doc_a"),
        col("n").as("n_a"), col("sids").as("sids_a"))
    val b = sets.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("n").as("n_b"), col("sids").as("sids_b"))
    // lang has 5 distinct values — a shuffle join would cap parallelism at
    // 5 partitions; broadcasting the packed sets (~4 MB at sf0.1) keeps all
    // cores on the pair scan. (At corpus scale this join never runs raw —
    // LSH candidates first.)
    a.join(broadcast(b),
        col("lang") === col("lang_b") && col("doc_a") < col("doc_b") &&
        col("n_a") * 2 >= col("n_b") && col("n_b") * 2 >= col("n_a"))
      // early-abort verify (r18): the α-thresholded merge scan returns −1
      // for any pair that cannot reach i ≥ ⌈(n_a+n_b)/3⌉ (⇔ 2i ≥ u), which
      // the i > 0 / 2i ≥ u filters below drop exactly as the full scan's
      // result would be — surviving rows carry the identical exact i.
      .withColumn("i", expr("cast(sorted_intersect_prune(sids_a, sids_b," +
        " -1, cast((n_a + n_b + 2) div 3 as int)) & 4294967295 as int)"))
      .withColumn("u", (col("n_a") + col("n_b") - col("i")).cast("int"))
      .where(col("i") * 2 >= col("u") && col("i") > 0)
      .select(col("doc_a"), col("doc_b"), col("lang"), col("i"), col("u"))
  }

  /** Exact Jaccard near-dup pairs via PREFIX FILTERING over the materialized
    * term index — same pairs as [[textJaccardDup]], different (index-driven)
    * plan. AllPairs/PPJoin (Bayardo et al., WWW'07; Xiao et al., WWW'08):
    * with sets sorted by a global term order and threshold t, a qualifying
    * pair (i ≥ ⌈t·n⌉ for each side, from the size filter) must share a term
    * within each side's first m − ⌈t·n⌉ + 1 encoded terms. So candidates come
    * from an EQUI-JOIN on prefix term ids — keyed by term like a postings
    * lookup, never an all-pairs scan — and only candidates pay the exact
    * merge-scan verify. Df-ascending ids make prefixes maximally selective.
    *
    * The round-1 postings co-occurrence plan lost because it recomputed
    * postings per query AND joined on every term; this one amortizes the
    * index (localCheckpoint — built once, reused by both prefix sides) and
    * joins only on prefix terms. n counts ALL distinct shingles while ids
    * cover the df ≥ 2 subset — sound, because a singleton term can appear
    * in no intersection.
    *
    * Candidate DEDUP is fused into the join, not a distinct+re-join: the
    * packed sets ride along the exploded prefixes and a pair survives only
    * on the row whose join term is the FIRST common element of the two
    * sets (the smallest common element sorts before any shared element, so
    * it is inside both prefixes whenever the pair qualifies at all). One
    * [[graft.functions.SortedIntersectFirstSize]] merge scan per candidate
    * row yields that first element AND the exact intersection size, so
    * verification happens in the same whole-stage-codegen pipeline and
    * nothing shuffles after the candidate join. */
  def textJaccardIndexed(spark: SparkSession, sf: String): DataFrame =
    jaccardPairsOf(packedSets(spark, sf))

  /** The memoized packed-set index for the fixture documents table —
    * shared with [[graft.ops.Dedup.dedupBandSweep]], whose exact verify
    * runs on the same integer ids (df = 1 terms can't intersect, so the
    * df ≥ 2 id space is exact for |A∩B|); one session builds the index
    * once for both keys. */
  private[graft] def packedSets(spark: SparkSession, sf: String): DataFrame =
    sigsAndSets(spark, sf)
      .select(col("lang"), col("doc_id"), col("n"), col("sids"), col("m"))

  /** Shingle rows up to which [[sigsAndSets]] finishes on the driver: one
    * count of the checkpointed shingle frame decides, and a frame this
    * small is collected and built in plain Scala rather than by a dozen
    * Spark jobs (at fixture scale the distributed build's cost is job
    * latency, not work). The driver build won at every measured scale
    * up to sf1 on 4 cores, so the bound is memory: the whole build (the
    * collected rows, the per-term maps and digests, the grouped rows and
    * the output) peaked at ~300 B per shingle row on the fixture corpora
    * and ~700 B on a worst-case vocabulary of 250 000 df = 2 terms
    * (measured as used heap after GC, sampled through the build). At
    * 768 B a row the build stays within an eighth of the driver heap,
    * well inside the user share Spark leaves outside its unified memory
    * region: ~311 000 rows at the benchmark's 2 GB parallel-collector
    * heap (sf0.1 is 256 k rows), 1.4 M at 8 GB (sf1 is 2.6 M).
    * Measurements in DECISIONS.md. */
  private[graft] val ShinglesOnDriver: Long = Runtime.getRuntime.maxMemory / 8 / 768

  /** ONE aggregate pass over the shared shingle base computing BOTH
    * per-doc kernels every dedup/jaccard key needs: the packed df-≥2
    * term-id sets (the exact-verify index) AND the 8 MinHash components
    * (min salted-md5, hashed once per DISTINCT shingle). Fused, the corpus
    * is aggregated once per (session, sf) and [[packedSets]] /
    * Dedup.fixtureSigs are free projections. A doc whose every bigram is
    * df = 1 keeps an empty sids array — candidates can't involve such
    * docs (a band collision implies a shared, hence df ≥ 2, shingle).
    *
    * Two paths, one answer (`lang, doc_id, n, sids, h1..h8, m`): a shingle
    * frame of at most [[ShinglesOnDriver]] rows is collected and the frame
    * is built on the driver and returned local (not checkpointed —
    * Dedup.verifiedCands and Pipeline.starContract then stay on the
    * driver too); a larger one takes the distributed aggregate and is
    * localCheckpointed. */
  private[graft] def sigsAndSets(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(jacSetsMemo, spark, sf)(sigsAndSetsOf(shingles(spark, sf)))

  /** [[sigsAndSets]] over any (doc_id, lang, n, sh) shingle frame.
    * (`localRows` is a test seam: 0 forces the distributed path.) */
  private[graft] def sigsAndSetsOf(d: DataFrame,
      localRows: Long = ShinglesOnDriver): DataFrame =
    // one job sizes the checkpointed frame (Dataset.count would plan an
    // aggregate, two jobs under AQE)
    if (localRows > 0 && d.queryExecution.toRdd.count() <= localRows) sigsAndSetsOnDriver(d)
    else {
      // ONE distinct-term pass feeds both per-term artifacts: the
      // df-ascending packed-set id (df ≥ 2 subset, same (df, term) order
      // as termIndexOf so the ids are identical) and the 8 salted minhash
      // hashes — then ONE term-keyed join carries both onto the
      // occurrences. No broadcast hint: AQE broadcasts the term table
      // while it is small and falls back to a shuffle join on the
      // shingle key at web-scale vocabularies.
      val terms = d.groupBy(col("sh"))
        .agg(count(lit(1)).cast("int").as("df"))
      val withIds = graft.util.Ids.zipWithIndex(
          terms.where(col("df") >= 2), "sid0", col("df"), col("sh"))
        .select(col("sh"), (col("sid0") + 1).cast("int").as("sid"))
      // no checkpoint on the term table (r19): it is consumed exactly once
      // (the broadcast build below) and zipWithIndex already materialized
      // the expensive ordered shard inside withIds — checkpointing a
      // vocabulary-sized frame here only added a job + a blockmgr
      // round-trip per kernel build
      val termTable = terms.join(withIds, Seq("sh"), "left")
        .select(col("sh") +: col("sid") +: (1 to 8).map(j =>
          md5(concat(lit(s"$j:"), col("sh"))).as(s"g$j")): _*)
      d.join(termTable, "sh")
        .groupBy(col("lang"), col("doc_id"), col("n"))
        .agg(sort_array(collect_set(col("sid"))).as("sids"),
          (1 to 8).map(j => min(col(s"g$j")).as(s"h$j")): _*)
        .withColumn("m", size(col("sids")))
        .localCheckpoint()
    }

  /** The driver build of [[sigsAndSetsOf]], the same frame as the
    * distributed one: term ids are 1-based over the df ≥ 2 shingles in
    * (df, shingle) order with shingles compared as unsigned UTF-8 bytes
    * (Spark's string order, not `String.compareTo`, which differs past
    * U+FFFF); `h1..h8` are the minimum lowercase-hex md5 of `"j:<sh>"`
    * over all of a doc's shingles. */
  private def sigsAndSetsOnDriver(d: DataFrame): DataFrame = {
    val rows = d.select(col("lang"), col("doc_id"), col("n"), col("sh")).collect()
    val df = rows.groupMapReduce(_.getString(3))(_ => 1)(_ + _)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val sid = df.toArray.filter(_._2 >= 2)
      .map { case (sh, n) => (n, sh.getBytes(utf8), sh) }
      .sortWith { (a, b) =>
        a._1 < b._1 || a._1 == b._1 && java.util.Arrays.compareUnsigned(a._2, b._2) < 0 }
      .iterator.map(_._3).zipWithIndex.map { case (sh, i) => sh -> (i + 1) }.toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    // per distinct term: its sid (0 for df = 1) and its 8 salted md5
    // digests packed into 128 bytes; unsigned byte order of a digest is
    // the order of its lowercase hex, so only the per-doc minima are hexed
    val terms = df.map { case (sh, _) =>
      val g = new Array[Byte](128)
      for (j <- 0 until 8) {
        md.update(s"${j + 1}:$sh".getBytes(utf8))
        md.digest(g, 16 * j, 16)
      }
      sh -> (sid.getOrElse(sh, 0), g)
    }
    val hex = java.util.HexFormat.of()
    def minHex(gs: Array[Array[Byte]], j: Int): String = {
      val (from, to) = (16 * j, 16 * j + 16)
      hex.formatHex(gs.reduce((a, b) =>
        if (java.util.Arrays.compareUnsigned(a, from, to, b, from, to) <= 0) a else b), from, to)
    }
    val out = rows.groupBy(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSeq.sortBy(_._1._2).map { case ((lang, docId, n), occ) =>
        val ts = occ.map(r => terms(r.getString(3)))
        val sids = ts.map(_._1).filter(_ > 0).distinct.sorted
        val gs = ts.map(_._2)
        Row.fromSeq(Seq(lang, docId, n, sids.toSeq) ++ (0 until 8).map(minHex(gs, _)) :+
          sids.length)
      }
    val in = d.schema
    graft.util.Local.frame(d.sparkSession, out, StructType(
      Seq(in("lang"), in("doc_id"), in("n"),
        StructField("sids", ArrayType(IntegerType, containsNull = false), nullable = false)) ++
      (1 to 8).map(j => StructField(s"h$j", StringType)) :+
      StructField("m", IntegerType, nullable = false)))
  }

  /** The term index + packed sets are a pure function of (session, sfDir)
    * and cost ~2 s of fixed zipWithIndex/localCheckpoint work per build —
    * memoized per (session, sf) exactly like Pipeline.lshCcMemo, so
    * repeated invocations in one session (bench, verify, API callers) pay
    * the index once. Keyed by session so a checkpoint never outlives the
    * session that owns it; a racing double-compute is wasted work, never
    * wrong results. (private[graft]: specs fill a session's entry with the
    * forced distributed build to run every consumer on that path.) */
  private[graft] val jacSetsMemo = graft.util.Memos.memo[DataFrame]

  /** Frame-generic prefix-filter kernel over any (doc_id, text[, lang])
    * frame — no `lang` column means one global block. (private[graft]:
    * api.Graft exposes it as `jaccardPairsIndexed`.) */
  private[graft] def jaccardIndexedOf(docs: DataFrame): DataFrame =
    jaccardPairsOf(jaccardSetsOf(docs))

  /** Index-build half: df-ascending term ids + packed sorted sets, both
    * localCheckpointed (built once, reused by both prefix sides). */
  private def jaccardSetsOf(docs: DataFrame): DataFrame = {
    val src =
      if (docs.columns.contains("lang")) docs
      else docs.withColumn("lang", lit(""))
    jaccardSetsFromShingles(src
      .select(col("doc_id"), col("lang"), bigrams.as("bg"))
      .select(col("doc_id"), col("lang"), size(col("bg")).as("n"),
        explode(col("bg")).as("sh")))
  }

  /** Same, over a prebuilt (doc_id, lang, n, sh) shingle frame. */
  private def jaccardSetsFromShingles(d: DataFrame): DataFrame = {
    val idx = termIndexOf(d)
    d.join(broadcast(idx), col("sh") === col("term"))
      .groupBy(col("lang"), col("doc_id"), col("n"))
      .agg(sort_array(collect_set(col("sid"))).as("sids"))
      .withColumn("m", size(col("sids")))
      .localCheckpoint()
  }

  /** Dense df-ascending term ids over the df ≥ 2 vocabulary WITHOUT a
    * single-partition row_number window — at a billion-term vocabulary
    * that window is a straggler; the two-pass zipWithIndex stays sharded.
    * (int ids cap the vocabulary at 2^31 — beyond that the packed arrays
    * move to long.) */
  private def termIndexOf(d: DataFrame): DataFrame =
    graft.util.Ids.zipWithIndex(
        d.groupBy(col("sh").as("term"))
          .agg(count(lit(1)).cast("int").as("df"))
          .where(col("df") >= 2),
        "sid0", col("df"), col("term"))
      .select(col("term"), (col("sid0") + 1).cast("int").as("sid"))
      .localCheckpoint()

  /** Prefix-explode → equi-join → fused verify half, over prebuilt sets.
    *
    * r18 per-candidate-CPU work (guide §1.2 step 2 — this join's verify
    * stage was 22 s of task time at sf0.1, the bench's hottest stage):
    * (1) prefixes ride POSexplode and the join condition adds the PPJoin
    * positional suffix bound `min(m_a − pos_a, m_b − pos_b) ≥ α` — for the
    * kept (first-common) row every match sits at positions ≥ pos, so a
    * candidate that can't reach the α = ⌈(n_a+n_b)/3⌉ overlap the t = 0.5
    * threshold demands is dropped by integer math BEFORE any merge scan;
    * (2) survivors verify through [[graft.functions.SortedIntersectPrune]],
    * which aborts mid-scan on first-common ≠ sid or an unreachable α
    * instead of walking both arrays to the end. Both prunes only drop rows
    * the filters below drop anyway (pair set is provably identical; the
    * sentinel −1 fails `sid = first`, `i > 0` and `2i ≥ u` at once). */
  private def jaccardPairsOf(sets: DataFrame): DataFrame = {
    // t = 0.5 ⇒ required overlap α = ⌈n/2⌉; prefix = first m − α + 1 ids.
    val pref = sets
      .withColumn("p", greatest(lit(0), col("m") - expr("(n + 1) div 2") + 1))
      .select(col("lang"), col("doc_id"), col("n"), col("m"), col("sids"),
        posexplode(slice(col("sids"), lit(1), col("p"))).as(Seq("pos", "sid")))
    val ca = pref.select(col("lang"), col("doc_id").as("doc_a"),
      col("n").as("n_a"), col("m").as("m_a"), col("sids").as("sids_a"),
      col("pos").as("pos_a"), col("sid"))
    val cb = pref.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"),
      col("n").as("n_b"), col("m").as("m_b"), col("sids").as("sids_b"),
      col("pos").as("pos_b"), col("sid").as("sid_b"))
    // i*2 ≥ u ⇔ 3i ≥ n_a+n_b ⇔ i ≥ ⌈(n_a+n_b)/3⌉ (i integer)
    val alpha = expr("cast((n_a + n_b + 2) div 3 as int)")
    ca.join(cb,
        col("sid") === col("sid_b") && col("lang") === col("lang_b") &&
        col("doc_a") < col("doc_b") &&
        col("n_a") * 2 >= col("n_b") && col("n_b") * 2 >= col("n_a") &&
        least(col("m_a") - col("pos_a"), col("m_b") - col("pos_b")) >= alpha)
      .withColumn("stats", expr("sorted_intersect_prune(sids_a, sids_b, sid," +
        " cast((n_a + n_b + 2) div 3 as int))"))
      // keep exactly the row joined on the first common element (dedup) …
      .where(col("sid") === shiftright(col("stats"), 32).cast("int"))
      // … and verify on the size from the same scan.
      .withColumn("i", (col("stats").bitwiseAND(lit(0xffffffffL))).cast("int"))
      .withColumn("u", (col("n_a") + col("n_b") - col("i")).cast("int"))
      .where(col("i") * 2 >= col("u") && col("i") > 0)
      .select(col("doc_a"), col("doc_b"), col("lang"), col("i"), col("u"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Language ID by corpus-derived profiles: top-20 words per lang, score a
    * doc by how many of its distinct words hit each profile, argmax with a
    * total tie-break. Integer scoring end to end. */
  def textLangid(spark: SparkSession, sf: String): DataFrame = {
    val d = documents(spark, sf)
    val tokens = d.select(col("doc_id"), col("lang"), explode(words).as("word"))
    val wTop = Window.partitionBy(col("plang")).orderBy(col("cnt").desc, col("word").asc)
    val profiles = tokens
      .groupBy(col("lang").as("plang"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wTop)).where(col("rn") <= 20)
      .select(col("plang"), col("word"))
    val docWords = d.select(col("doc_id"), col("lang"),
      explode(array_distinct(words)).as("word"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("matches").desc, col("plang").asc)
    docWords.join(profiles, "word")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(count(lit(1)).as("matches"))
      .withColumn("rn", row_number().over(wBest)).where(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("predicted"),
        (col("lang") === col("plang")).cast("int").as("hit"))
      .orderBy(col("doc_id"))
  }

  /** Integer quality metrics: word/char counts, type-token ratio and
    * stopword ratio as exact scaled integers (integer div — no floats). */
  def textQualityScore(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"),
        aggregate(words, lit(0), (acc, x) => acc + length(x)).as("total_chars"),
        size(filter(words, w => w.isin("data", "table", "row", "value", "key")))
          .as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        // widen BEFORE multiplying: n_distinct * 1000000 overflows 32-bit
        // int silently in Spark at ~2147 distinct words (ADVICE r13) while
        // the oracle's BIGINT promotes — long math on both engines
        expr("(cast(total_chars as bigint) * 100) div n_words").as("avg_len_e2"),
        expr("(cast(n_distinct as bigint) * 1000000) div n_words").as("ttr_e6"),
        expr("(cast(n_stop as bigint) * 1000000) div n_words").as("stop_e6"))
      .withColumn("quality",
        when(col("n_words") >= 30 && col("ttr_e6") >= 300000, "good")
          .when(col("n_words") >= 15, "fair")
          .otherwise("poor"))
      .orderBy(col("doc_id"))

  /** END-TO-END CURATION PASS as ONE declarative plan (round 13 — the
    * composition a pretraining-data team actually ships, where the
    * single keys are its unit tests): quality gate (length + type-token
    * ratio, integer-exact) → exact content dedup (md5 fingerprint,
    * min-doc_id canonical survivor) → deterministic train-holdout split
    * (content-salted md5, the etl_split_train_eval convention). Shape at
    * 100 TB: one scan, one shuffle (the fingerprint groupBy + the
    * (fp, doc_id) equi self-join), then a pure per-row split filter —
    * the quality gate and split never shuffle at all. Fully oracled. */
  def textCuratePipeline(spark: SparkSession, sf: String): DataFrame =
    curateKept(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_words"), col("ttr_e6"),
        col("fp"))
      .orderBy(col("doc_id"))

  /** Quality-gated, fingerprinted docs — curation stage 1+2 input. */
  private def curateQuality(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"))
      .withColumn("ttr_e6",
        // long math — same overflow-proofing as textQualityScore
        expr("(cast(n_distinct as bigint) * 1000000) div n_words"))
      .where(col("n_words") >= 15 && col("ttr_e6") >= 250000)
      .withColumn("fp", md5(col("text")))

  /** Canonical dedup survivors in the train split — the pipeline's keep
    * set (stages 2+3 applied to [[curateQuality]]). */
  private def curateKept(spark: SparkSession, sf: String): DataFrame = {
    val q = curateQuality(spark, sf)
    val keep = q.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    q.join(keep, Seq("fp", "doc_id"))
      .where(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        col("text"))), 1, 1) < "c")
  }

  /** CURATION FUNNEL AUDIT — the one-row report every curation run logs
    * (and alerting keys on): how many docs entered, survived the quality
    * gate, were content-unique, and landed in the train split. Three
    * 1-row aggregates cross-joined — the funnel costs one extra pass
    * over the same stages the pipeline runs, nothing quadratic. */
  def textCurateStats(spark: SparkSession, sf: String): DataFrame = {
    val q = curateQuality(spark, sf)
    documents(spark, sf).agg(count(lit(1)).as("n_in"))
      .crossJoin(broadcast(q.agg(count(lit(1)).as("n_quality"),
        countDistinct(col("fp")).as("n_unique"))))
      .crossJoin(broadcast(
        curateKept(spark, sf).agg(count(lit(1)).as("n_train"))))
  }

  /** Token counting three ways: whitespace, BPE-ish regex, chars/4 bound. */
  def textTokenCount(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"),
        size(words).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
        expr("(n_chars + 3) div 4").as("approx_bpe"))
      .orderBy(col("doc_id"))

  /** Canonical document fingerprint: md5 of the sorted distinct word set —
    * identical hex on both engines; groups are dedup buckets. */
  def textFingerprint(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(words)))).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc"))
      .orderBy(col("fp"))

  /** Distinct word-trigram set (decontamination granule). */
  private[ops] def trigramsOf(ws: Column): Column =
    array_distinct(zip_with(
      zip_with(slice(ws, lit(1), size(ws) - 2), slice(ws, lit(2), size(ws) - 2),
        (x, y) => concat(x, lit(" "), y)),
      slice(ws, lit(3), size(ws) - 2),
      (xy, z) => concat(xy, lit(" "), z)))

  /** Benchmark DECONTAMINATION — the training-data op that checks the
    * corpus for eval-set leakage before a training run: docs with
    * doc_id ≡ 0 (mod 97) stand in for the held-out benchmark; a training
    * doc sharing ≥ 2 distinct word-trigrams with any eval doc is flagged.
    * Pure inverted-index equi-join on the trigram (shuffle keyed by gram,
    * counts aggregated map-side) — the shape that scans 100 TB of training
    * text against a benchmark suite without ever forming doc pairs. */
  def textDecontaminate(spark: SparkSession, sf: String): DataFrame = {
    val d = documents(spark, sf)
    decontaminateOf(d.where(col("doc_id") % 97 =!= 0),
      d.where(col("doc_id") % 97 === 0))
  }

  /** Core decontamination over any (doc_id, text) train/eval frames —
    * inverted-index trigram join. (private[graft]: api.Graft reuses it.) */
  private[graft] def decontaminateOf(train: DataFrame, eval0: DataFrame): DataFrame = {
    def grams(d: DataFrame) =
      d.select(col("doc_id"), explode(trigramsOf(words)).as("g"))
    val evalG = grams(eval0).select(col("doc_id").as("eval_id"), col("g"))
    val trainG = grams(train)
    trainG.join(evalG, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .withColumn("contaminated", (col("n_shared") >= 2).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style REPETITION filter: per-doc duplicate-bigram mass.
    * n_total = bigram occurrences, n_distinct = distinct bigrams; a doc
    * whose duplicated share (n_total − n_distinct) reaches 20% of all
    * bigrams is flagged low-quality (boilerplate loops, keyword stuffing,
    * degenerate generations). Narrow per-row projection, no shuffle
    * except the presentation sort — runs at scan speed on 100 TB. */
  def textRepetitionFilter(spark: SparkSession, sf: String): DataFrame =
    documents(spark, sf)
      .select(col("doc_id"),
        (size(words) - 1).cast("int").as("n_total"),
        size(bigramsOf(words)).cast("int").as("n_distinct"))
      .withColumn("dup_flag",
        ((col("n_total") - col("n_distinct")) * 5 >= col("n_total")).cast("int"))
      .orderBy(col("doc_id"))

  /** Materialized POSTINGS INDEX over bigram shingles: term → document
    * frequency + sorted posting list. This is the reusable index that makes
    * prefix-filter / candidate joins pay (DECISIONS.md round-1: AllPairs
    * prefix filtering lost only because the postings were recomputed per
    * query — built once and persisted, this is the asset it needs).
    * One explode → groupBy(term) with map-side partial aggregation; at
    * 100 TB hot "stop-shingle" terms (df ≥ 5% of the corpus) carry no
    * discriminative value and their postings dominate the index — the
    * `hot` flag marks exactly the rows a scale run caps or drops.
    * Singleton terms (df = 1) can never generate a candidate pair and are
    * pruned here for the same reason. Hot-term postings are CAPPED at
    * [[Text.hotPostingsCap]] ids: a df ≥ 5% term at 100 TB is a single row
    * holding billions of ids — a guaranteed straggler/OOM — and consumers
    * never walk a stop-shingle's full list anyway. The emitted `postings`
    * column is a comma-joined string (atomic type) because array columns
    * cannot survive a sort-based cross-engine compare. */
  def textInvertedIndex(spark: SparkSession, sf: String): DataFrame = {
    val d = documents(spark, sf)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val full = d.select(col("doc_id"), explode(bigrams).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("int").as("df"),
        sort_array(collect_list(col("doc_id"))).as("plist"))
      .where(col("df") >= 2)
      .crossJoin(broadcast(nDocs))
      .withColumn("hot", (col("df") * 20 >= col("n_docs")).cast("int"))
    full.select(col("term"), col("df"), col("hot"),
        concat_ws(",",
          when(col("hot") === 1, slice(col("plist"), 1, hotPostingsCap))
            .otherwise(col("plist")).cast("array<string>")).as("postings"))
      .orderBy(col("term"))
  }

  /** Max posting ids retained for a hot (df ≥ 5% of corpus) term. */
  private[graft] val hotPostingsCap = 16

  /** C4/RefinedWeb-style SPAN-LEVEL exact dedup: the corpus is cut into
    * non-overlapping 10-word segments and every repeat of a segment already
    * seen earlier in the corpus (ordered by doc_id, then position) is
    * marked duplicated — the "remove duplicated spans, keep the first
    * occurrence" pass of Lee et al.'s Deduplicating Training Data, one
    * granularity below doc-level [[textFingerprint]] and one above bigram
    * [[textRepetitionFilter]]. Per-doc output: segment count, kept count,
    * duplicated count.
    *
    * Shape: explode → one shuffle keyed by the segment (first-occurrence
    * pick via row_number inside each segment group) → one groupBy(doc).
    * Never doc pairs. At 100 TB you shuffle a 64-bit segment hash instead
    * of the raw 10-word string (same plan, ~10× fewer shuffle bytes,
    * collisions vanishingly rare and only ever over-remove); the string is
    * kept here so the DuckDB oracle can replay the semantics exactly. */
  def textSegmentDedup(spark: SparkSession, sf: String): DataFrame =
    segmentDedupOf(documents(spark, sf))

  /** Frame-generic span-dedup kernel over any (doc_id, text) frame.
    * (private[graft]: api.Graft exposes it as `segmentDedup`.) */
  private[graft] def segmentDedupOf(docs: DataFrame): DataFrame = {
    val segs = docs
      .select(col("doc_id"), words.as("ws"), size(words).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), floor((col("n") - 1) / 10).cast("int")))
          .as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        concat_ws(" ", slice(col("ws"), col("seg_idx") * 10 + 1, lit(10))).as("seg"))
    val w = Window.partitionBy(col("seg"))
      .orderBy(col("doc_id").asc, col("seg_idx").asc)
    segs
      .withColumn("kept", (row_number().over(w) === 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"), sum(col("kept")).as("n_kept"))
      .withColumn("n_dup", col("n_seg") - col("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken's MOSS algorithm):
    * per position, the rightmost-minimum md5 of word 4-grams inside a
    * 5-hash window is selected — a CONTENT-DEFINED fingerprint set that
    * is provably shift-robust (any shared substring of ≥ 8 words yields a
    * shared fingerprint), unlike [[textSegmentDedup]]'s fixed-stride
    * segments which an inserted word misaligns. The rightmost-min rule is
    * the struct trick min(h, −pos) on BOTH engines, so selection is
    * deterministic under hash ties. Output per doc: fingerprint count and
    * how many fingerprints also occur in another doc — the sharing signal
    * comes from one hash-keyed groupBy, never doc pairs. */
  def textWinnowFingerprint(spark: SparkSession, sf: String): DataFrame =
    winnowReport(winnowSel(spark, sf))

  /** Selected winnow fingerprints of the documents table, computed ONCE
    * per (session, sf) and localCheckpointed — `text_winnow_fingerprint`
    * and `dedup_winnow_pairs` both consume this kernel, and without the
    * memo the posexplode + 5-row-window pass ran twice per session
    * (~4.2 s combined at sf0.1, VERDICT r14). Same discipline as
    * [[shingles]]/`lshCcLabels`: each key stays a pure function of
    * (spark, sfDir); the memo only stops the double-compute. */
  private val winnowSelMemo = graft.util.Memos.memo[DataFrame]

  private[graft] def winnowSel(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(winnowSelMemo, spark, sf)(
      winnowSelOf(documents(spark, sf)).localCheckpoint())

  /** MOSS-style near-dup PAIRS from shared winnow fingerprints: docs are a
    * pair when they share ≥ 3 distinct fingerprints. Fingerprints seen in
    * more than 16 docs are stop-fingerprints (boilerplate — carrying no
    * pair signal but quadratic join cost) and are dropped BEFORE the
    * self-join, the same df-cap guard as `dedup_substring`; candidates
    * come from the fingerprint-keyed equi-join only. */
  def dedupWinnowPairs(spark: SparkSession, sf: String): DataFrame = {
    val sel = winnowSel(spark, sf)
      .select(col("doc_id"), col("sh")).distinct()
    val cold = sel.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("dfc"))
      .where(col("dfc") >= 2 && col("dfc") <= 16)
      .select(col("sh"))
    val s = sel.join(cold, "sh")
    s.select(col("sh"), col("doc_id").as("doc_a"))
      .join(s.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .where(col("n_shared_fp") >= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Selected winnow fingerprints (doc_id, spos, sh) of any (doc_id, text)
    * frame — shared by the per-doc report and the pair generator. */
  private[graft] def winnowSelOf(docs: DataFrame): DataFrame = {
    val ws = words
    // A doc with < 4 words has no 4-grams; a raw `size(ws) - 3` slice
    // length would be NEGATIVE there and slice() throws at runtime (the
    // DuckDB oracle's WHERE n >= 4 handles it gracefully). Clamp to 0 so
    // short docs yield an empty gram array instead of failing the query.
    val g4len = greatest(size(ws) - 3, lit(0))
    val g4 = zip_with(
      zip_with(slice(ws, lit(1), g4len), slice(ws, lit(2), g4len),
        (a, b) => concat(a, lit(" "), b)),
      zip_with(slice(ws, lit(3), g4len), slice(ws, lit(4), g4len),
        (c, d) => concat(c, lit(" "), d)),
      (ab, cd) => concat(ab, lit(" "), cd))
    // repartition on doc_id BEFORE the explode (r19): the single-file
    // fixture scan otherwise runs the posexplode + per-gram md5 pass on
    // ONE task, and the 5-row window right after needs hashpartitioning
    // on doc_id anyway — this exchange replaces the window's (same count),
    // it just moves ahead of the CPU-heavy projection. Width follows the
    // input size (VERDICT r18 #2).
    val hashes = docs
      .repartition(graft.util.Widths.dataWidth(docs, 64 << 10), col("doc_id"))
      .select(col("doc_id"), posexplode(g4))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("h"))
    val w5 = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(-4, 0)
    hashes
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np"))).over(w5))
      .where(col("pos") >= 4) // complete windows only
      .select(col("doc_id"), (-col("m.np")).as("spos"), col("m.h").as("sh"))
      .distinct()
  }

  /** Frame-generic winnowing kernel over any (doc_id, text) frame. */
  private[graft] def winnowOf(docs: DataFrame): DataFrame =
    winnowReport(winnowSelOf(docs))

  /** Per-doc fingerprint report over an already-selected winnow set —
    * split from [[winnowOf]] so the memoized kernel feeds it directly. */
  private def winnowReport(sel: DataFrame): DataFrame = {
    val docFreq = sel.select(col("sh"), col("doc_id")).distinct()
      .groupBy(col("sh")).agg(countDistinct(col("doc_id")).as("df"))
    sel.join(docFreq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum((col("df") >= 2).cast("long")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** FEATURE HASHING (the hashing trick): bigram occurrences folded into a
    * fixed 64-dimension sparse count vector per doc — the stateless text
    * featurizer that needs NO vocabulary build, which is what makes it
    * viable at 100 TB (new tokens can never grow the model; collisions
    * are the accepted price). Emitted as (doc_id, dim, cnt) sparse
    * triples over a 1-in-50 doc panel. The dimension is derived from two
    * md5 hex chars via ascii() arithmetic — a hash both engines compute
    * identically without any hex→int conversion builtin. One explode →
    * groupBy, map-side combinable. */
  def textFeatureHashing(spark: SparkSession, sf: String): DataFrame = {
    val bgOcc = zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (x, y) => concat(x, lit(" "), y))
    val h = md5(col("bg"))
    val dim = (ascii(substring(h, 1, 1)) * 16 + ascii(substring(h, 2, 1))) % 64
    documents(spark, sf)
      .where(col("doc_id") % 50 === 0)
      .select(col("doc_id"), explode(bgOcc).as("bg"))
      .select(col("doc_id"), dim.as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** Count-based bigram LM scoring — the integer-domain proxy of the
    * perplexity quality filter every pretraining pipeline runs: docs whose
    * bigrams are globally rare (low average corpus probability) are
    * outliers worth review/drop. The corpus bigram table is built in one
    * occurrence-count pass, PRUNED of its singleton tail (cnt = 1 — the
    * overwhelming majority of distinct bigrams in any web corpus, and
    * recoverable exactly: an occurrence whose bigram is absent from the
    * pruned table has corpus count 1 by definition, so a left join +
    * coalesce(cnt, 1) is identity-preserving), and only then BROADCAST
    * back against the occurrence stream — the pruned LM head is megabytes
    * even at 100 TB, where the unpruned table is many GB and would OOM
    * the driver; per-doc scoring is then one groupBy(doc).
    * avgp_e9 = E9-scaled mean corpus probability of the doc's bigram
    * occurrences = sum(cnt)·1e9 div (n·total) — all-integer (D3), no logs
    * so no cross-engine libm risk. */
  def textLmScore(spark: SparkSession, sf: String): DataFrame = {
    val bgOcc = zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (x, y) => concat(x, lit(" "), y))
    val occ = documents(spark, sf).select(col("doc_id"), explode(bgOcc).as("bg"))
    val cnts = occ.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"))
    val lmHead = cnts.where(col("cnt") >= 2)
    occ.join(broadcast(lmHead), Seq("bg"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(1L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("cnt")).as("sum_cnt"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_bg"), col("sum_cnt"),
        expr("(sum_cnt * 1000000000) div (n_bg * total)").as("avgp_e9"))
      .orderBy(col("doc_id"))
  }

  /** HTML BOILERPLATE STRIP — the first pass every web-crawl curation
    * pipeline runs (CommonCrawl → WET-style extraction): drop markup,
    * decode entities, normalize whitespace. The fixture docs are plain
    * text, so a deterministic HTML wrapper (div/h1/p/a with entity-bearing
    * attributes and anchor text) is synthesized around each doc IN the
    * query — both engines build the identical raw page, and the operator
    * under test is the strip pipeline: (1) one `<[^>]*>` tag sweep (also
    * removes attribute junk like tracking hrefs wholesale), (2) entity
    * decode with `&amp;` LAST (decoding it first would re-expose `&lt;` as
    * a decodable entity — the classic double-decode bug), (3) whitespace
    * collapse + trim. Pure per-row projection: scan-speed, no shuffle,
    * whole-stage codegen end to end — at 100 TB this runs at I/O rate. */
  def textHtmlStrip(spark: SparkSession, sf: String): DataFrame = {
    val html = concat(
      lit("""<div id="d"""), col("doc_id"), lit("""" class="doc"><h1>T &amp; H</h1><p>"""),
      col("text"),
      lit("""</p><a href="https://ex.org/"""), col("doc_id"),
      lit("""?utm_source=feed&amp;q=1">more &gt; less</a><br/></div>"""))
    documents(spark, sf)
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), length(col("html")).as("n_raw"),
        stripHtmlExpr(col("html")).as("clean"))
      .select(col("doc_id"), col("n_raw"), col("clean"),
        length(col("clean")).as("n_clean"))
      .orderBy(col("doc_id"))
  }

  /** The strip pipeline as a reusable expression (api.Graft: `cleanHtml`):
    * tag sweep, entity decode with `&amp;` LAST (decoding it first would
    * re-expose other entities — the double-decode bug), space collapse.
    * All patterns are regex-literal, so regexp_replace ≡ literal replace. */
  private[graft] def stripHtmlExpr(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags, "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&#39;", "'"), "&amp;", "&")
    trim(regexp_replace(decoded, " +", " "))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_html_strip" -> textHtmlStrip,
    "text_inverted_index" -> textInvertedIndex,
    "text_lm_score" -> textLmScore,
    "text_decontaminate" -> textDecontaminate,
    "text_repetition_filter" -> textRepetitionFilter,
    "text_tokenize_tf" -> textTokenizeTf,
    "text_ngrams" -> textNgrams,
    "text_tfidf_topterms" -> textTfidfTopterms,
    "text_jaccard_dup" -> textJaccardDup,
    "text_jaccard_indexed" -> textJaccardIndexed,
    "text_langid" -> textLangid,
    "text_quality_score" -> textQualityScore,
    "text_curate_pipeline" -> textCuratePipeline,
    "text_curate_stats" -> textCurateStats,
    "text_token_count" -> textTokenCount,
    "text_fingerprint" -> textFingerprint,
    "text_segment_dedup" -> textSegmentDedup,
    "text_feature_hashing" -> textFeatureHashing,
    "text_winnow_fingerprint" -> textWinnowFingerprint,
    "dedup_winnow_pairs" -> dedupWinnowPairs
  )

  /** DuckDB-side bigram shingle set (mirrors [[bigrams]]). */
  private val bgSql =
    "list_distinct(list_transform(range(1, len(str_split(text,' '))), " +
      "i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]))"

  def oracle: Map[String, String] = Map(
    "text_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |  '<div id="d' || doc_id || '" class="doc"><h1>T &amp; H</h1><p>' ||
        |  text || '</p><a href="https://ex.org/' || doc_id ||
        |  '?utm_source=feed&amp;q=1">more &gt; less</a><br/></div>' AS html
        |  FROM documents)
        |SELECT doc_id, CAST(length(html) AS INT) AS n_raw,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    ' +', ' ', 'g')) AS clean,
        |  CAST(length(trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    ' +', ' ', 'g'))) AS INT) AS n_clean
        |FROM h ORDER BY doc_id""".stripMargin,

    "text_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, unnest(bg) AS term
         |           FROM (SELECT doc_id, $bgSql AS bg FROM documents)),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |g AS (SELECT term, CAST(count(*) AS INT) AS df,
         |        CAST(count(*) * 20 >= (SELECT n_docs FROM n) AS INT) AS hot,
         |        list_sort(list(doc_id)) AS plist
         |      FROM t GROUP BY term HAVING count(*) >= 2)
         |SELECT term, df, hot,
         |  array_to_string(CASE WHEN hot = 1 THEN plist[1:$hotPostingsCap]
         |                       ELSE plist END, ',') AS postings
         |FROM g ORDER BY term""".stripMargin,

    "text_lm_score" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS bg
        |  FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents)),
        |cnts AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY bg),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
        |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
        |  CAST((CAST(sum(cnt) AS BIGINT) * 1000000000)
        |       // (count(*) * (SELECT total FROM tot)) AS BIGINT) AS avgp_e9
        |FROM occ JOIN cnts USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(tg) AS g FROM (
        |    SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
        |    FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents))),
        |ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id,
        |  count(DISTINCT tr.g) AS n_shared,
        |  count(DISTINCT ev.eval_id) AS n_eval_docs,
        |  CAST(count(DISTINCT tr.g) >= 2 AS INT) AS contaminated
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "text_repetition_filter" ->
      """SELECT doc_id,
        |  CAST(len(ws) - 1 AS INT) AS n_total,
        |  CAST(len(list_distinct(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1]))) AS INT) AS n_distinct,
        |  CAST((len(ws) - 1 - len(list_distinct(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])))) * 5 >= len(ws) - 1 AS INT) AS dup_flag
        |FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_tokenize_tf" ->
      """SELECT lang, rn, word, cnt FROM (
        |  SELECT lang, word, count(*) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, word ASC) AS INT) AS rn
        |  FROM (SELECT lang, unnest(str_split(text,' ')) AS word FROM documents)
        |  GROUP BY lang, word)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    "text_ngrams" ->
      """WITH w AS (
        |  SELECT lang, doc_id, CAST(generate_subscripts(ws,1) AS INT) AS pos, unnest(ws) AS word
        |  FROM (SELECT lang, doc_id, str_split(text,' ') AS ws FROM documents)
        |), b AS (
        |  SELECT a.lang, a.word || ' ' || c.word AS bigram
        |  FROM w a JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 1)
        |SELECT lang, rn, bigram, cnt FROM (
        |  SELECT lang, bigram, count(*) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, bigram ASC) AS INT) AS rn
        |  FROM b GROUP BY lang, bigram)
        |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,

    "text_tfidf_topterms" ->
      """WITH en AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |tok AS (SELECT doc_id, unnest(str_split(text,' ')) AS word FROM en),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY word),
        |n AS (SELECT count(*) AS n FROM en)
        |SELECT doc_id, rn, word FROM (
        |  SELECT tf.doc_id, tf.word,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) DESC, tf.word ASC) AS INT) AS rn
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n)
        |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,

    // Round 18: one intersect per pair (was 3x) behind the size
    // pre-filter jaccard>=0.5 already implies (i*2 >= u ⇒
    // 2·min(n_a,n_b) >= max(n_a,n_b)) — value-identical; `d`
    // materialized so the shingle pass runs once
    "text_jaccard_dup" ->
      s"""WITH d AS MATERIALIZED (SELECT doc_id, lang, $bgSql AS bg FROM documents)
         |SELECT doc_a, doc_b, lang, i, CAST(n_a + n_b - i AS INT) AS u
         |FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
         |    CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS i,
         |    len(a.bg) AS n_a, len(b.bg) AS n_b
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |   AND len(a.bg) * 2 >= len(b.bg) AND len(b.bg) * 2 >= len(a.bg))
         |WHERE i * 2 >= n_a + n_b - i AND i > 0
         |ORDER BY doc_a, doc_b""".stripMargin,

    // identical result contract to text_jaccard_dup — the indexed plan must
    // reproduce the naive pairwise SQL exactly.
    "text_jaccard_indexed" ->
      s"""WITH d AS MATERIALIZED (SELECT doc_id, lang, $bgSql AS bg FROM documents)
         |SELECT doc_a, doc_b, lang, i, CAST(n_a + n_b - i AS INT) AS u
         |FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
         |    CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS i,
         |    len(a.bg) AS n_a, len(b.bg) AS n_b
         |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |   AND len(a.bg) * 2 >= len(b.bg) AND len(b.bg) * 2 >= len(a.bg))
         |WHERE i * 2 >= n_a + n_b - i AND i > 0
         |ORDER BY doc_a, doc_b""".stripMargin,

    "text_langid" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(str_split(text,' ')) AS word FROM documents),
        |profiles AS (
        |  SELECT plang, word FROM (
        |    SELECT lang AS plang, word,
        |      CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, word ASC) AS INT) AS rn
        |    FROM tok GROUP BY lang, word)
        |  WHERE rn <= 20),
        |docw AS (SELECT DISTINCT doc_id, lang, word FROM tok),
        |scored AS (
        |  SELECT d.doc_id, d.lang, p.plang, count(*) AS matches
        |  FROM docw d JOIN profiles p ON d.word = p.word
        |  GROUP BY d.doc_id, d.lang, p.plang)
        |SELECT doc_id, lang, predicted, hit FROM (
        |  SELECT doc_id, lang, plang AS predicted, CAST(lang = plang AS INT) AS hit,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY matches DESC, plang ASC) AS rn
        |  FROM scored)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_curate_pipeline" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text, n_words,
        |    (CAST(n_distinct AS BIGINT) * 1000000) // n_words AS ttr_e6,
        |    md5(text) AS fp
        |  FROM (
        |    SELECT doc_id, lang, text,
        |      CAST(len(str_split(text,' ')) AS INT) AS n_words,
        |      CAST(len(list_distinct(str_split(text,' '))) AS INT) AS n_distinct
        |    FROM documents)
        |  WHERE n_words >= 15 AND (CAST(n_distinct AS BIGINT) * 1000000) // n_words >= 250000),
        |k AS (SELECT fp, min(doc_id) AS doc_id FROM q GROUP BY fp)
        |SELECT q.doc_id, q.lang, q.n_words, q.ttr_e6, q.fp
        |FROM q JOIN k ON q.fp = k.fp AND q.doc_id = k.doc_id
        |WHERE substring(md5(CAST(q.doc_id AS VARCHAR) || ':' || q.text), 1, 1) < 'c'
        |ORDER BY q.doc_id""".stripMargin,

    "text_curate_stats" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    md5(text) AS fp
        |  FROM (
        |    SELECT doc_id, text,
        |      CAST(len(str_split(text,' ')) AS INT) AS n_words,
        |      CAST(len(list_distinct(str_split(text,' '))) AS INT) AS n_distinct
        |    FROM documents)
        |  WHERE n_words >= 15 AND (CAST(n_distinct AS BIGINT) * 1000000) // n_words >= 250000),
        |k AS (SELECT fp, min(doc_id) AS doc_id FROM q GROUP BY fp),
        |t AS (SELECT q.doc_id FROM q JOIN k ON q.fp = k.fp AND q.doc_id = k.doc_id
        |      WHERE substring(md5(CAST(q.doc_id AS VARCHAR) || ':' || q.text), 1, 1) < 'c')
        |SELECT (SELECT count(*) FROM documents) AS n_in,
        |       (SELECT count(*) FROM q) AS n_quality,
        |       (SELECT count(DISTINCT fp) FROM q) AS n_unique,
        |       (SELECT count(*) FROM t) AS n_train""".stripMargin,

    "text_quality_score" ->
      """SELECT doc_id, n_words, n_distinct,
        |  (CAST(total_chars AS BIGINT) * 100) // n_words AS avg_len_e2,
        |  (CAST(n_distinct AS BIGINT) * 1000000) // n_words AS ttr_e6,
        |  (CAST(n_stop AS BIGINT) * 1000000) // n_words AS stop_e6,
        |  CASE WHEN n_words >= 30 AND (CAST(n_distinct AS BIGINT) * 1000000) // n_words >= 300000 THEN 'good'
        |       WHEN n_words >= 15 THEN 'fair' ELSE 'poor' END AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(str_split(text,' ')) AS INT) AS n_words,
        |    CAST(len(list_distinct(str_split(text,' '))) AS INT) AS n_distinct,
        |    CAST(list_aggregate(list_transform(str_split(text,' '), x -> length(x)), 'sum') AS INT) AS total_chars,
        |    CAST(len(list_filter(str_split(text,' '),
        |      w -> list_contains(['data','table','row','value','key'], w))) AS INT) AS n_stop
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(str_split(text,' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS re_tokens,
        |  CAST((n_chars + 3) // 4 AS BIGINT) AS approx_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_doc FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(str_split(text,' '))), ' ')) AS fp
        |  FROM documents)
        |GROUP BY fp ORDER BY fp""".stripMargin,

    "dedup_winnow_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS h
        |  FROM (SELECT doc_id, str_split(text,' ') AS ws,
        |               len(str_split(text,' ')) AS n FROM documents),
        |       LATERAL (SELECT unnest(range(1, n - 2)) AS i)
        |  WHERE n >= 4),
        |sel AS (
        |  SELECT DISTINCT doc_id, m.h AS sh FROM (
        |    SELECT doc_id, pos,
        |      min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m
        |    FROM g) WHERE pos >= 4),
        |cold AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS dfc
        |                         FROM sel GROUP BY sh)
        |         WHERE dfc >= 2 AND dfc <= 16),
        |s AS (SELECT sel.doc_id, sel.sh FROM sel JOIN cold USING (sh))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared_fp
        |FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |GROUP BY doc_a, doc_b HAVING count(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "text_winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |    md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) AS h
        |  FROM (SELECT doc_id, str_split(text,' ') AS ws,
        |               len(str_split(text,' ')) AS n FROM documents),
        |       LATERAL (SELECT unnest(range(1, n - 2)) AS i)
        |  WHERE n >= 4),
        |sel AS (
        |  SELECT DISTINCT doc_id, -(m.np) AS spos, m.h AS sh FROM (
        |    SELECT doc_id, pos,
        |      min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m
        |    FROM g) WHERE pos >= 4),
        |dfq AS (SELECT sh, count(DISTINCT doc_id) AS dfc FROM sel GROUP BY sh)
        |SELECT s.doc_id, count(*) AS n_fp,
        |  CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |FROM sel s JOIN dfq USING (sh)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "text_feature_hashing" ->
      """SELECT doc_id,
        |  (ascii(substring(md5(bg), 1, 1)) * 16
        |   + ascii(substring(md5(bg), 2, 1))) % 64 AS dim,
        |  count(*) AS cnt
        |FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1])) AS bg
        |  FROM (SELECT doc_id, str_split(text,' ') AS ws FROM documents
        |        WHERE doc_id % 50 = 0))
        |GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin,

    // First occurrence = min (doc_id, seg_idx) lexicographic, encoded as
    // doc_id*100000+seg_idx (seg_idx < 100000 always: docs are far shorter).
    "text_segment_dedup" ->
      """WITH segs AS (
        |  SELECT doc_id, k AS seg_idx,
        |    array_to_string(ws[CAST(k*10+1 AS INT):CAST(k*10+10 AS INT)], ' ') AS seg
        |  FROM (SELECT doc_id, str_split(text,' ') AS ws,
        |               len(str_split(text,' ')) AS n FROM documents),
        |       LATERAL (SELECT unnest(range(0, (n-1)//10 + 1)) AS k)
        |  WHERE n > 0),
        |own AS (SELECT seg, min(doc_id*100000 + seg_idx) AS own
        |        FROM segs GROUP BY seg)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(sum(CASE WHEN s.doc_id*100000 + s.seg_idx = o.own
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN s.doc_id*100000 + s.seg_idx = o.own
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
        |FROM segs s JOIN own o USING (seg)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
  )
}
