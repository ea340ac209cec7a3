package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.util.Tables._

/** Large-scale near-duplicate detection — the LLM-training-data operators
  * ([R2] north star). Three families:
  *
  *  - MinHash + LSH banding over bigram shingles: the 100 TB path. Per-doc
  *    signatures are one aggregate pass (8 mins together, hashes computed
  *    once per DISTINCT shingle; the fixture path rides Text.sigsAndSets'
  *    fused kernel); band buckets shuffle on the band value, so candidate
  *    generation never compares all pairs. Hash = md5 (identical hex on
  *    both engines); the min over hash strings is a lexicographic min — no
  *    integer conversion needed, so the whole pipeline is portable SQL.
  *    The fixture chain picks its physical path by input size: a shingle
  *    frame of at most Text.ShinglesOnDriver rows is signed on the driver,
  *    and [[verifiedCands]] then bands and verifies on the driver too
  *    while its band buckets emit at most Pipeline.EdgesPerTask pairs; a
  *    larger corpus takes the distributed kernels above.
  *  - SimHash (16-bit, md5-hex-digit sign contributions) + hamming≤2 pairs.
  *  - Embedding-cosine near-dup at τ=0.45 (fixtures' max inter-pair cosine
  *    is 0.51 with a 5.5e-4 gap to τ at sf0.01 — no threshold-boundary ULP
  *    risk; validated before declaring).
  */
object Dedup {

  /** The 16×4-bit sign-LSH band-collision predicate over DuckDB's
    * 1-based embedding arrays, generated from LshPrefilter.BandPerm —
    * the ONE encoding of the banding both banded-key oracles
    * (dedup_embedding_cosine, vec_dedup_semantic) must share so Spark
    * and DuckDB compute identical candidate sets by construction. */
  private[ops] def embBandEqSql: String = {
    val perm = graft.plans.LshPrefilter.BandPerm
    def bv(side: String, k: Int): String = (0 until 4).map { j =>
      s"(CASE WHEN $side.embedding[${perm(4 * k + j) + 1}] >= 0 " +
        s"THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    (0 until graft.plans.LshPrefilter.NumBands)
      .map(k => s"(${bv("a", k)}) = (${bv("b", k)})")
      .mkString("(", "\n    OR ", ")")
  }

  private def words: Column = split(col("text"), " ")

  /** See Text.bigramsOf — zip_with(slice,slice) form, ~60× cheaper than
    * per-element element_at under a lambda. */
  private def bigrams: Column = Text.bigramsOf(words)

  /** 8 per-doc MinHash components: min md5 over salted shingles.
    * (private[graft]: the api.Graft façade reuses these kernels.)
    *
    * The 8 salted hashes are computed once per DISTINCT shingle and joined
    * back to the occurrences, not recomputed per (occurrence × salt): a
    * natural-language corpus repeats its shingles heavily (the fixture's
    * 256 k occurrences carry only 931 distinct bigrams — 2 M md5 calls
    * collapse to 7.4 k), and hashing was the dominant cost of every
    * minhash key. No broadcast hint on the dict join: AQE broadcasts the
    * dict while it is small and falls back to a plain shuffle join on the
    * shingle key when a web-scale vocabulary outgrows that — both shapes
    * stay shuffle-bounded by the occurrence count. */
  private[graft] def minhashSigs(d: DataFrame): DataFrame =
    minhashSigsFromShingles(d.select(col("doc_id"), explode(bigrams).as("sh")))

  /** Same, over a prebuilt (doc_id, sh) shingle frame (the fixture path
    * feeds Text's memoized shingle base here). */
  private def minhashSigsFromShingles(sh: DataFrame): DataFrame = {
    val dict = sh.select(col("sh")).distinct()
      .select(col("sh") +: (1 to 8).map(j =>
        md5(concat(lit(s"$j:"), col("sh"))).as(s"g$j")): _*)
    sh.join(dict, "sh")
      .groupBy(col("doc_id"))
      .agg(min(col("g1")).as("h1"), (2 to 8).map(j =>
        min(col(s"g$j")).as(s"h$j")): _*)
  }

  /** LSH banding (2 bands of 4) → distinct candidate pairs (doc_a < doc_b).
    * Candidate generation shuffles on the band value only — never all pairs. */
  private[graft] def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .select(col("doc_id"), lit(1).as("band_id"),
        concat(col("h1"), col("h2"), col("h3"), col("h4")).as("band"))
      .unionByName(sigs.select(col("doc_id"), lit(2).as("band_id"),
        concat(col("h5"), col("h6"), col("h7"), col("h8")).as("band")))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** BANDS/ROWS TUNING SWEEP — the design decision behind every MinHash
    * deployment: the same 8-component signature banded as 1×8, 2×4, 4×2
    * and 8×1, reporting candidate volume and verified near-dup yield per
    * configuration. The configs form a PROVABLE hierarchy on shared
    * hashes: a width-r band collision implies collisions in each of its
    * width-1 sub-bands, so candidates (and verified dups) are monotone
    * non-increasing in band width — narrow bands buy recall with
    * candidate volume, wide bands buy precision with misses. The 8×1 row
    * is therefore the recall ceiling the other rows are read against
    * (asserted in the spec).
    *
    * The hierarchy is also the EXECUTION plan: a width-r band collision is
    * exactly "all r width-1 sub-bands collide", so the 8×1 candidate set
    * is a superset of every wider config's. ONE band-keyed equi-join
    * (8×1) generates all candidates; each pair records WHICH of its 8
    * components matched as a bitmask; exact Jaccard is verified once per
    * pair; and every config's (n_cands, n_dup) row falls out of a mask
    * subset test over the checkpointed pair table — one candidate pass
    * and one verify pass instead of four of each.
    *
    * HOT-BUCKET CAP (the 100 TB guard, VERDICT r5): a width-1 bucket
    * shared by k docs emits k·(k−1)/2 pairs, so candidate mass is
    * quadratic in bucket occupancy — on a structureless (word-soup)
    * corpus a handful of over-dense buckets carried 94 % of all pairs at
    * sf0.1. Buckets with df > [[bandSweepCap]] are dropped BEFORE the
    * self-join (the standard LSH move: an over-dense bucket is
    * non-discriminative by definition), which bounds per-bucket join
    * output at CAP²/2 and makes total cost linear in bucket count. Every
    * config's counts are post-cap (a capped sub-band can't witness its
    * wider bands — monotonicity is unaffected because all four rows read
    * the same mask table), and `n_hot_buckets` reports how many buckets
    * the cap removed, so a tuner can see when the sweep is lying to it. */
  val bandSweepCap = 64

  def dedupBandSweep(spark: SparkSession, sf: String): DataFrame = {
    val sigs = fixtureSigs(spark, sf)
    // exact verify rides Text's memoized packed-int term index (same
    // bigram universe; df=1 terms can't be shared, so the df>=2 id space
    // is exact for the intersection while `n` counts ALL distinct terms)
    // - one codegen'd merge scan per pair instead of a string
    // array_intersect, and the index build amortizes across the jaccard
    // keys in the same session
    val sets = Text.packedSets(spark, sf)
    // One width-1 band join emits a row per (pair, matching component);
    // the pair groupBy folds those into the 8-bit collision mask (the
    // join IS the component-equality test — no signature re-join needed).
    val bands = (1 to 8).map(j =>
        sigs.select(col("doc_id"), lit(j).as("band_id"), col(s"h$j").as("band")))
      .reduce(_.unionByName(_))
    // df per bucket via aggregate + join, NOT a count-over-bucket window:
    // map-side partial aggregation absorbs a pathologically hot bucket
    // where WindowExec would buffer that bucket's every row in one task
    // (the 100 TB straggler/spill shape). The join and the self-join below
    // shuffle on the same bucket key, so the partitioning is reused.
    val bucketDf = bands.groupBy(col("band_id"), col("band"))
      .agg(count(lit(1)).as("df"))
    val kept = bands
      .join(bucketDf.where(col("df") <= bandSweepCap), Seq("band_id", "band"))
      .select(col("doc_id"), col("band_id"), col("band"))
    // lazy 1-row audit scalar, broadcast onto the 4 config rows
    val hotCount = bucketDf
      .agg(sum((col("df") > bandSweepCap).cast("long")).cast("int")
        .as("n_hot_buckets"))
    val pairMask = kept.as("x")
      .join(kept.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("shiftleft(1, x.band_id - 1)").as("bit"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("bit")).cast("int").as("mask"))
    val scored = pairMask
      .join(sets.select(col("doc_id").as("doc_a"), col("sids").as("sids_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sids").as("sids_b"),
        col("n").as("n_b")), "doc_b")
      // early-abort verify (r18): only the BOOLEAN i·20 ≥ u·7 is consumed,
      // i.e. 27i ≥ 7(n_a+n_b) ⇔ i ≥ ⌈7(n_a+n_b)/27⌉ — the α-thresholded
      // merge scan returns −1 (→ false, exactly as the full scan's i would
      // evaluate) instead of walking both arrays for every sub-threshold
      // pair.
      .withColumn("i", expr("cast(sorted_intersect_prune(sids_a, sids_b," +
        " -1, cast((7 * (n_a + n_b) + 26) div 27 as int)) & 4294967295 as int)"))
      .withColumn("u", col("n_a") + col("n_b") - col("i"))
      .select(col("mask"),
        nearDup(col("i"), col("u")).cast("long").as("is_dup"))
    // All 8 config stats in ONE lazy aggregate over the once-computed pair
    // stream (nothing materializes the candidate table), unstacked to the
    // same 4 rows as the per-config formulation.
    val configs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
    val aggs = configs.flatMap { case (b, r) =>
      val hit = (1 to b).map { k =>
        val bm = ((k - 1) * r until k * r).map(1 << _).sum
        col("mask").bitwiseAND(lit(bm)) === lit(bm)
      }.reduce(_ || _)
      Seq(coalesce(sum(hit.cast("long")), lit(0L)).as(s"c_$b"),
        coalesce(sum(when(hit, col("is_dup"))), lit(0L)).as(s"d_$b"))
    }
    val stackArgs = configs.map { case (b, r) => s"$b, $r, c_$b, d_$b" }
      .mkString(", ")
    scored.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${configs.size}, $stackArgs)" +
        " as (bands, band_width, n_cands, n_dup)"))
      .crossJoin(broadcast(hotCount)) // 4 rows × 1 audit scalar
      .orderBy(col("bands"))
  }

  /** The MinHash-family SHARED KERNEL for the fixture documents table:
    * signatures → banded candidates → exact-verify sizes
    * (doc_a, doc_b, i, n_a, n_b), computed ONCE per (session, sf). Four
    * keys (`dedup_minhash_lsh`, `dedup_minhash_estimate`,
    * `dedup_containment`, and `dedup_lsh_cc` via [[dedupMinhashLsh]]) are
    * projections of this frame — without the memo each ran the signature
    * pass and the candidate verify end-to-end (same discipline as
    * Text.jacSetsMemo; each key stays a pure function of (spark, sfDir),
    * and a racing double-compute is wasted work, never wrong results).
    * It follows Text.sigsAndSets' path: a local (driver-built) signature
    * frame is verified on the driver and the answer stays local (unless
    * its buckets hold more than Pipeline.EdgesPerTask pairs), a
    * distributed one is verified by the band join and localCheckpointed. */
  private[graft] def fixtureSigs(spark: SparkSession, sf: String): DataFrame =
    Text.sigsAndSets(spark, sf)
      .select(col("doc_id") +: (1 to 8).map(j => col(s"h$j")): _*)

  private val verifiedMemo = graft.util.Memos.memo[DataFrame]

  private[graft] def verifiedCands(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(verifiedMemo, spark, sf)(
      verifiedCandsOf(Text.sigsAndSets(spark, sf)))

  /** [[verifiedCands]] over a `sigsAndSets`-shaped frame: a local frame
    * is banded and verified on the driver unless its band buckets would
    * emit more than [[Pipeline.EdgesPerTask]] pairs; the rest takes the
    * band join. */
  private[graft] def verifiedCandsOf(sets: DataFrame): DataFrame =
    graft.util.Local.rows(sets).flatMap(verifiedOnDriver(sets, _)).getOrElse {
      // exact verify over the packed-int term index (df = 1 terms can't
      // be shared, so the df >= 2 id space is exact for |A∩B| while `n`
      // counts ALL distinct terms — the dedup_band_sweep argument), one
      // codegen'd merge scan per candidate instead of a fresh
      // bigram-array pass
      lshCandidates(sets)
        .join(sets.select(col("doc_id").as("doc_a"), col("sids").as("sids_a"),
          col("n").as("n_a")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("sids").as("sids_b"),
          col("n").as("n_b")), "doc_b")
        .withColumn("i", expr("sorted_intersect_size(sids_a, sids_b)"))
        .select(col("doc_a"), col("doc_b"), col("i"), col("n_a"), col("n_b"))
        .localCheckpoint()
    }

  /** The driver verify: a candidate is a pair doc_a < doc_b sharing band 1
    * (`h1..h4`) or band 2 (`h5..h8`), kept once, with no lang blocking
    * (as [[lshCandidates]]); `i` is the merge-scan intersection of the two
    * sorted `sids` ([[graft.functions.SortedIntersectSize.count]]). A
    * bucket of k docs emits k(k-1)/2 pairs, so heavy exact duplication
    * makes the pair list quadratic in the corpus: when the buckets' pair
    * count passes [[Pipeline.EdgesPerTask]] this returns None and the
    * band join spreads the pairs over the executors. */
  private def verifiedOnDriver(sets: DataFrame, rows: Array[Row]): Option[DataFrame] = {
    val at = Seq("doc_id", "sids", "n").map(sets.schema.fieldIndex)
    val docs = rows.map(r =>
      (r.getLong(at(0)), r.getSeq[Int](at(1)).toArray, r.getInt(at(2))))
    val buckets = Seq(1 to 4, 5 to 8).flatMap { band =>
      val hs = band.map(j => sets.schema.fieldIndex(s"h$j"))
      docs.indices.groupBy(d => hs.map(rows(d).getString(_)))
        .collect { case (key, ds) if ds.size > 1 && !key.contains(null) => ds }
    }
    if (buckets.iterator.map(ds => ds.size.toLong * (ds.size - 1) / 2).sum >
        Pipeline.EdgesPerTask) return None
    val pairs = buckets.flatMap { ds =>
      val ids = ds.map(docs(_)._1).sorted
      for (a <- ids.indices; b <- a + 1 until ids.size) yield (ids(a), ids(b))
    }.distinct.sorted
    val byId = docs.map(d => d._1 -> d).toMap
    val out = pairs.map { case (a, b) =>
      val (x, y) = (byId(a), byId(b))
      Row(a, b, graft.functions.SortedIntersectSize.count(x._2, y._2), x._3, y._3)
    }
    val id = sets.schema("doc_id")
    val n = sets.schema("n")
    Some(graft.util.Local.frame(sets.sparkSession, out, StructType(Seq(
      id.copy(name = "doc_a"), id.copy(name = "doc_b"), StructField("i", IntegerType),
      n.copy(name = "n_a"), n.copy(name = "n_b")))))
  }

  /** Candidate pairs joined to exact shingle-intersection sizes — the
    * verify every minhash-family output projects from. */
  private def verifiedOf(d: DataFrame, cands: DataFrame): DataFrame = {
    val sets = d.select(col("doc_id"), bigrams.as("bg"), size(bigrams).as("n"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("bg").as("bg_a"), col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("bg").as("bg_b"), col("n").as("n_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("bg_a"), col("bg_b"))))
      .select(col("doc_a"), col("doc_b"), col("i"), col("n_a"), col("n_b"))
  }

  /** The near-duplicate verdict on exact shingle-set sizes: Jaccard
    * i / u ≥ 7/20, in integers (u = |A ∪ B|). */
  private[graft] def nearDup(i: Column, u: Column): Column = i * 20 >= u * 7

  private def minhashProject(v: DataFrame): DataFrame =
    v.withColumn("u", col("n_a") + col("n_b") - col("i"))
      .select(col("doc_a"), col("doc_b"), col("i"), col("u"),
        nearDup(col("i"), col("u")).cast("int").as("is_dup"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Core MinHash-LSH dedup over any frame with (doc_id, text) —
    * frame-generic, unmemoized (api.Graft path). */
  private[graft] def minhashDedupOf(d: DataFrame): DataFrame =
    minhashProject(verifiedOf(d, lshCandidates(minhashSigs(d))))

  /** MinHash signatures (8 hashes) → 2 LSH bands of 4 → candidate pairs →
    * exact shingle-Jaccard verification, all integers in the output. */
  def dedupMinhashLsh(spark: SparkSession, sf: String): DataFrame =
    minhashProject(verifiedCands(spark, sf))

  /** Sketch-accuracy measurement: for every LSH candidate pair, the MinHash
    * Jaccard ESTIMATE (matching components out of 8 — the only similarity a
    * 100 TB pass ever computes) side by side with the exact shingle Jaccard
    * numerator/denominator. All-integer output; the estimate/exact gap is
    * what a pipeline owner tunes band/row counts against. */
  def dedupMinhashEstimate(spark: SparkSession, sf: String): DataFrame = {
    val sigs = fixtureSigs(spark, sf)
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (1 to 8).map(j => col(s"h$j").as(s"a$j")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (1 to 8).map(j => col(s"h$j").as(s"b$j")): _*)
    val est = (1 to 8).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    verifiedCands(spark, sf)
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), est.as("est8"),
        col("i"), (col("n_a") + col("n_b") - col("i")).as("u"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 16-bit SimHash over distinct bigram shingles; same-lang pairs with
    * hamming distance ≤ 2 are near-dup candidates.
    *
    * Candidate generation is CHUNK-BANDED, not all-pairs (round-3 scale
    * fix): the 16-bit signature splits into 3 chunks (6+5+5 bits), and a
    * pair with hamming ≤ 2 can differ in at most 2 chunks, so by
    * pigeonhole it shares AT LEAST ONE chunk value exactly — the equi-join
    * on (lang, chunk_id, chunk_value) has EXACT recall, the hamming
    * filter is only a residual verify. (Two chunks would NOT suffice:
    * hamming=2 can put one flipped bit in each.) Shuffle is on chunk
    * values — never an all-pairs product. */
  def dedupSimhash(spark: SparkSession, sf: String): DataFrame =
    simhashFromShingles(
      Text.shingles(spark, sf).select(col("doc_id"), col("lang"), col("sh")))

  /** Core banded-simhash pairs over any frame with (doc_id, lang, text);
    * `lang` is the blocking column (constant it if no blocking wanted). */
  private[graft] def simhashPairsOf(d: DataFrame): DataFrame =
    simhashFromShingles(
      d.select(col("doc_id"), col("lang"), explode(bigrams).as("sh")))

  /** Same, over a prebuilt (doc_id, lang, sh) shingle frame. */
  private def simhashFromShingles(shf: DataFrame): DataFrame = {
    // Integer sign extraction (r18): hex digit b+1 of the md5 is "high"
    // (8..f) iff the top bit of nibble b is set, so parsing the first 16
    // hex chars once into two 32-bit words and shifting replaces 16
    // substring()+isin(8 strings) string compares per shingle. Same s_b
    // sums, same signature. (A per-DISTINCT-shingle dict join — the
    // minhashSigs discipline — was measured WORSE here: 24 s vs 14 s of
    // task time, because this aggregate consumes one cheap hash per
    // occurrence and the dict adds a distinct pass plus a join probe per
    // occurrence; minhash pays 8 salted hashes per shingle, which is the
    // volume that makes its dict pay off.)
    val sh = shf.withColumn("h", md5(col("sh")))
      .withColumn("w1", expr("cast(conv(substring(h, 1, 8), 16, 10) as long)"))
      .withColumn("w2", expr("cast(conv(substring(h, 9, 8), 16, 10) as long)"))
    def signBit(b: Int): Column = {
      val p = b + 1 // 1-based hex position, nibble b
      val (w, shift) = if (p <= 8) (col("w1"), (8 - p) * 4 + 3)
        else (col("w2"), (16 - p) * 4 + 3)
      shiftright(w, shift).bitwiseAND(lit(1L))
    }
    val sumCols = (0 until 16).map(b =>
      sum(signBit(b) * 2 - 1).as(s"s$b"))
    val bitSums = sh.groupBy(col("doc_id"), col("lang"))
      .agg(sumCols.head, sumCols.tail: _*)
    val sig = (0 until 16).map(b =>
      when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val sigs = bitSums.select(col("doc_id"), col("lang"), sig.as("simhash"))
    // 3 pigeonhole chunks: bits [0,6), [6,11), [11,16).
    val ch = sigs.select(col("doc_id"), col("lang"), col("simhash"),
      explode(array(
        struct(lit(0).as("cid"), col("simhash").bitwiseAND(lit(63L)).as("cv")),
        struct(lit(1).as("cid"),
          shiftright(col("simhash"), 6).bitwiseAND(lit(31L)).as("cv")),
        struct(lit(2).as("cid"),
          shiftright(col("simhash"), 11).bitwiseAND(lit(31L)).as("cv")))).as("c"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("c.cid").as("cid"), col("c.cv").as("cv"))
    ch.as("x")
      .join(ch.as("y"),
        col("x.lang") === col("y.lang") && col("x.cid") === col("y.cid") &&
          col("x.cv") === col("y.cv") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("simhash_a"), col("y.simhash").as("simhash_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .where(col("hamming") <= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Asymmetric CONTAINMENT near-dup over the same LSH candidates:
    * |A∩B|/|A| ≥ 0.8 (or /|B|) flags doc-in-doc duplication — quote
    * expansions, boilerplate wrappers, truncated re-crawls — which
    * symmetric Jaccard under-scores (a small doc inside a big one has low
    * Jaccard but containment ≈ 1). Same banded candidate generation as
    * [[dedupMinhashLsh]]; all-integer output (i, sizes, ≥0.8 flags both
    * directions). */
  def dedupContainment(spark: SparkSession, sf: String): DataFrame =
    containmentProject(verifiedCands(spark, sf))

  /** Core containment pairs over any frame with (doc_id, text) —
    * frame-generic, unmemoized (api.Graft path). */
  private[graft] def containmentPairsOf(d: DataFrame): DataFrame =
    containmentProject(verifiedOf(d, lshCandidates(minhashSigs(d))))

  private def containmentProject(v: DataFrame): DataFrame =
    v.select(col("doc_a"), col("doc_b"), col("i"), col("n_a"), col("n_b"),
        (col("i") * 10 >= col("n_a") * 8).cast("int").as("a_in_b"),
        (col("i") * 10 >= col("n_b") * 8).cast("int").as("b_in_a"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Embedding near-dup: all vector pairs with cosine > 0.45, pair ids
    * only (D3). SCALE-SHAPED since round 13 (VERDICT r12 next #3 — this
    * was the registry's one remaining unbounded all-pairs join): candidate
    * generation is EXPLICIT sign-LSH banding — each vector explodes into
    * its 16 4-bit band values (the same fixed-permutation bands the
    * [[graft.plans.LshPrefilter]] rule emits, whose exhaustive fixture
    * validation carries over), pairs equi-join on (band, value), and the
    * cosine check is the residual verify. One shuffle over 16n banded rows
    * instead of an O(n²) theta join — the shape that survives 100×. The
    * sibling `vec_threshold_pairs` reaches the same banded plan through
    * the optimizer RULE on naive input; this key hand-builds it, and the
    * exact all-pairs control lives at the spec layer (ScaleFixSpec,
    * sf-capped) where an O(n²) plan belongs.
    *
    * Per-vector norms are computed once before banding, and the per-pair
    * dot product goes through the codegen'd VectorDot expression — one
    * fused primitive loop per pair instead of three allocating HOF
    * evaluations. */
  def dedupEmbeddingCosine(spark: SparkSession, sf: String): DataFrame = {
    cosinePairsOf(embeddings(spark, sf).select(
        col("vec_id").as("id"), col("embedding").as("vec")), 0.45)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Core banded threshold-cosine pairs over any (id, vec) frame — the
    * frame-generic kernel behind `dedup_embedding_cosine` and the
    * api.Graft facade. Caller registers VectorDot first.
    *
    * REQUIRES ≥64-dim vectors: BandPerm indexes dims 0–63, and on a
    * short vector `element_at` past the array end either throws a
    * generic ANSI index error or (ANSI off) yields NULL, making every
    * band bit 0 — all short vectors collide in EVERY band and the
    * candidate join silently degenerates to O(n²) (ADVICE r13).
    * Enforced per-row by wrapping the band-array construction in a
    * CaseWhen: its branch ordering is GUARANTEED (a filter/assert
    * elsewhere in the stage is not — codegen may evaluate the banding
    * projection first), so a short row raises the named error before
    * any band bit is read. One O(1) size() per input row. */
  private[graft] def cosinePairsOf(d: DataFrame, threshold: Double): DataFrame = {
    val perm = graft.plans.LshPrefilter.BandPerm
    def bandVal(k: Int): Column =
      (0 until 4).map { j =>
        when(element_at(col("vec"), perm(4 * k + j) + 1) >= 0f,
          lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
    val bands0 = array((0 until graft.plans.LshPrefilter.NumBands).map(k =>
      struct(lit(k).as("band"), bandVal(k).as("bv"))): _*)
    val bands = when(size(col("vec")) >= 64, bands0)
      .otherwise(raise_error(concat(
        lit("cosinePairs requires >= 64-dim vectors " +
          "(sign-LSH bands index dims 0-63); got "),
        size(col("vec")).cast("string")))
        .cast("array<struct<band:int,bv:int>>"))
    // candidate/verify SPLIT: only (id, band-cell) rides the 16×
    // banding shuffle — the embedding payload (the heavy column at
    // 100 TB) is fetched ONCE per side for the distinct candidates, not
    // copied into every band row. Spread across the session width first
    // (r18): the single-file fixture scan otherwise fuses banding, the
    // candidate join AND the partial distinct into one SERIAL task
    // (measured 1.2 s at local[32]); pair cost is per candidate, not per
    // byte — but capped by DATA SIZE (r19, VERDICT r18 #2: width = cores
    // unconditionally made the 2k-row fixture plan 32 tiny tasks and
    // anti-scale; ~64 KB of embeddings per banding task).
    val width = graft.util.Widths.dataWidth(d, 64 << 10)
    val e = d.repartition(width, col("id"))
      .withColumn("norm2", expr("vector_dot(vec, vec)"))
    val banded = e.select(col("id"), explode(bands).as("b"))
    val cands = banded.select(col("id").as("id_a"), col("b"))
      .join(banded.select(col("id").as("id_b"), col("b")), Seq("b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(e.select(col("id").as("id_a"), col("vec").as("ea"),
        col("norm2").as("na2")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("vec").as("eb"),
        col("norm2").as("nb2")), Seq("id_b"))
      .withColumn("cos", expr("vector_dot(ea, eb)") / sqrt(col("na2") * col("nb2")))
      .where(col("cos") > threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Exact duplicated-SUBSTRING detection (the "dedup training data"
    * operator of Lee et al., ACL'22: shared verbatim spans, not whole-doc
    * similarity). Every word-start position anchors a 40-char window of the
    * raw text; two docs sharing any window contain an identical ≥40-char
    * span. Anchors are CONTENT-DEFINED (word starts), so copies align no
    * matter what offset the duplicated span sits at in each doc — the
    * property fixed-stride sampling lacks.
    *
    * Scale shape: windows per doc are O(words); the char offsets come from
    * one O(L) running-prefix `aggregate`, never an O(L²) suffix rebuild
    * (the DuckDB oracle uses the O(L²) form — fine at oracle scale, wrong
    * at 100 TB). Everything shuffles on window CONTENT (groupBy/join on
    * `win`) — never an all-pairs join; windows seen in > 16 docs are
    * dropped before pairing (boilerplate/stop-window guard, the same
    * hot-key cap as the postings index — a window shared by k docs emits
    * k² pairs, so an uncapped boilerplate line is a quadratic straggler). */
  def dedupSubstring(spark: SparkSession, sf: String): DataFrame =
    substringPairsOf(documents(spark, sf).select(col("doc_id"), col("text")))

  /** Core duplicated-span pairs over any frame with (doc_id, text).
    * (private[graft]: the api.Graft façade reuses this kernel.) */
  private[graft] def substringPairsOf(d: DataFrame): DataFrame = {
    // Word-start anchors as a LINEAR position filter (r18): a word start
    // is position 1 or any position following a space, and only starts at
    // p ≤ L − 39 can anchor a full window — identical to the old
    // running-prefix `aggregate` over split-words offsets (offsets_k =
    // 1 + Σ(len+1) land exactly one past each space), but O(L) where
    // array_append re-copied the accumulator per word (O(W²) interpreted
    // HOF work per doc, the key's dominant per-task cost).
    // Spread the window generation across the session width (r18): the
    // fixture corpus is ONE parquet file → a 1-task scan stage, and the
    // anchor/window HOF pipeline fuses into it — measured as a 1.6 s
    // SERIAL stage at local[32] while 31 cores idled. The repartition
    // shuffles only (doc_id, text) rows and unlocks cores for the
    // CPU-bound part; pair cost is per WINDOW, not per byte, so width
    // follows cores, not data size (same rationale as jaccardPairsFresh's
    // pinned width). An already-split corpus at scale pays one narrow
    // exchange it doesn't need — bounded by the scan it precedes.
    // r19: width follows input size (≈8 KB of text per window task — the
    // per-char window HOF is the heaviest per-byte kernel in the registry;
    // 16 KB measured +0.2 s vs the full session width at sf0.1), capped at
    // the session width (VERDICT r18 #2).
    val wins = d
      .where(length(col("text")) >= 40)
      .repartition(graft.util.Widths.dataWidth(d, 8 << 10), col("doc_id"))
      .select(col("doc_id"), explode(expr(
        """transform(
          |  filter(sequence(1, length(text) - 39),
          |    p -> p = 1 or substring(text, p - 1, 1) = ' '),
          |  p -> substring(text, p, 40))""".stripMargin)).as("win"))
      .distinct()
    // one groupBy to (window → sorted doc set), then emit the ≤ C(16,2)
    // combinations IN-MAP — no self-join, no second scan of the windows
    // frame, and the df cap falls out of the same aggregate (vs the
    // join+join+groupBy chain: one shuffle fewer and the windows subtree
    // evaluated once; fixture wall time is flat — ~2.2 s of the ~4 s is
    // fixed HOF-codegen/planning overhead, measured via a 50-doc run)
    wins.groupBy(col("win"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .where(size(col("ds")).between(2, 16))
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)), b ->
          |    struct(a AS a_id, b AS b_id))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.a_id").as("a_id"), col("pr.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** INCREMENTAL ingestion dedup — the op every continuously-fed corpus
    * runs on arrival: the new batch (doc_id ≡ 0 mod 3 stands in for it)
    * is anti-joined against the HISTORY's content fingerprints, so only
    * never-seen content survives to land. The fingerprint is the sorted
    * distinct-word-set md5 (same canonicalization as text_fingerprint:
    * whitespace/order/repetition-invariant). Shape at 100 TB: a shuffle
    * anti-join keyed on the 16-byte fp — history never broadcast, batch
    * never compared pairwise; at petabyte history the fp table is exactly
    * what a bloom-filter pre-pass (join_bloom_prune's mechanism) prunes. */
  def dedupIncremental(spark: SparkSession, sf: String): DataFrame = {
    val fp = md5(concat_ws(" ", array_sort(array_distinct(words)))).as("fp")
    // spread the per-doc canonicalize+md5 across the data width (r18;
    // r19 caps it by input size — ~32 KB of docs per md5 task, VERDICT
    // r18 #2): the single-file fixture scan otherwise runs it all on one
    // task
    val base = documents(spark, sf)
    val d = base
      .repartition(graft.util.Widths.dataWidth(base, 32 << 10),
        col("doc_id"))
      .select(col("doc_id"), col("lang"), fp)
    val hist = d.where(col("doc_id") % 3 =!= 0)
    val batch = d.where(col("doc_id") % 3 === 0)
    batch.join(hist.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("fp"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental" -> dedupIncremental,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_band_sweep" -> dedupBandSweep,
    "dedup_minhash_estimate" -> dedupMinhashEstimate,
    "dedup_simhash" -> dedupSimhash,
    "dedup_containment" -> dedupContainment,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_substring" -> dedupSubstring
  )

  /** The bigram-shingle SQL every Jaccard-family oracle builds on —
    * private[ops]: Pipeline's dedup_cc_components oracle shares it, so
    * "what a bigram is" has exactly one encoding (round-16b review). */
  private[ops] val bgSql =
    "list_distinct(list_transform(range(1, len(str_split(text,' '))), " +
      "i -> str_split(text,' ')[i] || ' ' || str_split(text,' ')[i+1]))"

  /** Shared CTE prefix: shingles → minhash sigs → bands → candidate pairs.
    * (private[ops]: Pipeline's dedup_lsh_cc oracle builds on it.)
    * MATERIALIZED (round 18): DuckDB inlines CTEs by default, so a
    * consumer referencing `sigs`/`sets` N times recomputes the whole
    * shingle pass N times — at the sf1 spot-parity scale (50k docs,
    * 1.3k capped hot buckets) the band-sweep oracle went from >90
    * CPU-minutes to ~150 s wall with each stage computed once.
    * Value-identical by definition (a materialization hint). */
  private[ops] val minhashCte =
    s"""WITH sh AS MATERIALIZED (SELECT doc_id, unnest(bg) AS sh FROM (SELECT doc_id, $bgSql AS bg FROM documents)),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id,
       |    min(md5('1:' || sh)) AS h1, min(md5('2:' || sh)) AS h2,
       |    min(md5('3:' || sh)) AS h3, min(md5('4:' || sh)) AS h4,
       |    min(md5('5:' || sh)) AS h5, min(md5('6:' || sh)) AS h6,
       |    min(md5('7:' || sh)) AS h7, min(md5('8:' || sh)) AS h8
       |  FROM sh GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, 1 AS band_id, h1 || h2 || h3 || h4 AS band FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 2 AS band_id, h5 || h6 || h7 || h8 AS band FROM sigs),
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band = y.band AND x.doc_id < y.doc_id),
       |sets AS MATERIALIZED (SELECT doc_id, $bgSql AS bg FROM documents)""".stripMargin

  def oracle: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents)
        |SELECT doc_id, lang, fp FROM f
        |WHERE doc_id % 3 = 0
        |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 3 <> 0)
        |ORDER BY doc_id""".stripMargin,

    "dedup_band_sweep" -> {
      // mirrors the mask formulation: capped width-1 buckets -> per-pair
      // collision mask -> one exact verify -> per-config subset tests
      val b1 = (1 to 8)
        .map(j => s"SELECT doc_id, $j AS band_id, h$j AS band FROM sigs")
        .mkString(" UNION ALL ")
      val branches = Seq((1, 8), (2, 4), (4, 2), (8, 1)).map { case (b, r) =>
        val hit = (1 to b).map { k =>
          val bm = ((k - 1) * r until k * r).map(1 << _).sum
          s"(mask & $bm) = $bm"
        }.mkString(" OR ")
        s"""SELECT $b AS bands, $r AS band_width,
           |  COALESCE(CAST(sum(CASE WHEN $hit THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_cands,
           |  COALESCE(CAST(sum(CASE WHEN ($hit) AND is_dup = 1 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_dup
           |FROM sc""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$minhashCte,
         |b1 AS MATERIALIZED ($b1),
         |bf AS MATERIALIZED (SELECT doc_id, band_id, band FROM
         |  (SELECT *, count(*) OVER (PARTITION BY band_id, band) AS df FROM b1)
         |  WHERE df <= $bandSweepCap),
         |pm AS MATERIALIZED (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |         CAST(sum(1 << (x.band_id - 1)) AS INT) AS mask
         |       FROM bf x JOIN bf y ON x.band_id = y.band_id AND x.band = y.band
         |        AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |sc AS MATERIALIZED (SELECT mask, CASE WHEN len(list_intersect(a.bg, b2.bg)) * 20 >=
         |         (len(a.bg) + len(b2.bg) - len(list_intersect(a.bg, b2.bg))) * 7
         |       THEN 1 ELSE 0 END AS is_dup
         |       FROM pm JOIN sets a ON pm.doc_a = a.doc_id
         |               JOIN sets b2 ON pm.doc_b = b2.doc_id),
         |hot AS (SELECT CAST(count(*) AS INT) AS n_hot_buckets FROM
         |  (SELECT band_id, band FROM b1 GROUP BY 1, 2 HAVING count(*) > $bandSweepCap))
         |SELECT bands, band_width, n_cands, n_dup, n_hot_buckets
         |FROM ($branches) CROSS JOIN hot
         |ORDER BY bands""".stripMargin
    },

    "dedup_minhash_lsh" ->
      s"""$minhashCte
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS i,
         |  CAST(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)) AS INT) AS u,
         |  CAST(len(list_intersect(a.bg, b.bg)) * 20 >=
         |       (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) * 7 AS INT) AS is_dup
         |FROM cands JOIN sets a ON cands.doc_a = a.doc_id
         |           JOIN sets b ON cands.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_estimate" ->
      s"""$minhashCte
         |SELECT doc_a, doc_b,
         |  CAST(${(1 to 8).map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)").mkString(" + ")} AS INT) AS est8,
         |  CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS i,
         |  CAST(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)) AS INT) AS u
         |FROM cands JOIN sigs sa ON cands.doc_a = sa.doc_id
         |           JOIN sigs sb ON cands.doc_b = sb.doc_id
         |           JOIN sets a  ON cands.doc_a = a.doc_id
         |           JOIN sets b  ON cands.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_containment" ->
      s"""$minhashCte
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS i,
         |  CAST(len(a.bg) AS INT) AS n_a, CAST(len(b.bg) AS INT) AS n_b,
         |  CAST(len(list_intersect(a.bg, b.bg)) * 10 >= len(a.bg) * 8 AS INT) AS a_in_b,
         |  CAST(len(list_intersect(a.bg, b.bg)) * 10 >= len(b.bg) * 8 AS INT) AS b_in_a
         |FROM cands JOIN sets a ON cands.doc_a = a.doc_id
         |           JOIN sets b ON cands.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH sh AS (SELECT doc_id, lang, md5(unnest(bg)) AS h
         |            FROM (SELECT doc_id, lang, $bgSql AS bg FROM documents)),
         |sums AS (
         |  SELECT doc_id, lang,
         |${(0 until 16).map(b =>
           s"    SUM(CASE WHEN substring(h, ${b + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$b"
         ).mkString(",\n")}
         |  FROM sh GROUP BY doc_id, lang),
         |sigs AS (
         |  SELECT doc_id, lang,
         |    CAST(${(0 until 16).map(b => s"(CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
         |  FROM sums)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  x.simhash AS simhash_a, y.simhash AS simhash_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM sigs x JOIN sigs y ON x.lang = y.lang AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_substring" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wins AS (
        |  SELECT DISTINCT doc_id,
        |    substr(array_to_string(ws[i:len(ws)], ' '), 1, 40) AS win
        |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
        |  WHERE length(array_to_string(ws[i:len(ws)], ' ')) >= 40),
        |keep AS (
        |  SELECT doc_id, win FROM wins
        |  WHERE win IN (SELECT win FROM wins GROUP BY win HAVING count(*) <= 16))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(count(*) AS BIGINT) AS n_shared
        |FROM keep a JOIN keep b ON a.win = b.win AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY a_id, b_id""".stripMargin,

    // DOCUMENTED-APPROXIMATE key (ADVICE r13 medium): the Spark side is
    // sign-LSH banded, so the oracle mirrors the SAME 16×4-bit banding —
    // a pair qualifies iff it collides in ≥1 band AND cosine > τ. The
    // band predicate below is generated from LshPrefilter.BandPerm, so
    // Spark and DuckDB compute the identical candidate set by
    // construction: a threshold-marginal pair that collides in no band is
    // (correctly, per the ≥0.97-recall contract) absent from BOTH sides,
    // instead of failing the gate whenever the fixture grows such a pair.
    // The EXACT all-pairs control stays at the spec layer (ScaleFixSpec).
    "dedup_embedding_cosine" -> {
      val bandEq = Dedup.embBandEqSql
      s"""SELECT vec_a, vec_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |         list_cosine_similarity(a.embedding, b.embedding) AS cos
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |   AND $bandEq)
         |WHERE cos > 0.45
         |ORDER BY vec_a, vec_b""".stripMargin
    }
  )
}
