package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The LIBRARY façade: DataFrame-in / DataFrame-out operators a user runs
  * on their OWN tables (the fixture-bound `SparkEntry.queries` keys are
  * these same kernels applied to the driver fixtures). Column names are
  * parameters; internally frames are renamed to the kernels' canonical
  * schema, so callers never touch graft.ops directly.
  *
  * Also part of the public surface:
  *  - [[registerFunctions]] installs what [[graft.plans.GraftExtensions]]
  *    declares in the session: the SQL functions (`vector_dot`,
  *    `vector_cosine` and the sorted-set merge scans, codegen'd Catalyst
  *    expressions), FoldIdempotent, the opt-in LshPrefilter
  *    (`spark.graft.lsh.prefilter=true`) and ApproxDistinctRewrite
  *    (`spark.graft.approx.distinct=true`), and the TopKPerKey strategy.
  *    `spark.sql.extensions=graft.plans.GraftExtensions` injects the rules
  *    and the strategy at session build;
  *  - [[graft.util.Skew.saltedJoin]] for hot-key joins.
  */
object Graft {

  /** Install graft's SQL functions, rules and strategy in the session
    * ([[graft.plans.GraftExtensions.install]]). Idempotent. */
  def registerFunctions(spark: SparkSession): Unit =
    graft.plans.GraftExtensions.install(spark)

  /** Connected components by alternating large-star/small-star contraction
    * (O(log²n) rounds, diameter-independent). Input: an undirected edge
    * list in any orientation; output: (`id`, `component`) with component =
    * the min reachable id. Once the distinct edge list fits one shuffle
    * task (100 000 edges) — before the first round or after any — it is
    * collected and finished on the driver by union-find, so a small graph
    * runs no distributed round at all. `maxIter` bounds the distributed
    * rounds: throws if they neither converge nor shrink the list that far
    * within it. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val (labels, _) = graft.ops.Pipeline.starContract(
      edges.select(col(srcCol).as("s"), col(dstCol).as("t")), maxIter)
    labels
  }

  /** MinHash-LSH near-duplicate pairs with exact bigram-Jaccard verify:
    * (doc_a, doc_b, i, u, is_dup) where is_dup = (Jaccard ≥ 0.35). Banded
    * candidate generation — never an all-pairs join. `docs` needs a long
    * id column and a string text column. */
  def minhashDedupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Dedup.minhashDedupOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Asymmetric containment pairs (|A∩B|/|A| ≥ 0.8 flags, both directions)
    * over the same banded candidates — catches doc-in-doc duplication. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Dedup.containmentPairsOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Banded 16-bit SimHash pairs at hamming ≤ 2, blocked by `blockCol`
    * (pass a constant column expression upstream for no blocking).
    * Pigeonhole 3-chunk candidates — exact recall, no all-pairs join. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String): DataFrame =
    graft.ops.Dedup.simhashPairsOf(
      docs.select(col(idCol).as("doc_id"), col(blockCol).as("lang"),
        col(textCol).as("text")))

  /** Brute-force cosine k-nearest-neighbors: for every row of `probes`,
    * the top-k most-similar rows of `items` (both need an id column and an
    * `array<float>` vector column; output (probe_id, rank, neighbor_id)).
    * The probe side is broadcast — `items` streams without shuffling, so
    * this is the exact-search baseline that scales with the big table.
    * For large probe sets use the banded/celled paths (`vec_ann_lsh`,
    * `vec_ann_ivf`, `vec_ann_ivf_pq` kernels) instead. */
  def knnCosine(items: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    graft.ops.Vectors.knnCosineOf(
      items.select(col(idCol).as("cand_id"), col(vecCol).as("ce")),
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("pe")),
      k)

  /** All id pairs whose embedding cosine exceeds `threshold`, generated
    * by EXPLICIT sign-LSH banding (16 4-bit bands over the validated
    * fixed permutation) with the cosine check as residual verify — only
    * (id, band-cell) rows ride the banding shuffle; the vector payload
    * is fetched once per side for the distinct candidates. Approximate
    * in general (a qualifying pair colliding in no band is missed;
    * ≥0.97 per-pair at τ=0.45), exactly like the opt-in LshPrefilter
    * rewrite — the scale path for embedding near-dup sweeps. Requires
    * `registerFunctions` first, and vectors of AT LEAST 64 dims (the
    * fixed bands index dims 0–63; shorter vectors fail fast per-row
    * rather than silently colliding in every band and degenerating the
    * candidate join to O(n²) — ADVICE r13). Output (id_a, id_b),
    * id_a < id_b. */
  def cosinePairs(items: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    graft.ops.Dedup.cosinePairsOf(
      items.select(col(idCol).as("id"), col(vecCol).as("vec")), threshold)

  /** Context-window chunking for pretraining prep: 40-token windows,
    * 30-token stride, per-chunk first/last tokens. Narrow map + explode —
    * no shuffle until the caller's sink. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Pipeline.chunkTokensOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Benchmark decontamination: flag training docs sharing ≥ 2 distinct
    * word-trigrams with ANY eval doc — an inverted-index equi-join keyed
    * by the trigram, never doc pairs. */
  def decontaminate(train: DataFrame, eval0: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def canon(d: DataFrame) =
      d.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    graft.ops.Text.decontaminateOf(canon(train), canon(eval0))
  }

  /** End-to-end dedup clustering: MinHash-LSH pairs → exact verify →
    * star-contraction components. Output: (doc_id, component, comp_size) —
    * "keep one doc per component" is `where(doc_id === component)`. */
  def dedupClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = minhashDedupPairs(docs, idCol, textCol)
      .where(col("is_dup") === 1)
      .select(col("doc_a").as("s"), col("doc_b").as("t"))
    graft.ops.Pipeline.ccWithSizes(pairs, "doc_id")
  }

  /** Deterministic train/val/test split: first hex digit of
    * md5(id ':' text) → 12/16 train, 2/16 val, 2/16 test. Content-salted —
    * a re-ingested doc keeps its split; pure projection, no shuffle. Adds
    * a `split` column. */
  def splitTrainEval(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.withColumn("split", {
      val h = substring(
        md5(concat(col(idCol).cast("string"), lit(":"), col(textCol))), 1, 1)
      when(h < "c", "train").when(h < "e", "val").otherwise("test")
    })
  }

  /** Duplicated-SPAN pairs: docs sharing any identical ≥40-char
    * word-aligned substring (the "dedup training data" operator — catches
    * verbatim boilerplate/quotes whole-doc similarity misses). Word-start
    * anchors are content-defined, so copies align at any offset; windows
    * seen in > 16 docs are dropped (stop-window guard). Output:
    * (a_id, b_id, n_shared). */
  def substringDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Dedup.substringPairsOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Exact top-k rows per key through the custom TopKPerKey physical
    * operator (graft.plans): a declared-property streaming scan — the
    * planner supplies (or elides, for bucketed/sorted input) the exchange
    * and sort; no rank column is materialized. `order` is (column, desc?)
    * pairs; include a unique tie-break column for deterministic output.
    * Installs the planner strategy with [[registerFunctions]]. */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    registerFunctions(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String) = analyzed.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${analyzed.output.map(_.name)}"))
    val ord = order.map { case (c, desc) =>
      SortOrder(attr(c), if (desc) Descending else Ascending) }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.TopKPerKey(keyCols.map(attr), ord, k, analyzed))
  }

  /** Exact near-duplicate pairs (bigram-shingle Jaccard ≥ 0.5) by prefix
    * filtering over a df-ordered term index — candidates from an equi-join
    * on prefix terms only, dedup+verify fused into the join (one merge scan
    * per candidate). Output: (doc_a, doc_b, i, u) with i/u the exact
    * intersection/union sizes. For corpora too large even for this, use
    * [[minhashDedupPairs]] first and verify survivors. */
  def jaccardPairsIndexed(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    registerFunctions(docs.sparkSession)
    graft.ops.Text.jaccardIndexedOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
  }

  /** C4-style span-level exact dedup: the corpus is cut into
    * non-overlapping 10-word segments; every repeat of a segment seen
    * earlier (by id, then position) counts as duplicated. Output per doc:
    * (doc_id, n_seg, n_kept, n_dup) — n_dup/n_seg is the span-duplication
    * rate curation thresholds on. One segment-keyed shuffle, never doc
    * pairs. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ops.Text.segmentDedupOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** PageRank over a directed edge list: `iters` integer-E6 power
    * iterations of r' = 0.15 + 0.85·Σ(r_in/deg_out) — exact integer
    * arithmetic, so results are order-independent and engine-portable.
    * Output: (node, pr_e6), nodes = src ∪ dst. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 2): DataFrame =
    graft.ops.Pipeline.pageRankOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), iters)

  /** Per-node triangle counts over an edge list in any orientation
    * (self-loops dropped, duplicates collapsed): the oriented a<b wedge
    * join — each triangle counted once, never an all-pairs scan.
    * Output: (node, n_tri) for nodes in ≥ 1 triangle. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    graft.ops.Pipeline.triangleCountOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** Undirected degree histogram over an edge list in any orientation.
    * Output: (deg, n_nodes). */
  def degreeDistribution(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    graft.ops.Pipeline.degreeDistributionOf(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))

  /** HTML → text extraction (tag sweep, entity decode, whitespace
    * collapse) as a new column `<htmlCol>_clean`; pure projection,
    * scan-speed on any corpus. */
  def cleanHtml(docs: DataFrame, htmlCol: String): DataFrame =
    docs.withColumn(s"${htmlCol}_clean",
      graft.ops.Text.stripHtmlExpr(col(htmlCol)))

  /** URL canonicalization for dedup keys: lowercase scheme+host, strip
    * `www.`/default port/fragment, drop `utm_*`/`ref` tracking params,
    * sort survivors. Adds `canon_url` and `n_params_dropped`. */
  def canonicalizeUrls(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("canon_url", graft.ops.Etl.canonUrlExpr(col(urlCol)))
      .withColumn("n_params_dropped", graft.ops.Etl.urlDroppedExpr(col(urlCol)))

  /** CDC log compaction: keep each key's LATEST row (max `tsCol`, ties by
    * max `seqCol`) with all columns preserved — one shuffle on the key. */
  def cdcCompact(df: DataFrame, keyCols: Seq[String], tsCol: String,
      seqCol: String): DataFrame =
    graft.ops.Etl.cdcCompactOf(df, keyCols,
      Seq(col(tsCol).desc, col(seqCol).desc))

  /** DATA-MIXTURE sampling: keep each row with a per-source rate (in
    * 256ths; ≥256 = keep all, sources absent from the map use
    * `defaultRate256`). Selection hashes the id column, so it is
    * deterministic and reproducible across runs and engines; a pure
    * per-row projection — mixing any corpus size runs at scan speed.
    * Returns the kept rows unchanged. */
  def mixSources(docs: DataFrame, idCol: String, sourceCol: String,
      keepRate256: Map[String, Int], defaultRate256: Int = 256): DataFrame = {
    def thr(rate: Int): String = if (rate >= 256) "zz" else f"$rate%02x"
    val thrCol = keepRate256.foldLeft(
      org.apache.spark.sql.functions.lit(thr(defaultRate256))) {
      case (acc, (src, rate)) =>
        org.apache.spark.sql.functions
          .when(col(sourceCol) === src, thr(rate)).otherwise(acc)
    }
    docs.where(org.apache.spark.sql.functions
      .substring(org.apache.spark.sql.functions
        .md5(col(idCol).cast("string")), 1, 2) < thrCol)
  }

  /** Snap integer-microdegree coordinates to square grid cells (adds
    * `glat`/`glon`; `cell` = cell edge in microdegrees, 1000000 = 1°) —
    * the shuffle key of every planetary-scale point aggregation.
    * Integer-exact: shift-then-divide on non-negative values, no
    * transcendental. */
  def gridCells(points: DataFrame, latCol: String, lonCol: String,
      cell: Long = 1000000L): DataFrame =
    graft.ops.Geo.withGridCell(points, latCol, lonCol, cell)

  /** Assign points to containing boxes (inclusive microdegree bounds;
    * `boxes` carries latlo/lathi/lonlo/lonhi + id columns), LEFT from
    * the broadcast box dim so empty boxes survive. */
  def bboxAssign(points: DataFrame, boxes: DataFrame,
      latCol: String = "lat", lonCol: String = "lon"): DataFrame =
    graft.ops.Geo.bboxAssign(points, boxes, latCol, lonCol)

  /** k nearest points per probe by exact squared equirectangular
    * microdegree distance (BIGINT, bit-stable, deterministic (d², id)
    * tie-break). Probes must be a bounded panel — they broadcast;
    * points stream through a linear scan. */
  def knnPoints(points: DataFrame, probes: DataFrame, k: Int,
      idCol: String, probeCol: String): DataFrame =
    graft.ops.Geo.knnPoints(points, probes, k, idCol, probeCol)
}
