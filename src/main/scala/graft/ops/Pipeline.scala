package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.util.Tables._

/** Round-2 LLM-training-data pipeline operators ([R2] north star) beyond the
  * round-1 dedup/text families: near-dup CLUSTERING (connected components),
  * context chunking, sequence packing, and edit-distance similarity probes.
  *
  * Scale posture: the component loop is real alternating large-star /
  * small-star contraction (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC 2014) — each half-step is one shuffled
  * groupBy-min plus a join, the driver only compares a 2-number checksum
  * per round, and the round count is O(log²n) worst-case (empirically
  * ~log n) instead of graph-diameter; chunking/packing are narrow maps plus
  * one windowed pass partitioned by `source` shards, never a global order.
  */
object Pipeline {

  /** Edges per shuffle task: the target each contraction round sizes its
    * width for, and the canonical edge-list size up to which
    * [[starContract]] finishes on the driver — a list that fits one task
    * gains nothing from another distributed round but its job latency. */
  private[graft] val EdgesPerTask = 100000L

  /** Alternating large-star/small-star contraction to a star forest whose
    * centers are the per-component minimum ids.
    *
    * Input: undirected edge list (`s`,`t` long columns, any orientation,
    * duplicates allowed). Output: (labels DataFrame (`id`,`component`),
    * distributed rounds taken). A node seen only through a self-loop is a
    * component of its own. Each round runs:
    *
    *  - large-star: for every node u with neighborhood Γ(u), connect each
    *    v ∈ Γ(u) with v > u to m = min(Γ(u) ∪ {u}) — one groupBy-min +
    *    one equi-join;
    *  - small-star: orient edges high→low, connect each low neighbor and
    *    u itself to m — same two operators.
    *
    * Both steps preserve connectivity and monotonically shrink the edge
    * partial order, converging to a star forest in O(log² n) rounds
    * (diameter-independent — the round-3 fix over one-hop min-label
    * propagation whose round count is the graph diameter). Convergence is
    * detected by a (count, xor-of-hashes) checksum — one tiny action per
    * round, never a label collect.
    *
    * Driver finish: the canonical list — distinct (min, max) pairs,
    * self-loops included (an edge with one null end is a self-loop on the
    * other, one with two names no node) — is checkpointed once, and its
    * size is checked before the first round and after every round (the
    * checksum already counts it). As soon as it holds at most
    * `localEdges` rows (default [[EdgesPerTask]]: it fits one task) it is
    * collected and finished by an iterative union-find that keeps the
    * minimum id as each root, and the labels come back as a local frame. So the distributed rounds only
    * shrink a corpus-scale graph, and the latency-bound tail of a few
    * edges runs on the driver; a fixture-scale graph takes 0 rounds.
    * `maxIter` bounds the distributed rounds: if they neither converge nor
    * shrink the list to `localEdges` within it, this throws rather than
    * return partial labels. An input that is already a driver-held
    * (`LocalRelation`) list of at most `localEdges` rows — a local
    * Dedup.verifiedCands — is oriented the same way and goes straight to
    * the union-find, with no canonical checkpoint and no checksum job.
    * (`localEdges` is a test seam: 0 forces the rounds for any non-empty
    * list.)
    *
    * Adaptive round width: contraction shrinks the edge list monotonically,
    * so late rounds over a handful of surviving edges would still pay the
    * session's full shuffle width in empty-task overhead (measured: most of
    * the fixture-scale cost). Each round's shuffles are sized from the
    * PREVIOUS round's edge count (free — the convergence checksum already
    * counts), targeting [[EdgesPerTask]] edges/partition, capped at the
    * session width. Same shared-conf discipline as
    * Streaming.withStreamShuffle (synchronized + restore); results are
    * partitioning-invariant (the determinism suite pins this). */
  private[graft] def starContract(edges0: DataFrame, maxIter: Int = 30,
      localEdges: Long = EdgesPerTask): (DataFrame, Int) = {
    val spark = edges0.sparkSession
    // (min, max) orientation; least/greatest skip a null, so (null, v) is
    // a self-loop on v, and a (null, null) edge names no node and is dropped
    val oriented = edges0
      .select(least(col("s"), col("t")).as("s"), greatest(col("s"), col("t")).as("t"))
      .where(col("s").isNotNull)
    // an edge list already on the driver (a local verify) finishes there:
    // no canonical checkpoint, no checksum job (the projection and filter
    // fold into the LocalRelation; the union-find ignores repeated edges)
    if (graft.util.Local.size(edges0).exists(_ <= localEdges))
      return (componentsOnDriver(spark, oriented), 0)
    val sessionWidth = spark.sessionState.conf.numShufflePartitions
    def widthFor(edgeCount: Long): Int =
      math.max(1L, math.min(sessionWidth.toLong, edgeCount / EdgesPerTask + 1L)).toInt
    // AQE off inside each round (r19): every exchange in the round is
    // already explicitly sized (repartition(w, s) / the atWidth shuffle
    // width), so adaptive re-planning buys nothing here — it only splits
    // each round's localCheckpoint into one DRIVER JOB PER QUERY STAGE
    // (~5-6 jobs/round observed; 55 jobs for dedup_lsh_cc end-to-end) and
    // the driver-side job latency, not the tasks, dominates the loop.
    // With AQE off a round is 2 jobs: the checkpoint and the checksum.
    // Output is partitioning-invariant (DeterminismSpec pins it).
    def atWidth[T](w: Int)(body: => T): T = graft.util.Confs.withConfs(spark,
      "spark.sql.shuffle.partitions" -> w.toString,
      "spark.sql.adaptive.enabled" -> "false")(body)
    val canon = oriented.distinct().localCheckpoint()
    val loops = canon.where(col("s") === col("t"))
    var edges = canon.where(col("s") =!= col("t"))
    // (edge count, xor of edge hashes, self-loop count): self-loops stay
    // out of the rounds and their checksum, but count toward the driver
    // finish, which must see every node
    def checksum(df: DataFrame): (Long, Long, Long) = {
      val edge = col("s") =!= col("t")
      val r = df.agg(count(when(edge, lit(1))),
        coalesce(bit_xor(when(edge, xxhash64(col("s"), col("t")))), lit(0L)),
        count(when(!edge, lit(1)))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (n0, x0, nLoops) = checksum(canon)
    var prev = (n0, x0)
    def fits = prev._1 + nLoops <= localEdges
    var iter = 0
    var converged = false
    while (!converged && !fits && iter < maxIter) atWidth(widthFor(prev._1)) {
      val w = widthFor(prev._1)
      // ONE exchange per star phase (r18, guide §2.4 "share the exchange"):
      // each phase's groupBy, join and (s, t)-distinct are all keyed on s,
      // so an explicit repartition(w, s) establishes the partitioning once
      // and every downstream operator reuses it — HashPartitioning(s)
      // satisfies the (s, t) clustering of distinct too. The old shape paid
      // a separate exchange for each (~7/round); this one pays 3 (phase
      // keying ×2 + the final canonical-orientation distinct). Skew note:
      // a hot star center now concentrates its Γ(s) join rows in one task
      // where AQE's skew-split could previously divide them — but the same
      // key already concentrated in the groupBy/window of every prior
      // shape, widthFor targets ~100k edges/partition, and contraction
      // halves hot-star mass every round, so the straggler bound is one
      // round's degree, not the component size.
      //
      // large-star: nbrs both directions; m(u) = min(Γ(u) ∪ {u});
      // emit (v, m) for v ∈ Γ(u), v > u.
      val nbrs = edges.unionByName(
          edges.select(col("t").as("s"), col("s").as("t")))
        .repartition(w, col("s"))
      val mins = nbrs.groupBy(col("s"))
        .agg(least(min(col("t")), first(col("s"))).as("m"))
      // large-star output is already high→low oriented (m < s < t by
      // construction), so the small-star phase re-keys it on the new s
      // once and its distinct + groupBy + join all reuse that exchange.
      val large = nbrs.join(mins, "s")
        .where(col("t") > col("s") && col("t") =!= col("m"))
        .select(col("t").as("s"), col("m").as("t"))
        .repartition(w, col("s"))
      val largeD = large.distinct()
      // small-star on high→low oriented edges: emit (v, m) for each low
      // neighbor v ≠ m, plus (u, m). (min is duplicate-insensitive, so
      // smins may read the pre-distinct rows and stay on the same
      // exchange; the emitted edges come from the distinct set.)
      val smins = large.groupBy(col("s")).agg(min(col("t")).as("m"))
      val small = largeD.join(smins, "s")
        .where(col("t") =!= col("m"))
        .select(col("t").as("s"), col("m").as("t"))
        .unionByName(smins.select(col("s"), col("m").as("t")))
        .select(least(col("s"), col("t")).as("s"), greatest(col("s"), col("t")).as("t"))
        .where(col("s") =!= col("t"))
        .distinct()
        .localCheckpoint()
      val (n, x, _) = checksum(small)
      converged = (n, x) == prev
      prev = (n, x)
      edges = small
      iter += 1
    }
    if (fits) (componentsOnDriver(spark, edges.unionByName(loops)), iter)
    else {
      require(converged, s"starContract did not converge in $maxIter rounds")
      // Star forest: every node's label = least(itself, min neighbor).
      val nodes = canon.select(col("s").as("id"))
        .unionByName(canon.select(col("t").as("id"))).distinct()
      val nbrs = edges.unionByName(
        edges.select(col("t").as("s"), col("s").as("t")))
      val labels = nodes.join(nbrs, nodes("id") === nbrs("s"), "left")
        .groupBy(col("id"))
        .agg(least(first(col("id")), coalesce(min(col("t")), first(col("id")))).as("component"))
      (labels, iter)
    }
  }

  /** The driver finish of [[starContract]]: collect a small (s, t) list
    * (self-loops register their node) and label every node with the
    * minimum id of its component by union-find — iterative find with path
    * compression, and the smaller root always wins a union, so each root
    * is its component's minimum. Returns a local (`id`, `component`)
    * frame. */
  private def componentsOnDriver(spark: SparkSession, edges: DataFrame): DataFrame = {
    val rows = edges.collect()
    val ids = rows.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct.sorted
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val parent = Array.range(0, ids.length) // index order = id order
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var c = i
      while (parent(c) != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    rows.foreach { r =>
      val a = find(at(r.getLong(0)))
      val b = find(at(r.getLong(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    graft.util.Local.frame(spark, ids.indices.map(i => Row(ids(i), ids(find(i)))),
      StructType(Seq(StructField("id", LongType), StructField("component", LongType))))
  }

  /** Canonical-id clustering of the near-duplicate graph: connected
    * components over the exact bigram-Jaccard pair list
    * ([[Text.textJaccardDup]]), by [[starContract]]. Output: every
    * clustered doc with its component id (= min doc_id reachable) and
    * component size — what a 100 TB dedup pass actually needs ("keep one
    * doc per component").
    *
    * The edge list is localCheckpoint'd once — it is the expensive input
    * (a pair scan), and each contraction round must not replay it. */
  def dedupCcComponents(spark: SparkSession, sf: String): DataFrame = {
    // the memoized pair kernel is already localCheckpointed; no presentation
    // sort and no second checkpoint needed before contraction
    val pairs = Text.jaccardPairs(spark, sf)
      .select(col("doc_a").as("s"), col("doc_b").as("t"))
    ccWithSizes(pairs, "doc_id").orderBy(col("doc_id"))
  }

  /** Shared contraction tail: star-contract the (s, t) edges and join
    * each label with its component size, `id` renamed to `idName` —
    * extracted round 17 (the recorded ETL-review duplication); behavior
    * pinned by the three consuming keys' recursive-CTE oracles. Labels
    * the driver finish returned are sized on the driver and stay local. */
  private[graft] def ccWithSizes(pairs: DataFrame, idName: String): DataFrame = {
    val (labels, _) = starContract(pairs)
    graft.util.Local.rows(labels) match {
      case Some(rows) => // driver-finished labels: size them on the driver
        val sizes = rows.groupMapReduce(_.getLong(1))(_ => 1)(_ + _)
        graft.util.Local.frame(labels.sparkSession,
          rows.map(r => Row(r.getLong(0), r.getLong(1), sizes(r.getLong(1)))).toSeq,
          StructType(Seq(StructField(idName, LongType), StructField("component", LongType),
            StructField("comp_size", IntegerType, nullable = false))))
      case None =>
        val sizes = labels.groupBy("component")
          .agg(count(lit(1)).cast("int").as("comp_size"))
        labels.join(sizes, "component")
          .select(col("id").as(idName), col("component"), col("comp_size"))
    }
  }

  /** Context-window chunking: split each document's token stream into
    * windows of 40 tokens advancing by a 30-token stride (10-token overlap)
    * — the standard prep for embedding/pretraining context construction.
    * One narrow map per doc (sequence + explode), no shuffle until the
    * final presentation sort. */
  def etlChunkTokens(spark: SparkSession, sf: String): DataFrame =
    chunkTokensOf(documents(spark, sf))

  /** Core chunker over any frame with (doc_id, text) — 40-token windows,
    * 30-token stride. (private[graft]: api.Graft reuses it.) */
  private[graft] def chunkTokensOf(d: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val kMax = floor((col("n") - 1) / 30).cast("int")
    d
      .select(col("doc_id"), ws.as("ws"), size(ws).as("n"))
      .where(col("n") > 0)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), kMax)).as("chunk_idx"))
      .withColumn("n_tok", least(lit(40), col("n") - col("chunk_idx") * 30).cast("int"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("n_tok"),
        element_at(col("ws"), col("chunk_idx") * 30 + 1).as("first_tok"),
        element_at(col("ws"), col("chunk_idx") * 30 + col("n_tok")).as("last_tok"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Sequence packing: concatenate each source shard's token stream in
    * doc_id order and cut it at fixed 512-token boundaries — the bin id is
    * the chunk a document STARTS in (streaming concat-then-split packing,
    * how pretraining shards are packed). Windowed cumsum partitioned by
    * `source` — 20 independent shards, no global order anywhere. */
  def etlPackSequences(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(spark, sf)
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("bin", floor((col("cum") - col("n")) / 512).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin"))
  }

  /** SEMANTIC dedup composition (SemDeDup-style): embedding-cosine
    * threshold pairs → star-contraction clustering → per-cluster canonical
    * id + size — the vector twin of [[dedupLshCc]], for near-dups that
    * share meaning but not shingles (paraphrases, translations, templated
    * rewrites). Candidates come from [[Vectors.vecThresholdPairs]], whose
    * naive theta join the LshPrefilter rule rewrites into 16 banded
    * equi-joins + residual verify — so the whole chain is banded candidates
    * → exact verify → O(log²n) contraction, no all-pairs stage anywhere.
    * Recursive-CTE oracled like the other CC keys. */
  def vecDedupSemantic(spark: SparkSession, sf: String): DataFrame = {
    // the UNSORTED pair kernel: the key-surface presentation sort would
    // be paid and discarded by the checkpoint (round 17, recorded item);
    // since r18 the kernel is memoized+checkpointed per (session, sf), so
    // the rename is a free projection over the shared checkpoint
    val pairs = Vectors.thresholdPairsOf(spark, sf)
      .select(col("vec_a").as("s"), col("vec_b").as("t"))
    ccWithSizes(pairs, "vec_id").orderBy(col("vec_id"))
  }

  /** Distributed CONTIGUOUS ID ASSIGNMENT — the "give every sample a stable
    * 0..n−1 sequence id" step that precedes packing/sharding a training set.
    * `row_number() OVER (ORDER BY …)` is a SINGLE-PARTITION sort at scale;
    * [[graft.util.Ids.zipWithIndex]] is the shuffle-sane two-pass shape
    * (range-shard → per-partition counts → broadcast offsets → zip). The
    * oracle is the window formulation, proving the plans equivalent. */
  def etlAssignIds(spark: SparkSession, sf: String): DataFrame =
    graft.util.Ids.zipWithIndex(
      documents(spark, sf).select(col("doc_id"), col("lang")),
      "seq_id", col("doc_id"))
      .orderBy(col("doc_id"))

  /** Edit-distance similarity probes: for each probe doc (doc_id ≡ 0
    * mod 50, capped to a FIXED 64-probe panel), the 5 nearest same-lang
    * docs by Levenshtein distance over the 24-char text prefix (ties →
    * lower doc_id). Lang-blocked pair join + windowed top-k; distances
    * are exact ints on both engines.
    *
    * The panel cap is the scale contract (VERDICT r14): a mod-only probe
    * set is a fixed FRACTION of the corpus, so probes×candidates grows
    * O(n²/250) — quadratic hiding behind a small fixture. Capping probes
    * at a constant count makes total work O(64·n), the same
    * probe-bounded linear shape as [[Vectors.vecKnnCosine]]'s 10-probe
    * panel. Round15Spec pins the constant panel size against the
    * corpus-fraction control. */
  val EditdistProbeCap = 64
  def textEditdistTopk(spark: SparkSession, sf: String): DataFrame = {
    val d = documents(spark, sf)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 24).as("p"))
    val probes = d.where(col("doc_id") % 50 === 0 &&
        col("doc_id") < EditdistProbeCap * 50)
      .select(col("doc_id").as("doc_a"), col("lang"), col("p").as("pa"))
    val cands = d.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("p").as("pb"))
    val w = Window.partitionBy(col("doc_a"))
      .orderBy(col("dist"), col("doc_b"))
    probes.join(cands,
        col("lang") === col("lang_b") && col("doc_a") =!= col("doc_b"))
      .withColumn("dist", levenshtein(col("pa"), col("pb")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= 5)
      .select(col("doc_a"), col("rn"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("rn"))
  }

  /** THE 100 TB dedup pipeline composition, end to end: MinHash-LSH banded
    * candidates → exact-Jaccard verify (the [[Dedup.dedupMinhashLsh]]
    * pairs at ≥ 7/20, [[lshCcPairs]]) → [[starContract]] clustering →
    * per-component canonical id + size. Every stage is the
    * banded/contracted scale shape — no all-pairs join and no
    * diameter-bound loop anywhere. This is what
    * "keep one doc per near-dup cluster" actually runs at scale; the
    * recursive-CTE oracle recomputes it exactly. */
  def dedupLshCc(spark: SparkSession, sf: String): DataFrame =
    lshCcLabels(spark, sf).orderBy(col("doc_id"))

  /** The LSH→verify→CC kernel both [[dedupLshCc]] and [[dedupSurvivors]]
    * consume, computed ONCE per (session, sf): local when the verify ran
    * on the driver, else localCheckpointed. Each
    * key remains a pure function of (spark, sfDir) — the memo only stops
    * the expensive chain from running end-to-end twice when both keys
    * execute in one session (it did: 3.5 s + 3.3 s at sf0.1). Keyed by
    * session so a checkpoint never outlives the session that owns it;
    * a racing double-compute is wasted work, never wrong results. */
  private val lshCcMemo = graft.util.Memos.memo[DataFrame]

  private def lshCcLabels(spark: SparkSession, sf: String): DataFrame =
    graft.util.Memos.cached(lshCcMemo, spark, sf) {
      val labels = ccWithSizes(lshCcPairs(spark, sf), "doc_id")
      // driver-finished labels are already local; checkpoint only a
      // distributed answer
      if (graft.util.Local.size(labels).isDefined) labels else labels.localCheckpoint()
    }

  /** The verified near-duplicate edges [[lshCcLabels]] clusters: the
    * UNSORTED verify kernel under the [[Dedup.nearDup]] verdict — no
    * presentation sort and no checkpoint of its own (the kernel is
    * checkpointed, and [[starContract]] materializes its canonical list). */
  private[graft] def lshCcPairs(spark: SparkSession, sf: String): DataFrame =
    Dedup.verifiedCands(spark, sf)
      .where(Dedup.nearDup(col("i"), col("n_a") + col("n_b") - col("i")))
      .select(col("doc_a").as("s"), col("doc_b").as("t"))

  /** The dedup pipeline's FINAL answer: which docs to KEEP. Extends
    * [[dedupLshCc]]'s clusters with per-cluster canonical selection —
    * keep the longest doc (n_chars desc, tie → min doc_id), drop the
    * rest. One extra broadcast-sized join (doc lengths) plus one window
    * partitioned by component — no new shuffle beyond the component key.
    * At 100 TB the keep-list anti-joins back against the corpus; here the
    * flag column is the test surface. */
  def dedupSurvivors(spark: SparkSession, sf: String): DataFrame = {
    val labels = lshCcLabels(spark, sf)
    val len = documents(spark, sf).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(len, "doc_id")
      .withColumn("keep", (row_number().over(w) === 1).cast("int"))
      .select(col("doc_id"), col("component"), col("comp_size"),
        col("n_chars"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** PAGERANK power iteration — link-graph authority scoring, the web-scale
    * quality signal curation pipelines rank crawl domains with (and, with
    * [[dedupCcComponents]], the second classic graph kernel this engine
    * runs). The fixture has no link table, so a deterministic synthetic
    * graph is derived from documents in-query — node i emits 1 + i % 3
    * edges to (i·31 + j·7919) mod N, the same expression in both engines.
    * Two unrolled iterations of r' = 0.15 + 0.85·Σ(r_in/deg_out), ALL in
    * integer E6 arithmetic (rank enters at 1 000 000; contribution is
    * `r div deg`; damping is `(85·Σ) div 100` — floor division of
    * non-negative longs agrees across engines, rule D3), so the output is
    * exact and order-independent.
    *
    * Scale shape: each iteration is edges ⋈ ranks on src (the edge table
    * pre-joined with out-degrees once and reused) followed by one
    * groupBy(dst) with map-side partial sums — the canonical Pregel-style
    * scatter/gather as two relational ops. A 100 TB run keeps the edge
    * table hash-partitioned on src across iterations so only the (small)
    * rank table moves; the iteration count is fixed, not data-dependent. */
  def graphPagerankIter(spark: SparkSession, sf: String): DataFrame =
    pageRankOf(syntheticEdges(spark, sf), iters = 2)
      .orderBy(col("node"))

  /** The deterministic synthetic link graph the three graph_* keys share:
    * node i emits 1 + i % 3 directed edges to (i·31 + j·7919) mod N. */
  private val edgeCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private def syntheticEdges(spark: SparkSession, sf: String): DataFrame = {
    val docs = documents(spark, sf).select(col("doc_id"))
    // memoized per (JVM, sf): the count is a pure fixture fact, and an
    // eager job at QUERY-CONSTRUCTION time otherwise runs once per
    // graph key (round-16b review)
    val n: Long = edgeCounts.computeIfAbsent(sf,
      d => java.lang.Long.valueOf(documents(spark, d).count()))
    docs.select(col("doc_id").as("src"),
        explode(sequence(lit(1), lit(1) + col("doc_id") % 3)).as("j"))
      .select(col("src"), ((col("src") * 31 + col("j") * 7919) % n).as("dst"))
  }

  /** Frame-generic PageRank kernel over a directed (src, dst) edge list
    * (every synthetic node has out-degree ≥ 1, so nodes = src ∪ dst
    * matches the key's doc universe; api.Graft exposes it as
    * `pageRank`). Output: (node, pr_e6), unordered. */
  private[graft] def pageRankOf(edges: DataFrame, iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val e = edges.join(deg, "src").localCheckpoint() // reused every iteration
    def step(ranks: DataFrame): DataFrame =
      nodes
        .join(e.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("s")),
          col("node") === col("dst"), "left")
        .select(col("node").as("node"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    var r = nodes.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) r = step(r.localCheckpoint())
    r.select(col("node"), col("r").as("pr_e6"))
  }

  /** TRIANGLE COUNTING — the third classic graph kernel (with
    * [[dedupCcComponents]] and [[graphPagerankIter]]): local clustering
    * signal for link-graph quality scoring. Same deterministic synthetic
    * graph as pagerank, made undirected and ORIENTED a<b — each triangle
    * a<b<c is then enumerated exactly once as the wedge join
    * (a,b)⋈(b,c) closed by (a,c): two equi-joins, zero all-pairs work.
    * Per-node counts come from exploding each triangle's three corners
    * into one groupBy. Scale: id-orientation already halves the edge
    * table; the 100 TB refinement is orienting by (degree, id) so every
    * wedge pivots at its LOWEST-degree corner, bounding join fan-out by
    * the graph's arboricity instead of its max degree (the classic
    * MR/GraphX triangle trick) — same plan shape, different sort key. */
  def graphTriangleCount(spark: SparkSession, sf: String): DataFrame =
    triangleCountOf(syntheticEdges(spark, sf)).orderBy(col("node"))

  /** Frame-generic per-node triangle counts over a (src, dst) edge list in
    * any orientation (api.Graft: `triangleCount`). */
  private[graft] def triangleCountOf(edges: DataFrame): DataFrame = {
    val und = orientedEdges(edges)
      .localCheckpoint() // reused three times in the wedge join
    val tri = und.as("x")
      .join(und.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
      .join(und.as("z"), col("ta") === col("z.a") && col("tc") === col("z.b"))
      .select(col("ta"), col("tb"), col("tc"))
    tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Undirected a<b orientation of a raw (src, dst) edge list: self-loops
    * dropped, duplicates collapsed. */
  private def orientedEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b")).distinct()

  /** DEGREE DISTRIBUTION of the synthetic link graph — the first
    * diagnostic a graph pipeline emits (skew here predicts hot keys in
    * every downstream join; a power-law tail is what forces the
    * degree-oriented wedge pivot in [[graphTriangleCount]]). Undirected
    * degree = corner count over the oriented a<b edge set; two cascaded
    * map-side-combinable groupBys, no join. */
  def graphDegreeDistribution(spark: SparkSession, sf: String): DataFrame =
    degreeDistributionOf(syntheticEdges(spark, sf)).orderBy(col("deg"))

  /** Frame-generic undirected degree histogram over a (src, dst) edge
    * list in any orientation (api.Graft: `degreeDistribution`). */
  private[graft] def degreeDistributionOf(edges: DataFrame): DataFrame =
    orientedEdges(edges)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  /** BFS HOP DISTANCE — the fourth classic graph kernel here (with
    * components, pagerank and triangles): minimum hop count from a seed
    * set (doc_id ≡ 0 mod 97) over the same synthetic link graph,
    * following edge direction, capped at 4 hops. FRONTIER expansion, not
    * transitive closure: each round joins only the NEWLY-discovered
    * frontier against the edge table (localCheckpointed once, reused
    * every round), then anti-joins the visited set, so round r's work is
    * O(out-edges of frontier r), never O(reached² ) — the Pregel/GraphX
    * BFS shape. The loop stops early when the frontier drains (one
    * bounded isEmpty probe per round on an already-materialized frame).
    * At 100 TB the edge table stays hash-partitioned on src across
    * rounds and only the frontier moves; the hop cap bounds the round
    * count for the capped variant, the drain check alone bounds a full
    * BFS by the graph's effective diameter. Output (node, hop) is exact
    * integers, set-deterministic (rules D2/D3). */
  def graphBfsHops(spark: SparkSession, sf: String): DataFrame = {
    val edges = syntheticEdges(spark, sf).localCheckpoint()
    val seeds = documents(spark, sf)
      .where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("node"), lit(0).as("hop"))
    bfsHopsOf(seeds, edges, maxHops = 4)
  }

  /** Re-checkpoint cadence for [[bfsHopsOf]]'s lazily-accumulated visited
    * union: past this many un-checkpointed hops the union is barriered so
    * the analyzer's plan depth stays O(this constant), not O(diameter) —
    * the registered key's maxHops=4 never reaches it, but a deeper fixture
    * must not stack-overflow the analyzer (VERDICT r18 #10; asserted in
    * PipelineSpec on a 20-hop path graph). */
  private[graft] val BfsRecheckpointEvery = 8

  /** The BFS frontier loop, parameterized for the depth spec: seeds =
    * (node, hop=0) rows, edges = (src, dst), already materialized. */
  private[graft] def bfsHopsOf(seeds: DataFrame, edges: DataFrame,
      maxHops: Int): DataFrame = {
    var visited = seeds.localCheckpoint()
    var frontier = visited.select(col("node"))
    var h = 1
    var drained = false
    var lazyDepth = 0 // union members stacked since the last barrier
    while (h <= maxHops && !drained) {
      val next = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint()
      drained = next.isEmpty
      if (!drained) {
        // visited accumulates LAZILY over the per-hop checkpoints (r18):
        // each union member is already materialized, so re-checkpointing
        // the union every hop only re-copied the same rows — but a chain
        // growing with the graph's diameter would eventually overflow the
        // analyzer, so every BfsRecheckpointEvery hops the union is
        // collapsed into one fresh checkpoint (r19)
        visited = visited
          .unionByName(next.select(col("node"), lit(h).as("hop")))
        lazyDepth += 1
        if (lazyDepth >= BfsRecheckpointEvery) {
          visited = visited.localCheckpoint()
          lazyDepth = 0
        }
        frontier = next
      }
      h += 1
    }
    visited.orderBy(col("node"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank_iter" -> graphPagerankIter,
    "graph_bfs_hops" -> graphBfsHops,
    "graph_triangle_count" -> graphTriangleCount,
    "graph_degree_distribution" -> graphDegreeDistribution,
    "dedup_cc_components" -> dedupCcComponents,
    "dedup_lsh_cc" -> dedupLshCc,
    "dedup_survivors" -> dedupSurvivors,
    "etl_assign_ids" -> etlAssignIds,
    "etl_chunk_tokens" -> etlChunkTokens,
    "vec_dedup_semantic" -> vecDedupSemantic,
    "etl_pack_sequences" -> etlPackSequences,
    "text_editdist_topk" -> textEditdistTopk
  )

  /** DuckDB bigram set (mirrors Text.bigrams). */
  // ONE bigram encoding across the Jaccard family (round-16b review)
  private def bgSql = Dedup.bgSql

  /** The exact near-dup pair list as a nestable SELECT (same semantics as
    * the text_jaccard_dup oracle, pairs only). Round 18: the intersect is
    * computed ONCE per pair (was 3×), reading a `dsets` CTE the enclosing
    * WITH must define (so the shingle pass runs once), behind the size
    * pre-filter the jaccard>=0.5 predicate already implies
    * (i*2 >= u ⇒ 2·min(n_a,n_b) >= 2i >= u >= max(n_a,n_b)) —
    * value-identical, strictly cheaper. */
  private[ops] val dsetsSql =
    s"SELECT doc_id, lang, $bgSql AS bg FROM documents"
  private val pairsSql =
    s"""SELECT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.bg, b.bg)) AS i,
       |    len(a.bg) AS n_a, len(b.bg) AS n_b
       |  FROM dsets a JOIN dsets b
       |    ON a.lang = b.lang AND a.doc_id < b.doc_id
       |   AND len(a.bg) * 2 >= len(b.bg) AND len(b.bg) * 2 >= len(a.bg))
       |WHERE i * 2 >= n_a + n_b - i AND i > 0""".stripMargin

  def oracle: Map[String, String] = Map(
    "graph_pagerank_iter" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |nodes AS (SELECT doc_id AS node FROM documents),
        |ej AS (SELECT doc_id AS src, unnest(range(1, 2 + doc_id % 3)) AS j
        |       FROM documents),
        |e AS (SELECT src, (src * 31 + j * 7919) % (SELECT n FROM nn) AS dst
        |      FROM ej),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |s1 AS (SELECT dst, sum(r // deg) AS s
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
        |       GROUP BY dst),
        |r1 AS (SELECT node,
        |         CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
        |       FROM nodes LEFT JOIN s1 ON node = dst),
        |s2 AS (SELECT dst, sum(r // deg) AS s
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
        |       GROUP BY dst)
        |SELECT node,
        |  CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS pr_e6
        |FROM nodes LEFT JOIN s2 ON node = dst ORDER BY node""".stripMargin,

    // Recursive min-hop closure, bounded by the same 4-hop cap; UNION
    // (not UNION ALL) dedups (node, hop) states so the fixpoint is the
    // per-level reachable set — N·H states max, then one min per node.
    "graph_bfs_hops" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |ej AS (SELECT doc_id, unnest(range(1, 2 + doc_id % 3)) AS j
        |       FROM documents),
        |e AS (SELECT doc_id AS s,
        |        (doc_id * 31 + j * 7919) % (SELECT n FROM nn) AS t
        |      FROM ej),
        |walk(node, hop) AS (
        |  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT e.t, w.hop + 1 FROM walk w JOIN e ON w.node = e.s
        |  WHERE w.hop < 4)
        |SELECT node, CAST(min(hop) AS INT) AS hop
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    "graph_degree_distribution" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ej AS (SELECT doc_id AS s, unnest(range(1, 2 + doc_id % 3)) AS j
        |       FROM documents),
        |raw AS (SELECT s, (s * 31 + j * 7919) % (SELECT n FROM nn) AS d
        |        FROM ej),
        |und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |        FROM raw WHERE least(s, d) < greatest(s, d)),
        |corners AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
        |degs AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        |         FROM corners GROUP BY node)
        |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM degs GROUP BY deg ORDER BY deg""".stripMargin,

    "graph_triangle_count" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |ej AS (SELECT doc_id AS s, unnest(range(1, 2 + doc_id % 3)) AS j
        |       FROM documents),
        |raw AS (SELECT s, (s * 31 + j * 7919) % (SELECT n FROM nn) AS d
        |        FROM ej),
        |und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |        FROM raw WHERE least(s, d) < greatest(s, d)),
        |tri AS (SELECT x.a AS ta, x.b AS tb, y.b AS tc
        |        FROM und x JOIN und y ON x.b = y.a
        |        JOIN und z ON z.a = x.a AND z.b = y.b),
        |corners AS (
        |  SELECT ta AS node FROM tri UNION ALL
        |  SELECT tb FROM tri UNION ALL
        |  SELECT tc FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY node ORDER BY node""".stripMargin,
    "dedup_lsh_cc" ->
      s"""${Dedup.minhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dup AS (
         |  SELECT doc_a, doc_b FROM cands
         |  JOIN sets a ON cands.doc_a = a.doc_id
         |  JOIN sets b ON cands.doc_b = b.doc_id
         |  WHERE len(list_intersect(a.bg, b.bg)) * 20 >=
         |        (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) * 7),
         |nodes AS (SELECT doc_a AS id FROM dup UNION SELECT doc_b FROM dup),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM dup
         |          UNION SELECT doc_b, doc_a FROM dup),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.t FROM reach JOIN edges e ON reach.r = e.s),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT c.id AS doc_id, c.component, CAST(s.n AS INT) AS comp_size
         |FROM comp c JOIN (SELECT component, count(*) AS n FROM comp
         |                  GROUP BY component) s USING (component)
         |ORDER BY doc_id""".stripMargin,

    "dedup_survivors" ->
      s"""${Dedup.minhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dup AS (
         |  SELECT doc_a, doc_b FROM cands
         |  JOIN sets a ON cands.doc_a = a.doc_id
         |  JOIN sets b ON cands.doc_b = b.doc_id
         |  WHERE len(list_intersect(a.bg, b.bg)) * 20 >=
         |        (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) * 7),
         |nodes AS (SELECT doc_a AS id FROM dup UNION SELECT doc_b FROM dup),
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM dup
         |          UNION SELECT doc_b, doc_a FROM dup),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.t FROM reach JOIN edges e ON reach.r = e.s),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |szc AS (SELECT component, count(*) AS n FROM comp GROUP BY component)
         |SELECT c.id AS doc_id, c.component, CAST(s.n AS INT) AS comp_size,
         |  d.n_chars,
         |  CAST(row_number() OVER (PARTITION BY c.component
         |    ORDER BY d.n_chars DESC, c.id ASC) = 1 AS INT) AS keep
         |FROM comp c JOIN szc s USING (component)
         |            JOIN documents d ON d.doc_id = c.id
         |ORDER BY doc_id""".stripMargin,

    // BANDED like dedup_embedding_cosine (round-16b review): the Spark
    // side's candidates come through the LshPrefilter rewrite, so the
    // oracle must mirror the SAME band collisions — an EXACT all-pairs
    // oracle would fail the gate the first time a fixture grows a
    // threshold-passing pair colliding in no band (the documented
    // recall trade). Shared predicate: Dedup.embBandEqSql.
    // MATERIALIZED (round 18): DuckDB inlines CTEs, so the banded pair
    // join — the expensive part — would recompute for nodes, edges AND
    // every recursive reach iteration; materialized it runs once (the
    // sf1 spot gate went from >150 s timeout to one banded pass)
    "vec_dedup_semantic" ->
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |           list_cosine_similarity(a.embedding, b.embedding) AS cos
        |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |     AND ${Dedup.embBandEqSql})
        |  WHERE cos > 0.45),
        |nodes AS MATERIALIZED (SELECT vec_a AS id FROM pairs UNION SELECT vec_b FROM pairs),
        |edges AS MATERIALIZED (SELECT vec_a AS s, vec_b AS t FROM pairs
        |          UNION SELECT vec_b, vec_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT reach.id, e.t FROM reach JOIN edges e ON reach.r = e.s),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        |SELECT c.id AS vec_id, c.component, CAST(s.n AS INT) AS comp_size
        |FROM comp c JOIN (SELECT component, count(*) AS n FROM comp
        |                  GROUP BY component) s USING (component)
        |ORDER BY vec_id""".stripMargin,

    // the window formulation the distributed two-pass plan must equal
    "etl_assign_ids" ->
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS seq_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MATERIALIZED like vec_dedup_semantic; note the pair list here is
    // the EXACT all-pairs contract (this key clusters textJaccardDup's
    // exact pairs — dedup_lsh_cc is the banded-scale twin), so its
    // oracle stays O(n²·|set|) by definition and the sf1 spot gate
    // covers the banded twin instead (DECISIONS r18)
    "dedup_cc_components" ->
      s"""WITH RECURSIVE dsets AS MATERIALIZED ($dsetsSql),
         |pairs AS MATERIALIZED ($pairsSql),
         |nodes AS MATERIALIZED (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
         |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT reach.id, e.t FROM reach JOIN edges e ON reach.r = e.s),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT c.id AS doc_id, c.component, CAST(s.n AS INT) AS comp_size
         |FROM comp c JOIN (SELECT component, count(*) AS n FROM comp
         |                  GROUP BY component) s USING (component)
         |ORDER BY doc_id""".stripMargin,

    "etl_chunk_tokens" ->
      """SELECT doc_id, CAST(k AS INT) AS chunk_idx,
        |  CAST(least(40, n - k*30) AS INT) AS n_tok,
        |  ws[CAST(k*30+1 AS INT)] AS first_tok,
        |  ws[CAST(k*30 + least(40, n - k*30) AS INT)] AS last_tok
        |FROM (SELECT doc_id, str_split(text,' ') AS ws,
        |             len(str_split(text,' ')) AS n FROM documents),
        |     LATERAL (SELECT unnest(range(0, (n-1)//30 + 1)) AS k)
        |WHERE n > 0
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "etl_pack_sequences" ->
      """SELECT source, CAST((cum - n) // 512 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (SELECT doc_id, source, n,
        |        sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM (SELECT doc_id, source,
        |              len(str_split(text,' ')) AS n FROM documents))
        |GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "text_editdist_topk" ->
      s"""SELECT doc_a, rn, doc_b, dist FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(levenshtein(a.p, b.p) AS INT) AS dist,
        |    CAST(row_number() OVER (PARTITION BY a.doc_id
        |      ORDER BY levenshtein(a.p, b.p), b.doc_id) AS INT) AS rn
        |  FROM (SELECT doc_id, lang, substring(text,1,24) AS p FROM documents
        |        WHERE doc_id % 50 = 0 AND doc_id < ${EditdistProbeCap * 50}) a
        |  JOIN (SELECT doc_id, lang, substring(text,1,24) AS p FROM documents) b
        |    ON a.lang = b.lang AND a.doc_id <> b.doc_id)
        |WHERE rn <= 5 ORDER BY doc_a, rn""".stripMargin
  )
}
