package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Pipeline, Text}
import graft.util.Local

/** The small-input path of the shared minhash chain: at fixture scale
  * `Text.sigsAndSets` is built on the driver, `Dedup.verifiedCands` and the
  * CC labels stay there, and every answer equals the distributed path's
  * (forced with the kernels' test seams). */
class MinhashChainSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  for (sf <- Seq(sf001, sf01)) {
    test(s"sigsAndSets and verifiedCands: the driver build equals the distributed one at $sf") {
      val d = Text.shingles(spark, sf)
      val local = Text.sigsAndSetsOf(d)
      val dist = Text.sigsAndSetsOf(d, localRows = 0)
      assert(Local.size(local).isDefined, "a fixture-scale shingle frame is built on the driver")
      assert(Local.size(dist).isEmpty, "localRows = 0 forces the distributed build")
      assert(local.schema == dist.schema)
      assert(rows(local) == rows(dist))
      val cands = Dedup.verifiedCandsOf(local)
      val distCands = Dedup.verifiedCandsOf(dist)
      assert(Local.size(cands).isDefined && Local.size(distCands).isEmpty)
      assert(cands.schema == distCands.schema)
      assert(rows(cands).nonEmpty)
      assert(rows(cands) == rows(distCands))
    }
  }

  test("exact duplicates past EdgesPerTask band pairs are verified by the band join") {
    import org.apache.spark.sql.functions.{count, max, min}
    import spark.implicits._
    // 500 copies of one 3-shingle doc: one bucket per band, 124 750 pairs
    // each, far under the shingle gate but over the driver's pair cap
    val d = (for (doc <- 0L until 500L; sh <- Seq("a b", "b c", "c d"))
      yield (doc, "xx", 3, sh)).toDF("doc_id", "lang", "n", "sh")
    val sets = Text.sigsAndSetsOf(d)
    assert(Local.size(sets).isDefined)
    val cands = Dedup.verifiedCandsOf(sets)
    assert(Local.size(cands).isEmpty, "the pair cap sends the verify to the band join")
    // identical docs share every shingle: i = n = 3 on every pair
    assert(cands.agg(count("i"), min("i"), max("i")).head() == Row(124750L, 3, 3))
  }

  test("shingles past U+FFFF get the same term ids on both paths (UTF-8 byte order)") {
    import spark.implicits._
    // every term has df = 2, so ids follow the shingle order alone, and
    // the UTF-8 order ("z" < "é" < U+FFFF < U+1F600) differs from
    // String.compareTo's UTF-16 order (U+1F600 < U+FFFF)
    val terms = Seq("z", "\u00e9", "\uffff", "\ud83d\ude00", "a b")
    val d = (for ((t, k) <- terms.zipWithIndex; doc <- Seq(k, k + 1))
      yield (doc.toLong, "xx", 2, t)).toDF("doc_id", "lang", "n", "sh")
    val local = Text.sigsAndSetsOf(d)
    val dist = Text.sigsAndSetsOf(d, localRows = 0)
    assert(Local.size(local).isDefined && Local.size(dist).isEmpty)
    assert(rows(local) == rows(dist))
    // ids: "a b" 1, "z" 2, "é" 3, U+FFFF 4, U+1F600 5 (UTF-16 order would
    // swap the last two and give docs 2 and 4 other sets)
    val byDoc = local.collect().map(r => r.getLong(1) -> r.getSeq[Int](3)).toMap
    assert(byDoc == Map(0L -> Seq(2), 1L -> Seq(2, 3), 2L -> Seq(3, 4),
      3L -> Seq(4, 5), 4L -> Seq(1, 5), 5L -> Seq(1)), byDoc)
  }

  test("every consumer of the chain answers identically on the driver and distributed chains") {
    val keys = Seq("dedup_minhash_lsh", "dedup_minhash_estimate", "dedup_containment",
      "dedup_lsh_cc", "dedup_survivors", "dedup_band_sweep", "dedup_cc_components",
      "text_jaccard_dup", "text_jaccard_indexed")
    for (sf <- Seq(sf001, sf01)) {
      val forced = distributedChain(sf)
      assert(Local.size(Text.sigsAndSets(spark, sf)).isDefined)
      assert(Local.size(Text.sigsAndSets(forced, sf)).isEmpty)
      assert(Local.size(Dedup.verifiedCands(forced, sf)).isEmpty)
      keys.foreach { k =>
        val a = rows(SparkEntry.queries(k)(spark, sf))
        assert(a.nonEmpty, s"$k at $sf")
        assert(a == rows(SparkEntry.queries(k)(forced, sf)), s"$k at $sf")
      }
    }
  }

  test("with shingles warm, sigsAndSets plus verifiedCands start at most 2 Spark jobs at sf0.01") {
    val s = spark.newSession()
    graft.plans.GraftExtensions.install(s)
    Text.shingles(s, sf01)
    val n = jobsOf {
      Text.sigsAndSets(s, sf01)
      Dedup.verifiedCands(s, sf01)
    }
    assert(n <= 2, s"$n jobs")
  }

  test("driver-verified candidates are clustered and sized without a Spark job") {
    val s = spark.newSession()
    graft.plans.GraftExtensions.install(s)
    Dedup.verifiedCands(s, sf01)
    var labels: DataFrame = null
    assert(jobsOf { labels = Pipeline.ccWithSizes(Pipeline.lshCcPairs(s, sf01), "doc_id") } == 0)
    assert(Local.size(labels).isDefined)
    assert(rows(labels) == rows(SparkEntry.queries("dedup_lsh_cc")(distributedChain(sf01), sf01)))
  }

  test("the local fast path of starContract honours localEdges = 0") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("s", "t")
    assert(Local.size(edges).isDefined)
    val (driver, r0) = Pipeline.starContract(edges)
    val (rounds, r1) = Pipeline.starContract(edges, localEdges = 0)
    assert(r0 == 0 && r1 > 0)
    def labels(df: DataFrame) = df.collect().map { case Row(i: Long, c: Long) => i -> c }.toSet
    assert(labels(driver) == labels(rounds))
    assert(labels(driver) == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }
}
