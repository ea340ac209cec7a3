package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 curation additions: survivor selection, the postings index,
  * and bigram-LM scoring. Parity with DuckDB is the driver's job; these
  * assert the internal invariants the oracle can't see. */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  test("dedup_survivors keeps exactly one doc per component, the longest") {
    val r = SparkEntry.queries("dedup_survivors")(spark, sf001)
    val rows = r.collect()
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_.getAs[Long]("component"))
    byComp.foreach { case (_, g) =>
      assert(g.map(_.getAs[Int]("keep")).sum == 1)
      val kept = g.find(_.getAs[Int]("keep") == 1).get
      val maxLen = g.map(_.getAs[Long]("n_chars")).max
      assert(kept.getAs[Long]("n_chars") == maxLen)
      assert(g.forall(_.getAs[Int]("comp_size") == g.length))
    }
  }

  test("text_inverted_index postings are sorted, df-consistent, and pruned") {
    val rows = SparkEntry.queries("text_inverted_index")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val postings =
        r.getAs[String]("postings").split(",").map(_.toLong).toList
      val df = r.getAs[Int]("df")
      assert(df >= 2)
      // hot terms carry a capped posting list; cold terms the full one.
      if (r.getAs[Int]("hot") == 1)
        assert(postings.length == math.min(df, graft.ops.Text.hotPostingsCap))
      else assert(postings.length == df)
      assert(postings == postings.sorted)
      assert(postings.distinct == postings)
    }
    assert(rows.exists(_.getAs[Int]("hot") == 1))
    assert(rows.exists(_.getAs[Int]("hot") == 0))
  }

  test("text_jaccard_indexed reproduces text_jaccard_dup via a prefix equi-join") {
    val dup = SparkEntry.queries("text_jaccard_dup")(spark, sf001)
      .collect().map(_.toSeq).toSet
    val idxDf = SparkEntry.queries("text_jaccard_indexed")(spark, sf001)
    val idx = idxDf.collect().map(_.toSeq).toSet
    assert(idx.nonEmpty)
    assert(idx == dup,
      s"indexed-only: ${(idx -- dup).take(3)} dup-only: ${(dup -- idx).take(3)}")
    // candidate generation must be keyed joins, never a pair scan
    val plan = idxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("dedup_substring pairs genuinely share a 40-char word-aligned span") {
    val df = SparkEntry.queries("dedup_substring")(spark, sf001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val texts = graft.util.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def windows(t: String): Set[String] = {
      val offs = t.split(" ").scanLeft(1)((p, w) => p + w.length + 1).init
      offs.filter(_ + 39 <= t.length).map(p => t.substring(p - 1, p + 39)).toSet
    }
    rows.foreach { r =>
      val shared = windows(texts(r.getAs[Long]("a_id")))
        .intersect(windows(texts(r.getAs[Long]("b_id"))))
      assert(shared.size >= r.getAs[Long]("n_shared"),
        s"pair ${r} claims more shared windows than exist")
      assert(shared.nonEmpty)
    }
    // pair generation shuffles on window content — never a pair scan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
  }

  test("text_lm_score covers every multi-word doc with avgp in (0, 1e9]") {
    val rows = SparkEntry.queries("text_lm_score")(spark, sf001).collect()
    val nMulti = graft.util.Tables.documents(spark, sf001)
      .where(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length == nMulti)
    rows.foreach { r =>
      val p = r.getAs[Long]("avgp_e9")
      assert(p >= 0 && p <= 1000000000L)
      assert(r.getAs[Long]("sum_cnt") >= r.getAs[Long]("n_bg"))
    }
  }

  test("minhash dedup + starContract recover planted near-duplicate replicas") {
    // 3 replicas of the corpus, each with an id offset and a one-token
    // tail mutation (near-dups, not clones): every original should
    // collapse with its replicas into one component of size >= 3.
    val replicas = 3
    val base = graft.util.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("lang"), col("text"))
    val corpus = (0 until replicas).map { k =>
      base.select((col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
        col("lang"), concat(col("text"), lit(s" rep$k")).as("text"))
    }.reduce(_.unionByName(_))
    val pairs = graft.api.Graft.minhashDedupPairs(corpus, "doc_id", "text")
      .where(col("is_dup") === 1)
      .select(col("doc_a").as("s"), col("doc_b").as("t"))
    val (labels, _) = graft.ops.Pipeline.starContract(pairs)
    val comps = labels.groupBy("component").count()
    // pinned: 500 originals, some already near-dups of each other
    assert(comps.count() == 472L)
    assert(comps.where(col("count") >= replicas).count() == 458L)
  }
}
