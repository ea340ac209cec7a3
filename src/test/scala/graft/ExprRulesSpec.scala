package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16b pins for the custom-expression / optimizer-rule review
  * fixes: HOF-parity null-element poisoning, float key normalization in
  * the top-k exec, ANSI-safe LSH band access, lenient rule confs, and
  * the idempotent-fold flag guard. */
class ExprRulesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("vector_dot/vector_cosine: a NULL element poisons like the HOF twin") {
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, null, 3.0f), Seq[java.lang.Float](1.0f, 2.0f, 3.0f)),
      (2L, Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](1.0f, 2.0f))
    ).toDF("id", "a", "b")
    val got = df.selectExpr("id", "vector_dot(a, b) as d", "vector_cosine(a, b) as c",
        // the HOF twin the docs promise exact parity with
        "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), " +
          "cast(0 as double), (acc, v) -> acc + v) as hof")
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2) && got(0).isNullAt(3),
      s"null element must poison both forms: ${got(0)}")
    assert(!got(1).isNullAt(1) && got(1).getDouble(1) == 5.0 &&
      got(1).getDouble(3) == 5.0)
  }

  test("sorted_intersect_size: a NULL element returns NULL, never a silent 0-count") {
    val df = Seq(
      (1L, Seq[Integer](null, 5), Seq[Integer](0, 5)),
      (2L, Seq[Integer](1, 5), Seq[Integer](0, 5))
    ).toDF("id", "a", "b")
    val got = df.selectExpr("id", "sorted_intersect_size(a, b) as n")
      .orderBy("id").collect()
    assert(got(0).isNullAt(1), s"null element must poison: ${got(0)}")
    assert(got(1).getInt(1) == 1)
  }

  test("sorted_intersect_prune: sentinel/packing parity with the full scan") {
    // randomized sorted-set pairs: for every (sid, alpha) the pruned scan
    // must agree with the full scan WHENEVER the full scan's row survives
    // the caller's filters (first = sid AND size >= alpha), and must
    // return the (first = -1, size = 0) sentinel only for rows those
    // filters drop anyway.
    val rnd = new scala.util.Random(42)
    def randSet(): Seq[Int] =
      (0 until rnd.nextInt(12)).map(_ => rnd.nextInt(20)).distinct.sorted
    val rows = (1 to 300).map { i =>
      val a = randSet(); val b = randSet()
      (i.toLong, a, b, rnd.nextInt(22) - 2, rnd.nextInt(6))
    }
    val df = rows.toDF("id", "a", "b", "sid", "alpha")
    val got = df.selectExpr("id",
        "sorted_intersect_prune(a, b, sid, alpha) as p",
        "sorted_intersect_first_size(a, b) as f",
        "sid", "alpha")
      .collect()
    got.foreach { r =>
      val p = r.getLong(1); val f = r.getLong(2)
      val sid = r.getInt(3); val alpha = r.getInt(4)
      val first = (f >> 32).toInt; val size = (f & 0xffffffffL).toInt
      val survives = (sid < 0 || first == sid) && size >= alpha
      if (survives) assert(p == f, s"row ${r.getLong(0)}: pruned $p != full $f")
      else assert(p == ((-1L) << 32),
        s"row ${r.getLong(0)}: expected drop sentinel, got $p (full $f)")
    }
    // NULL element poisons exactly like the siblings
    val nul = Seq((1L, Seq[Integer](null, 5), Seq[Integer](0, 5)))
      .toDF("id", "a", "b")
      .selectExpr("sorted_intersect_prune(a, b, -1, 0) as p").collect()
    assert(nul(0).isNullAt(0), "null element must poison")
  }

  test("topKPerKey: -0.0 and 0.0 double keys are ONE key (window parity)") {
    val df = Seq((-0.0d, 1L), (0.0d, 2L), (-0.0d, 3L), (1.5d, 4L))
      .toDF("key", "v")
    val got = api.Graft.topKPerKey(df, Seq("key"), Seq(("v", false)), 1)
      .collect()
    // window-function semantics: 2 keys (0.0 group and 1.5 group), k=1 each
    assert(got.length == 2,
      s"byte-split -0.0/0.0 runs would over-emit: ${got.mkString(",")}")
    assert(got.map(_.getLong(1)).sorted.sameElements(Array(1L, 4L)),
      s"smallest v per normalized key: ${got.mkString(",")}")
  }

  test("LSH prefilter survives short embeddings under ANSI instead of crashing") {
    val dim = 8 // far below the 64-dim band permutation
    def vecs(n: Int, off: Int) = (0 until n).map { i =>
      (i.toLong + off, (0 until dim).map(d =>
        if ((i + d) % 3 == 0) 1.0f else -1.0f)) }
    val l = vecs(12, 0).toDF("lid", "lv")
    val r = vecs(12, 100).toDF("rid", "rv")
    def pairs() = l.crossJoin(r)
      .where(expr("vector_cosine(lv, rv) > 0.8"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted
    val exact = pairs()
    assert(exact.nonEmpty, "fixture needs qualifying pairs")
    spark.conf.set(graft.plans.LshPrefilter.ConfKey, "true")
    try {
      val banded = pairs() // would throw INVALID_ARRAY_INDEX pre-fix
      // identical shape classes collide in every band, so recall here is
      // exact (the general recall trade is the flag's documented contract)
      assert(banded.sameElements(exact),
        s"banded ${banded.length} vs exact ${exact.length}")
    } finally spark.conf.set(graft.plans.LshPrefilter.ConfKey, "false")
  }

  test("rule confs parse leniently: a non-boolean value disables, never throws") {
    spark.conf.set(graft.plans.ApproxDistinctRewrite.ConfKey, "1")
    spark.conf.set(graft.plans.LshPrefilter.ConfKey, "yes")
    try {
      // pre-fix this query died with IllegalArgumentException inside the
      // session-injected optimizer rule
      val n = spark.range(100).selectExpr("id % 7 as g")
        .agg(countDistinct("g")).head().getLong(0)
      assert(n == 7L)
    } finally {
      spark.conf.set(graft.plans.ApproxDistinctRewrite.ConfKey, "false")
      spark.conf.set(graft.plans.LshPrefilter.ConfKey, "false")
    }
  }

  test("FoldIdempotent folds Abs pairs only when ANSI flags agree") {
    import org.apache.spark.sql.catalyst.expressions.{Abs, Alias, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val x = AttributeReference("x", org.apache.spark.sql.types.IntegerType)()
    val rel = LocalRelation(x)
    val same = Project(Seq(Alias(
      Abs(Abs(x, failOnError = true), failOnError = true), "a")()), rel)
    val mixed = Project(Seq(Alias(
      Abs(Abs(x, failOnError = false), failOnError = true), "a")()), rel)
    val foldedSame = graft.plans.FoldIdempotent(same)
    val foldedMixed = graft.plans.FoldIdempotent(mixed)
    def absCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      var n = 0
      p.transformAllExpressions { case a: Abs => n += 1; a }
      n
    }
    assert(absCount(foldedSame) == 1, "matching flags fold")
    assert(absCount(foldedMixed) == 2,
      "mismatched failOnError flags must NOT fold (overflow behavior differs)")
  }
}
