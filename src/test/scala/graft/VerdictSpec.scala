package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloom, GraftBloomSidecars, GraftBucket, GraftFileMeta, GraftManifest, GraftSinkScan}

/** The per-file verdict graft-sink gives a pushed filter, read through
  * its two derivations `mayMatch` (some row may match) and `mustMatchAll`
  * (every row provably matches): a table of file metas, one per fact,
  * against a list of filters, with the expected pair for each case; and
  * the cost rule that a bloom sidecar is fetched only by a may-match
  * point probe the cheaper facts left open. */
class VerdictSpec extends AnyFunSuite {
  import TestSpark._

  private val layout = StructType.fromDDL("k BIGINT, s STRING, d DOUBLE, e BIGINT")

  private def bloom(keys: Seq[String]): String = GraftBloom.build(keys.map(GraftBloom.hash).toArray)
  private def grams(vs: Seq[String], w: Int): Seq[String] =
    vs.flatMap(v => (0 to v.length - w).map(o => v.substring(o, o + w)))
  private val words = Seq("alpha", "beta", "gamma", "delta")

  /** One meta per fact, each consistent with the rows it describes. */
  private val metas: Seq[(String, GraftFileMeta)] = {
    def m(rows: Long, ncols: Int = 4, stats: Map[Int, (String, String)] = Map.empty,
        partition: Option[(String, String)] = None,
        nulls: Option[Map[Int, Long]] = Some(Map.empty)) =
      GraftFileMeta("f", rows, ncols, stats, partition, nulls = nulls)
    val env = Map(0 -> ("10", "20"), 1 -> ("apple", "cherry"), 2 -> ("-1.5", "2.5"), 3 -> ("1", "1"))
    Seq(
      // #stats with known null counts (e holds nulls beside its one value)
      "stats" -> m(100, stats = env, nulls = Some(Map(3 -> 5L))),
      // the same envelope with unknown null counts: nothing is provable
      "stats-nonulls" -> m(100, stats = env, nulls = None),
      "point" -> m(10, stats = Map(0 -> ("7", "7"), 1 -> ("x", "x"), 2 -> ("0.0", "0.0"))),
      // #nulls: k is NULL on every row, s on some
      "all-null" -> m(10, stats = Map(1 -> ("apple", "cherry")), nulls = Some(Map(0 -> 10L, 1 -> 3L))),
      // the width: d and e evolved in after this file was written
      "width" -> m(10, ncols = 2, stats = Map(0 -> ("10", "20"), 1 -> ("apple", "cherry"))),
      // the exact partition value overrides the stats envelope
      "partition" -> m(10, stats = Map(0 -> ("1", "5"), 1 -> ("a", "z")), partition = Some(("s", "pv"))),
      "bucket" -> m(10, stats = Map(0 -> ("0", "100")),
        partition = Some(("bucket:4:k", GraftBucket.of(4, LongType, "7").toString))),
      // #bstats: a truncated bound envelope around long prose values
      "bstats" -> m(10, stats = Map(1 -> ("ap", "aq"))).copy(bounds = Set(1)),
      // #rvstats: every s ends in ".jpg" (reversed: "gpj.…"), hi strict
      "rvstats" -> m(10, stats = Map(1 -> ("a.jpg", "z.jpg"))).copy(
        rvstats = Map(1 -> ("gpj.a", "gpj.{"))),
      "bloom" -> m(10, stats = Map(0 -> ("1", "500"), 1 -> ("alpha", "gamma"))).copy(
        blooms = Map(0 -> bloom(Seq("1", "5", "500")), 1 -> bloom(words))),
      "pbloom" -> m(10, stats = Map(1 -> ("alpha", "gamma"))).copy(
        pblooms = Map(1 -> (3, bloom(words.map(_.take(3)))))),
      "ngbloom" -> m(10, stats = Map(1 -> ("alpha", "gamma"))).copy(
        ngblooms = Map(1 -> (3, bloom(grams(words, 3)))),
        ngalphas = Map(1 -> words.mkString.distinct.sorted)),
      "saturated" -> m(10, stats = Map(0 -> ("1", "500"), 1 -> ("alpha", "gamma"))).copy(
        blooms = Map(0 -> GraftBloomSidecars.Saturated, 1 -> GraftBloomSidecars.Saturated),
        pblooms = Map(1 -> (3, GraftBloomSidecars.Saturated)),
        ngblooms = Map(1 -> (3, GraftBloomSidecars.Saturated))))
  }

  private val filters: Seq[Filter] = Seq(
    EqualTo("k", 7L), EqualTo("k", 15L), EqualTo("k", 500L), EqualTo("k", 999L),
    GreaterThan("k", 15L), GreaterThanOrEqual("k", 10L), LessThan("k", 10L),
    LessThanOrEqual("k", 20L), GreaterThan("k", 20L),
    In("k", Array(7L, null)), In("k", Array(null)), In("k", Array(1L, 999L)), In("k", Array()),
    IsNull("k"), IsNotNull("k"), IsNull("e"), IsNotNull("e"), IsNull("d"), EqualTo("e", 1L),
    EqualTo("s", "beta"), EqualTo("s", "x"), EqualTo("s", "pv"), EqualTo("s", "omega"),
    In("s", Array("beta", "omega")),
    StringStartsWith("s", "ap"), StringStartsWith("s", "be"), StringStartsWith("s", "bet"),
    StringStartsWith("s", "zz"), StringStartsWith("s", "\uD800x"),
    StringEndsWith("s", ".jpg"), StringEndsWith("s", ".png"),
    StringContains("s", "lph"), StringContains("s", "qq"), StringContains("s", "ta"),
    EqualTo("d", 0.0d), EqualTo("d", -0.0d), GreaterThan("d", 3.0d),
    // null literals
    EqualTo("k", null), LessThan("k", null), StringStartsWith("s", null),
    StringEndsWith("s", null), StringContains("s", null),
    // a column the layout does not have, and a shape the skipper does not read
    EqualTo("zz", 1L), IsNull("zz"), EqualNullSafe("k", 7L),
    And(GreaterThanOrEqual("k", 10L), LessThanOrEqual("k", 20L)),
    And(EqualTo("k", 7L), EqualTo("s", "x")),
    Or(EqualTo("k", 999L), GreaterThanOrEqual("k", 10L)),
    Or(EqualTo("k", 15L), EqualTo("k", 999L)),
    Not(EqualTo("k", 7L)), Not(GreaterThanOrEqual("k", 10L)), Not(Not(GreaterThanOrEqual("k", 10L))),
    Not(IsNull("k")), Not(EqualTo("s", "pv")), Not(StringEndsWith("s", ".jpg")),
    And(Not(EqualTo("s", "x")), IsNotNull("k")), Or(Not(EqualTo("k", 7L)), EqualTo("k", 7L)),
    AlwaysTrue, AlwaysFalse, Not(AlwaysTrue), Not(AlwaysFalse),
    And(AlwaysTrue, EqualTo("k", 999L)), Or(AlwaysFalse, EqualTo("k", 7L)))

  /** The (mayMatch, mustMatchAll) pair of each case as one letter, one
    * string per meta over `filters` in order: N = (false, false), no row
    * can match; S = (true, false), not proven either way; A = (true,
    * true), every row matches. */
  private val want: Seq[(String, String)] = Seq(
    "stats" -> "NSNNSANANNNNNNASSNSSNNNSSSSNNSSSSSSSNNNNNNSSSANASSNSSSSSSANNSNN",
    "stats-nonulls" -> "NSNNSSNSNNNNNSSSSSSSNNNSSSSNNSSSSSSSNNNNNNSSSSNSSSSSSSSSSANNSNN",
    "point" -> "ANNNNNAANANNNNANANSNANNNNNNNNSSSSSAANNNNNNSSSNANNNSSSSSNAANNSNA",
    "all-null" -> "NNNNNNNNNNNNNANNANSSNNNSSSSNNSSSSSSSSNNNNNSSSNNNNSSSNSSNSANNSNN",
    "width" -> "NSNNSANANNNNNNAANANSNNNSSSSNNSSSSSNNNNNNNNSSSANASSNSSSSSSANNSNN",
    "partition" -> "NNNNNNAANNNSNNANANSNNANNNNNNNSSSSSSSSNNNNNSSSNNNNSSSSNSSSANNSNN",
    "bucket" -> "SSNNSSSSSSNSNNANANSSSSSSSSSSSSSSSSSSSNNNNNSSSSSSSSSSSSSSSANNSNS",
    "bstats" -> "SSSSSSSSSSNSNNANANSNNNNNSNNNNSSSSSSSSNNNNNSSSSNSSSSSSSSSSANNSSS",
    "rvstats" -> "SSSSSSSSSSNSNNANANSSSSSSSSSNNANSSSSSSNNNNNSSSSSSSSSSSSNSSANNSSS",
    "bloom" -> "NNSNSSSSSNNSNNANANSSNNNSSSSNNSSSSSSSSNNNNNSSSSNSNSSSSSSSSANNSNN",
    "pbloom" -> "SSSSSSSSSSNSNNANANSSNNNSSSSNNSSSSSSSSNNNNNSSSSNSSSSSSSSSSANNSSS",
    "ngbloom" -> "SSSSSSSSSSNSNNANANSSNNNSSSSNNNNSNSSSSNNNNNSSSSNSSSSSSSSSSANNSSS",
    "saturated" -> "SSSNSSSSSSNSNNANANSSNNNSSSSNNSSSSSSSSNNNNNSSSSNSSSSSSSSSSANNSNS")

  private def letter(m: GraftFileMeta, f: Filter): Char =
    (GraftSinkScan.mayMatch(m, layout, f), GraftSinkScan.mustMatchAll(m, layout, f)) match {
      case (false, false) => 'N'
      case (true, false)  => 'S'
      case (true, true)   => 'A'
      case (false, true)  => 'X'
    }

  test("verdict table: each fact, both envelopes, null literals, And/Or/Not, constants, width") {
    val got = metas.map { case (name, m) => name -> filters.map(letter(m, _)).mkString }
    assert(got.map(_._1) == want.map(_._1))
    val diffs = for {
      ((name, g), (_, w)) <- got.zip(want)
      i <- filters.indices if g.lift(i) != w.lift(i)
    } yield s"$name / ${filters(i)}: got ${g.lift(i).getOrElse('-')} want ${w.lift(i).getOrElse('-')}"
    assert(diffs.isEmpty, diffs.mkString("\n", "\n", "\n") +
      got.map { case (n, g) => s"""    "$n" -> "$g",""" }.mkString("\n"))
  }

  test("a point-set probe skips at planning a file whose column is NULL on every row") {
    val dir = tmp("graft_verdict_nulls")
    def append(k: String) = spark.range(0, 10).selectExpr(s"$k AS k", "id AS v")
      .coalesce(1).write.format("graft-sink").option("path", dir).mode("append").save()
    append("CAST(NULL AS BIGINT)")
    append("id")
    val metas = GraftManifest.readVersion(dir, None).get.metas
    assert(metas.exists(_.nulls.exists(_.get(0).contains(10L))),
      s"fixture needs a file whose #nulls counts k NULL on all 10 rows: ${metas.map(_.nulls)}")
    val t = spark.read.format("graft-sink").option("path", dir).load()
    assert(t.rdd.getNumPartitions == 2)
    // an IN list, unlike `k = 7`, gets no inferred IS NOT NULL beside it,
    // so only the #nulls count can drop the all-NULL file
    val probe = t.where(col("k").isin(7L, 8L))
    assert(probe.rdd.getNumPartitions == 1, "the all-NULL file must not be planned")
    assert(probe.collect().map(_.getLong(1)).toSeq.sorted == Seq(7L, 8L))
  }

  test("a sidecar bloom is fetched only by a may-match point probe the cheap facts leave open") {
    val root = tmp("graft_verdict_sc")
    spark.conf.set("spark.sql.catalog.gvs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvs.root", root)
    val dir = s"$root/db/t"
    // 10k distinct longs in one file: the bloom rides a .blm sidecar
    spark.range(0, 10000).toDF("k").selectExpr("k", "k % 97 as v")
      .coalesce(1).write.format("graft-sink").option("path", dir)
      .option("bloomFor", "k").option("distributionMode", "none")
      .mode("overwrite").save()
    val meta = GraftManifest.readVersion(dir, None).get.metas.head
    assert(GraftBloomSidecars.isRef(meta.blooms(0)), s"fixture needs a sidecar ref: ${meta.blooms}")
    def rows(c: org.apache.spark.sql.Column): Int =
      spark.read.format("graft-sink").option("path", dir).load().where(c).collect().length
    def loads[A](body: => A): (A, Long) = {
      GraftBloomSidecars.dropCache()
      val l0 = GraftBloomSidecars.loads.sum()
      val r = body
      (r, GraftBloomSidecars.loads.sum() - l0)
    }
    // control: a point probe inside the envelope reads the filter once
    assert(loads(rows(col("k") === 1234L)) == ((1, 1L)))
    // an anti-probe asks its operand only whether every row matches
    assert(loads(rows(col("k") =!= 1234L)) == ((9999, 0L)))
    // the envelope drops the file before the bloom is asked
    assert(loads(rows(col("k") === 20000L)) == ((0, 0L)))
    // the envelope proves every row matches the DELETE: the metadata-only
    // path drops the file and never reads its bloom
    assert(loads(spark.sql("DELETE FROM gvs.db.t WHERE k >= 0 OR k = 77"))._2 == 0L)
    val head = GraftManifest.readVersion(dir, None).get
    assert(head.op.contains("DELETE") && head.metas.isEmpty, s"${head.op} ${head.metas.map(_.name)}")
  }
}
