package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** The public façade must work on USER tables with arbitrary column names
  * and agree with the fixture-bound query keys (same kernels). */
class ApiSpec extends AnyFunSuite {
  import TestSpark._

  private def renamedDocs = graft.util.Tables.documents(spark, sf001)
    .select(col("doc_id").as("my_id"), col("text").as("body"),
      col("lang").as("tongue"))

  /** The graph keys' synthetic edge list under user column names. */
  private def renamedEdges = {
    val docs = graft.util.Tables.documents(spark, sf001).select(col("doc_id"))
    val n = docs.count()
    docs.select(col("doc_id").as("from_id"),
        explode(sequence(lit(1), lit(1) + col("doc_id") % 3)).as("j"))
      .select(col("from_id"),
        ((col("from_id") * 31 + col("j") * 7919) % n).as("to_id"))
  }

  test("pageRank on renamed columns equals the fixture key") {
    val api = Graft.pageRank(renamedEdges, "from_id", "to_id")
      .orderBy(col("node")).collect()
    val key = SparkEntry.queries("graph_pagerank_iter")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq && api.nonEmpty)
  }

  test("triangleCount and degreeDistribution equal the fixture keys") {
    val apiT = Graft.triangleCount(renamedEdges, "from_id", "to_id")
      .orderBy(col("node")).collect()
    val keyT = SparkEntry.queries("graph_triangle_count")(spark, sf001).collect()
    assert(apiT.map(_.toSeq).toSeq == keyT.map(_.toSeq).toSeq && apiT.nonEmpty)
    val apiD = Graft.degreeDistribution(renamedEdges, "from_id", "to_id")
      .orderBy(col("deg")).collect()
    val keyD = SparkEntry.queries("graph_degree_distribution")(spark, sf001).collect()
    assert(apiD.map(_.toSeq).toSeq == keyD.map(_.toSeq).toSeq && apiD.nonEmpty)
  }

  test("cleanHtml strips the key's synthesized wrapper back to the text") {
    val wrapped = renamedDocs.select(col("my_id"), col("body"),
      concat(lit("<p id=\"x\">"), col("body"),
        lit("</p><b>T &amp; B</b>")).as("page"))
    val out = Graft.cleanHtml(wrapped, "page")
      .where(col("page_clean") =!= concat(col("body"), lit(" T & B")))
      .count()
    assert(out == 0)
  }

  test("canonicalizeUrls normalizes host/params on a user column") {
    import spark.implicits._
    val df = Seq(
      (1L, "HTTPS://WWW.Ex.COM:443/a/b?utm_source=x&z=1&a=2&ref=t#frag"),
      (2L, "http://plain.org/p")).toDF("id", "link")
    val rows = Graft.canonicalizeUrls(df, "link")
      .select("id", "canon_url", "n_params_dropped")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows(0) == ((1L, "https://ex.com/a/b?a=2&z=1", 2)), rows(0).toString)
    assert(rows(1) == ((2L, "http://plain.org/p", 0)), rows(1).toString)
  }

  test("canonicalizeUrls is total: scheme/host-less URLs keep a non-null key") {
    // ADVICE r5: parse_url PROTOCOL/HOST are NULL for relative URLs and
    // concat propagated the NULL, silently nullifying the dedup key.
    // Such inputs must now pass through unchanged.
    import spark.implicits._
    val df = Seq((1L, "relative/path?a=1"), (2L, "www.nohost"), (3L, ""),
      (4L, "http://ok.org/x")).toDF("id", "link")
    val rows = Graft.canonicalizeUrls(df, "link")
      .select("id", "canon_url").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows(0) == ((1L, "relative/path?a=1")), rows(0).toString)
    assert(rows(1) == ((2L, "www.nohost")), rows(1).toString)
    assert(rows(2) == ((3L, "")), rows(2).toString)
    assert(rows(3) == ((4L, "http://ok.org/x")), rows(3).toString)
    assert(rows.forall(_._2 != null))
  }

  test("cdcCompact keeps exactly the latest row per key with all columns") {
    val api = Graft.cdcCompact(graft.util.Tables.events(spark, sf001),
        Seq("user_id", "event_type"), "ts", "event_id")
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .orderBy(col("user_id"), col("event_type")).collect()
    val key = SparkEntry.queries("etl_cdc_compact")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq && api.nonEmpty)
  }

  test("cdcCompact preserves a caller column named __rn0 (reserved-name fix)") {
    // ADVICE r5: a hardcoded internal rank column clobbered a caller
    // column of the same name; the kernel now generates a free name.
    import spark.implicits._
    val df = Seq((1L, 10L, 1L, 99L), (1L, 20L, 2L, 98L), (2L, 5L, 1L, 7L))
      .toDF("k", "ts", "seq", "__rn0")
    val out = Graft.cdcCompact(df, Seq("k"), "ts", "seq")
      .orderBy("k").collect()
    assert(out.map(_.toSeq).toSeq == Seq(Seq(1L, 20L, 2L, 98L), Seq(2L, 5L, 1L, 7L)))
    assert(out.head.schema.fieldNames.contains("__rn0"))
  }

  test("minhashDedupPairs on renamed columns equals the fixture key") {
    val api = Graft.minhashDedupPairs(renamedDocs, "my_id", "body").collect()
    val key = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq)
    assert(api.nonEmpty)
  }

  test("simhashPairs on renamed columns equals the fixture key") {
    val api = Graft.simhashPairs(renamedDocs, "my_id", "body", "tongue").collect()
    val key = SparkEntry.queries("dedup_simhash")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq)
  }

  test("segmentDedup on renamed columns equals the fixture key") {
    val api = Graft.segmentDedup(renamedDocs, "my_id", "body").collect()
    val key = SparkEntry.queries("text_segment_dedup")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq)
    assert(api.nonEmpty)
  }

  test("mixSources reproduces the fixture key's per-source keep counts") {
    val docsWithSource = graft.util.Tables.documents(spark, sf001)
      .select(col("doc_id").as("my_id"), col("source"))
    val kept = Graft.mixSources(docsWithSource, "my_id", "source",
      Map("src0" -> 256, "src1" -> 128, "src2" -> 64), defaultRate256 = 32)
    val got = kept.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val key = SparkEntry.queries("etl_mix_sources")(spark, sf001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    assert(got == key.filter(_._2 > 0))
    // kept rows pass through unchanged (same columns, subset of input)
    assert(kept.columns.toSeq == docsWithSource.columns.toSeq)
  }

  test("connectedComponents labels a two-component user edge list") {
    import spark.implicits._
    val edges = Seq((5L, 9L), (9L, 7L), (100L, 101L)).toDF("from", "to")
    val got = Graft.connectedComponents(edges, "from", "to")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 100L -> 100L, 101L -> 100L))
  }

  test("connectedComponents: an edge with one null end labels the other, on both paths") {
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])]((Some(5L), Some(9L)), (None, Some(7L)),
      (Some(8L), None), (None, None), (Some(9L), Some(5L))).toDF("from", "to")
    val want = Map(5L -> 5L, 9L -> 5L, 7L -> 7L, 8L -> 8L)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(Graft.connectedComponents(edges, "from", "to")) == want)
    val (rounds, _) = graft.ops.Pipeline.starContract(
      edges.select(col("from").as("s"), col("to").as("t")), localEdges = 0)
    assert(labels(rounds) == want)
  }

  test("dedupClusters matches the dedup_lsh_cc fixture key") {
    val api = Graft.dedupClusters(renamedDocs, "my_id", "body")
      .orderBy(col("doc_id")).collect()
    val key = SparkEntry.queries("dedup_lsh_cc")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq)
  }

  test("chunkTokens and decontaminate work on renamed columns") {
    val chunks = Graft.chunkTokens(renamedDocs, "my_id", "body")
    assert(chunks.collect().map(_.toSeq).toSeq ==
      SparkEntry.queries("etl_chunk_tokens")(spark, sf001).collect().map(_.toSeq).toSeq)
    val train = renamedDocs.where(col("my_id") % 97 =!= 0)
    val eval0 = renamedDocs.where(col("my_id") % 97 === 0)
    val deco = Graft.decontaminate(train, eval0, "my_id", "body")
      .orderBy(col("doc_id")).collect()
    assert(deco.map(_.toSeq).toSeq ==
      SparkEntry.queries("text_decontaminate")(spark, sf001).collect().map(_.toSeq).toSeq)
  }

  test("knnCosine on renamed columns equals the fixture key") {
    val e = graft.util.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("item"), col("embedding").as("v"))
    val probes = e.where(col("item") % 50 === 0 && col("item") <= 450)
    val api = Graft.knnCosine(e, probes, "item", "v", 5).collect()
    val key = SparkEntry.queries("vec_knn_cosine")(spark, sf001).collect()
    assert(api.map(_.toSeq).toSeq == key.map(_.toSeq).toSeq)
  }

  test("splitTrainEval is deterministic, content-salted, and covers all splits") {
    val out = Graft.splitTrainEval(renamedDocs, "my_id", "body")
    val splits = out.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"), splits.toString)
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
    // rerun = identical assignment
    val a = out.select("my_id", "split").collect().map(_.toSeq).toSet
    val b = Graft.splitTrainEval(renamedDocs, "my_id", "body")
      .select("my_id", "split").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("jaccardPairsIndexed on renamed columns matches the lang-blocked key's pairs within lang") {
    // the facade kernel runs UNBLOCKED (one global block); restricting the
    // fixture to one lang makes the two formulations comparable
    val en = renamedDocs.where(col("tongue") === "en")
    val api = Graft.jaccardPairsIndexed(en, "my_id", "body")
      .select("doc_a", "doc_b", "i", "u").collect().map(_.toSeq).toSet
    val key = SparkEntry.queries("text_jaccard_dup")(spark, sf001)
      .where(col("lang") === "en")
      .select("doc_a", "doc_b", "i", "u").collect().map(_.toSeq).toSet
    assert(api == key, s"api-only ${(api -- key).take(3)} key-only ${(key -- api).take(3)}")
  }

  test("substringDupPairs on renamed columns equals the fixture key") {
    val api = Graft.substringDupPairs(renamedDocs, "my_id", "body")
      .collect().map(_.toSeq).toSeq
    val key = SparkEntry.queries("dedup_substring")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(api.nonEmpty && api == key)
  }

  test("cosinePairs on renamed columns equals the fixture key") {
    Graft.registerFunctions(spark)
    val vecs = graft.util.Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("my_id"), col("embedding").as("v"))
    val api = Graft.cosinePairs(vecs, "my_id", "v", 0.45)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val key = SparkEntry.queries("dedup_embedding_cosine")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(api.nonEmpty && api == key)
  }

  test("registerFunctions makes vector_dot and vector_cosine callable from SQL") {
    val bare = spark.newSession()
    assert(!bare.catalog.functionExists("vector_dot"))
    Graft.registerFunctions(bare)
    val r = bare.sql(
      """SELECT vector_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        |       vector_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                     array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }
}
