package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 spot-parity fixture generator (round 18, VERDICT r17 next #1):
  * builds a 10×-sf0.1 table set under a REPO-LOCAL directory (the
  * driver's /root/testdata is read-only to the builder) by DETERMINISTIC
  * replication — replica r shifts every key domain by r × its span, so
  * referential integrity (lineitem→orders/part/supplier, orders→customer,
  * events.user_id) holds by construction, and payload columns are
  * perturbed where duplication would degenerate the data shape:
  *
  *   - documents: replica 0 verbatim; replicas 1-9 substitute every 3rd
  *     word (offset by r) with an md5-derived token, so cross-replica
  *     copies of one doc are NOT near-dups (shingle jaccard ~0.5) while
  *     within-replica near-dup pairs keep their similarity (equal words
  *     at equal positions substitute identically). n_chars recomputed.
  *   - embeddings: replica 0 verbatim; replicas 1-4 fresh uniform
  *     vectors (near-orthogonal at dim 64 — no accidental near-dups);
  *     replicas 5-9 graded perturbations of the originals (±0.015·(r-4)
  *     per dim) that SPAN the semantic-dup thresholds, so banded-recall
  *     behavior is exercised by pairs at many similarities.
  *   - events keep their one-month ts window (10× denser — the asof/
  *     interval stress), other fact/dim payloads ride unchanged under
  *     shifted keys.
  *
  * region/nation are fixed dimensions and copy verbatim. Everything is
  * a pure function of (source rows, replica ordinal) — regenerating
  * yields byte-identical values, and both engines read the SAME parquet,
  * so DuckDB parity is exact by construction.
  *
  *   sbt "runMain graft.tools.GenScale [outDir] [srcDir] [reps]"
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "testdata_sf1"
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = graft.util.Session()
    // single-FILE outputs in INT64 micros: the DuckDB side of the parity
    // gate reads a literal `<t>.parquet` path, and the stream schema probe
    // expects INT64 TIMESTAMP (never INT96)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      val stage = s"$out/_stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Option(new java.io.File(stage).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
      require(part.length == 1, s"want 1 staged part for $t, got ${part.length}")
      java.nio.file.Files.move(part.head.toPath,
        java.nio.file.Paths.get(out, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.sources.GraftFs.deleteTree(new java.io.File(stage))
      println(s"[genscale] $t -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    /** Replicate with per-replica key shifts: (column, span) pairs. */
    def replicate(t: String, shifts: (String, Long)*)
        (payload: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
      val base = read(t)
      (0 until reps).map { r =>
        val shifted = shifts.foldLeft(payload(base, r)) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(r * span)) }
        shifted
      }.reduce(_ unionByName _)
    }

    write("region", read("region"))
    write("nation", read("nation"))
    write("supplier", replicate("supplier", "s_suppkey" -> 1000L)())
    write("part", replicate("part", "p_partkey" -> 20000L)())
    write("customer", replicate("customer", "c_custkey" -> 15000L)())
    write("orders", replicate("orders",
      "o_orderkey" -> 150000L, "o_custkey" -> 15000L)())
    write("lineitem", replicate("lineitem", "l_orderkey" -> 150000L,
      "l_partkey" -> 20000L, "l_suppkey" -> 1000L)())
    write("events", replicate("events",
      "event_id" -> 100000L, "user_id" -> 1500L)())

    write("documents", replicate("documents", "doc_id" -> 5000L) { (d, r) =>
      if (r == 0) d
      else d
        .withColumn("text", array_join(expr(
          s"""transform(split(text, ' '), (w, i) ->
             |  CASE WHEN (i + $r) % 3 = 0
             |       THEN concat('w', substr(md5(concat(w, '#$r')), 1, 4))
             |       ELSE w END)""".stripMargin), " "))
        .withColumn("n_chars", length(col("text")))
    })

    write("embeddings", replicate("embeddings", "vec_id" -> 2000L) { (d, r) =>
      if (r == 0) d
      else if (r <= 4) d // fresh near-orthogonal vectors + fresh labels
        .withColumn("embedding", expr(
          s"""transform(sequence(1, 64), i -> CAST(
             |  pmod(xxhash64(vec_id, $r, i), 1000000) / 1000000.0 - 0.5
             |  AS FLOAT))""".stripMargin))
        .withColumn("label",
          pmod(xxhash64(col("vec_id"), lit(r)), lit(10)).cast("int"))
      else d // graded perturbation: similarity spans the dup thresholds
        .withColumn("embedding", expr(
          s"""transform(embedding, (x, i) -> CAST(
             |  x + (pmod(xxhash64(vec_id, $r, i), 1000) / 1000.0 - 0.5)
             |      * ${0.03 * (r - 4)}
             |  AS FLOAT))""".stripMargin))
    })

    spark.stop()
  }
}
