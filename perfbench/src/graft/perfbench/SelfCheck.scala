package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Checks of the benchmark's own correctness machinery (run by
  * perfbench/selfcheck.py):
  *  - the fingerprint ignores row order but catches a changed value, a
  *    lost or duplicated row and a changed column type;
  *  - the table_rw reference model agrees with graft-sink on two seeds;
  *  - a model that lost one row fails the whole-table check.
  * Prints one line per check and exits 1 if a fingerprint check fails; the
  * table records go to `<work>/selfcheck-<seed>.jsonl` for the caller. */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = false
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} fingerprint: $name")
      failed ||= !ok
    }

    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 0.1)).toDF("id", "s", "v")
    val rows = df.collect()
    val fp = Fingerprint.ofRows(df.schema, rows)
    check("reordered rows keep it", Fingerprint.ofRows(df.schema, rows.reverse) == fp)
    check("a value one ulp off changes it",
      Fingerprint.ofRows(df.schema, rows.updated(0, Row(1L, "a", Math.nextUp(1.5)))) != fp)
    check("a null for a value changes it",
      Fingerprint.ofRows(df.schema, rows.updated(1, Row(2L, null, 2.5))) != fp)
    check("a lost row changes it", Fingerprint.ofRows(df.schema, rows.dropRight(1)) != fp)
    check("a duplicated row changes it", Fingerprint.ofRows(df.schema, rows :+ rows(0)) != fp)
    val narrowed = df.select(col("id").cast("int"), col("s"), col("v"))
    check("a changed column type changes it",
      Fingerprint.ofRows(narrowed.schema, narrowed.collect()) != fp)

    val ops = o("ops").toInt
    Seq(("1", false), ("2", false), ("3", true)).foreach { case (seed, perturb) =>
      val rec = new Records(s"$work/selfcheck-$seed.jsonl")
      new TableRw(spark, rec, seed.toLong, None, s"check$seed", perturb).run(ops)
      rec.close()
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
