package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The seeded table stream of the `table_rw` workload: writes and reads on a
  * day-partitioned graft-sink table, through the public surface only (the
  * `gsql` catalog, `writeTo`, `DELETE FROM`, `CALL gsql.system.*`, and
  * `format("graft-sink")` with `versionAsOf`). Every read, and the final
  * table, is compared with a reference model: the same operations applied
  * to plain Scala collections. */
final class TableRw(spark: SparkSession, rec: Records, seed: Long, trace: Option[Trace],
    tableName: String, perturb: Boolean = false) {
  import TableRw._

  private val rnd = new java.util.SplittableRandom(seed)
  private val root = graft.util.Scratch.dir("sqlcat_root", "all")
  private val Short = s"bench.$tableName"
  private val Name = s"gsql.$Short"
  private val dir = s"$root/bench/$tableName"
  private var wallMs = 0.0
  private val model = mutable.LongMap.empty[Rec]
  private val versions = mutable.ArrayBuffer.empty[(Long, Map[Long, Rec])]
  private var nextId = 0L
  private var liveFiles = 0L
  private var nWrites, nAppends = 0
  private var inputBytes = 0L

  // traced-only counters
  private var filesWritten, bytesWritten, filesSeen, filesScanned, returnedRows, decoded = 0L

  private def day(d: Int) = f"2024-01-$d%02d"
  private def note(): String = java.lang.Long.toHexString(rnd.nextLong()).take(6 + rnd.nextInt(10))

  /** Fresh rows with new ids, all in day `d` (one partition per batch, as
    * a daily ingest lands them). */
  private def newRows(n: Int, d: Int): Seq[Rec] = Seq.fill(n) {
    val r = Rec(nextId, day(d), rnd.nextInt(1000), rnd.nextInt(100000) / 100.0, note())
    nextId += 1
    inputBytes += 8 + r.day.length + 4 + 8 + r.note.length
    r
  }

  private def frame(rs: Seq[Rec]) =
    spark.createDataFrame(java.util.Arrays.asList(rs.map(_.row): _*), Schema)

  private def table = spark.table(Name)

  private def dataFiles(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: java.io.File): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      if (c.isDirectory) walk(c) else if (c.getName.endsWith(".parquet")) out(c.getPath) = c.length()
    })
    walk(new java.io.File(dir))
    out.toMap
  }

  /** Head version and its live file count, from the table's own history. */
  private def head(): (Long, Long) = {
    val r = spark.sql(s"CALL gsql.system.history('$Short')").collect()
      .maxBy(_.getLong(0))
    (r.getLong(0), r.getLong(3))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  private def write(cls: String, body: => Unit, apply: => Unit): Unit = {
    val before = if (trace.isDefined) dataFiles() else Map.empty[String, Long]
    val startMs = System.currentTimeMillis()
    val (err, ms) = timed {
      try { body; None } catch { case e: Throwable => Some(e.toString) }
    }
    if (err.isEmpty) apply
    nWrites += 1
    if (nWrites % SnapshotEvery == 0 || trace.isDefined) {
      val (v, files) = head()
      liveFiles = files
      if (nWrites % SnapshotEvery == 0) versions += ((v, model.toMap))
    }
    if (trace.isDefined) {
      val fresh = dataFiles() -- before.keySet
      filesWritten += fresh.size
      bytesWritten += fresh.values.sum
    }
    wallMs += ms
    rec.write("op", "class" -> cls, "rw" -> "write", "ms" -> ms, "start_ms" -> startMs,
      "ok" -> err.isEmpty, "err" -> err.orNull)
  }

  private def read(cls: String, selective: Boolean, q: => org.apache.spark.sql.DataFrame,
      expected: => Iterator[Seq[Any]]): Unit = {
    val startMs = System.currentTimeMillis()
    val decoded0 = graft.sources.GraftReadStats.parquetRecordsDecoded.sum()
    val (res, ms) = timed {
      try { val df = q; Right((df, df.collect())) } catch { case e: Throwable => Left(e.toString) }
    }
    val (ok, err) = res match {
      case Left(e) => (false, e)
      case Right((df, rows)) =>
        val got = Fingerprint.ofRows(df.schema, rows)
        val want = Fingerprint.of(df.schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","), expected)
        if (trace.isDefined) {
          returnedRows += rows.length
          decoded += graft.sources.GraftReadStats.parquetRecordsDecoded.sum() - decoded0
          if (selective) { filesSeen += liveFiles; filesScanned += scannedFiles(df) }
        }
        (got == want, if (got == want) null else s"fingerprint $got != model $want")
    }
    if (cls != Final) wallMs += ms
    rec.write("op", "class" -> cls, "rw" -> "read", "ms" -> ms, "start_ms" -> startMs,
      "ok" -> ok, "err" -> err)
  }

  /** Files the scan planned: graft-sink plans one input partition per
    * surviving file. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    Plans.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions.toLong
    }.sum

  private def live = model.valuesIterator

  private def aggRows(rs: Iterator[Rec]): Iterator[Seq[Any]] =
    rs.toSeq.groupBy(_.day).iterator.map { case (d, g) =>
      Seq[Any](d, g.size.toLong, g.map(_.k.toLong).sum, g.map(_.id).min, g.map(_.id).max) }

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("day")).agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
      min(col("id")).as("lo"), max(col("id")).as("hi"))

  /** Runs `nOps` operations, alternating writes and reads, then checks the
    * whole table once (untimed). Returns the operations' summed wall in s. */
  def run(nOps: Int): Double = {
    spark.conf.set("spark.sql.catalog.gsql", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsql.root", root)
    spark.sql(s"CREATE TABLE $Name (id BIGINT, day STRING, k INT, v DOUBLE, note STRING) " +
      "PARTITIONED BY (day)")
    versions += ((head()._1, Map.empty[Long, Rec]))
    val folds0 = graft.sources.GraftReadStats.manifestFolds.sum()
    (0 until nOps).foreach { i =>
      val r = rnd.nextDouble()
      if (i % 2 == 1) readOp(r)
      else if ((nWrites + 1) % OptimizeEvery == 0)
        write("optimize",
          spark.sql(s"CALL gsql.system.optimize(table => '$Short', target_files => $Days)")
            .collect(), ())
      else if (r < 0.5 || model.isEmpty) {
        // the ingest day advances every few appends
        val rs = newRows(AppendRows, 1 + (nAppends / AppendsPerDay) % Days)
        nAppends += 1
        val df = frame(rs)
        write("append", df.writeTo(Name).append(), rs.foreach(x => model(x.id) = x))
      } else if (r < 0.65) {
        val d = day(1 + rnd.nextInt(Days))
        val rs = newRows(ReplaceRows, d.takeRight(2).toInt)
        val df = frame(rs)
        write("replace", df.writeTo(Name).overwrite(col("day") === lit(d)), {
          model.filterInPlace((_, x) => x.day != d); rs.foreach(x => model(x.id) = x) })
      } else if (r < 0.82) {
        val id = rnd.nextLong(nextId)
        write("delete", spark.sql(s"DELETE FROM $Name WHERE id = $id"), model -= id)
      } else {
        val lo = rnd.nextLong(nextId)
        write("delete", spark.sql(s"DELETE FROM $Name WHERE id BETWEEN $lo AND ${lo + 50}"),
          model.filterInPlace((id, _) => id < lo || id > lo + 50))
      }
    }
    if (perturb) model -= model.keysIterator.next() // self-check: a model that lost a row
    read(Final, false, table, live.map(_.row.toSeq))
    rec.write("table", "input_bytes" -> inputBytes,
      "stored_bytes" -> Main.du(new java.io.File(dir)), "files_live" -> liveFiles,
      "files_written" -> filesWritten, "bytes_written" -> bytesWritten,
      "files_seen" -> filesSeen, "files_scanned" -> filesScanned, "decoded" -> decoded,
      "returned" -> returnedRows,
      "manifest_folds" -> (graft.sources.GraftReadStats.manifestFolds.sum() - folds0))
    wallMs / 1000
  }

  private def readOp(r: Double): Unit =
    if (r < 0.25) {
      val id = rnd.nextLong(nextId)
      read("scan_point", true, table.where(col("id") === id),
        model.get(id).iterator.map(_.row.toSeq))
    } else if (r < 0.45) {
      val lo = rnd.nextLong(nextId)
      read("scan_range", true, table.where(col("id").between(lo, lo + 200)),
        live.filter(x => x.id >= lo && x.id <= lo + 200).map(_.row.toSeq))
    } else if (r < 0.65) {
      val d = day(1 + rnd.nextInt(Days))
      read("scan_partition", true, table.where(col("day") === d),
        live.filter(_.day == d).map(_.row.toSeq))
    } else if (r < 0.85) {
      read("scan_full", false, agg(table), aggRows(live))
    } else {
      val (v, snap) = versions(rnd.nextInt(versions.size))
      read("time_travel", false,
        agg(spark.read.format("graft-sink").option("path", dir)
          .option("versionAsOf", v.toString).load()),
        aggRows(snap.valuesIterator))
    }
}


object TableRw {
  /** Table operations in one timed pass. */
  val Ops = 80
  val Days = 30
  val AppendRows = 500
  val AppendsPerDay = 2
  val ReplaceRows = 300
  val OptimizeEvery = 10
  /** Every this many writes, the model keeps a snapshot for time travel. */
  val SnapshotEvery = 8
  /** The untimed whole-table check after the operations. */
  val Final = "final"

  val Schema: StructType = StructType.fromDDL(
    "id BIGINT, day STRING, k INT, v DOUBLE, note STRING")

  final case class Rec(id: Long, day: String, k: Int, v: Double, note: String) {
    def row: Row = Row(id, day, k, v, note)
  }
}

/** Plan traversal that also descends into adaptive (AQE) query stages. */
object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
