package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitClaim, GraftManifest, PosixLinkClaim}

/** The graft-sink table header — schema, field ids, CHECK constraints,
  * declared partition and sort spec, data-file format, TBLPROPERTIES and
  * pending equality deletes — across every kind of commit: metadata DDL
  * keeps it, a new table shape starts it fresh, and a commit that loses
  * its claim inherits the winner's. */
class TableHeaderSpec extends AnyFunSuite {
  import TestSpark._

  private def catalog(name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  /** The head's header facts as one line. */
  private def header(dir: String): String = {
    val h = GraftManifest.headerFacts(dir, GraftManifest.versions(dir).max)
    s"v${h.version} ${h.op.getOrElse("-")} | ${h.schemaDdl.getOrElse("-")}" +
      s" | ids=${h.ids.map(_.mkString(",")).getOrElse("-")}" +
      s" checks=${h.checks.map { case (n, e) => s"$n:$e" }.mkString(";")}" +
      s" part=${h.partSpec.getOrElse("-")} sort=${h.sortSpec.getOrElse("-")}" +
      s" fmt=${h.format.getOrElse("-")}" +
      s" props=${h.props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")}" +
      s" eqdels=${h.eqDels.map(e => s"${e.col}@${e.v}").mkString(",")}"
  }

  test("RENAME COLUMN and DROP COLUMN keep the table header") {
    import spark.implicits._
    val root = tmp("graft_hdr_ddl")
    catalog("ghd", root)
    val dir = s"$root/db/t"
    val rnd = new scala.util.Random(12)
    spark.sql("CREATE TABLE ghd.db.t (id BIGINT, x BIGINT, g STRING, s STRING, y BIGINT) " +
      "TBLPROPERTIES ('vacuum.retain'='3')")
    (0 until 120).map(i => (i.toLong, rnd.nextInt(100).toLong, s"g${i % 3}",
      f"s_${rnd.nextInt(1000)}%03d", rnd.nextInt(100).toLong))
      .toDF("id", "x", "g", "s", "y").repartition(3)
      .write.format("graft-sink").option("path", dir).option("sortBy", "id")
      .mode("overwrite").save()
    spark.sql("CALL ghd.system.set_partition_spec('db.t', 'g')")
    spark.sql("CALL ghd.system.add_constraint('db.t', 'id_nonneg', 'id >= 0')")
    def head = GraftManifest.readVersion(dir, None).get
    def expect(step: String, cols: String, ids: Seq[Int], part: String): Unit = {
      val h = head
      assert(h.schemaDdl.map(StructType.fromDDL(_).fieldNames.mkString(",")).contains(cols),
        s"$step: schema ${h.schemaDdl}")
      assert(h.ids.contains(ids), s"$step: ids ${h.ids}")
      assert(h.checks == Seq("id_nonneg" -> "id >= 0"), s"$step: checks ${h.checks}")
      assert(h.partSpec.contains(part), s"$step: partition spec ${h.partSpec}")
      assert(h.sortSpec.contains("id"), s"$step: sort spec ${h.sortSpec}")
      assert(h.props == Map("vacuum.retain" -> "3"), s"$step: properties ${h.props}")
      val t = spark.read.format("graft-sink").option("path", dir).load()
      assert(t.count() == 120L && t.where(col("id") < 0).count() == 0L, s"$step: rows")
    }
    expect("before", "id,x,g,s,y", Seq(0, 1, 2, 3, 4), "g")
    spark.sql("ALTER TABLE ghd.db.t RENAME COLUMN s TO s2")
    expect("RENAME COLUMN", "id,x,g,s2,y", Seq(0, 1, 2, 3, 4), "g")
    // the declared partition spec follows its column to the new name
    spark.sql("ALTER TABLE ghd.db.t RENAME COLUMN g TO grp")
    expect("RENAME of the partition column", "id,x,grp,s2,y", Seq(0, 1, 2, 3, 4), "grp")
    spark.sql("ALTER TABLE ghd.db.t DROP COLUMN x")
    expect("non-trailing DROP COLUMN", "id,grp,s2,y", Seq(0, 2, 3, 4), "grp")
    // the rewrite lands under the surviving range layout: each file's
    // rows are sorted on it
    head.metas.foreach { m =>
      val ids = spark.read.format("graft-sink").option("path", dir)
        .option("files", m.name).load().select("id").as[Long].collect().toSeq
      assert(ids == ids.sorted, s"file ${m.name} is not sorted on id")
    }
    spark.sql("ALTER TABLE ghd.db.t DROP COLUMN y")
    expect("trailing DROP COLUMN", "id,grp,s2", Seq(0, 2, 3), "grp")
    // a later write conforms to the kept partition spec
    Seq((500L, "g9", "late")).toDF("id", "grp", "s2").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("append").save()
    assert(head.metas.exists(_.partition.contains("grp" -> "g9")),
      s"the append must land under the declared spec: ${head.metas.map(_.partition)}")
  }

  test("a sort spec of any kind follows RENAME COLUMN and goes with DROP COLUMN") {
    import spark.implicits._
    val root = tmp("graft_hdr_dropsort")
    catalog("ghs", root)
    val rows = (0 until 40).map(i => (i.toLong, (40 - i).toLong, s"v$i", (i * 7 % 40).toLong))
      .toDF("id", "x", "s", "z")
    Seq(("x", "x", "x2"), ("zorder(id,x)", "x", "zorder(id,x2)"),
        ("reverse(s)", "s", "reverse(s2)"), ("z", "z", "z2")).zipWithIndex
      .foreach { case ((spec, drop, renamed), n) =>
        val dir = s"$root/db/t$n"
        rows.coalesce(1).write.format("graft-sink").option("path", dir)
          .option("sortBy", spec).mode("overwrite").save()
        assert(GraftManifest.readVersion(dir, None).get.sortSpec.contains(spec))
        spark.sql(s"ALTER TABLE ghs.db.t$n RENAME COLUMN $drop TO ${drop}2")
        assert(GraftManifest.readVersion(dir, None).get.sortSpec.contains(renamed),
          s"RENAME COLUMN $drop must carry $spec to $renamed")
        spark.sql(s"ALTER TABLE ghs.db.t$n DROP COLUMN ${drop}2")
        val h = GraftManifest.readVersion(dir, None).get
        assert(h.sortSpec.isEmpty, s"DROP COLUMN ${drop}2 left sort spec ${h.sortSpec}")
        assert(spark.read.format("graft-sink").option("path", dir).load().count() == 40L)
      }
  }

  test("a write that keeps the header but lacks its partition column fails") {
    import spark.implicits._
    val root = tmp("graft_hdr_partcol")
    catalog("ghp", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE ghp.db.t (id BIGINT, g STRING) PARTITIONED BY (g)")
    // a narrower prefix schema keeps the header, so the declared spec
    // still names `g`: the write must not land unpartitioned files under it
    val e = intercept[Exception] {
      Seq(1L, 2L).toDF("id").write.format("graft-sink").option("path", dir)
        .mode("overwrite").save()
    }
    assert(e.getMessage.contains("resolve g"), e.getMessage)
    assert(GraftManifest.versions(dir) == Seq(1), "the failed write committed a version")
  }

  test("every kind of commit leaves the expected header") {
    import spark.implicits._
    val root = tmp("graft_hdr_walk")
    catalog("ghw", root)
    val dir = s"$root/db/t"
    val rnd = new scala.util.Random(1212)
    // 64-char strings: wide enough that their 4-gram blooms externalize
    def str() = Iterator.fill(64)(('a' + rnd.nextInt(26)).toChar).mkString
    def rows(r: Range): Seq[(Long, String, String)] = r.map(i => (i.toLong, s"g${i % 3}", str()))
    // nullable columns, as the table declares them (a WAP stage must
    // match the committed schema exactly)
    def rowsY(r: Range): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows(r).map { case (i, g, s) =>
        org.apache.spark.sql.Row(i, g, s, i * 2) }),
      StructType.fromDDL("id BIGINT, g STRING, s STRING, y BIGINT"))
    def write(df: DataFrame, mode: String, opts: Map[String, String] = Map.empty,
        to: String = dir): Unit =
      df.coalesce(2).write.format("graft-sink").option("path", to).options(opts)
        .mode(mode).save()
    val got = scala.collection.mutable.ArrayBuffer[String]()
    def step(dir: String = dir): Unit = got += header(dir)

    spark.sql("CREATE TABLE ghw.db.t (id BIGINT, g STRING, s STRING) " +
      "PARTITIONED BY (g) TBLPROPERTIES ('vacuum.retain'='3')")
    step()
    write(rows(0 until 30).toDF("id", "g", "s"), "append")
    step()
    write(rows(0 until 30).toDF("id", "g", "s"), "overwrite", Map("sortBy" -> "id"))
    step()
    // a new shape: no declared partitioning, and its own sort layout
    write(rows(0 until 30).toDF("id", "k", "s"), "overwrite", Map("sortBy" -> "id"))
    step()
    spark.sql("REPLACE TABLE ghw.db.t (id BIGINT, g STRING, s STRING) " +
      "PARTITIONED BY (g) TBLPROPERTIES ('tier'='gold')")
    step()
    write(rows(0 until 800).toDF("id", "g", "s"), "append", Map("ngramBloomFor" -> "s:4"))
    step()
    spark.sql("ALTER TABLE ghw.db.t ADD COLUMNS (y BIGINT)")
    step()
    spark.sql("CALL ghw.system.add_constraint('db.t', 'id_nonneg', 'id >= 0')")
    step()
    spark.sql("CALL ghw.system.add_constraint('db.t', 'y_nonneg', 'y >= 0')")
    step()
    spark.sql("CALL ghw.system.drop_constraint('db.t', 'y_nonneg')")
    step()
    spark.sql("ALTER TABLE ghw.db.t SET TBLPROPERTIES ('vacuum.retain'='4', 'note'='n1')")
    step()
    spark.sql("ALTER TABLE ghw.db.t UNSET TBLPROPERTIES ('note')")
    step()
    spark.sql("CALL ghw.system.set_partition_spec('db.t', 'bucket(4,id)')")
    step()
    spark.sql("DELETE FROM ghw.db.t WHERE g = 'g1'")
    step()
    spark.sql("UPDATE ghw.db.t SET s = 'u' WHERE id < 5")
    step()
    rowsY(100 until 110).writeTo("ghw.db.t").option("ngramBloomFor", "s:4")
      .overwrite(col("id") >= 790)
    step()
    spark.sql("CALL ghw.system.optimize('db.t', 2)").collect()
    step()
    spark.sql("CALL ghw.system.compact_index('db.t')").collect()
    step()
    write(rowsY(200 until 210), "append", Map("wapStage" -> "w1"))
    spark.sql("CALL ghw.system.wap_publish('db.t', 'w1')")
    step()
    val published = GraftManifest.versions(dir).max
    val src = s"$root/src"
    rowsY(300 until 310).coalesce(1).write.mode("overwrite").parquet(src)
    spark.readStream.schema("id LONG, g STRING, s STRING, y LONG").parquet(src)
      .writeStream.format("graft-sink").option("path", dir)
      .option("checkpointLocation", s"$root/chk").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    step()
    // a restore of the same shape keeps the header and adopts the
    // restored version's pending deletes
    spark.sql(s"CALL ghw.system.restore('db.t', $published)")
    step()
    write(rowsY(0 until 5), "append", Map("upsertKey" -> "id"))
    step()
    // a clone imports the source's header whole: schema, ids, CHECKs,
    // layouts, pending deletes, data-file format and properties
    spark.sql("CALL ghw.system.clone('db.t', 'db.b')")
    val branch = s"$root/db/b"
    step(branch)
    spark.sql("CALL ghw.system.add_constraint('db.b', 'y_nonneg', 'y >= 0')")
    spark.sql("ALTER TABLE ghw.db.b SET TBLPROPERTIES ('branch'='b1')")
    write(rowsY(400 until 405), "append", Map("upsertKey" -> "id"), branch)
    step(branch)
    spark.sql("CALL ghw.system.fast_forward('db.t', 'db.b')")
    step()
    // a version of another shape restores a fresh header
    spark.sql("CALL ghw.system.restore('db.t', 4)")
    step()

    val want = Seq(
      "v1 CREATE TABLE | id BIGINT,g STRING,s STRING | ids=0,1,2 checks= part=g sort=- fmt=- props=vacuum.retain=3 eqdels=",
      "v2 APPEND | id BIGINT,g STRING,s STRING | ids=0,1,2 checks= part=g sort=- fmt=parquet props=vacuum.retain=3 eqdels=",
      "v3 OVERWRITE | id BIGINT NOT NULL,g STRING,s STRING | ids=0,1,2 checks= part=g sort=- fmt=parquet props=vacuum.retain=3 eqdels=",
      "v4 OVERWRITE | id BIGINT NOT NULL,k STRING,s STRING | ids=0,1,2 checks= part=- sort=id fmt=parquet props= eqdels=",
      "v5 REPLACE TABLE | id BIGINT,g STRING,s STRING | ids=0,1,2 checks= part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v6 APPEND | id BIGINT,g STRING,s STRING | ids=0,1,2 checks= part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v7 ADD COLUMNS | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks= part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v8 ADD CONSTRAINT | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v9 ADD CONSTRAINT | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0;y_nonneg:y >= 0 part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v10 DROP CONSTRAINT | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=g sort=- fmt=parquet props=tier=gold eqdels=",
      "v11 SET TBLPROPERTIES | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=g sort=- fmt=parquet props=note=n1,tier=gold,vacuum.retain=4 eqdels=",
      "v12 SET TBLPROPERTIES | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=g sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v13 SET PARTITION SPEC | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v14 DELETE | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v15 UPDATE | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v16 REPLACE WHERE | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v17 OPTIMIZE | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v18 COMPACT-INDEX | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v19 WAP PUBLISH | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v20 STREAM APPEND | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v21 RESTORE | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=",
      "v22 APPEND | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=id@22,id@22",
      "v22 CLONE db.t v22 | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=id@22,id@22",
      "v25 APPEND | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0;y_nonneg:y >= 0 part=bucket(4,id) sort=- fmt=parquet props=branch=b1,tier=gold,vacuum.retain=4 eqdels=id@22,id@22,id@25,id@25",
      "v25 FAST FORWARD db.b v25 | id BIGINT,g STRING,s STRING,y BIGINT | ids=0,1,2,3 checks=id_nonneg:id >= 0;y_nonneg:y >= 0 part=bucket(4,id) sort=- fmt=parquet props=tier=gold,vacuum.retain=4 eqdels=id@22,id@22,id@25,id@25",
      "v26 RESTORE | id BIGINT NOT NULL,k STRING,s STRING | ids=0,1,2 checks= part=- sort=- fmt=parquet props= eqdels=")
    got.zipAll(want, "", "").zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"commit ${i + 1}:\n  got  $g\n  want $w\nall:\n${got.mkString("\n")}")
    }
  }

  test("an append that loses its claim to SET TBLPROPERTIES carries the new property") {
    val root = tmp("graft_hdr_claim")
    catalog("ghc", root)
    val dir = s"$root/db/t"
    spark.sql("CREATE TABLE ghc.db.t (a BIGINT) TBLPROPERTIES ('tier'='gold')")
    var raced = false
    GraftManifest.claimer = new CommitClaim {
      override def claim(target: java.nio.file.Path, body: Array[Byte]): Boolean = {
        if (!raced) {
          raced = true
          spark.sql("ALTER TABLE ghc.db.t SET TBLPROPERTIES ('vacuum.retain'='5')")
        }
        PosixLinkClaim.claim(target, body)
      }
    }
    val v = try GraftManifest.commit(dir, Seq("part-late.csv" -> 1L), "a BIGINT",
      truncate = false)
    finally GraftManifest.claimer = PosixLinkClaim
    assert(raced && v == 3, s"the append must retry above the property commit: v$v")
    val h = GraftManifest.readVersion(dir, None).get
    assert(h.files == Seq("part-late.csv" -> 1L))
    assert(h.props == Map("tier" -> "gold", "vacuum.retain" -> "5"),
      s"the retried append must inherit the winner's properties: ${h.props}")
  }

  test("a clone of a csv-format table appends csv files and keeps its properties") {
    val root = tmp("graft_hdr_clone")
    catalog("ghk", root)
    spark.sql("CREATE TABLE ghk.db.t (id BIGINT, s STRING) TBLPROPERTIES ('tier'='gold')")
    def write(ids: Range, dir: String, opts: Map[String, String] = Map.empty): Unit =
      spark.range(ids.start, ids.end).selectExpr("id", "cast(id as string) as s")
        .coalesce(1).write.format("graft-sink").option("path", dir).options(opts)
        .mode("append").save()
    write(0 until 10, s"$root/db/t", Map("format" -> "csv"))
    spark.sql("CALL ghk.system.clone('db.t', 'db.c')")
    val clone = s"$root/db/c"
    val before = GraftManifest.readVersion(clone, None).get.files.map(_._1).toSet
    write(10 until 20, clone)
    val h = GraftManifest.readVersion(clone, None).get
    val added = h.files.map(_._1).filterNot(before)
    assert(h.format.contains("csv") && added.nonEmpty && added.forall(_.endsWith(".csv")),
      s"the clone must keep writing csv: format ${h.format}, new files $added")
    assert(h.props == Map("tier" -> "gold"), s"the clone must keep its properties: ${h.props}")
    assert(spark.read.format("graft-sink").option("path", clone).load().count() == 20L)
  }
}
