package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftEqDel, GraftFileMeta, GraftManifest}

/** Golden graft-sink manifest bodies, pinned byte for byte
  * (`src/test/resources/graft/manifests`). The current-format bodies were
  * written by real commits on tiny tables; between them they carry every
  * `#tag` line the codec knows:
  *  - `full`: a catalog table partitioned by `g` after an index-option
  *    write, an append, an upsert (`#eqdel`/`#seq`), a DELETE (`#dv`), a
  *    property, two constraints and a streaming-watermark commit (`#txn`);
  *  - `delta`: that table's append delta (`#base`);
  *  - `sorted`: an unpartitioned `sortBy=reverse(s)` table (`#sortspec`,
  *    `#rvstats`, an empty `#idx`);
  *  - `bundled`: a table after COMPACT-INDEX, its bloom payloads bundle refs;
  *  - `forward`: `sorted` with an `#idx` segment no reader knows yet.
  * `legacy` is hand-written in the oldest shape: `_total` last, no `#idx`,
  * an unescaped `%` in a stat and an unknown `#future=` line.
  *
  * Each body's parse is pinned as text in `<name>.parsed`
  * ([[GoldenManifestSpec.dump]]); every current-format body must render
  * back to its own bytes. */
class GoldenManifestSpec extends AnyFunSuite {
  import GoldenManifestSpec._

  test("every current-format body parses to its golden value and renders back byte for byte") {
    current.foreach { case (name, v) =>
      val body = resource(s"$name.manifest")
      val m = GraftManifest.parse(v, body, Some(TableDir))
      assert(dump(m) == resource(s"$name.parsed"), s"parse of $name")
      assert(GraftManifest.render(m) == body, s"render(parse($name))")
    }
  }

  test("the golden bodies together carry every manifest tag") {
    val tags = (current.map(_._1) :+ "legacy").flatMap(n =>
      resource(s"$n.manifest").split("\n").filter(_.startsWith("#"))
        .map(_.takeWhile(_ != '='))).toSet
    val all = ("#schema #ts #base #op #files #ids #partspec #sortspec #format " +
      "#prop #idx #eqdel #check #txn #meta #seq #stats #bstats #nulls #dv #sums " +
      "#bloom #pbloom #ngbloom #ngalpha #ndv #centroid #rgcen #rvstats").split(" ")
    assert(all.filterNot(tags).isEmpty, s"tags no golden body carries")
  }

  test("the full body's header and per-file facts decode as written") {
    val m = GraftManifest.parse(9, resource("full.manifest"), Some(TableDir))
    assert(m.total == 4L && m.nFiles.contains(4) && m.base.isEmpty)
    assert(m.partSpec.contains("g") && m.format.contains("parquet"))
    assert(m.props == Map("team.owner" -> "data,eng 5%"), "#prop values unescape")
    assert(m.checks == Seq("k_nn" -> "k IS NOT NULL", "z_nn" -> "z IS NOT NULL"))
    assert(m.eqDels == Seq(GraftEqDel(4, "k", "c40b52a2-part-00000-5.eqdel", 1L)))
    assert(m.txns == Map("w1" -> 7L))
    val Seq(b, a, _, up) = m.metas
    assert(a.partition.contains(("g", "a")) && a.ncols == 6 && a.committed)
    assert(a.dv.exists(_._2 == 1L) && a.liveRows == 1L)
    assert(a.stats(3) == (("ab%,c", "ab%,c")), "#stats values unescape")
    assert(a.bounds == Set(4) && a.exactStats(4).isEmpty, "#bstats marks a bound")
    assert(a.nulls.contains(Map(3 -> 1L)) && b.nulls.contains(Map.empty[Int, Long]))
    assert(a.sums.contains(Map(0 -> 3L, 1 -> 0L)), "zero sums stay known")
    assert(up.seq == 4 && a.seq == 0 && b.seq == 0)
    assert(a.ngalphas(3) == "%,abc" && a.rvstats(3)._1 == "c,%ba")
    assert(a.rgcens(5).map(_.rows) == Seq(2L))
  }

  test("bundle refs re-qualify against the manifest's directory") {
    val body = resource("bundled.manifest")
    val m = GraftManifest.parse(2, body, Some(TableDir))
    val pay = m.metas.head.ngblooms(1)._2
    assert(pay.startsWith(s"@$TableDir/idx-") && pay.endsWith(":10924:349528"))
    assert(GraftManifest.parse(2, body).metas.head.ngblooms(1)._2.startsWith("@idx-"),
      "no directory, no qualification")
  }

  test("an unknown #idx segment is carried through parse and render") {
    val m = GraftManifest.parse(1, resource("forward.manifest"))
    assert(m.idxCols.exists(ix => ix.extra == Seq("future:7") && ix.bloom.isEmpty))
  }

  test("the legacy body parses: _total last, no #idx, raw % in a stat, unknown line") {
    val m = GraftManifest.parse(1, resource("legacy.manifest"))
    assert(dump(m) == resource("legacy.parsed"))
    assert(m.total == 3L && m.idxCols.isEmpty && m.op.contains("APPEND"))
    assert(m.metas.map(f => (f.name, f.rows, f.ncols)) ==
      Seq(("legacy-0.csv", 2L, 2), ("legacy-1.csv", 1L, 2)),
      "a file with no #meta takes the schema's width")
    assert(m.metas.head.stats(1) == (("50%up", "zed")), "a foreign % passes through")
  }

  test("header reads match the parse; a legacy body falls back to the full read") {
    val dir = Files.createTempDirectory("graft_golden").toString
    (current :+ ("legacy" -> 1)).foreach { case (name, v) =>
      val body = resource(s"$name.manifest")
      val p = Paths.get(dir, s"$name-v$v")
      Files.createDirectories(p)
      Files.write(p.resolve(s"_manifest-v$v"), body.getBytes(StandardCharsets.UTF_8))
      val full = GraftManifest.parse(v, body, Some(p.toString))
      val want = if (name == "legacy") full else full.copy(metas = Seq.empty)
      assert(GraftManifest.headerFacts(p.toString, v) == want, s"header of $name")
    }
  }

  test("render leaves out what a line cannot carry and keeps zero sums") {
    val f = GraftFileMeta("f.parquet", 3L, 2, Map.empty, None,
      nulls = Some(Map(0 -> 0L, 1 -> 2L)), sums = Some(Map(0 -> 0L)))
    val m = GraftManifest(1, Seq(f), 3L, Some("a BIGINT,b STRING"), Some(5L))
    def lines(op: Option[String]) = GraftManifest.render(m.copy(op = op)).split("\n").toSeq
    assert(lines(None) == Seq("#schema=a BIGINT,b STRING", "#ts=5", "_total,3",
      "#meta=f.parquet,2,,", "#nulls=f.parquet,1:2", "#sums=f.parquet,0:0", "f.parquet,3"))
    assert(lines(Some("")) == lines(None) && lines(Some("A\nB")) == lines(None))
    assert(lines(Some("MERGE")).contains("#op=MERGE"))
    assert(!GraftManifest.render(m.copy(metas = Seq(f.copy(sums = Some(Map.empty)))))
      .contains("#sums"), "an empty sums map is unknown, not written")
  }

  test("a malformed known line fails loudly and names its tag") {
    Seq("#eqdel=4,k" -> "#eqdel", "#txn=w1" -> "#txn", "#prop=k" -> "#prop",
        "#stats=f,1,2" -> "#stats", "#meta=f,2" -> "#meta").foreach { case (l, tag) =>
      val e = intercept[IllegalStateException](GraftManifest.parse(1, s"$l\n_total,0"))
      assert(e.getMessage.startsWith(s"malformed $tag line"), e.getMessage)
    }
  }
}

object GoldenManifestSpec {
  /** The current-format golden bodies and the versions they were written at. */
  val current: Seq[(String, Int)] =
    Seq("full" -> 9, "delta" -> 3, "sorted" -> 1, "bundled" -> 2, "forward" -> 1)
  val TableDir = "/tables/t"

  def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/manifests/$name")
    require(in != null, s"missing golden resource $name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** `m` as text, one field a line, every map and set in key order — a
    * stable picture of what `parse` returned. */
  def dump(m: GraftManifest): String = {
    def fields(p: Product, indent: String): Seq[String] =
      p.productElementNames.zip(p.productIterator).toSeq.flatMap {
        case ("metas", ms: Seq[_]) =>
          "metas:" +: ms.flatMap(f => "-" +: fields(f.asInstanceOf[Product], "  "))
        case (k, v) => Seq(s"$indent$k: ${show(v)}")
      }
    fields(m, "").mkString("\n")
  }

  private def show(x: Any): String = x match {
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => s"${show(k)} -> ${show(v)}" }.sorted.mkString("{", ", ", "}")
    case s: collection.Set[_] => s.toSeq.map(show).sorted.mkString("{", ", ", "}")
    case s: collection.Seq[_] => s.map(show).mkString("[", ", ", "]")
    case Some(v) => s"Some(${show(v)})"
    case None => "None"
    case t: Product if t.productPrefix.startsWith("Tuple") =>
      t.productIterator.map(show).mkString("(", ", ", ")")
    case p: Product => p.productIterator.map(show).mkString(p.productPrefix + "(", ", ", ")")
    case s: String => s"'$s'"
    case o => String.valueOf(o)
  }
}
