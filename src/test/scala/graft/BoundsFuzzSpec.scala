package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBloom, GraftBloomSidecars, GraftManifest, GraftSinkScan, GraftSinkWriter}

/** ScalaCheck fuzz of the `#bstats` bound math (VERDICT r13 next #5):
  * Round13Spec pins hand-picked surrogate/width edges; these generators
  * sweep random Unicode — astral planes, LONE surrogates, the
  * 63/64/65-char bound-threshold lengths, Char.MaxValue / U+10FFFF runs —
  * against the two invariants (the envelope CONTAINS every value; the
  * upper bound is STRICTLY greater under cmpUtf8), the cmpUtf8 ≡ UTF-8
  * binary order identity it all rests on, the stat escape roundtrip, and
  * an end-to-end manifest envelope check through a real write.
  *
  * Determinism: every property runs under a FIXED initial seed so CI is
  * stable (SURVEY §5 layer-3 rule). */
class BoundsFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private def cmp(a: String, b: String): Int = GraftSinkScan.cmpStats(StringType, a, b)
  private def utf8Clean(s: String): Boolean = s == new String(s.getBytes(UTF_8), UTF_8)

  /** Reference order the stats order must equal for valid strings: plain
    * unsigned-lexicographic compare of the UTF-8 bytes (what
    * UTF8String.binaryCompare does). */
  private def utf8ByteOrder(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  // --- generators ---------------------------------------------------

  /** Code points biased to every edge the truncation/increment logic
    * cares about; excludes the surrogate range (valid-string gen). */
  private val genValidCp: Gen[Int] = Gen.frequency(
    5 -> Gen.choose(0x20, 0x7E),                       // ASCII
    2 -> Gen.oneOf(0x00, 0x01, 0xD7FF, 0xE000, 0xFFFD, 0xFFFE, 0xFFFF,
      0x10000, 0x1F600, 0x10FFFE, 0x10FFFF),           // the edges
    2 -> Gen.choose(0x80, 0xD7FF),                     // 2-3 byte BMP
    1 -> Gen.choose(0x10000, 0x10FFFF))                // astral

  /** UTF-16 units incl. LONE surrogates — strings Spark's own ingestion
    * sanitizes away, but the pure functions must not crash or break
    * prefix-safety on them. */
  private val genAnyUnit: Gen[Int] = Gen.frequency(
    5 -> Gen.choose(0x20, 0x7E),
    1 -> Gen.choose(0xD800, 0xDBFF),                   // lone high
    1 -> Gen.choose(0xDC00, 0xDFFF),                   // lone low
    1 -> Gen.oneOf(0xFFFF.toInt, 0xD7FF, 0xE000))

  /** Lengths clustered on the ExactStatMaxLen (64) and BoundWidth (32)
    * thresholds where the exact/bound decision and truncation happen. */
  private val genLen: Gen[Int] = Gen.frequency(
    3 -> Gen.choose(0, 8),
    3 -> Gen.oneOf(31, 32, 33, 63, 64, 65),
    2 -> Gen.choose(60, 70),
    1 -> Gen.choose(100, 140))

  private def stringOf(cp: Gen[Int]): Gen[String] = for {
    n <- genLen
    cps <- Gen.listOfN(n, cp)
  } yield {
    val sb = new java.lang.StringBuilder
    cps.foreach(sb.appendCodePoint)
    sb.toString
  }

  private val genValid: Gen[String] = Gen.frequency(
    8 -> stringOf(genValidCp),
    1 -> genLen.map("􏿿" * _),          // U+10FFFF runs
    1 -> genLen.map("￿" * _))                // Char.MaxValue runs

  private val genAny: Gen[String] = Gen.frequency(
    3 -> genValid,
    2 -> (for { n <- genLen; us <- Gen.listOfN(n, genAnyUnit) }
      yield us.map(_.toChar).mkString))

  private def check(name: String, p: org.scalacheck.Prop, n: Int = 3000): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(n)
        .withInitialSeed(Seed(0x614L)), p)
    // \u-escape the counterexample: a raw lone surrogate in a failure
    // message breaks sbt's XML test reporter (MalformedInputException)
    def esc(x: Any): String = x.toString.flatMap(c =>
      if (c >= 0x20 && c < 0x7F) c.toString else f"\\u${c.toInt}%04x")
    assert(res.passed, s"$name: ${esc(res.status)}")
  }

  test("envelope contains every valid value; upper is strict; bounds are UTF-8 clean") {
    check("bounds", forAll(genValid) { s =>
      val lo = GraftSinkWriter.lowerBound(s)
      val loOk = cmp(lo, s) <= 0 && s.startsWith(lo) && utf8Clean(lo)
      val hiOk = GraftSinkWriter.upperBound(s) match {
        case Some(hi) => cmp(s, hi) < 0 && utf8Clean(hi) &&
          // a bound is only useful if it stays bounded itself
          hi.length <= GraftSinkWriter.BoundWidth * 2
        case None => // no successor exists only on max-code-point prefixes
          s.codePoints().limit(GraftSinkWriter.BoundWidth)
            .allMatch(c => c == Character.MAX_CODE_POINT)
      }
      loOk && hiOk
    })
  }

  test("bound functions never crash and stay prefix-safe on lone surrogates") {
    // The STRICT-UPPER invariant is NOT claimed here, and the fuzz found
    // why it can't be: appendCodePoint's successor order disagrees with
    // cmpUtf8's unit remap INSIDE the surrogate range (e.g. a lone
    // U+DFFF's increment U+E000 remaps BELOW it). Lone surrogates never
    // reach the writer — Spark's UTF8String.toString sanitizes invalid
    // bytes to U+FFFD at ingestion — so the claim for invalid strings is
    // only: never crash, lower stays a (<=) prefix.
    check("lone-surrogates", forAll(genAny) { s =>
      val lo = GraftSinkWriter.lowerBound(s)
      val loOk = s.startsWith(lo) && cmp(lo, s) <= 0
      GraftSinkWriter.upperBound(s) // must not throw
      loOk
    })
  }

  test("cmpUtf8 stats order IS the UTF-8 binary order on valid strings") {
    check("order-identity", forAll(genValid, genValid) { (a, b) =>
      Integer.signum(cmp(a, b)) == Integer.signum(utf8ByteOrder(a, b))
    })
  }

  test("escStat/unescStat roundtrip every value byte-identically") {
    val genTrap: Gen[String] = Gen.frequency(
      4 -> genAny,
      // adversarial escape shapes: pre-escaped lookalikes, bare %
      2 -> Gen.oneOf("%", "%%", "%25", "%2C", "x%25y", "50%up", "%0", "%0A",
        "a,b", "a\nb", "a\rb", ",%", "%2", "%2Z"))
    check("esc-roundtrip", forAll(genTrap) { s =>
      GraftManifest.unescStat(GraftManifest.escStat(s)) == s
    })
  }

  test("prefix pruning is sound over exact AND bound envelopes (round 14)") {
    // mayMatch(StringStartsWith) must NEVER drop a file holding a match,
    // and mustMatchAll must NEVER claim all-match unless it is true —
    // fuzzed against a brute-force reference over the file's raw values,
    // for BOTH envelope flavors (exact min/max, truncated #bstats bound).
    import org.apache.spark.sql.sources.StringStartsWith
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v STRING")
    val genFile: Gen[List[String]] =
      Gen.nonEmptyListOf(genValid).map(_.take(24))
    // probes biased toward prefixes OF the file's values (the matching
    // case pruning must preserve), plus unrelated strings
    def genProbe(vs: List[String]): Gen[String] = Gen.frequency(
      4 -> Gen.oneOf(vs).flatMap(v =>
        Gen.choose(0, v.length).map(v.substring(0, _))),
      2 -> genValid,
      1 -> Gen.const(""))
    check("prefix-prune", forAll(genFile.flatMap(vs =>
        genProbe(vs).map(p => (vs, p)))) { case (vs, p) =>
      val mn = vs.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
      val mx = vs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
      val exact = sources.GraftFileMeta("f", vs.length.toLong, 1,
        Map(0 -> (mn, mx)), None, nulls = Some(Map(0 -> 0L)))
      val bound = GraftSinkWriter.upperBound(mx).map { hi =>
        sources.GraftFileMeta("f", vs.length.toLong, 1,
          Map(0 -> (GraftSinkWriter.lowerBound(mn), hi)), None,
          nulls = Some(Map(0 -> 0L)), bounds = Set(0)) }
      val f = StringStartsWith("v", p)
      val notF = org.apache.spark.sql.sources.Not(f)
      val anyMatch = vs.exists(_.startsWith(p))
      val allMatch = vs.forall(_.startsWith(p))
      (exact :: bound.toList).forall { m =>
        (!anyMatch || GraftSinkScan.mayMatch(m, layout, f)) &&
        (!GraftSinkScan.mustMatchAll(m, layout, f) || allMatch) &&
        // Not-soundness (round 14): a file holding ANY non-p-prefixed
        // value (which FALSE-ifies the prefix — no NULLs here) must
        // survive the anti-probe
        (allMatch || GraftSinkScan.mayMatch(m, layout, notF))
      }
    }, n = 2000)
  }

  test("reversed-envelope suffix pruning is sound (round 15)") {
    // mayMatch(StringEndsWith) over a `#rvstats` envelope must NEVER
    // drop a file holding a match — fuzzed with full-Unicode values
    // (char-reversed supplementary chars become LONE surrogates, the
    // case the pairedSurrogates guard must go conservative on) and
    // probes biased toward true suffixes of the file's values.
    import org.apache.spark.sql.sources.StringEndsWith
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v STRING")
    val genFile: Gen[List[String]] =
      Gen.nonEmptyListOf(genValid).map(_.take(24))
    def genProbe(vs: List[String]): Gen[String] = Gen.frequency(
      4 -> Gen.oneOf(vs).flatMap(v =>
        Gen.choose(0, v.length).map(v.substring(_))),
      2 -> genValid,
      1 -> Gen.const(""))
    check("suffix-prune", forAll(genFile.flatMap(vs =>
        genProbe(vs).map(p => (vs, p)))) { case (vs, p) =>
      // the writer-exact fact: bound envelope over char-reversed values.
      // Round 16: surrogate-UNCLEAN extremes shorten-and-widen at their
      // longest clean prefix instead of withholding (the round-15 fuzz
      // found the UNTRUNCATED unclean variant unsound — upperBound's
      // code-point increment disagrees with cmpUtf8 inside the surrogate
      // range). The fact must now be PRESENT on supplementary-char data
      // whenever the truncated max has a finite successor, and sound.
      val rev = vs.map(GraftSinkWriter.revChars)
      val mn = rev.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
      val mx = rev.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
      val fact = GraftSinkWriter.upperBound(GraftSinkWriter.cleanPrefix(mx))
        .map(hi => (GraftSinkWriter.lowerBound(GraftSinkWriter.cleanPrefix(mn)), hi))
      fact.forall { case (lo, hi) =>
        // the kept bounds are manifest-safe (clean = exact UTF-8 write)
        GraftSinkWriter.pairedSurrogates(lo) &&
        GraftSinkWriter.pairedSurrogates(hi) &&
        // containment: [lo, hi) really holds every reversed value
        rev.forall(rv => cmp(lo, rv) <= 0 && cmp(rv, hi) < 0) && {
        val m = sources.GraftFileMeta("f", vs.length.toLong, 1,
          Map.empty, None, nulls = Some(Map(0 -> 0L)),
          rvstats = Map(0 -> (lo, hi)))
        val f = StringEndsWith("v", p)
        val anyMatch = vs.exists(_.endsWith(p))
        val allMatch = vs.forall(_.endsWith(p))
        (!anyMatch || GraftSinkScan.mayMatch(m, layout, f)) &&
        // the all-match proof must never claim more than the truth
        (!GraftSinkScan.mustMatchAll(m, layout, f) || allMatch) &&
        // Not-soundness: a file holding ANY non-matching value (which
        // FALSE-ifies the suffix — no NULLs here) survives the anti-probe
        (allMatch || GraftSinkScan.mayMatch(m, layout,
          org.apache.spark.sql.sources.Not(f)))
        }
      }
    }, n = 2000)
  }

  test("n-gram-bloom pruning is sound for contains/prefix/suffix/equality (round 15)") {
    // A #ngbloom fact must NEVER drop a file holding a match: a value
    // containing probe p (|p| >= w) contains every w-char window of p,
    // each of which is one of the value's own windows the writer hashed.
    // Fuzzed with full-Unicode values, widths 2..8, probes biased to
    // true substrings, against all four probe shapes.
    import org.apache.spark.sql.sources.{EqualTo => FEq,
      StringContains => FCt, StringEndsWith => FEw, StringStartsWith => FSw}
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v STRING")
    val gen = for {
      vs <- Gen.nonEmptyListOf(genValid).map(_.take(16))
      w <- Gen.choose(2, 8)
      p <- Gen.frequency(
        4 -> Gen.oneOf(vs).flatMap(v => for {
          a <- Gen.choose(0, v.length)
          b <- Gen.choose(a, v.length)
        } yield v.substring(a, b)),
        2 -> genValid,
        1 -> Gen.const(""))
    } yield (vs, w, p)
    check("ngram-prune", forAll(gen) { case (vs, w, p) =>
      // writer-exact facts: every w-window of every value, deduped, PLUS
      // the round-16 observed-alphabet fact under the writer's own emit
      // gate (complete by construction here; <= 256 chars, surrogate-free)
      val hs = vs.flatMap(v =>
        (0 to v.length - w).map(o => GraftBloom.hash(v.substring(o, o + w))))
        .distinct.toArray
      val alpha = vs.flatMap(_.toCharArray).distinct.sorted
      val ngas: Map[Int, String] =
        if (alpha.length <= 256 && !alpha.exists(Character.isSurrogate))
          Map(0 -> new String(alpha.toArray))
        else Map.empty
      val m = sources.GraftFileMeta("f", vs.length.toLong, 1,
        Map.empty, None, nulls = Some(Map(0 -> 0L)),
        ngblooms = Map(0 -> ((w, GraftBloom.build(hs)))), ngalphas = ngas)
      def keeps(f: org.apache.spark.sql.sources.Filter) =
        GraftSinkScan.mayMatch(m, layout, f)
      (!vs.exists(_.contains(p))   || keeps(FCt("v", p))) &&
      (!vs.exists(_.startsWith(p)) || keeps(FSw("v", p))) &&
      (!vs.exists(_.endsWith(p))   || keeps(FEw("v", p))) &&
      (!vs.contains(p)             || keeps(FEq("v", p))) &&
      // the alphabet gate is EXACT for single-missing-char probes: a
      // probe with any char outside the complete alphabet never matches,
      // and mayMatch must agree (prune) on every shape
      (ngas.isEmpty || p.forall(alpha.contains(_)) ||
        (!keeps(FCt("v", p)) && !keeps(FSw("v", p)) &&
         !keeps(FEw("v", p)) && !keeps(FEq("v", p))))
    }, n = 2000)
  }

  test("every saturated-marker form keeps the file on every probe shape (round 17)") {
    // `!sat` and `!sat:w<N>` are one family: present, prunes nothing,
    // decodes nothing — a marker-bearing file must survive all four
    // probe shapes at any probe length, and the codec must roundtrip
    // exactly the widths the writer can emit
    import org.apache.spark.sql.sources.{EqualTo => FEq,
      StringContains => FCt, StringEndsWith => FEw, StringStartsWith => FSw}
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v STRING")
    val gen = for {
      w <- Gen.choose(2, 8)
      sug <- Gen.option(Gen.choose(1, 16))
      p <- genValid
    } yield (w, sug, p)
    check("sat-marker", forAll(gen) { case (w, sug, p) =>
      val pay = sug.fold(GraftBloomSidecars.Saturated)(n =>
        s"${GraftBloomSidecars.Saturated}:w$n")
      val m = sources.GraftFileMeta("f", 4L, 1,
        Map.empty, None, nulls = Some(Map(0 -> 0L)),
        ngblooms = Map(0 -> ((w, pay))))
      def keeps(f: org.apache.spark.sql.sources.Filter) =
        GraftSinkScan.mayMatch(m, layout, f)
      GraftBloomSidecars.isSaturated(pay) &&
      GraftBloomSidecars.satWidth(pay) == sug &&
      keeps(FCt("v", p)) && keeps(FSw("v", p)) &&
      keeps(FEw("v", p)) && keeps(FEq("v", p))
    }, n = 1000)
    // rebuildWidth policy (ADVICE r17): suggestions win ONLY when every
    // fact is a `!sat:w<N>` marker NAMING a viable width — a healthy
    // fact pins the min recorded width, and a PLAIN `!sat` (no width
    // viable for that file's data) vetoes the siblings' suggestions
    assert(GraftBloomSidecars.rebuildWidth(
      Seq((4, "!sat:w8"), (4, "!sat"))) == 4)
    assert(GraftBloomSidecars.rebuildWidth(
      Seq((4, "!sat:w8"), (4, "QUJD"), (6, "QUJD"))) == 4)
    assert(GraftBloomSidecars.rebuildWidth(
      Seq((4, "QUJD"), (6, "QUJD"))) == 4)
    assert(GraftBloomSidecars.rebuildWidth(
      Seq((4, "!sat:w8"), (6, "!sat:w10"))) == 10)
    // a malformed suggestion parses as plain saturation -> same veto
    assert(GraftBloomSidecars.rebuildWidth(
      Seq((4, "!sat:w8"), (6, "!sat:w17"))) == 4)
    // malformed suggestions parse as plain saturation, never a width
    for (bad <- Seq("!sat:w0", "!sat:w17", "!sat:w", "!sat:wx", "!sat:8"))
      assert(GraftBloomSidecars.isSaturated(bad) &&
        GraftBloomSidecars.satWidth(bad).isEmpty, bad)
  }

  test("prefix-bloom pruning is sound for startsWith/equality/IN (round 15)") {
    // A #pbloom fact must NEVER drop a file holding a match: any value
    // that starts with probe p (|p| >= w) shares p's w-char prefix, which
    // the writer hashed; equality/IN probes are prefixes of themselves.
    // Fuzzed with full-Unicode values (astral chars exercise the split-
    // surrogate slicing, identical on writer and prober) and widths
    // across the 1..8 range, against a brute-force reference.
    import org.apache.spark.sql.sources.{EqualTo, In, StringStartsWith}
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v STRING")
    val genFile: Gen[List[String]] = Gen.nonEmptyListOf(genValid).map(_.take(24))
    val genW: Gen[Int] = Gen.oneOf(1, 2, 4, 8)
    def genProbe(vs: List[String]): Gen[String] = Gen.frequency(
      3 -> Gen.oneOf(vs).flatMap(v =>
        Gen.choose(0, v.length).map(v.substring(0, _))),
      2 -> Gen.oneOf(vs), // exact value (equality case)
      2 -> genValid,
      1 -> Gen.const(""))
    check("pbloom-prune", forAll(for {
      vs <- genFile; w <- genW; p <- genProbe(vs)
    } yield (vs, w, p)) { case (vs, w, p) =>
      // the writer's accumulation, verbatim: prefixes of values of
      // length >= w only
      val hashes = vs.filter(_.length >= w)
        .map(v => sources.GraftBloom.hash(v.substring(0, w))).toArray
      val meta = sources.GraftFileMeta("f", vs.length.toLong, 1,
        Map.empty, None, nulls = Some(Map(0 -> 0L)),
        pblooms = Map(0 -> (w, sources.GraftBloom.build(hashes))))
      val anyPrefix = vs.exists(_.startsWith(p))
      val anyEqual = vs.contains(p)
      (!anyPrefix ||
        GraftSinkScan.mayMatch(meta, layout, StringStartsWith("v", p))) &&
      (!anyEqual ||
        (GraftSinkScan.mayMatch(meta, layout, EqualTo("v", p)) &&
         GraftSinkScan.mayMatch(meta, layout, In("v", Array("zz_miss", p)))))
    }, n = 2000)
  }

  test("double envelopes: pruning/proof sound under SPARK comparison semantics") {
    // The fp counterpart of the prefix property, written after the
    // round-14 zero-sign bug: random doubles BIASED to the special values
    // (±0.0, NaN, ±Infinity, subnormals, ±MaxValue), random comparison
    // probes, mayMatch/mustMatchAll judged against a brute-force
    // reference that compares the way SPARK does (-0.0 == 0.0 via the
    // x + 0.0 identity; NaN self-equal and greatest — Double.compare
    // after normalization IS that order).
    import org.apache.spark.sql.sources.{EqualTo => FEq, GreaterThan => FGt,
      GreaterThanOrEqual => FGe, In => FIn, LessThan => FLt,
      LessThanOrEqual => FLe, Not => FNot}
    import org.apache.spark.sql.types.StructType
    val layout = StructType.fromDDL("v DOUBLE")
    val genD: Gen[Double] = Gen.frequency(
      4 -> Gen.choose(-1000.0, 1000.0),
      3 -> Gen.oneOf(0.0d, -0.0d, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, java.lang.Double.MIN_VALUE, -4.9e-324d,
        java.lang.Double.MAX_VALUE, -java.lang.Double.MAX_VALUE),
      1 -> Gen.choose(-5, 5).map(_.toDouble))
    def sparkCmp(a: Double, b: Double): Int =
      java.lang.Double.compare(a + 0.0d, b + 0.0d)
    def sat(v: Double, f: org.apache.spark.sql.sources.Filter): Boolean = f match {
      case FEq(_, x: java.lang.Double) => sparkCmp(v, x) == 0
      case FGt(_, x: java.lang.Double) => sparkCmp(v, x) > 0
      case FGe(_, x: java.lang.Double) => sparkCmp(v, x) >= 0
      case FLt(_, x: java.lang.Double) => sparkCmp(v, x) < 0
      case FLe(_, x: java.lang.Double) => sparkCmp(v, x) <= 0
      case FIn(_, xs) => xs.exists(x => sparkCmp(v, x.asInstanceOf[Double]) == 0)
      case FNot(g) => !sat(v, g) // no NULLs in this fixture: two-valued
      case other => fail(s"unexpected filter $other")
    }
    val genProbe: Gen[org.apache.spark.sql.sources.Filter] = for {
      x <- genD
      y <- genD
      f <- Gen.oneOf[org.apache.spark.sql.sources.Filter](
        FEq("v", x), FGt("v", x), FGe("v", x), FLt("v", x), FLe("v", x),
        FIn("v", Array(x, y)), FNot(FEq("v", x)), FNot(FGe("v", x)))
    } yield f
    check("double-envelopes", forAll(
        Gen.nonEmptyListOf(genD).map(_.take(16)), genProbe) { (vs, f) =>
      // the writer-canonical cell strings and the cmp-minimal envelope,
      // exactly as a real write records them
      val cells = vs.map(v => (v + 0.0d).toString)
      def c(a: String, b: String) =
        GraftSinkScan.cmpStats(org.apache.spark.sql.types.DoubleType, a, b)
      val mn = cells.reduce((a, b) => if (c(a, b) <= 0) a else b)
      val mx = cells.reduce((a, b) => if (c(a, b) >= 0) a else b)
      val m = sources.GraftFileMeta("f", vs.length.toLong, 1,
        Map(0 -> (mn, mx)), None, nulls = Some(Map(0 -> 0L)))
      val anyMatch = vs.exists(sat(_, f))
      val allMatch = vs.forall(sat(_, f))
      (!anyMatch || GraftSinkScan.mayMatch(m, layout, f)) &&
      (!GraftSinkScan.mustMatchAll(m, layout, f) || allMatch)
    }, n = 4000)
  }

  test("wide-decimal envelopes: pruning/proof sound at any precision (round 15)") {
    // decimal(38,6) cells are exact plain strings compared through
    // BigDecimal (typed, not byte-wise) — fuzz the envelope the same way
    // as doubles, biased to >19-digit unscaled magnitudes (past the Long
    // fact) and to probe literals at a DIFFERENT scale than the cells
    // (Spark may push a literal at any scale; BigDecimal cmp must not care)
    import org.apache.spark.sql.sources.{EqualTo => FEq, GreaterThan => FGt,
      GreaterThanOrEqual => FGe, In => FIn, LessThan => FLt,
      LessThanOrEqual => FLe, Not => FNot}
    import org.apache.spark.sql.types.StructType
    val dt = org.apache.spark.sql.types.DecimalType(38, 6)
    val layout = StructType(Seq(
      org.apache.spark.sql.types.StructField("v", dt)))
    val genBd: Gen[java.math.BigDecimal] = Gen.frequency(
      4 -> Gen.choose(-100000000L, 100000000L).map(
        java.math.BigDecimal.valueOf(_, 6)),
      3 -> (for { // wide: 20..32 digit unscaled values
        digits <- Gen.choose(20, 32)
        s <- Gen.listOfN(digits, Gen.numChar).map(_.mkString)
        neg <- Gen.oneOf(true, false)
      } yield new java.math.BigDecimal(
        new java.math.BigInteger((if (neg) "-" else "") + s), 6)),
      1 -> Gen.oneOf(java.math.BigDecimal.ZERO.setScale(6),
        new java.math.BigDecimal("0.000001"),
        new java.math.BigDecimal("-0.000001")))
    // a probe literal at a coarser scale (what a CAST('5000' AS ...) or a
    // plain integer literal pushes)
    val genProbeVal: Gen[java.math.BigDecimal] = Gen.oneOf(
      genBd, genBd.map(_.setScale(0, java.math.RoundingMode.DOWN)))
    def sat(v: java.math.BigDecimal,
        f: org.apache.spark.sql.sources.Filter): Boolean = f match {
      case FEq(_, x: java.math.BigDecimal) => v.compareTo(x) == 0
      case FGt(_, x: java.math.BigDecimal) => v.compareTo(x) > 0
      case FGe(_, x: java.math.BigDecimal) => v.compareTo(x) >= 0
      case FLt(_, x: java.math.BigDecimal) => v.compareTo(x) < 0
      case FLe(_, x: java.math.BigDecimal) => v.compareTo(x) <= 0
      case FIn(_, xs) => xs.exists(x =>
        v.compareTo(x.asInstanceOf[java.math.BigDecimal]) == 0)
      case FNot(g) => !sat(v, g) // no NULLs in this fixture: two-valued
      case other => fail(s"unexpected filter $other")
    }
    val genProbe: Gen[org.apache.spark.sql.sources.Filter] = for {
      x <- genProbeVal
      y <- genProbeVal
      f <- Gen.oneOf[org.apache.spark.sql.sources.Filter](
        FEq("v", x), FGt("v", x), FGe("v", x), FLt("v", x), FLe("v", x),
        FIn("v", Array[Any](x, y)), FNot(FEq("v", x)), FNot(FGe("v", x)))
    } yield f
    check("wide-decimal-envelopes", forAll(
        Gen.nonEmptyListOf(genBd).map(_.take(16)), genProbe) { (vs, f) =>
      // writer-canonical cells: plain string at the column's scale
      val cells = vs.map(_.setScale(6).toPlainString)
      def c(a: String, b: String) = GraftSinkScan.cmpStats(dt, a, b)
      val mn = cells.reduce((a, b) => if (c(a, b) <= 0) a else b)
      val mx = cells.reduce((a, b) => if (c(a, b) >= 0) a else b)
      val m = sources.GraftFileMeta("f", vs.length.toLong, 1,
        Map(0 -> (mn, mx)), None, nulls = Some(Map(0 -> 0L)))
      val anyMatch = vs.exists(sat(_, f))
      val allMatch = vs.forall(sat(_, f))
      (!anyMatch || GraftSinkScan.mayMatch(m, layout, f)) &&
      (!GraftSinkScan.mustMatchAll(m, layout, f) || allMatch)
    }, n = 4000)
  }

  test("#idx payload codec roundtrips every surface combination (round 15)") {
    // the extended header fact must parse back exactly what render wrote
    // — a drifted segment would silently stop an index being rebuilt on
    // streamed epochs — and r11-shaped two-segment lines must keep
    // parsing (legacy manifests) while r11-shaped TABLES keep writing
    // r11-shaped lines (no spurious empty segments).
    import graft.sources.{GraftIdx, GraftManifest}
    val genCols = Gen.listOf(Gen.choose(0, 40)).map(_.distinct.sorted)
    val genW = Gen.choose(1, 64)
    val genIdx: Gen[GraftIdx] = for {
      b <- genCols; n <- genCols
      pb <- genCols.flatMap(cs => Gen.sequence[Seq[(Int, Int)], (Int, Int)](
        cs.map(c => genW.map(c -> _))))
      cen <- genCols
      rg <- Gen.oneOf(true, false)
      ng <- genCols.flatMap(cs => Gen.sequence[Seq[(Int, Int)], (Int, Int)](
        cs.map(c => Gen.choose(2, 16).map(c -> _))))
    } yield GraftIdx(b, n, pb, cen, rg && cen.nonEmpty, ng)
    check("idx-roundtrip", forAll(genIdx) { ix =>
      val line = GraftManifest.renderIdx(ix)
      GraftManifest.parseIdx(line) == ix &&
      // r11 shape stays r11 when no new surface exists
      (ix.pbloom.nonEmpty || ix.cen.nonEmpty || ix.rgcen || ix.ngram.nonEmpty ||
        line == s"bloom:${ix.bloom.mkString(",")};ndv:${ix.ndv.mkString(",")}")
    }, n = 1000)
    // legacy two-segment line parses to empty new surfaces
    assert(GraftManifest.parseIdx("bloom:1,3;ndv:2") ==
      GraftIdx(Seq(1, 3), Seq(2)))
  }

  test("manifest envelope roundtrip: a real write's stats contain every row (e2e)") {
    val rnd = new scala.util.Random(14)
    val params = org.scalacheck.Gen.Parameters.default
    def sample(i: Int): String =
      genValid(params, Seed(i.toLong)).getOrElse("fallback")
    val values = (0 until 300).map(sample)
      .filter(s => !s.contains('\n') && !s.contains('\r')) // cell rule
    val dir = tmp("graft_fuzz_env")
    import spark.implicits._
    values.toDF("v").coalesce(1)
      .write.format("graft-sink").option("path", dir).mode("overwrite").save()
    val meta = GraftManifest.readVersion(dir, None).get.metas.head
    // the persisted envelope must contain every PERSISTED value: read the
    // table back (the UTF-8 funnel both rode) and compare under cmpStats
    val persisted = spark.read.format("graft-sink").option("path", dir)
      .load().collect().map(_.getString(0))
    assert(persisted.length == values.length)
    meta.stats.get(0) match {
      case Some((mn, mx)) =>
        persisted.foreach { v =>
          assert(cmp(mn, v) <= 0, s"min must be <= '$v' (min='$mn')")
          if (meta.bounds(0))
            assert(cmp(v, mx) < 0, s"bound upper must be > '$v' (max='$mx')")
          else assert(cmp(v, mx) <= 0, s"exact max must be >= '$v' (max='$mx')")
        }
        // exact stats must BE table values
        if (!meta.bounds(0))
          assert(persisted.contains(mn) && persisted.contains(mx),
            "exact stats must be actual values")
      case None =>
        // stats may be withheld ONLY when no bound upper exists for the
        // true max (a >width run of U+10FFFF) — never silently otherwise
        val trueMax = persisted.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
        assert(trueMax.length > GraftSinkWriter.ExactStatMaxLen &&
            GraftSinkWriter.upperBound(trueMax).isEmpty,
          s"stats withheld without the sanctioned reason (max='$trueMax')")
    }
  }
}
