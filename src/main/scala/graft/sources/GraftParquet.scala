package graft.sources

import java.nio.file.{Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** PARQUET data files for the graft connector (VERDICT r10 next #1/#2).
  *
  * The commit protocol, manifest grammar, stats/DV/bloom/NDV machinery and
  * every read-side planning fact are FORMAT-AGNOSTIC by design — only the
  * per-file cell codec changes. This object is that codec: real parquet
  * (parquet-mr, the same library Spark's own scan stack uses, from
  * /opt/spark/jars) written through `LocalOutputFile` (pure java.nio — no
  * Hadoop FileSystem, so no stray .crc sidecars next to the task-rename
  * protocol's tmp files) and read back with per-file COLUMN PROJECTION, so
  * a 2-column read of a 40-column table touches 2 column chunks — the
  * columnar+compressed IO story the CSV cell files could never tell at
  * 100 TB. Zstd compression (zstd-jni rides in the Spark jars).
  *
  * Physical ROW ORDER is the contract both formats share: Spark's
  * vectorized reader ([[GraftColumnar]], the one parquet row decoder)
  * serves records in file order, so the 0-based physical position —
  * the deletion-vector / `_pos` row identity — is the same counter the
  * line reader keeps, and the manifest's physical row count stays the
  * integrity check (checked against the footer's record count before any
  * row is served).
  *
  * Type mapping (the connector's widened type surface — the CSV cell
  * codec keeps its original scalars; arrays are parquet-only, there is no
  * unambiguous comma-delimited rendering of a nested value):
  *   long→INT64, double→DOUBLE, int→INT32, float→FLOAT, boolean→BOOLEAN,
  *   string→BINARY(UTF8), timestamp→INT64(TIMESTAMP_MICROS,UTC),
  *   date→INT32(DATE), decimal→INT32/INT64/FIXED_LEN_BYTE_ARRAY by
  *   precision (Spark's converter mapping), array→standard 3-level LIST,
  *   struct→group, map<string,_>→standard MAP — nested types compose to
  *   ANY depth (array<array<...>>, struct<struct<...>,array<...>>,
  *   map values of any supported type).
  * Annotations are the standard parquet logical types, so the data files
  * are readable by ANY parquet reader (DuckDB included) — the manifest
  * adds the transactional layer, it does not bespoke the bytes. */
object GraftParquet {

  /** Element types admitted inside `array<...>` columns: ANY supported
    * type, at any depth (round 12; the write path is Spark's own
    * ParquetWriteSupport and Spark's vectorized reader decodes it —
    * `array<array<bigint>>` token matrices, `array<struct<...>>`
    * per-frame records, arrays of tag maps all encode). */
  def arrayElemOk(et: DataType): Boolean = supported(et)

  /** Scalar types a leaf field can take — everything the flat scalar
    * surface encodes. */
  def scalarOk(dt: DataType): Boolean = dt match {
    case LongType | DoubleType | StringType | TimestampType | DateType |
         IntegerType | FloatType | BooleanType | BinaryType => true
    case d: DecimalType => d.precision <= 38
    case _ => false
  }

  /** Structs nest arbitrarily (round 12): every member is any supported
    * type — scalars, deeper structs, arrays, maps. Typed multimodal
    * metadata no longer flattens (a video's
    * struct<codec, frames: array<struct<ts,offset,len>>> is one column). */
  def structOk(st: StructType): Boolean =
    st.fields.nonEmpty && st.fields.forall(f => supported(f.dataType))

  /** String-keyed maps of any supported value type. Keys are REQUIRED by
    * the parquet MAP spec; Spark map keys are non-null too. */
  def mapOk(mt: MapType): Boolean =
    mt.keyType == StringType && supported(mt.valueType)

  /** True when the connector can encode `dt` in a parquet data file. */
  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => supported(et)
    case st: StructType   => structOk(st)
    case mt: MapType      => mapOk(mt)
    case _ => scalarOk(dt)
  }

  /** Open a parquet writer on a task's `.tmp` file. Zstd: the ratio knob
    * that turns the 100 TB scan bill into the columnar one.
    * `rowGroupBytes` (write option of the same name) sets the row-group
    * target size — the granularity of read-side row-group skipping; the
    * parquet default (128 MB) is right for production files, small values
    * let tests exercise multi-group files without GB fixtures.
    *
    * Writes [[InternalRow]]s DIRECTLY through Spark's own
    * `ParquetWriteSupport` (round 12) — the row-at-a-time `Group` object
    * tree the example writer required was a per-row allocation tax
    * symmetric to the read side's, and Spark's support serializes each
    * row straight into the record consumer. Schema mapping notes:
    * Spark's converter emits INT32 for decimal(p≤9) where the old
    * writer emitted INT64 — the readers branch on the file's own
    * physical type, so both generations stay readable. */
  def writer(tmp: NioPath, schema: StructType,
      rowGroupBytes: Option[Int] = None,
      bloomCols: Seq[String] = Nil): ParquetWriter[InternalRow] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    class B(out: org.apache.parquet.io.OutputFile)
        extends ParquetWriter.Builder[InternalRow, B](out) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
        new ParquetWriteSupport()
    }
    val b = new B(new LocalOutputFile(tmp))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.ZSTD)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
    rowGroupBytes.foreach(n => b.withRowGroupSize(n.toLong))
    // the table's `bloomFor` columns also get PARQUET column bloom
    // filters: at production chunk sizes the dictionary falls back to
    // plain encoding and per-group statistics are useless on unclustered
    // columns, so the bloom is what keeps an unsorted point probe from
    // decompressing every row group the file-level manifest bloom let in
    bloomCols.foreach(c => b.withBloomFilterEnabled(c, true))
    b.build()
  }

  /** Footer-only physical row count — what a zero-column scan (count(*)
    * after DV discount) needs instead of materializing any row. */
  def rowCount(file: NioPath): Long = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    try r.getRecordCount finally r.close()
  }

  /** Footer-only row-group tiling: `(start, end, rows)` per row group in
    * file order, where `[start, end)` is the byte span a RANGED read
    * addresses — parquet-mr keeps the row groups whose MIDPOINT falls in
    * the range, and `[startingPos(g), startingPos(g+1))` contains exactly
    * g's midpoint (groups are contiguous; the last group's span closes at
    * the file length, which is >= its data end). The write-side source of
    * the `#rgcen` spans (round 15). */
  def rowGroupSpans(file: NioPath): Seq[(Long, Long, Long)] = {
    val r = ParquetFileReader.open(new LocalInputFile(file))
    val blocks = try r.getFooter.getBlocks finally r.close()
    val len = java.nio.file.Files.size(file)
    (0 until blocks.size()).map { g =>
      val b = blocks.get(g)
      val end = if (g + 1 < blocks.size()) blocks.get(g + 1).getStartingPos else len
      (b.getStartingPos, end, b.getRowCount)
    }
  }

  private val spansCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Long, Long)]]()

  /** [[rowGroupSpans]] through a process-wide memo (ADVICE r15 #3):
    * the zero-column RANGED read path asks for its file's tiling once
    * per SPLIT, and a file tiled into k non-adjacent kept runs would
    * otherwise open and parse the same footer k times on top of the
    * read itself. Sound to cache because committed data files are
    * immutable (write-once `.tmp` → rename; rewrites produce new
    * names). Crude size bound like [[GraftEqDelCache]]. */
  def rowGroupSpansCached(file: NioPath): Seq[(Long, Long, Long)] = {
    if (spansCache.size > 1024) spansCache.clear()
    spansCache.computeIfAbsent(file.toString, _ => rowGroupSpans(file))
  }

  /** The file's own footer schema. Needed because COLUMN IDENTITY in this
    * connector is POSITIONAL (cells align with a prefix of the layout;
    * `#ids` column mapping lets a RENAME change the layout's NAME for a
    * position without rewriting files) — so a projection must request the
    * file's OWN name at each wanted position, never the current layout
    * name (a renamed column would otherwise fail `checkGroupContains` at
    * every pre-rename file). One extra footer read per (file, task); the
    * footer is the same object the row reader is about to read anyway,
    * sitting warm in the page cache. */
  def fileSchema(file: String): MessageType = {
    val r = ParquetFileReader.open(
      new LocalInputFile(java.nio.file.Paths.get(file)))
    try r.getFileMetaData.getSchema finally r.close()
  }

  /** Best-effort translation of the scan's pushed v1 filters into a
    * parquet [[FilterPredicate]] for ROW-GROUP (statistics + dictionary +
    * bloom) and page skipping inside a surviving data file. The
    * vectorized reader filters no single record: Spark re-applies every
    * filter residually.
    *
    * Soundness rules:
    *  - every translated predicate selects a SUPERSET-or-equal row set of
    *    the SQL filter (Spark re-applies all filters residually, so extra
    *    survivors cost only CPU, never correctness);
    *  - a conjunct that cannot be translated is DROPPED (And keeps the
    *    translatable side); an Or translates only if BOTH sides do;
    *  - NOT / notEq are never emitted for values (parquet's two-valued
    *    predicate semantics keep NULL cells under notEq, which diverges
    *    from SQL three-valued logic) — the only notEq formed is the
    *    well-defined `notEq(col, null)` for IsNotNull;
    *  - a filter column must be IN THE PROJECTION (`projected`, layout
    *    positions): parquet validates filter columns against the
    *    requested schema. Spark always projects residual-filter
    *    columns, so this only drops conjuncts on pre-evolution files
    *    where the column is beyond the file's width — exactly the files
    *    file-level skipping already handles.
    * Values go through [[GraftSinkScan.canon]], the same canonicalization
    * every manifest-stats comparison uses (timestamp→micros, date→days).
    * Column names bind POSITIONALLY to the file's own footer fields
    * (`#ids` column mapping: a layout rename never touches data files). */
  def filterPredicate(fileMt: MessageType, layout: StructType,
      projected: Set[Int],
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.spark.sql.sources._
    def bind(c: String): Option[(String, DataType)] =
      scala.util.Try(layout.fieldIndex(c)).toOption
        .filter(projected.contains)
        .map(li => (fileMt.getFields.get(li).getName, layout.fields(li).dataType))
    def cmpPred(c: String, dt: DataType, op: String, v: Any): Option[FilterPredicate] = {
      if (v == null) return None
      // an unexpected literal form (canon can't parse it) must degrade to
      // no-pushdown, never fail the scan — hence the Try around the match
      scala.util.Try {
      def pick[T <: Comparable[T], C <: org.apache.parquet.filter2.predicate.Operators.Column[T]
          with org.apache.parquet.filter2.predicate.Operators.SupportsLtGt](
          col: C, jv: T): Option[FilterPredicate] = op match {
        case "eq" => Some(FilterApi.eq(col, jv))
        case "gt" => Some(FilterApi.gt(col, jv))
        case "ge" => Some(FilterApi.gtEq(col, jv))
        case "lt" => Some(FilterApi.lt(col, jv))
        case "le" => Some(FilterApi.ltEq(col, jv))
        case _    => None
      }
      dt match {
        case LongType | TimestampType =>
          pick(FilterApi.longColumn(c),
            java.lang.Long.valueOf(GraftSinkScan.canon(dt, v).toLong))
        case DateType | IntegerType =>
          pick(FilterApi.intColumn(c),
            java.lang.Integer.valueOf(GraftSinkScan.canon(dt, v).toInt))
        // a ZERO literal stays untranslated: parquet's Double/Float
        // ordering separates -0.0 from 0.0 while Spark's equates them, so
        // a pushed predicate at the zero boundary could over-EXCLUDE rows
        // (e.g. eq(0.0) skipping a group of physical -0.0 Spark would
        // match) — and skipped rows are not resurrected by the residual
        // filter. NaN is consistent both sides (greatest,
        // self-equal) and parquet-mr withholds stats on NaN-bearing
        // groups, so it may translate.
        case DoubleType => v match {
          case d: java.lang.Double if d.doubleValue() != 0.0d =>
            pick(FilterApi.doubleColumn(c), d)
          case _ => None
        }
        case FloatType => v match {
          case f: java.lang.Float if f.floatValue() != 0.0f =>
            pick(FilterApi.floatColumn(c), f)
          case _ => None
        }
        case StringType =>
          pick(FilterApi.binaryColumn(c), Binary.fromString(v.toString))
        case BooleanType if op == "eq" => v match {
          case b: java.lang.Boolean => Some(FilterApi.eq(FilterApi.booleanColumn(c), b))
          case _ => None
        }
        case _ => None // decimal/binary/array: out of scope, stay residual
      }
      }.toOption.flatten
    }
    def nullPred(c: String, dt: DataType, isNull: Boolean): Option[FilterPredicate] = {
      def mk[T <: Comparable[T], C <: org.apache.parquet.filter2.predicate.Operators.Column[T]
          with org.apache.parquet.filter2.predicate.Operators.SupportsEqNotEq](
          col: C): FilterPredicate =
        if (isNull) FilterApi.eq(col, null.asInstanceOf[T])
        else FilterApi.notEq(col, null.asInstanceOf[T])
      import org.apache.parquet.filter2.predicate.Operators
      dt match {
        case LongType | TimestampType =>
          Some(mk[java.lang.Long, Operators.LongColumn](FilterApi.longColumn(c)))
        case DateType | IntegerType =>
          Some(mk[java.lang.Integer, Operators.IntColumn](FilterApi.intColumn(c)))
        case DoubleType =>
          Some(mk[java.lang.Double, Operators.DoubleColumn](FilterApi.doubleColumn(c)))
        case FloatType =>
          Some(mk[java.lang.Float, Operators.FloatColumn](FilterApi.floatColumn(c)))
        case BooleanType =>
          Some(mk[java.lang.Boolean, Operators.BooleanColumn](FilterApi.booleanColumn(c)))
        case StringType =>
          Some(mk[Binary, Operators.BinaryColumn](FilterApi.binaryColumn(c)))
        case _ => None
      }
    }
    def tr(f: Filter): Option[FilterPredicate] = f match {
      case And(l, r) => (tr(l), tr(r)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b) // keep the translatable conjunct
      }
      case Or(l, r) => for { a <- tr(l); b <- tr(r) } yield FilterApi.or(a, b)
      case EqualTo(c, v) => bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "eq", v) }
      case EqualNullSafe(c, null) =>
        bind(c).flatMap { case (n, dt) => nullPred(n, dt, isNull = true) }
      case EqualNullSafe(c, v) =>
        bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "eq", v) }
      case GreaterThan(c, v) => bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "gt", v) }
      case GreaterThanOrEqual(c, v) =>
        bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "ge", v) }
      case LessThan(c, v) => bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "lt", v) }
      case LessThanOrEqual(c, v) =>
        bind(c).flatMap { case (n, dt) => cmpPred(n, dt, "le", v) }
      case In(c, vs) => bind(c).flatMap { case (n, dt) =>
        // null members never MATCH a row (SQL In yields unknown→dropped),
        // so eliding them keeps the superset rule; cap the or-chain width
        val ps = vs.toSeq.filter(_ != null).map(v => cmpPred(n, dt, "eq", v))
        if (ps.isEmpty || ps.size > 20 || ps.exists(_.isEmpty)) None
        else Some(ps.flatten.reduce(FilterApi.or))
      }
      case IsNull(c)    => bind(c).flatMap { case (n, dt) => nullPred(n, dt, isNull = true) }
      case IsNotNull(c) => bind(c).flatMap { case (n, dt) => nullPred(n, dt, isNull = false) }
      // a prefix probe is the binary range [p, succ(p)) — UTF-8 byte order
      // IS code-point order on clean strings, so parquet's own row-group
      // min/max engage for `LIKE 'p%'` exactly like a range; the range
      // equals the prefix set (backoff only forces max-code-point tails),
      // and Spark re-applies the filter residually regardless. A prefix
      // with an unpaired surrogate (unreachable from Spark) stays
      // untranslated rather than mis-encoding through UTF-8.
      case StringStartsWith(c, p)
          if p != null && p.nonEmpty && GraftSinkWriter.pairedSurrogates(p) =>
        bind(c).collect { case (n, StringType) =>
          val col = FilterApi.binaryColumn(n)
          val lo: FilterPredicate = FilterApi.gtEq(col, Binary.fromString(p))
          GraftSinkWriter.upperBound(p, math.max(p.length, 1)) match {
            case Some(u) => FilterApi.and(lo, FilterApi.lt(col, Binary.fromString(u)))
            case None    => lo
          }
        }
      case _ => None
    }
    filters.flatMap(tr(_)).reduceOption(FilterApi.and)
  }
}

/** Table data-file format registry: the `format` write option / `#format`
  * manifest header. Reads never consult it — the reader branches on each
  * file's own suffix, so a table whose format changed mid-history (or a
  * compaction that migrated it) stays readable file by file. */
object GraftFormat {
  val Csv = "csv"
  val Parquet = "parquet"
  /** Parquet is the default: columnar, compressed, comma-safe — the only
    * defensible data-file format at the engine's declared 100 TB scale.
    * `format=csv` keeps the v1 line codec available (its value is the
    * human-auditable commit-protocol fixture, not production IO). */
  val Default: String = Parquet

  def suffix(fmt: String): String = fmt match {
    case Csv     => ".csv"
    case Parquet => ".parquet"
    case other => throw new IllegalArgumentException(
      s"graft-sink: unknown format '$other' (csv|parquet)")
  }

  def isDataFile(name: String): Boolean =
    name.endsWith(".csv") || name.endsWith(".parquet")

  /** Writer-side resolution: explicit option > the table's committed
    * `#format` header > the default. */
  def resolve(opt: Option[String], path: String): String = {
    val fmt = opt
      .orElse(GraftManifest.versions(path).lastOption
        .flatMap(v => GraftManifest.headerFacts(path, v).format))
      .getOrElse(Default)
    suffix(fmt) // validates
    fmt
  }
}
