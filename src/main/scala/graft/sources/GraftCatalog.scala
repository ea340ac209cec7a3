package graft.sources

import java.io.File
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 [[TableCatalog]] over graft-sink versioned tables — the
  * SQL half of the lakehouse surface. Registered via
  * `spark.sql.catalog.<name>=graft.sources.GraftCatalog` (+
  * `spark.sql.catalog.<name>.root=<dir>`), it maps `name.ns.tbl` to the
  * directory `<root>/ns/tbl` and serves the SAME [[GraftSinkTable]] the
  * path-based reads use — so every connector capability (versioned
  * commits, stats skipping, schema evolution, streaming) is reachable
  * from plain SQL:
  *
  *  - `SELECT ... FROM cat.ns.t` resolves the head snapshot;
  *    `VERSION AS OF n` pins a version (Spark routes it to
  *    `loadTable(ident, version)`), `TIMESTAMP AS OF ts` arrives as
  *    MICROseconds and resolves through the manifests' strictly-
  *    increasing commit clocks ([[GraftManifest.resolveTimestamp]]);
  *  - `INSERT INTO cat.ns.t ...` appends a new version through the
  *    connector's normal commit protocol (link(2)-CAS manifest claim);
  *  - `CREATE TABLE` commits version 1 as an EMPTY manifest carrying the
  *    declared schema DDL — the table is self-describing from birth, and
  *    a first INSERT appends version 2 without schema guessing;
  *  - `DROP TABLE` removes the directory (no external metastore state to
  *    reconcile — the manifest IS the metadata, so drop is local).
  *
  * No persistent catalog state exists outside the table directories:
  * `listTables` is a directory listing filtered to dirs with a committed
  * manifest. That is the design point — the catalog is a NAMING layer
  * over self-describing tables, exactly the posture a 100 TB object-store
  * layout wants (any engine that can read manifests can mount the same
  * root). */
private[sources] object GraftFs {
  /** Recursive directory delete (symlink-agnostic, best-effort like
    * File.delete) — shared by DROP TABLE, staged-create abort, and the
    * binpack temp cleanup. */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(); ()
  }
}

object GraftCatalog {
  /** Spark-injected reserved keys a CREATE TABLE carries that are NOT
    * user table properties (they describe the catalog entry, not the
    * table): never persisted into the `#prop=` set. */
  private val ReservedProps = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
    "transient_lastDdlTime")

  private[sources] def validProp(k: String, v: String): Unit = {
    require(k != null && k.matches("[A-Za-z0-9._-]+"),
      s"graft catalog: property key '$k' must be [A-Za-z0-9._-]+ " +
        "(it lands verbatim in a manifest header line)")
    require(v != null && v.indexOf('\n') < 0 && v.indexOf('\r') < 0,
      s"graft catalog: property value for '$k' may not contain a newline")
  }

  private[sources] def userProps(
      properties: JMap[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val m = properties.asScala.toMap -- ReservedProps
    m.foreach { case (k, v) => validProp(k, v) }
    m
  }
}

class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"graft catalog '$name' requires spark.sql.catalog.$name.root=<dir>"))
  }
  override def name(): String = catName

  /** Identifier segment → path segment, refusing anything that could
    * escape the catalog root: backticked identifiers let arbitrary bytes
    * through the parser, so `DROP TABLE cat.db.`../../x`` would otherwise
    * resolve — and recursively DELETE — a directory outside `root`. */
  private def segment(s: String): String = {
    require(s.nonEmpty && s != "." && s != ".." &&
        !s.contains('/') && !s.contains('\\'),
      s"graft catalog: illegal identifier segment '$s' " +
        "(empty, '.', '..', '/' and '\\' cannot name a table directory)")
    s
  }

  private def dirOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq.map(segment) :+ segment(ident.name)).mkString("/")

  private def load(ident: Identifier, version: Option[Int]): Table = {
    val path = dirOf(ident)
    // header-only schema read: loading a table must not fold the full
    // file list of a 100k-file manifest just to learn its DDL
    val vs = GraftManifest.versions(path)
    val v = version.getOrElse(
      if (vs.isEmpty) throw new NoSuchTableException(ident) else vs.max)
    if (!vs.contains(v)) throw new NoSuchTableException(ident)
    new GraftSinkTable(path,
      GraftManifest.headerSchema(path, v).getOrElse(new StructType()), version)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)
  /** `VERSION AS OF` accepts a version number or a TAG name
    * (`VERSION AS OF 'baseline'` resolves through `_ref-baseline`).
    * A MISSING table throws [[NoSuchTableException]] BEFORE version/tag
    * resolution (ADVICE r9): resolveVersionOrRef's "neither a version
    * nor a tag" IllegalArgumentException would otherwise leak out of a
    * time-travel read of a table that simply does not exist, breaking
    * the TableCatalog error contract Spark's analyzer matches on. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    load(ident, Some(GraftManifest.resolveVersionOrRef(dirOf(ident), version)))
  }
  /** SQL `TIMESTAMP AS OF` hands the catalog MICROseconds since epoch;
    * manifest commit clocks are millis. Missing-table contract as above. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    load(ident, Some(GraftManifest.resolveTimestamp(dirOf(ident), timestamp / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftManifest.versions(dirOf(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] =
    // segment() on every namespace part: a backticked `..`/`/` segment
    // must not list directories outside the catalog root (the same
    // traversal guard every other entry point applies through dirOf)
    Option(new File((root +: namespace.toSeq.map(segment)).mkString("/"))
        .listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && GraftManifest.versions(f.getPath).nonEmpty)
      .map(f => Identifier.of(namespace, f.getName))

  /** `PARTITIONED BY (col)` / `PARTITIONED BY (bucket(n, col))` → the
    * manifest's `#partspec` header fact. The declared layout is TABLE
    * metadata: every write without an explicit partitionBy option
    * conforms to it, so plain `INSERT INTO` lands the promised layout
    * (and bucket SPJ works from pure SQL end to end). */
  private def specOf(partitions: Array[Transform], schema: StructType)
      : Option[String] = {
    require(partitions.length <= 1,
      "graft catalog: at most one partition transform (identity column or bucket(n, col))")
    partitions.headOption.map { t =>
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"graft catalog: partition transform must reference one top-level column, got $t")
      val c = refs(0).fieldNames()(0)
      val dt = scala.util.Try(schema(schema.fieldIndex(c)).dataType).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: partition column '$c' not in ${schema.toDDL}"))
      require(dt == LongType || dt == StringType,
        s"graft catalog: partitioning supports long/string columns, got $dt for '$c'")
      t.name match {
        case "identity" => c
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value().toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"graft catalog: bucket transform carries no numBuckets literal: $t"))
          require(n > 0, s"graft catalog: bucket($n, $c) needs numBuckets > 0")
          GraftBucket.manifestForm(n, c)
        case other => throw new UnsupportedOperationException(
          s"graft catalog: unsupported partition transform '$other' " +
            "(have identity columns and bucket(n, col))")
      }
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val spec = specOf(partitions, schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // version 1 = empty manifest carrying the declared schema: the table
    // is self-describing before any row lands. expectedBase=0 makes the
    // create ATOMIC with the exists-check above: of two racing CREATEs
    // both passing the check, the link(2) loser throws here instead of
    // silently appending an empty v2 under the winner's schema.
    try GraftManifest.commitMetas(dirOf(ident), Seq.empty, schema.toDDL,
      truncate = false, expectedBase = Some(0), op = Some("CREATE TABLE"),
      partSpecSet = Some(spec),
      propsSet = Some(GraftCatalog.userProps(properties)))
    catch {
      case _: java.util.ConcurrentModificationException =>
        throw new TableAlreadyExistsException(ident)
    }
    new GraftSinkTable(dirOf(ident), schema, None)
  }

  /** `ALTER TABLE ... ADD COLUMNS (...)`: the one schema change the
    * sink's evolution rule admits — trailing nullable columns — wired to
    * the SQL surface. Implemented as an EMPTY `evolveSchema` append:
    * the next version carries the widened schema and no files, so every
    * committed file keeps the width it was written with and reads the
    * new columns as NULL (exactly the write-option machinery,
    * [[GraftManifest.commitMetas]] evolve=true). Anything else — drops,
    * renames, retypes, FIRST/AFTER positioning — would break committed
    * files' cell alignment and is refused loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val vs = GraftManifest.versions(dir)
    if (vs.isEmpty) throw new NoSuchTableException(ident)
    changes match {
      case Seq(r: TableChange.RenameColumn) => return renameColumn(ident, dir, r)
      case Seq(d: TableChange.DeleteColumn) => return dropColumn(ident, dir, d)
      // SET/UNSET TBLPROPERTIES (round 14): a metadata-only commit
      // replacing the `#prop=` set — the durable half of the
      // auto-maintenance policy surface (a property-carrying table
      // sweeps under ANY writer, options or not), and ordinary
      // table-metadata bookkeeping (Delta/Iceberg TBLPROPERTIES role)
      case cs if cs.nonEmpty && cs.forall(c =>
          c.isInstanceOf[TableChange.SetProperty] ||
            c.isInstanceOf[TableChange.RemoveProperty]) =>
        val head = GraftManifest.headerFacts(dir, vs.max)
        val next = cs.foldLeft(head.props) {
          case (m, sp: TableChange.SetProperty) =>
            GraftCatalog.validProp(sp.property(), sp.value())
            m + (sp.property() -> sp.value())
          case (m, rp: TableChange.RemoveProperty) => m - rp.property()
          case (m, _) => m
        }
        // CAS on the version the fold read (ADVICE r14): property commits
        // are read-modify-write over the whole `#prop=` set, so two
        // concurrent ALTERs would silently drop one side's keys without
        // the expectedBase guard. The ConcurrentModificationException it
        // raises is the retryable-conflict signal, same as createTable.
        GraftManifest.commitMetas(dir, Seq.empty,
          head.schemaDdl.getOrElse(throw new IllegalStateException(
            s"graft catalog: $ident carries no schema")),
          truncate = false, expectedBase = Some(vs.max),
          op = Some("SET TBLPROPERTIES"), propsSet = Some(next))
        val schema = GraftManifest.headerSchema(dir, vs.max).getOrElse(
          throw new IllegalStateException(s"graft catalog: $ident carries no schema"))
        return new GraftSinkTable(dir, schema, None)
      case _ => ()
    }
    val prior = GraftManifest.headerSchema(dir, vs.max).getOrElse(
      throw new IllegalStateException(s"graft catalog: $ident carries no schema"))
    val added = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "graft catalog: ADD COLUMNS supports " +
          s"top-level columns only, got '${a.fieldNames.mkString(".")}'")
        require(a.position == null,
          "graft catalog: ADD COLUMNS appends trailing columns only (no FIRST/AFTER)")
        require(a.isNullable,
          "graft catalog: added columns must be nullable — existing rows read NULL there")
        org.apache.spark.sql.types.StructField(a.fieldNames.head, a.dataType,
          nullable = true)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER ($other) — trailing ADD COLUMNS and " +
          "RENAME COLUMN are metadata-only, DROP COLUMN rewrites once " +
          "(retypes/reorders are refused: they would break cell alignment)")
    }
    // a duplicate name would commit a schema whose fieldIndex resolves to
    // the NEW (beyond-every-file-width) slot — every existing value of the
    // original column would silently read back NULL. Spark's SQL analyzer
    // guards its own path; the direct TableCatalog API must guard too.
    val names = prior.fieldNames.toSeq ++ added.map(_.name)
    require(names.distinct.size == names.size,
      s"graft catalog: ADD COLUMNS would duplicate column name(s) " +
        names.diff(names.distinct).distinct.mkString("'", "', '", "'"))
    val widened = StructType(prior.fields ++ added)
    GraftManifest.commitMetas(dir, Seq.empty, widened.toDDL,
      truncate = false, evolve = true, op = Some("ADD COLUMNS"))
    new GraftSinkTable(dir, widened, None)
  }

  /** `ALTER TABLE ... RENAME COLUMN a TO b` — METADATA-ONLY via COLUMN
    * MAPPING: cells are positional, so a rename never touches a data
    * file; the new head republishes the snapshot under the renamed DDL
    * while the column's STABLE FIELD ID (`#ids=` manifest line) is
    * carried unchanged — the logical identity survives the rename, and a
    * later ADD COLUMNS of the old name takes a FRESH id, so it can never
    * alias the renamed column's data (the Delta/Iceberg column-mapping
    * guarantee). Per-file partition entries keyed by the old name remap
    * in the same commit so exact-value pruning and partition-aligned
    * fast paths survive. Time travel reads each version under the name
    * it was committed with. Renaming a CHECK-constrained column is
    * refused (drop the constraint first — a silently stale expression
    * would stop enforcing); destructive drops stay refused entirely. */
  private def renameColumn(ident: Identifier, dir: String,
      r: TableChange.RenameColumn): Table = {
    require(r.fieldNames.length == 1, "graft catalog: RENAME COLUMN supports " +
      s"top-level columns only, got '${r.fieldNames.mkString(".")}'")
    val from = r.fieldNames.head
    val to = r.newName
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new NoSuchTableException(ident))
    val schema = GraftManifest.headerSchema(dir, head.version).getOrElse(
      throw new IllegalStateException(s"graft catalog: $ident carries no schema"))
    val i = scala.util.Try(schema.fieldIndex(from)).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: no column '$from' in ${schema.toDDL}"))
    require(!schema.fieldNames.contains(to),
      s"graft catalog: column '$to' already exists")
    require(!GraftSinkScan.Reserved.contains(to),
      s"graft catalog: '$to' is reserved for virtual read columns")
    head.checks.find { case (_, e) => GraftCheck.columnOf(e) == from }.foreach {
      case (n, _) => throw new IllegalArgumentException(
        s"graft catalog: column '$from' is constrained by check '$n' — " +
          "CALL drop_constraint first, then re-add against the new name")
    }
    val renamed = StructType(schema.fields.updated(i, schema.fields(i).copy(name = to)))
    val metas = head.metas.map(m => m.partition match {
      case Some((pc, pv)) if pc == from => m.copy(partition = Some((to, pv)))
      // a bucket(n, src) layout remaps its SOURCE column name too — the
      // transform string is the stored partition name
      case Some((pc, pv)) if GraftBucket.parse(pc).exists(_._2 == from) =>
        val n = GraftBucket.parse(pc).get._1
        m.copy(partition = Some((GraftBucket.manifestForm(n, to), pv)))
      case _ => m
    })
    val ids = head.ids.getOrElse(schema.fields.indices.toSeq)
    GraftManifest.commitMetas(dir, metas, renamed.toDDL, truncate = true,
      expectedBase = Some(head.version), op = Some("RENAME COLUMN"),
      idsOverride = Some(ids))
    new GraftSinkTable(dir, renamed, None)
  }

  /** `ALTER TABLE ... DROP COLUMN c` — an honest COPY-ON-WRITE rewrite:
    * the surviving columns rewrite once (preserving the table's
    * partition layout) and commit as one conditioned truncate carrying
    * the SURVIVORS' original field ids — the column-mapping promise
    * (`sink_column_rename`) holds across a drop, so a later ADD COLUMNS
    * can never alias the dropped column's storage. A metadata-only drop
    * was evaluated and REJECTED: cells are positional, so a trailing
    * drop followed by ADD COLUMNS would silently read the dropped
    * column's bytes as the new column (DECISIONS.md round 10). Old
    * versions still serve the dropped column via time travel. Refused
    * while a CHECK constrains the column or the partition layout hashes
    * on it. */
  private def dropColumn(ident: Identifier, dir: String,
      d: TableChange.DeleteColumn): Table = {
    require(d.fieldNames.length == 1, "graft catalog: DROP COLUMN supports " +
      s"top-level columns only, got '${d.fieldNames.mkString(".")}'")
    val c = d.fieldNames.head
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new NoSuchTableException(ident))
    val schema = GraftManifest.headerSchema(dir, head.version).getOrElse(
      throw new IllegalStateException(s"graft catalog: $ident carries no schema"))
    val i = scala.util.Try(schema.fieldIndex(c)).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: no column '$c' in ${schema.toDDL}"))
    require(schema.length > 1, "graft catalog: cannot drop the only column")
    head.checks.find { case (_, e) => GraftCheck.columnOf(e) == c }.foreach {
      case (n, _) => throw new IllegalArgumentException(
        s"graft catalog: column '$c' is constrained by check '$n' — " +
          "CALL drop_constraint first")
    }
    val layoutCols = (head.partSpec.toSeq ++
      head.metas.flatMap(_.partition.map(_._1))).distinct
      .map(pc => GraftBucket.parse(pc).map(_._2).getOrElse(pc))
    require(!layoutCols.contains(c),
      s"graft catalog: '$c' carries the table's partition layout — " +
        "rewrite the layout first (OPTIMIZE with a new partitioning)")
    import org.apache.spark.sql.functions.col
    val spark = org.apache.spark.sql.SparkSession.active
    val remaining = schema.fieldNames.filterNot(_ == c)
    val narrowed = StructType(schema.fields.filterNot(_.name == c))
    val survivorIds = head.ids.getOrElse(schema.fields.indices.toSeq)
      .zipWithIndex.collect { case (id, j) if j != i => id }
    // rewrite into a temp dir, move in under collision-free names, and
    // publish with ONE conditioned commit (the binpack pattern): a lost
    // race deletes the moved files instead of stranding orphans
    val snapshot = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", head.version.toString).load()
      .select(remaining.map(col): _*)
    val keepLayout = {
      val ps = head.metas.flatMap(_.partition.map(_._1)).distinct
      if (ps.size == 1 && head.metas.forall(_.partition.isDefined)) Some(ps.head)
      else head.partSpec
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-dropcol").toString
    try {
      // the rewrite lands in the TABLE's data-file format (the tmp dir has
      // no manifest to inherit from, so pass the head's fact explicitly)
      // — and CARRIES the surviving columns' indexes (round-16b review:
      // a DROP COLUMN that forfeits every other column's bloom/NDV/
      // centroid facts is maintenance making the table worse, the exact
      // failure carryIndexes exists to prevent; the dropped column's own
      // facts are excluded — its data is gone)
      val w = GraftMaintenance.carryIndexes(head,
        snapshot.write.format("graft-sink").option("path", tmp)
          .option("format", head.format.getOrElse(GraftFormat.Default)),
        except = Set(c))
      keepLayout.fold(w)(pc => w.option("partitionBy", pc))
        .mode("overwrite").save()
      val (moved, movedNames) = GraftMaintenance.moveRewrite(tmp, dir,
        s"d${head.version}", GraftManifest.readVersion(tmp, None).get.metas)
      try GraftManifest.commitMetas(dir, moved, narrowed.toDDL, truncate = true,
        expectedBase = Some(head.version), op = Some("DROP COLUMN"),
        idsOverride = Some(survivorIds),
        checksOverride = Some(head.checks),
        partSpecSet = Some(head.partSpec))
      catch {
        case e: Throwable =>
          movedNames.foreach(n => java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(dir, n)))
          throw e
      }
      new GraftSinkTable(dir, narrowed, None)
    } finally GraftFs.deleteTree(new java.io.File(tmp))
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS ------------------------
  // Without staging, Spark's CREATE OR REPLACE TABLE ... AS SELECT falls
  // back to drop + create — which on a versioned table DESTROYS history.
  // Staged, the replacement is just an overwrite COMMIT: the data write
  // lands as one version conditioned on the head the replace staged
  // against (CAS + the rewrite conflict rule), every prior version stays
  // time-travelable, and a failed write leaves the table untouched.
  // Staged CREATE makes CTAS atomic the same way: the single commit
  // claims version 1, so no reader ever observes an empty created table,
  // and a racing CREATE loses the link(2) claim instead of interleaving.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    val spec = specOf(partitions, schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(dirOf(ident), schema, replacing = false,
      baseAtStage = 0, label = "CREATE TABLE AS SELECT", spec = spec,
      props = GraftCatalog.userProps(properties))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    val spec = specOf(partitions, schema)
    val vs = GraftManifest.versions(dirOf(ident))
    if (vs.isEmpty) throw new NoSuchTableException(ident)
    new GraftStagedTable(dirOf(ident), schema, replacing = true,
      baseAtStage = vs.max, label = "REPLACE TABLE", spec = spec,
      props = GraftCatalog.userProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): StagedTable = {
    val spec = specOf(partitions, schema)
    val vs = GraftManifest.versions(dirOf(ident))
    // the audit label records what actually happened: creating a missing
    // table is a create, not a replace
    new GraftStagedTable(dirOf(ident), schema, replacing = vs.nonEmpty,
      baseAtStage = vs.lastOption.getOrElse(0),
      label = if (vs.nonEmpty) "REPLACE TABLE" else "CREATE TABLE AS SELECT",
      spec = spec, props = GraftCatalog.userProps(properties))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = new File(dirOf(ident))
    val existed = tableExists(ident)
    if (existed) GraftFs.deleteTree(d)
    existed
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog: rename not supported")

  // ---- FunctionCatalog: the bucket() transform for storage-partitioned joins ----
  // Spark resolves a scan's reported bucket(n, col) partitioning into a
  // catalyst TransformExpression THROUGH the table's catalog (the
  // Iceberg SPJ arrangement) — without this, a bucketed graft table
  // could never prove two sides share a layout. `loadFunction` accepts
  // the name in any namespace because V2ExpressionUtils resolves
  // transform functions with an empty one.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket")) else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketUnbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- SQL procedures: the table-maintenance verbs as `CALL cat.system.*` ----

  private[sources] def dirForName(table: String): String =
    (root +: table.split('.').toSeq.map(segment)).mkString("/")

  /** Catalog root dir — where multi-table transaction markers live. */
  private[sources] def rootDir: String = root

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("vacuum", "restore", "optimize", "compact_index", "history",
        "tag", "drop_tag", "tags",
        "add_constraint", "drop_constraint", "constraints", "files", "partitions",
        "wap_publish", "wap_abort", "txn_publish",
        "clone", "set_partition_spec", "orphans", "fast_forward", "maintenance")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft catalog procedures live in the 'system' namespace, got $ident")
    ident.name match {
      case "vacuum"   => new GraftVacuumProcedure(this)
      case "restore"  => new GraftRestoreProcedure(this)
      case "optimize" => new GraftOptimizeProcedure(this)
      case "history"  => new GraftHistoryProcedure(this)
      case "tag"      => new GraftTagProcedure(this)
      case "drop_tag" => new GraftDropTagProcedure(this)
      case "tags"     => new GraftTagsProcedure(this)
      case "add_constraint"  => new GraftAddConstraintProcedure(this)
      case "drop_constraint" => new GraftDropConstraintProcedure(this)
      case "constraints"     => new GraftConstraintsProcedure(this)
      case "files"           => new GraftFilesProcedure(this)
      case "partitions"      => new GraftPartitionsProcedure(this)
      case "wap_publish"     => new GraftWapProcedure(this, publish = true)
      case "wap_abort"       => new GraftWapProcedure(this, publish = false)
      case "txn_publish"     => new GraftTxnPublishProcedure(this)
      case "clone"           => new GraftCloneProcedure(this)
      case "set_partition_spec" => new GraftSetPartitionSpecProcedure(this)
      case "orphans"         => new GraftOrphansProcedure(this)
      case "fast_forward"    => new GraftFastForwardProcedure(this)
      case "maintenance"     => new GraftMaintenanceProcedure(this)
      case "compact_index"   => new GraftCompactIndexProcedure(this)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: no procedure system.$other " +
          "(have vacuum, restore, optimize, compact_index, history, tag, " +
          "drop_tag, tags, add_constraint, drop_constraint, constraints, " +
          "files, partitions, wap_publish, wap_abort, txn_publish, clone, " +
          "set_partition_spec, orphans, fast_forward, maintenance)")
    }
  }
}

/** A staged CTAS/RTAS target ([[StagedTable]]): the data write commits the
  * whole operation as ONE version — `truncate` semantics for a replace
  * (prior versions stay readable; the commit is conditioned on the head
  * the replace staged against, so a concurrent commit throws instead of
  * being silently discarded), a version-1 claim for a create (a racing
  * CREATE loses the link(2) CAS). A stage that never writes (plain
  * `REPLACE TABLE` DDL, or an aborted query) is settled by
  * commitStagedChanges/abortStagedChanges below. */
private[sources] class GraftStagedTable(dir: String, schema: StructType,
    replacing: Boolean, baseAtStage: Int, label: String,
    spec: Option[String] = None,
    props: Map[String, String] = Map.empty)
    extends GraftSinkTable(dir, schema, None) with StagedTable {
  @volatile private var wrote = false

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    // SupportsTruncate because the atomic RTAS plan writes truncate-style;
    // the staged commit is ALREADY replace-shaped (truncate = `replacing`,
    // conditioned on the staged base), so the call itself is a no-op —
    // what makes the replace atomic is the conditioned manifest claim,
    // not the write mode.
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        info.schema().fieldNames.find(GraftSinkScan.Reserved.contains).foreach { c =>
          throw new IllegalArgumentException(
            s"graft-sink: '$c' is reserved for virtual read columns") }
        private val tag = info.queryId().replaceAll("[^0-9a-zA-Z]", "").take(8)
        // same write distribution the ordinary builder declares: an
        // identity-partitioned CTAS clusters on its column (one file per
        // value); bucket layouts stay unshaped (no FunctionCatalog on
        // the write relation)
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          spec.filter(GraftBucket.parse(_).isEmpty)
            .map(c => org.apache.spark.sql.connector.distributions.Distributions
              .clustered(Array(
                org.apache.spark.sql.connector.expressions.Expressions.identity(c))))
            .getOrElse(org.apache.spark.sql.connector.distributions.Distributions
              .unspecified())
        override def distributionStrictlyRequired(): Boolean = false
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        override def toBatch: BatchWrite = {
          wrote = true
          // the staged data write both CONFORMS to the declared layout
          // (partCol) and RECORDS it (#partspec) in the same commit
          // ... and DECLARES the staged TBLPROPERTIES in the same
          // commit (a CTAS/REPLACE with TBLPROPERTIES must not silently
          // drop them; a REPLACE with none declares property-free)
          new GraftSinkBatchWrite(dir, info.schema(), replacing, tag,
            Some(baseAtStage), evolve = false, partCol = spec,
            opLabel = Some(label), declaredSpec = Some(spec),
            propsSet = Some(props))
        }
      }
    }

  /** Settle a stage with no data write: plain `REPLACE TABLE` DDL (and,
    * defensively, a CTAS whose write never ran) commits the declared
    * schema as an empty snapshot under the same conditioned claim. */
  override def commitStagedChanges(): Unit = {
    if (!wrote)
      GraftManifest.commitMetas(dir, Seq.empty, schema.toDDL,
        truncate = replacing, expectedBase = Some(baseAtStage), op = Some(label),
        partSpecSet = Some(spec),
        // the no-write settle declares the staged TBLPROPERTIES exactly
        // like the write path (round-16b review: omitting propsSet here
        // let a plain `REPLACE TABLE ... TBLPROPERTIES(...)` silently
        // inherit the OLD table's properties and drop the declared ones)
        propsSet = Some(props))
    ()
  }

  /** A failed staged CREATE leaves at most task-commit leftovers — remove
    * the directory iff nothing ever committed (a failed staged REPLACE
    * leaves the existing table untouched by construction: its conditioned
    * commit never ran). */
  override def abortStagedChanges(): Unit = {
    if (!replacing && GraftManifest.versions(dir).isEmpty)
      GraftFs.deleteTree(new File(dir))
  }
}

/** Shared plumbing for the catalog's SQL procedures: each is a
  * deterministic-parameter, driver-side maintenance action returning a
  * one-row [[LocalScan]] result. */
private[sources] abstract class GraftProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  protected def result(schema: StructType, values: Any*): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] =
        Array(InternalRow.fromSeq(values.toIndexedSeq))
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.clone(source, target[, version])` — ZERO-COPY
  * SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` /
  * Iceberg-snapshot role): the target table is born with ONE committed
  * version naming exactly the source snapshot's files — no data byte
  * is read or copied, so cloning a 100 TB table costs O(files) metadata
  * — and every later write to either table diverges independently (a
  * DELETE on the clone lands its own deletion-vector sidecar; the
  * source never sees it). On this storage the share is a HARD LINK per
  * data file / dv sidecar: both tables own a NAME for the same bytes,
  * so either side's VACUUM only ever drops its own link and can never
  * reclaim the other's data — the lifecycle-safety property an
  * object-store implementation gets from copied manifest pointers +
  * per-table reference counting. Field ids, CHECK constraints and the
  * declared partition spec ride along; streaming txn watermarks do NOT
  * (the clone is a different table — a re-delivered epoch must not
  * no-op against it). Cloning over an existing table is refused. */
private[sources] class GraftCloneProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "clone"
  override def description(): String =
    "zero-copy shallow clone of a committed snapshot into a new table"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source", StringType).build(),
    ProcedureParameter.in("target", StringType).build(),
    ProcedureParameter.in("version", IntegerType).defaultValue("-1").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import java.nio.file.{Files, Paths}
    val srcName = input.getUTF8String(0).toString
    val dstName = input.getUTF8String(1).toString
    val srcDir = cat.dirForName(srcName)
    val dstDir = cat.dirForName(dstName)
    val vArg = if (input.numFields > 2 && !input.isNullAt(2)) input.getInt(2) else -1
    val m = GraftManifest.readVersion(srcDir, Some(vArg).filter(_ >= 0))
      .getOrElse(throw new IllegalArgumentException(
        s"graft clone: no committed version at '$srcName'"))
    require(GraftManifest.versions(dstDir).isEmpty,
      s"graft clone: target '$dstName' already exists")
    new java.io.File(dstDir).mkdirs()
    // pending EQUALITY-DELETE sidecars are part of the snapshot exactly
    // like DV sidecars — a clone without them would resurrect the
    // deleted rows (entry applicability keys on #seq/#eqdel version
    // pairs, both preserved verbatim by the meta/entry carry below)
    // bloom sidecars and index bundles are part of the snapshot the same
    // way (round-16b review: a clone without them is born with its whole
    // secondary-index surface dangling into keep-everything); DISTINCT
    // because many metas can range into one shared bundle
    val names = (m.metas.flatMap(mm => mm.name +: (mm.dv.map(_._1).toSeq ++
      GraftBloomSidecars.refsOf(mm))) ++
      m.eqDels.map(_.sidecar)).distinct
    val linked = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      names.foreach { n =>
        Files.createLink(Paths.get(dstDir, n), Paths.get(srcDir, n))
        linked += n
      }
      val nv = GraftManifest.commitMetas(dstDir, m.metas,
        m.schemaDdl.getOrElse(throw new IllegalStateException(
          s"graft clone: v${m.version} at $srcDir carries no schema")),
        truncate = false, op = Some(s"CLONE $srcName v${m.version}"),
        idsOverride = m.ids, checksOverride = Some(m.checks),
        partSpecSet = Some(m.partSpec), sortSpecSet = Some(m.sortSpec),
        // the clone's first version lands AT the source clock (#seq and
        // #eqdel versions ride along verbatim; a v1 clone would let the
        // target's next writes mint seqs below the imported ones)
        eqDelsSet = Some(m.eqDels), minVersion = math.max(1, m.version))
      result(StructType.fromDDL(
        "source_version INT, files_linked INT, new_version INT"),
        m.version, names.size, nv)
    } catch {
      case e: Throwable =>
        // half-linked target: unwind the links (names the source still
        // owns — bytes survive) so a retry starts clean
        linked.foreach(n => Files.deleteIfExists(Paths.get(dstDir, n)))
        throw e
    }
  }
}

/** `CALL cat.system.set_partition_spec(table, spec)` — PARTITION
  * EVOLUTION, metadata-only (the Iceberg spec-evolution design): the
  * table's DECLARED layout changes for FUTURE writes while every
  * committed file keeps the partition value (or none) it was written
  * under — no rewrite, because the read path already resolves layout
  * PER FILE (each `#meta=` line carries its own partition pair;
  * partition-pinned predicates prune new-generation files exactly and
  * fall back to stats envelopes on old-generation ones). `spec` is an
  * identity column, `bucket(n,col)`, or '' to drop the declaration.
  * The change lands as one conditioned metadata-only commit (`#op=SET
  * PARTITION SPEC`), so it is versioned, time-travelable and racing
  * writers conflict through the usual CAS. */
private[sources] class GraftSetPartitionSpecProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "set_partition_spec"
  override def description(): String =
    "change the declared partition layout for future writes (metadata-only)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("spec", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.dirForName(table)
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft set_partition_spec: no committed table at '$table'"))
    val spec = Option(input.getUTF8String(1)).map(_.toString.trim).filter(_.nonEmpty)
    val ddl = head.schemaDdl.getOrElse(throw new IllegalStateException(
      s"graft set_partition_spec: head at $dir carries no schema"))
    spec.foreach { sp =>
      val schema = StructType.fromDDL(ddl)
      val src = GraftBucket.parse(sp).map(_._2).getOrElse(sp)
      val i = scala.util.Try(schema.fieldIndex(src)).getOrElse(
        throw new IllegalArgumentException(
          s"graft set_partition_spec: column '$src' not in ${schema.toDDL}"))
      schema.fields(i).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"graft set_partition_spec: partition source must be long/string, " +
            s"'$src' is $dt")
      }
    }
    val nv = GraftManifest.commitMetas(dir, head.metas,
      ddl, truncate = true, expectedBase = Some(head.version),
      op = Some("SET PARTITION SPEC"), idsOverride = head.ids,
      checksOverride = Some(head.checks), partSpecSet = Some(spec))
    result(StructType.fromDDL("spec STRING, new_version INT"),
      org.apache.spark.unsafe.types.UTF8String.fromString(spec.getOrElse("")), nv)
  }
}

/** `CALL cat.system.fast_forward(source, branch)` — BRANCH MERGE for
  * the clone-based branching workflow (branch → mutate → merge, the
  * arbitrary-rewrite counterpart of write-audit-publish, which stages
  * only appends): a clone IS a zero-copy writable branch, carrying a
  * certificate of the source version it forked from in its v1 commit
  * audit line (`#op=CLONE <src> v<N>`). fast_forward verifies the
  * certificate names this source, requires the source head is STILL
  * that version (a moved head throws — re-branch and replay, the same
  * strictness as WAP publish; silently merging over interleaved
  * commits would drop them), hard-links the branch's new files back
  * into the source dir, and publishes the branch head as ONE
  * conditioned source commit — schema evolution, field ids, CHECKs and
  * the declared layouts ride along. Time travel on the source is
  * preserved: the pre-merge state stays readable, the merge is just a
  * version. */
private[sources] class GraftFastForwardProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "fast_forward"
  override def description(): String =
    "publish a branch (clone) head back onto its unmoved source"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source", StringType).build(),
    ProcedureParameter.in("branch", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import java.nio.file.{Files, Paths}
    val srcName = input.getUTF8String(0).toString
    val brName = input.getUTF8String(1).toString
    val srcDir = cat.dirForName(srcName)
    val brDir = cat.dirForName(brName)
    val cert = GraftManifest.versions(brDir).headOption
      .map(v => GraftManifest.headerFacts(brDir, v).op.getOrElse(""))
      .getOrElse(throw new IllegalArgumentException(
        s"graft fast_forward: no committed branch at '$brName'"))
    val m = ("""CLONE (\S+) v(\d+)""".r).findFirstMatchIn(cert).getOrElse(
      throw new IllegalArgumentException(
        s"graft fast_forward: '$brName' carries no branch certificate " +
          s"(v1 op is '$cert', want CLONE <source> v<N>)"))
    require(m.group(1) == srcName,
      s"graft fast_forward: '$brName' branched from '${m.group(1)}', not '$srcName'")
    val base = m.group(2).toInt
    val brHead = GraftManifest.readVersion(brDir, None).get
    val srcHead = GraftManifest.readVersion(srcDir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft fast_forward: no committed source at '$srcName'"))
    require(srcHead.version == base,
      s"graft fast_forward: '$srcName' moved since the branch " +
        s"(v$base -> v${srcHead.version}) — re-branch from the new head and replay")
    // link the branch's NEW files (and sidecars) into the source dir;
    // names already present are the clone-shared originals
    val have = (srcHead.metas.flatMap(mm => mm.name +: (mm.dv.map(_._1).toSeq ++
      GraftBloomSidecars.refsOf(mm))) ++
      srcHead.eqDels.map(_.sidecar)).toSet
    val linked = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      // branch-new bloom sidecars/bundles link over with their data
      // files (round-16b review — a merge must not strip the index from
      // every row written on the branch); DISTINCT: shared bundles
      (brHead.metas.flatMap(mm => mm.name +: (mm.dv.map(_._1).toSeq ++
        GraftBloomSidecars.refsOf(mm))) ++
        brHead.eqDels.map(_.sidecar)).distinct
        .filterNot(have).foreach { n =>
          Files.createLink(Paths.get(srcDir, n), Paths.get(brDir, n))
          linked += n
        }
      // eqDelsSet + minVersion: the branch head's PENDING equality
      // deletes publish with it (their sidecars linked above), and the
      // merge commit lands at or above the branch clock so the imported
      // #seq / #eqdel version pairs keep their ordering on the source.
      val nv = GraftManifest.commitMetas(srcDir, brHead.metas,
        brHead.schemaDdl.getOrElse(throw new IllegalStateException(
          s"graft fast_forward: branch head at $brDir carries no schema")),
        truncate = true, expectedBase = Some(base),
        op = Some(s"FAST FORWARD $brName v${brHead.version}"),
        idsOverride = brHead.ids, checksOverride = Some(brHead.checks),
        partSpecSet = Some(brHead.partSpec), sortSpecSet = Some(brHead.sortSpec),
        eqDelsSet = Some(brHead.eqDels),
        minVersion = math.max(base + 1, brHead.version))
      result(StructType.fromDDL(
        "base_version INT, branch_version INT, new_version INT"),
        base, brHead.version, nv)
    } catch {
      case e: Throwable =>
        linked.foreach(n => Files.deleteIfExists(Paths.get(srcDir, n)))
        throw e
    }
  }
}

/** `CALL cat.system.orphans(table)` — the VACUUM DRY-RUN / debris
  * report: data files and deletion-vector sidecars referenced by NO
  * existing version and no pending WAP stage — the residue of crashed
  * tasks, lost commit races and aborted jobs, which ordinary vacuum
  * only reclaims past its grace window. Read-only (nothing is
  * deleted): O(versions) manifest reads + one directory listing, so an
  * operator can audit a 100 TB table's storage leak before choosing a
  * retention policy. In-flight `.tmp` files are NOT orphans (they are
  * the task-commit protocol's working state). */
private[sources] class GraftOrphansProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "orphans"
  override def description(): String =
    "report files no version or pending stage references (read-only)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("grace_ms", LongType).defaultValue("600000").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.dirForName(table)
    val grace = if (input.numFields > 1 && !input.isNullAt(1))
      input.getLong(1) else 600000L
    val vs = GraftManifest.versions(dir)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"graft orphans: no committed table at '$table'")
    // RAW per-version reads: each manifest names its own adds, so the
    // union over versions is the full referenced set at ONE read per
    // version — folding every #base chain here would be
    // O(versions x chain length) for the same answer
    val keep = vs.flatMap { v =>
        val m0 = GraftManifest.readRaw(dir, v)
        m0.metas.flatMap(m => m.name +: (m.dv.map(_._1).toSeq ++
            GraftBloomSidecars.refsOf(m))) ++
          m0.eqDels.map(_.sidecar)
      }.toSet ++
      GraftManifest.wapIds(dir).flatMap(id =>
        GraftManifest.readWap(dir, id)._1.metas.flatMap(m =>
          m.name +: (m.dv.map(_._1).toSeq ++
            GraftBloomSidecars.refsOf(m)))).toSet
    // the grace window keeps in-flight task commits out of the report —
    // a file renamed .tmp -> .csv before its job's manifest lands is
    // live-to-be, not debris (the same race vacuum's graceMs guards)
    val cutoff = System.currentTimeMillis() - grace
    val listing = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    val orphans = listing.filter(f =>
      (GraftFormat.isDataFile(f.getName) || f.getName.endsWith(".dv") ||
        f.getName.endsWith(".eqdel") ||
        // bloom sidecars and index bundles are debris too once no
        // version's refs name them (round 16b — keep carries refsOf)
        f.getName.endsWith(".ngb") || f.getName.endsWith(".pbb") ||
        f.getName.endsWith(".blm") || f.getName.endsWith(".idb") ||
        // AGED .tmp leftovers (crashed writers, failed compactions) are
        // debris the vacuum tmp-sweep will reclaim — report them too;
        // in-flight ones stay protected by the same grace window
        // (ADVICE r16: .idb.tmp was invisible to this report)
        f.getName.endsWith(".tmp")) &&
        !f.getName.startsWith("epoch-") && !keep.contains(f.getName) &&
        f.lastModified() <= cutoff)
    result(StructType.fromDDL("n_orphans BIGINT, orphan_bytes BIGINT"),
      orphans.length.toLong, orphans.map(_.length()).sum)
  }
}

/** `CALL cat.system.vacuum(table, retain, grace_ms)` — drop all but the
  * newest `retain` versions and reclaim unreferenced data files
  * ([[GraftManifest.vacuum]]: retained delta manifests fold first, data
  * files inside the grace window are never touched). Pure filesystem —
  * no Spark job. */
/** `CALL cat.system.maintenance(table)` — one property-driven sweep: run
  * the incremental binpack under the table's OWN `autoOptimize.*`
  * TBLPROPERTIES (round 14 — the "CALL maintenance" half of the
  * auto-maintenance surface, for deployments that prefer a scheduled
  * sweep job over post-commit hooks; identical kernel, identical commit
  * label, so history reads the same either way). Refused loudly when the
  * table declares no policy — a policy-less sweep has no small-file
  * threshold to honor. */
private[sources] class GraftMaintenanceProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "maintenance"
  override def description(): String =
    "run the table's own autoOptimize.* property policy once"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.dirForName(table)
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft maintenance: no committed table at '$table'"))
    val p = head.props
    val smallFilesOpt = p.get("autoOptimize.smallFiles").map(_.toInt)
    val minSidecars = p.get("compactIndex.minSidecars").map(_.toInt)
    if (smallFilesOpt.isEmpty && minSidecars.isEmpty)
      throw new IllegalArgumentException(
        s"graft maintenance: '$table' declares no autoOptimize.smallFiles " +
          "(or compactIndex.minSidecars) property — " +
          "ALTER TABLE ... SET TBLPROPERTIES first")
    var (before, after, nv) = (head.metas.size, head.metas.size, head.version)
    smallFilesOpt.foreach { smallFiles =>
      require(smallFiles >= 1,
        "graft maintenance: autoOptimize.smallFiles must be >= 1")
      val maxBytes = p.get("autoOptimize.maxFileBytes").map(_.toLong)
        .getOrElse(32L << 20)
      val target = p.get("autoOptimize.targetFiles").map(_.toInt).getOrElse(1)
      val spark = org.apache.spark.sql.SparkSession.active
      val r = GraftMaintenance.binpack(
        spark, dir, head, target, maxBytes, op = "AUTO-OPTIMIZE")
      before = r._1; after = r._2; nv = r._3
    }
    // index-bundle half of the policy (round 16b): once the head holds
    // >= minSidecars PER-FILE (un-bundled) sidecar refs — fresh appends
    // and binpack rewrites both accumulate them — fold ONLY those into
    // a new incremental bundle (pendingOnly: the sweep must not repack
    // the table's whole filter volume every few appends; the full
    // repack stays the explicit `CALL compact_index`)
    val bundled = minSidecars.map { n =>
      require(n >= 1, "graft maintenance: compactIndex.minSidecars must be >= 1")
      if (GraftMaintenance.pendingSidecars(dir) >= n) {
        val (pays, _, v2) =
          GraftMaintenance.compactIndexes(dir, pendingOnly = true)
        nv = v2; pays
      } else 0
    }.getOrElse(0)
    result(StructType.fromDDL("files_before INT, files_after INT, " +
      "new_version INT, index_payloads_bundled INT"),
      before, after, nv, bundled)
  }
}

/** `CALL cat.system.compact_index(table)` — bundle the head snapshot's
  * per-file bloom sidecars (`.pbb`/`.ngb`/`.blm`) into a few capped
  * index-bundle files (`.idb`) referenced by `@bundle:off:len` byte
  * ranges, so a probe that consults N candidate files' filters pays
  * O(bundles) reads instead of N round trips (the 10⁵-file plan-I/O
  * residual of the round-16 lazy-sidecar design). Metadata-only:
  * no data byte moves; kernel in [[GraftMaintenance.compactIndexes]]. */
private[sources] class GraftCompactIndexProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "compact_index"
  override def description(): String =
    "bundle per-file bloom sidecars into few index bundles (metadata-only)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.dirForName(table)
    if (GraftManifest.versions(dir).isEmpty)
      throw new IllegalArgumentException(
        s"graft compact_index: no committed table at '$table'")
    val (pays, bundles, nv) = GraftMaintenance.compactIndexes(dir)
    result(StructType.fromDDL(
      "payloads_bundled INT, bundles_written INT, new_version INT"),
      pays, bundles, nv)
  }
}

private[sources] class GraftVacuumProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "vacuum"
  override def description(): String =
    "drop old versions and reclaim unreferenced files"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    // -1 = resolve from the table's `vacuum.retain` property (round 14) —
    // the retention policy travels WITH the table instead of every
    // operator re-typing it; an explicit argument still wins
    ProcedureParameter.in("retain", IntegerType).defaultValue("-1").build(),
    // safe-by-default in-flight grace (1 h): required args must precede
    // optional ones, so retain's property default forces one here too
    ProcedureParameter.in("grace_ms", LongType).defaultValue("3600000").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val table = input.getUTF8String(0).toString
    val dir = cat.dirForName(table)
    val vs = GraftManifest.versions(dir)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"graft vacuum: no committed table at '$table'")
    val retain = input.getInt(1) match {
      case n if n >= 0 => n
      case _ => GraftManifest.headerFacts(dir, vs.max).props
        .get("vacuum.retain").map(_.toInt).getOrElse(
          throw new IllegalArgumentException(
            "graft vacuum: pass retain explicitly or set the table's " +
              "'vacuum.retain' property"))
    }
    val reclaimed = GraftManifest.vacuum(dir, retain, input.getLong(2))
    result(StructType.fromDDL("files_reclaimed INT, head_version INT"),
      reclaimed, GraftManifest.versions(dir).last)
  }
}

/** `CALL cat.system.restore(table, version)` — roll the table back to a
  * committed version as a NEW head, Delta-RESTORE style and
  * METADATA-ONLY: the restored version's file list is re-committed as a
  * full snapshot conditioned on the current head (the usual CAS + the
  * rewrite conflict rule), no data byte is copied or moved. Every
  * intermediate version stays readable until VACUUM; restoring past a
  * vacuumed version fails loudly at the manifest lookup. */
private[sources] class GraftRestoreProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "restore"
  override def description(): String =
    "roll back to a committed version as a new head (metadata-only)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("version", IntegerType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val v = input.getInt(1)
    val m = GraftManifest.readVersion(dir, Some(v)).getOrElse(
      throw new IllegalArgumentException(s"graft restore: no committed version at $dir"))
    val head = GraftManifest.readVersion(dir, None).get.version
    // eqDelsSet: the restored state includes the restored version's
    // PENDING equality deletes — inheriting the abandoned head's would
    // keep applying deletes the restored snapshot predates (rows vanish
    // from a supposedly-restored table), and restoring to a pre-upsert
    // version must NOT drag the upsert's entries along.
    val nv = GraftManifest.commitMetas(dir, m.metas,
      m.schemaDdl.getOrElse(throw new IllegalStateException(
        s"graft restore: v$v at $dir carries no schema")),
      truncate = true, expectedBase = Some(head), op = Some("RESTORE"),
      eqDelsSet = Some(m.eqDels))
    result(StructType.fromDDL("restored_version INT, new_version INT"), v, nv)
  }
}

/** `CALL cat.system.optimize(table, target_files[, zorder_by]
  * [, max_file_bytes])` — compact
  * the head snapshot into `target_files` files via the active session,
  * committed as an overwrite conditioned on the version the rewrite
  * planned against (losing a race to a concurrent append throws instead
  * of dropping it — the sink_compact_vacuum conflict rule from SQL).
  * Reading through the scan also MATERIALIZES any deletion vectors: the
  * rewritten files carry only live rows and no `#dv` entries, so OPTIMIZE
  * is the merge-on-read debt collector.
  *
  * `zorder_by` (optional, comma-separated long columns): instead of a
  * hash repartition, interleave the low 8 bits of each named column into
  * a space-filling-curve value, RANGE-partition and sort the rewrite by
  * it, and drop the helper column before landing. Rows near on the curve
  * are near in EVERY named dimension, so the manifest's per-file min/max
  * stats prune scans filtered on ANY of them — the multi-column layout
  * half of the lakehouse skipping story (the same curve the standalone
  * `sink_zorder` key proves the math of), now reachable as table
  * maintenance under the usual conditioned commit.
  *
  * `max_file_bytes` (optional; >0 enables INCREMENTAL bin-packing): only
  * files strictly SMALLER than the threshold are read and compacted;
  * every file at or above it keeps its manifest entry untouched — stats,
  * partition value, deletion vector and all. This is the maintenance
  * mode a 100 TB table actually runs: the streaming-ingest long tail of
  * small files folds into fresh well-sized files for O(small files)
  * read+write cost, while the already-compacted bulk is never rewritten.
  * The compaction reads ONLY its victims (the scan's `files` subset
  * option), lands them through the ordinary task-commit protocol in a
  * TEMP table dir, moves the finished files in under collision-free
  * names, and publishes kept ∪ compacted as ONE conditioned full
  * snapshot — readers never observe an intermediate state, and a racing
  * append still wins the usual ConcurrentModificationException fight;
  * a lost commit deletes the moved-but-unpublished files eagerly.
  * Partitioned victims recompact into exactly ONE file per partition
  * value — `target_files` does not apply there BY CONTRACT: the
  * clustering shuffle routes each value to one task, and one compact
  * file per partition is the canonical layout the partition-pruned read
  * path wants (splitting a value across `target_files` files would need
  * a salt that buys nothing: the small-file tail this mode exists for
  * folds to one file per value anyway). Mixing with zorder_by is
  * refused (a curve layout is a full rewrite by definition). */
/** Shared table-maintenance kernels (round 14): the incremental binpack
  * and index-carry logic extracted from [[GraftOptimizeProcedure]] so the
  * streaming sink's auto-optimize post-commit hook runs the exact
  * procedure-grade compaction — one implementation of the re-sort /
  * absorption / conditioned-commit rules, two triggers. */
object GraftMaintenance {
  /** Files appended per table path since its last auto-optimize sweep —
    * the O(1)-per-commit trigger state of the `autoOptimize.*` policy
    * (counting the writer's OWN appends instead of re-statting the
    * table's file sizes every commit, which would reintroduce the
    * O(files)-per-micro-batch tax ADVICE r11 #2 retired). Shared by the
    * STREAMING epoch hook and the BATCH append hook: two ingest paths
    * feeding one table accumulate toward one sweep. Per-JVM: a restart
    * re-accumulates from zero, which only DELAYS the next sweep —
    * binpack is idempotent maintenance. */
  private[sources] val appendedSinceSweep =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Post-commit auto-maintenance (round 14, VERDICT r13 next #1): once
    * `filesAdded` accumulates to the policy's smallFiles since the last
    * sweep, run the procedure-grade incremental binpack SYNCHRONOUSLY
    * on the committing thread (the Delta auto-compaction shape: the
    * commit that trips the threshold pays the fold, every other commit
    * pays one counter add). NEVER fails the ingest: a lost race against
    * a concurrent writer (or any other failure) logs and leaves the
    * counter armed, so the next commit retries against the new head. */
  private[sources] def autoSweep(path: String, filesAdded: Int,
      smallFiles: Int, maxFileBytes: Long, targetFiles: Int): Unit = {
    val n = appendedSinceSweep.merge(
      path, Integer.valueOf(filesAdded), (a, b) => Integer.valueOf(a + b))
    if (n >= smallFiles) {
      try {
        val spark = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .getOrElse(throw new IllegalStateException(
            "no active SparkSession on the committing thread"))
        val head = GraftManifest.readVersion(path, None).getOrElse(
          throw new IllegalStateException(s"no committed version at $path"))
        binpack(spark, path, head, targetFiles, maxFileBytes,
          op = "AUTO-OPTIMIZE")
        appendedSinceSweep.put(path, 0)
        ()
      } catch {
        // NonFatal only (ADVICE r14): the sweep runs synchronously on the
        // committing thread, so swallowing OutOfMemoryError would mask a
        // JVM-level failure as "deferred", and eating InterruptedException
        // would lose a cancellation. Fatal errors propagate; interrupts
        // re-flag and propagate.
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft-sink] auto-optimize at $path deferred: ${e.getMessage}")
      }
    }
  }

  /** Move a temp-dir rewrite's files into the table dir under
    * collision-free prefixed names — INCLUDING each meta's externalized
    * bloom sidecars (round-16b review: a sidecar left in the temp dir
    * is destroyed by the rewrite's deleteTree while the committed
    * manifest still references it, silently degrading every future
    * probe to keep-everything). Refs are rewritten to the moved names;
    * returns the updated metas plus EVERY moved file name, so a lost
    * conditioned commit can eagerly delete exactly what it staged. */
  private[sources] def moveRewrite(tmp: String, dir: String, prefix: String,
      metas: Seq[GraftFileMeta]): (Seq[GraftFileMeta], Seq[String]) = {
    val movedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    def mv(name: String): String = {
      val nn = s"$prefix-$name"
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp, name),
        java.nio.file.Paths.get(dir, nn))
      movedNames += nn
      nn
    }
    def moveRef(pay: String): String =
      GraftBloomSidecars.refName(pay) match {
        // fresh task writes emit only plain per-file refs, so the moved
        // ref carries no range; a ref whose file is not in tmp (cannot
        // happen for a fresh rewrite) passes through untouched
        case Some(n) if java.nio.file.Files.exists(
            java.nio.file.Paths.get(tmp, n)) =>
          "@" + new java.io.File(dir, mv(n)).getPath
        case _ => pay
      }
    val out = metas.map { m =>
      m.copy(name = mv(m.name),
        blooms = m.blooms.map { case (i, p) => i -> moveRef(p) },
        pblooms = m.pblooms.map { case (i, (w, p)) => i -> (w, moveRef(p)) },
        ngblooms = m.ngblooms.map { case (i, (w, p)) => i -> (w, moveRef(p)) })
    }
    (out, movedNames.toSeq)
  }

  /** PROBE-TRIGGERED index compaction (round 17, VERDICT r16 next #2 —
    * retiring the "cold contains-probe on an UNCOMPACTED table" residual):
    * a contains/prefix probe that just paid `probeLoads` PER-FILE sidecar
    * fetches on `path` arms one incremental bundle sweep, so a
    * fresh-ingest table's FIRST big probe is the LAST one that pays
    * O(candidate files) round trips — the next cold probe (new process,
    * dropped cache) pays O(bundles). Below [[AutoCompactProbeLoads]]
    * (override per table via the `compactIndex.autoProbeLoads` property;
    * 0 disables) nothing happens — small tables never churn versions from
    * the read path. Runs SYNCHRONOUSLY on the planning thread (the probe
    * that trips the threshold pays the sweep, the same posture as
    * [[autoSweep]]) and NEVER fails the read: a lost commit race or a
    * read-only filesystem logs and leaves the table exactly as it was.
    * The in-flight guard only blocks CONCURRENT duplicate sweeps and
    * always disarms after the attempt, so a later fresh-ingest wave
    * re-triggers; a nothing-pending verdict is memoized per head VERSION
    * so an over-threshold probe on an already-bundled table pays the
    * O(files) pendingSidecars fold once per version, not once per plan. */
  val AutoCompactProbeLoads = 64
  /** Process-level switch (demo/measurement hook): the per-table
    * `compactIndex.autoProbeLoads` property is the USER surface; this
    * exists so a harness can measure the untriggered baseline. */
  @volatile private[graft] var autoProbeEnabled = true
  private[sources] val autoCompacted =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  /** path -> head version proven to have zero pending sidecars. */
  private val noPendingAt =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** path -> (expiry nanos, resolved threshold): ADVICE r18 — resolving
    * the `compactIndex.autoProbeLoads` override used to pay a
    * `versions()` directory listing plus a headerFacts parse on EVERY
    * probe that resolved >=1 sidecar ref, per-plan overhead on the hot
    * read path of any table with per-file sidecars. The resolved
    * threshold is memoized under the bundle-failure memo's 10 s TTL:
    * within the window a below-threshold probe pays ZERO manifest I/O
    * here, and the only staleness is an ALTERed threshold taking one
    * TTL to be seen — benign for a trigger whose sweep re-checks
    * pendingSidecars against the live head anyway. */
  private val thresholdMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val ThresholdTtlNanos: Long = 10L * 1000 * 1000 * 1000
  /** Drop the whole memo (GraftBloomSidecars.dropCache composes this in). */
  private[graft] def dropThresholdMemo(): Unit = thresholdMemo.clear()
  /** Per-path invalidation — called by commitMetas on every committed
    * version, so an in-process ALTER/commit is seen by the next probe. */
  private[sources] def invalidateThreshold(path: String): Unit = {
    thresholdMemo.remove(path); ()
  }
  private def resolvedThreshold(path: String): Long = {
    val now = System.nanoTime()
    thresholdMemo.get(path) match {
      case (exp, t) if now < exp => t
      case _ =>
        val headV = GraftManifest.versions(path).lastOption
        val t = headV
          .flatMap(v => GraftManifest.headerFacts(path, v).props
            .get("compactIndex.autoProbeLoads"))
          .flatMap(v => scala.util.Try(v.toLong).toOption)
          .getOrElse(AutoCompactProbeLoads.toLong)
        thresholdMemo.put(path, (now + ThresholdTtlNanos, t))
        // close the check-then-act race with commitMetas' invalidation
        // (round-18 second-pass review): a commit landing BETWEEN our
        // headerFacts read and our put would have its invalidate erased
        // by the stale put — re-list the head after publishing and
        // self-remove if it moved, so the next probe re-resolves
        if (GraftManifest.versions(path).lastOption != headV)
          thresholdMemo.remove(path)
        t
    }
  }
  private[sources] def autoCompactProbe(path: String, probeLoads: Long): Unit =
    if (autoProbeEnabled && probeLoads >= 1 &&
        autoCompacted.putIfAbsent(path, java.lang.Boolean.TRUE) == null) {
      try {
        val threshold = resolvedThreshold(path)
        // the head-version listing is paid only PAST the threshold (the
        // noPendingAt comparison needs it); a below-threshold probe now
        // exits with no manifest I/O at all inside the memo window
        lazy val headV = GraftManifest.versions(path).lastOption
        if (threshold > 0 && probeLoads >= threshold &&
            headV.map(Integer.valueOf(_)) != Option(noPendingAt.get(path))) {
          if (pendingSidecars(path) > 0) {
            val (pays, bundles, _) = compactIndexes(path, pendingOnly = true)
            System.err.println(s"[graft-sink] probe-triggered index " +
              s"compaction at $path: $probeLoads sidecar fetches -> " +
              s"$pays payloads into $bundles bundle(s)")
          } else headV.foreach { v =>
            // memoize the zero-pending verdict per VERSION (review round
            // 17 second pass): an over-threshold probe on an already-
            // bundled table must not re-pay the O(files) fold per plan;
            // a new commit changes the version and re-opens the check
            noPendingAt.put(path, Integer.valueOf(v)); ()
          }
        }
      } catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft-sink] probe-triggered index compaction at $path " +
              s"deferred: ${e.getMessage}")
      } finally {
        // the guard's ONLY job is blocking concurrent duplicate sweeps
        // while one is in flight (review round 17, second pass): ALWAYS
        // disarm after the attempt — a sweep bundles everything pending
        // (the next probe pays O(bundles) < threshold, no re-trigger),
        // and a LATER fresh-ingest wave can arm again instead of being
        // pinned out for the process lifetime
        autoCompacted.remove(path); ()
      }
    }

  /** Head-snapshot count of PER-FILE (un-bundled) sidecar refs — the
    * `compactIndex.minSidecars` policy's trigger measure. O(header)
    * manifest read, no payload bytes touched. */
  def pendingSidecars(dir: String): Int =
    GraftManifest.readVersion(dir, None).fold(0)(_.metas.iterator.map(m =>
      (m.blooms.values ++ (m.pblooms.values ++ m.ngblooms.values).map(_._2))
        .count(pay => GraftBloomSidecars.isRef(pay) &&
          GraftBloomSidecars.splitRef(pay.drop(1))._2.isEmpty)).sum)

  /** A rewrite must PRESERVE the table's secondary indexes: any column
    * some head file carries a bloom filter or NDV sketch for gets the
    * matching writer option, so compaction rebuilds the index for its
    * fresh files instead of silently dropping it — an OPTIMIZE that
    * forfeits every future point-lookup skip is maintenance making the
    * table worse. */
  def carryIndexes(head: GraftManifest,
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      except: Set[String] = Set.empty)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val fields = head.schemaDdl.map(StructType.fromDDL(_).fields)
      .getOrElse(Array.empty)
    def cols(sel: GraftFileMeta => Iterable[Int]): Seq[String] =
      head.metas.flatMap(sel).distinct.sorted
        .flatMap(i => fields.lift(i).map(_.name))
        .filterNot(except).toSeq
    val blooms = cols(_.blooms.keys)
    val ndvs = cols(_.ndvs.keys)
    // a column is centroid-indexed if ANY fact names it — per-file OR
    // per-row-group (a file whose per-file mean was poisoned by a null
    // element may still carry sound group facts, and vice versa)
    val cens = cols(m => m.centroids.keys ++ m.rgcens.keys)
    // prefix blooms carry their width: first fact wins per column (all
    // writers of one table option the same width in practice; a mixed
    // history converges on the rewrite)
    val pbls: Seq[String] = head.metas.flatMap(_.pblooms.toSeq)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (i, ws) =>
        fields.lift(i).filterNot(f => except(f.name))
          .map(f => s"${f.name}:${ws.head._2._1}") }
    val ngbs: Seq[String] = head.metas.flatMap(_.ngblooms.toSeq)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (i, ws) =>
        // MIN width on record, like idxOf: auto-widening can leave one
        // saturated file at w+2, and rebuilding the whole table at the
        // widened width would cost every narrow probe its pruning —
        // UNLESS a `!sat:w<N>` marker proves every tracked width dead
        // on some file's data, in which case the suggested width wins
        // (round 17): this is how OPTIMIZE lands the viable width
        fields.lift(i).filterNot(f => except(f.name))
          .map(f =>
            s"${f.name}:${GraftBloomSidecars.rebuildWidth(ws.map(_._2))}") }
    val w1 = if (blooms.nonEmpty) w.option("bloomFor", blooms.mkString(",")) else w
    val w2 = if (ndvs.nonEmpty) w1.option("ndvFor", ndvs.mkString(",")) else w1
    val w3 = if (cens.nonEmpty) w2.option("centroidFor", cens.mkString(",")) else w2
    val w4 = if (pbls.nonEmpty) w3.option("prefixBloomFor", pbls.mkString(",")) else w3
    val w5 = if (ngbs.nonEmpty) w4.option("ngramBloomFor", ngbs.mkString(",")) else w4
    // row-group centroid granularity survives rewrites too: a compaction
    // that silently coarsened the ANN index to file level would forfeit
    // every future sub-file skip (cens guard: the granularity option
    // without any surviving centroidFor column would be a dangling knob)
    if (cens.nonEmpty && head.metas.exists(_.rgcens.nonEmpty))
      w5.option("centroidGranularity", "rowgroup") else w5
  }

  /** Incremental (small-files-only) compaction; see
    * [[GraftOptimizeProcedure]]'s class doc for the full contract.
    * Returns (files_before, files_after, new_version); `op` labels the
    * commit ("OPTIMIZE" from the procedure, "AUTO-OPTIMIZE" from the
    * streaming post-commit policy — history stays honest about who
    * compacted). */
  def binpack(spark: org.apache.spark.sql.SparkSession, dir: String,
      head: GraftManifest, target: Int, maxBytes: Long,
      op: String = "OPTIMIZE"): (Int, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val (small0, big0) = head.metas.partition { m =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, m.name)) < maxBytes }
    // Under a DECLARED sort layout the rewrite range-reclusters only its
    // victims, so a retained file whose sort-key envelope OVERLAPS the
    // victims' range would silently break the `#sortspec`
    // disjoint-envelope invariant (pruning quality, not correctness —
    // ADVICE r10): absorb every overlapping retained file into the
    // victim set, to a fixpoint (absorbing one extends the envelope).
    val (small, big) = head.sortSpec
      // compound specs absorb on the LEADING key — disjointness of the
      // range layout is a leading-key property
      .flatMap(s => GraftManifest.sortCols(s).headOption)
      .flatMap(sc => head.schemaDdl.map(StructType.fromDDL)
        .flatMap(l => scala.util.Try(l.fieldIndex(sc)).toOption
          .map(i => (i, l.fields(i).dataType)))) match {
      case Some((i, dt)) if small0.nonEmpty &&
          head.metas.forall(_.stats.contains(i)) =>
        def lt(a: String, b: String): Boolean =
          GraftSinkScan.cmpStats(dt, a, b) < 0
        var sm = small0
        var bg = big0
        var changed = true
        while (changed && bg.nonEmpty) {
          val mn = sm.map(_.stats(i)._1).reduce((a, b) => if (lt(a, b)) a else b)
          val mx = sm.map(_.stats(i)._2).reduce((a, b) => if (lt(a, b)) b else a)
          val (in, out) = bg.partition(m =>
            !lt(m.stats(i)._2, mn) && !lt(mx, m.stats(i)._1))
          changed = in.nonEmpty
          sm = sm ++ in
          bg = out
        }
        (sm, bg)
      case _ => (small0, big0)
    }
    if (small.size <= 1) // nothing to fold — no commit, head unchanged
      return (head.metas.size, head.metas.size, head.version)
    val pcols = small.flatMap(_.partition.map(_._1)).distinct
    require(pcols.size <= 1 &&
        small.forall(_.partition.isDefined) == small.exists(_.partition.isDefined),
      s"graft optimize: compaction victims mix partition layouts ($pcols)")
    val victims = spark.read.format("graft-sink").option("path", dir)
      .option("versionAsOf", head.version.toString)
      .option("files", small.map(_.name).mkString(",")).load()
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    try {
      val writer = pcols.headOption match {
        case Some(pc) =>
          // a bucket(n, src) layout has no partition COLUMN to repartition
          // by: long sources re-derive the ordinal (pmod == floorMod on
          // Spark's pmod), string sources fold in one task (String.hashCode
          // has no builtin Column form; victims are small by definition)
          val shaped = GraftBucket.parse(pc) match {
            case Some((n, src)) if victims.schema.fields.exists(f =>
                f.name == src && f.dataType == LongType) =>
              victims.repartition(org.apache.spark.sql.functions
                .pmod(col(src), org.apache.spark.sql.functions.lit(n)))
            case Some(_) => victims.coalesce(1)
            case None    => victims.repartition(col(pc))
          }
          shaped.write.option("partitionBy", pc)
        case None => head.sortSpec.map(GraftManifest.sortCols) match {
          case Some(scs) if scs.nonEmpty &&
              scs.forall(victims.schema.fieldNames.contains) =>
            victims.repartitionByRange(target, scs.map(col): _*)
              .sortWithinPartitions(scs.map(col): _*).write
          // declared CURVE layout: re-z-order the victims (victims-only
          // quantile cuts — the layout quality point of folding small
          // post-append files back onto the curve, not hash-mixing them)
          case _ => head.sortSpec.flatMap(GraftManifest.zorderCols)
              .filter(_.forall(victims.schema.fieldNames.contains)) match {
            case Some(zc) =>
              GraftOptimizeProcedure.zShape(victims, zc, target).write
            // declared REVERSED layout (round 15): re-cluster the
            // victims on the reversed string and keep the sortBy option
            // so the fresh files re-record their `#rvstats` envelopes
            case None => head.sortSpec.filter(sc =>
                GraftManifest.reverseCol(sc)
                  .exists(victims.schema.fieldNames.contains)) match {
              case Some(sc) =>
                val rc = GraftManifest.reverseCol(sc).get
                victims.repartitionByRange(target,
                    org.apache.spark.sql.functions.reverse(col(rc)))
                  .sortWithinPartitions(
                    org.apache.spark.sql.functions.reverse(col(rc)))
                  .write.option("sortBy", sc)
              case None => victims.repartition(target).write
            }
          }
        }
      }
      carryIndexes(head, writer.format("graft-sink").option("path", tmp)
          .option("format", head.format.getOrElse(GraftFormat.Default)))
        .mode("overwrite").save()
      // move the finished files in under collision-free names — data
      // files AND their externalized bloom sidecars, with refs
      // rewritten (a sidecar left behind dies with the temp dir and the
      // committed ref would dangle into keep-everything); they stay
      // invisible until the manifest below publishes them
      val (moved, movedNames) = moveRewrite(tmp, dir, s"c${head.version}",
        GraftManifest.readVersion(tmp, None).get.metas)
      // A lost conditioned commit (concurrent writer advanced the head)
      // must not strand the already-moved compact files as orphans in the
      // table dir until an aged vacuum sweep (ADVICE r9): no manifest
      // names them yet, so deleting them eagerly on ANY commit failure is
      // safe — the caller re-runs the procedure against the new head.
      val nv =
        try GraftManifest.commitMetas(dir, big ++ moved,
          head.schemaDdl.getOrElse(throw new IllegalStateException(
            s"graft optimize: head at $dir carries no schema")),
          truncate = true, expectedBase = Some(head.version), op = Some(op))
        catch {
          case e: Throwable =>
            movedNames.foreach(n => java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(dir, n)))
            throw e
        }
      (head.metas.size, big.size + moved.size, nv)
    } finally GraftFs.deleteTree(new java.io.File(tmp))
  }

  /** INDEX-BUNDLE COMPACTION (round 16b — retiring the "one sidecar
    * fetch per candidate file" residual): concatenate the head
    * snapshot's externalized bloom payloads (`.pbb`/`.ngb`/`.blm`
    * sidecars — and prior bundles, so re-compaction re-packs) into a
    * few bundle files capped at
    * [[GraftBloomSidecars.BundleTargetBytes]], and commit a
    * metadata-only snapshot whose facts carry `@bundle:off:len` byte
    * ranges. Probe-time resolution slurps each bundle ONCE per process
    * ([[GraftBloomSidecars.resolve]]), so a contains probe sweeping 10⁵
    * candidate files costs O(total filter bytes / 16 MB) bundle reads
    * instead of one round trip per file. Data files, stats, DVs and
    * eqdels are untouched; the commit is conditioned on the
    * planned-against head (a racing writer throws, never silently
    * loses), and a lost commit deletes the staged bundles eagerly. The
    * replaced per-file sidecars stay on disk for time travel and
    * reclaim via vacuum once no retained version references them.
    * Bundle names carry a per-attempt unique token (tmp-file suffix),
    * so two racing compactions against one head write DISJOINT files —
    * the loser's eager cleanup can never delete the winner's
    * just-committed bundles. `pendingOnly=true` (the maintenance-policy
    * mode) bundles only the PER-FILE (un-ranged) refs and leaves
    * existing bundles untouched — O(new sidecars) write amplification
    * per sweep instead of repacking the table's whole filter volume;
    * the full repack stays available as the explicit
    * `CALL compact_index`. Returns (payloads bundled, bundles written,
    * new version); a head with no matching payloads commits nothing. */
  def compactIndexes(dir: String, pendingOnly: Boolean = false): (Int, Int, Int) = {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft compact_index: no committed version at $dir"))
    val headV = head.version
    // STREAM payloads straight into bundle tmp files — one payload in
    // driver memory at a time, never the table's whole filter volume
    // (10⁵ files × 1.4 MB caps would be a 140 GB buffer otherwise);
    // ranges are assigned as bytes land, rotating at the target size
    val refOf = scala.collection.mutable.Map.empty[(Int, Int, Int), String]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var out: java.io.OutputStream = null
    var curLen = 0L
    var payloads = 0
    def closeOut(): Unit = if (out != null) { out.close(); out = null }
    // any throw between the first tmp creation and the commit deletes
    // every staged file this attempt created — in BOTH forms, since a
    // mid-move failure leaves some already renamed (ADVICE r16: leaked
    // `.idb.tmp` debris was invisible to the orphans report; vacuum's
    // aged-tmp sweep would reclaim it, but only after the grace window,
    // and an eager cleanup is what the commit-failure path already does)
    def dropStaged(): Unit = names.foreach { n =>
      Files.deleteIfExists(Paths.get(dir, n + ".tmp"))
      Files.deleteIfExists(Paths.get(dir, n)); ()
    }
    try {
      head.metas.zipWithIndex.foreach { case (m, mi) =>
        def add(kind: Int, col: Int, pay: String): Unit =
          if (GraftBloomSidecars.isRef(pay) &&
              !(pendingOnly &&
                GraftBloomSidecars.splitRef(pay.drop(1))._2.isDefined)) {
            val s = GraftBloomSidecars.resolve(pay)
            // an unreadable sidecar resolves to the saturated sentinel:
            // keep the ORIGINAL ref rather than freezing the transient
            // degrade into durable bundle bytes
            if (!GraftBloomSidecars.isSaturated(s)) {
              val bytes = s.getBytes(StandardCharsets.UTF_8)
              if (out == null || (curLen > 0 &&
                  curLen + bytes.length > GraftBloomSidecars.BundleTargetBytes)) {
                closeOut()
                // createTempFile's random token makes the name unique
                // PER ATTEMPT: racing compactions write disjoint files,
                // so a lost commit's cleanup deletes only its own
                val tmp = Files.createTempFile(Paths.get(dir),
                  s"idx-$headV-${names.size}-", ".idb.tmp")
                names += tmp.getFileName.toString.stripSuffix(".tmp")
                out = Files.newOutputStream(tmp)
                curLen = 0L
              }
              refOf((mi, kind, col)) = "@" + new File(dir, names.last).getPath +
                s":$curLen:${bytes.length}"
              out.write(bytes)
              curLen += bytes.length
              payloads += 1
            }
          }
        m.blooms.toSeq.sortBy(_._1).foreach { case (i, p) => add(0, i, p) }
        m.pblooms.toSeq.sortBy(_._1).foreach { case (i, (_, p)) => add(1, i, p) }
        m.ngblooms.toSeq.sortBy(_._1).foreach { case (i, (_, p)) => add(2, i, p) }
      }
      if (payloads == 0) return (0, 0, headV)
    } catch { case e: Throwable =>
      closeOut(); dropStaged(); throw e
    } finally closeOut()
    try names.foreach { name =>
      Files.move(Paths.get(dir, name + ".tmp"), Paths.get(dir, name),
        StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: Throwable => dropStaged(); throw e }
    val bundles = names
    val newMetas = head.metas.zipWithIndex.map { case (m, mi) =>
      m.copy(
        blooms = m.blooms.map { case (i, p) =>
          i -> refOf.getOrElse((mi, 0, i), p) },
        pblooms = m.pblooms.map { case (i, (w, p)) =>
          i -> (w, refOf.getOrElse((mi, 1, i), p)) },
        ngblooms = m.ngblooms.map { case (i, (w, p)) =>
          i -> (w, refOf.getOrElse((mi, 2, i), p)) })
    }
    val nv =
      try GraftManifest.commitMetas(dir, newMetas,
        head.schemaDdl.getOrElse(throw new IllegalStateException(
          s"graft compact_index: head at $dir carries no schema")),
        truncate = true, expectedBase = Some(headV),
        op = Some("COMPACT-INDEX"))
      catch {
        case e: Throwable =>
          bundles.foreach(name => Files.deleteIfExists(Paths.get(dir, name)))
          throw e
      }
    (payloads, bundles.size, nv)
  }

}

private[sources] class GraftOptimizeProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "optimize"
  override def description(): String =
    "compact (optionally Z-ORDER, optionally small-files-only) the head snapshot"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("target_files", IntegerType).build(),
    ProcedureParameter.in("zorder_by", StringType).defaultValue("''").build(),
    ProcedureParameter.in("max_file_bytes", LongType).defaultValue("0").build())

  /** Incremental (small-files-only) compaction — shared kernel in
    * [[GraftMaintenance]] (round 14: the streaming sink's auto-optimize
    * post-commit hook runs the SAME binpack, so `CALL optimize` and the
    * write-option policy cannot drift apart). */
  private def binpack(spark: org.apache.spark.sql.SparkSession, dir: String,
      head: GraftManifest, target: Int, maxBytes: Long): java.util.Iterator[Scan] = {
    val (before, after, nv) =
      GraftMaintenance.binpack(spark, dir, head, target, maxBytes)
    result(StructType.fromDDL("files_before INT, files_after INT, new_version INT"),
      before, after, nv)
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit, pmod, shiftleft, shiftright}
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val target = input.getInt(1)
    val zcolsArg: Seq[String] =
      (if (input.numFields > 2 && !input.isNullAt(2))
        input.getUTF8String(2).toString else "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val maxBytes =
      if (input.numFields > 3 && !input.isNullAt(3)) input.getLong(3) else 0L
    val spark = org.apache.spark.sql.SparkSession.active
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(s"graft optimize: no committed version at $dir"))
    // a DECLARED curve layout (`#sortspec=zorder(...)`, recorded by a
    // prior zorder rewrite) makes plain maintenance RE-Z-ORDER instead of
    // hash-scattering the clustering away — the same preservation rule
    // declared sorts and partition layouts already get
    val zcols: Seq[String] = if (zcolsArg.nonEmpty) zcolsArg
      else head.sortSpec.flatMap(GraftManifest.zorderCols).getOrElse(Nil)
    if (maxBytes > 0) {
      require(zcolsArg.isEmpty,
        "graft optimize: zorder_by requires a full rewrite — omit max_file_bytes")
      return binpack(spark, dir, head, target, maxBytes)
    }
    val snapshot = spark.read.format("graft-sink").option("path", dir).load()
    // a full rewrite of a uniformly partitioned table PRESERVES its
    // layout (identity or bucket) — silently flattening would forfeit
    // every future partition-pruned read and SPJ plan. Z-order rewrites
    // keep their flat range-partitioned curve layout (documented: the
    // curve IS the clustering).
    val keepLayout: Option[String] = {
      val ps = head.metas.flatMap(_.partition.map(_._1)).distinct
      if (zcols.isEmpty && ps.size == 1 && head.metas.forall(_.partition.isDefined))
        Some(ps.head)
      else None
    }
    val rewritten =
      if (keepLayout.isDefined) {
        val pc = keepLayout.get
        GraftBucket.parse(pc) match {
          case Some((n, src)) if snapshot.schema.fields.exists(f =>
              f.name == src && f.dataType == LongType) =>
            snapshot.repartition(org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.col(src),
              org.apache.spark.sql.functions.lit(n)))
          case Some((n, src)) =>
            // STRING bucket source: re-derive the ordinal with the same
            // Java-hashCode math the writer's bucket() uses, so each
            // bucket's rows co-locate in one task — a FULL rewrite must
            // not funnel the whole table through coalesce(1) (round-16b
            // review; that shape is only defensible for binpack's
            // small-by-definition victims). One UDF on a maintenance
            // rewrite path, not a query path.
            val ord = org.apache.spark.sql.functions.udf((s: String) =>
              if (s == null) 0
              else GraftBucket.of(n, org.apache.spark.sql.types.StringType, s))
            snapshot.repartition(ord(org.apache.spark.sql.functions.col(src)))
          case None => snapshot.repartition(
            org.apache.spark.sql.functions.col(pc))
        }
      }
      else if (zcols.isEmpty) head.sortSpec match {
        // a DECLARED reversed layout (round 15) shapes its own frame:
        // the writer requests no distribution for reverse(...), so the
        // re-cluster on the reversed string happens here
        case Some(sc) if GraftManifest.reverseCol(sc)
            .exists(snapshot.schema.fieldNames.contains) =>
          val rc = GraftManifest.reverseCol(sc).get
          snapshot.repartitionByRange(target,
              org.apache.spark.sql.functions.reverse(col(rc)))
            .sortWithinPartitions(
              org.apache.spark.sql.functions.reverse(col(rc)))
        // a DECLARED sort (range-clustered) layout survives compaction —
        // the writer's own ordered distribution re-ranges it (the write
        // below pins sortBy + a strict target width), so leave the
        // frame unshaped here
        case Some(sc) if GraftManifest.sortCols(sc)
            .forall(snapshot.schema.fieldNames.contains) => snapshot
        case _ => snapshot.repartition(target)
      }
      else {
        val missing = zcols.filterNot(snapshot.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"graft optimize: zorder_by column(s) ${missing.mkString(", ")} " +
            s"not in the table schema (${snapshot.schema.fieldNames.mkString(", ")})")
        GraftOptimizeProcedure.zShape(snapshot, zcols, target)
      }
    val ow0 = GraftMaintenance.carryIndexes(head,
      rewritten.write.format("graft-sink").option("path", dir))
      .option("expectedBaseVersion", head.version.toString)
      .option("operation", "OPTIMIZE")
    // declared-sort tables recompact to EXACTLY target_files disjoint
    // range files (strict width: the non-strict rebalance would let AQE
    // fold a small table to one file and ignore the requested target)
    val ow = head.sortSpec.filter(sc =>
        zcols.isEmpty && keepLayout.isEmpty &&
          GraftManifest.sortCols(sc).nonEmpty &&
          GraftManifest.sortCols(sc)
            .forall(rewritten.schema.fieldNames.contains)) match {
      case Some(sc) => ow0.option("sortBy", sc)
        .option("writePartitions", target.toString)
        .option("distributionStrict", "true")
      // a z rewrite shapes its own frame (range on the curve value) and
      // DECLARES the layout so the next plain OPTIMIZE preserves it;
      // the writer requests no distribution for a zorder(...) spec
      case None if zcols.nonEmpty =>
        ow0.option("sortBy", s"zorder(${zcols.mkString(",")})")
      // a reversed layout keeps its declaration (the fresh files
      // re-record `#rvstats` through the sortBy-armed writer)
      case None => head.sortSpec.filter(sc =>
          keepLayout.isEmpty && GraftManifest.reverseCol(sc)
            .exists(rewritten.schema.fieldNames.contains))
        .fold(ow0)(sc => ow0.option("sortBy", sc))
    }
    keepLayout.fold(ow)(pc => ow.option("partitionBy", pc))
      .mode("overwrite").save()
    val after = GraftManifest.readVersion(dir, None).get
    result(StructType.fromDDL("files_before INT, files_after INT, new_version INT"),
      head.metas.size, after.metas.size, after.version)
  }
}

private[sources] object GraftOptimizeProcedure {
  /** QUANTILE-RANK z-curve shaping (round 13; was pmod(col, 256), which
    * scrambles raw wide-domain values — post-rewrite file envelopes on
    * the RAW columns spanned the whole domain and the layout never
    * pruned anything the caller would actually probe): each dimension
    * quantile-buckets into 64 ranks via one approx_percentile aggregate
    * over THIS frame (a 63-double broadcast per dimension — the same
    * sampling prepass Delta's OPTIMIZE ZORDER pays as
    * range_partition_id; EXACT percentile materializes a per-partition
    * value map, measured 2 min on a 3.2 M-row rewrite vs seconds for
    * the sketch, and rank cuts only steer locality, never correctness),
    * and the RANK bits interleave — bit i of dimension j lands at curve
    * position i*k + j, the exact interleave sink_zorder oracles in two
    * dimensions. Ranks are order-isomorphic to the raw values, so curve
    * locality IS raw-value locality and the manifest's ordinary min/max
    * envelopes prune probes on every named dimension. Shared by the
    * full z rewrite and the incremental binpack of a declared-curve
    * table (victims-only cuts: sound — envelopes recompute at write). */
  def zShape(frame: org.apache.spark.sql.DataFrame, zcols: Seq[String],
      target: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}
    import org.apache.spark.sql.types._
    // zorder_by columns must be rank-sortable: numeric / date /
    // timestamp / boolean through a double cast, and (round 15) STRING
    // through its 6-byte UTF-8 prefix read as a big-endian number —
    // order-isomorphic to the code-point stats order up to 6-byte
    // granularity (values sharing the prefix tie, which a 64-rank curve
    // cannot distinguish anyway), and 48 bits stays exact in DOUBLE.
    // The r13 rejection existed because a bare double cast ranked every
    // string NULL→0 and collapsed the curve; the prefix rank fixes the
    // cause, so `zorder(lang, doc_id)` mixed text/numeric curves work.
    val badTyped = zcols.filter { c =>
      frame.schema(c).dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType |
             BooleanType | StringType => false
        case _ => true
      }
    }
    require(badTyped.isEmpty,
      s"graft optimize: zorder_by column(s) ${badTyped.mkString(", ")} are " +
        "not numeric/date/timestamp/string — an unrankable column would " +
        "collapse the curve; choose sortBy for other layouts")
    val k = zcols.length
    // 6 interleaved bits per dimension must fit one 64-bit curve value:
    // at k >= 11 the bit position 6k-1 exceeds 63 and Spark's shiftleft
    // WRAPS the shift count mod 64 — high dimensions would silently
    // collide into low bits and the curve would cluster garbage while
    // the commit records a zorder spec maintenance faithfully preserves
    require(k <= 10,
      s"graft optimize: zorder_by supports at most 10 columns, got $k " +
        "(an 11th dimension's bits wrap past the 64-bit curve value)")
    // DATE and TIMESTAMP_NTZ pass the type gate but Spark forbids their
    // direct cast to DOUBLE (ADVICE r14) — route them through epoch
    // numbers first (unix_date days / a TIMESTAMP hop), so the friendly
    // require above stays the only failure surface. Order-isomorphic
    // either way, which is all the rank cuts need.
    def numSql(c: String): String = frame.schema(c).dataType match {
      case DateType => s"cast(unix_date(`$c`) as double)"
      case TimestampNTZType => s"cast(cast(`$c` as timestamp) as double)"
      // first 6 UTF-8 bytes as a big-endian number (12 hex chars through
      // conv): byte order IS the cmpUtf8 stats order on clean strings.
      // rpad with '0' treats missing bytes as 0x00 — without it a SHORT
      // value ranks by magnitude, not prefix ("b"=0x62 would rank below
      // "aa"=0x6161). The empty string pads to all-zero (rank floor).
      case StringType =>
        s"cast(conv(rpad(substring(hex(encode(`$c`, 'UTF-8')), 1, 12)," +
          s" 12, '0'), 16, 10) as double)"
      case _ => s"cast(`$c` as double)"
    }
    val cutsSql = (1 to 63).map(i => i / 64.0).mkString(",")
    val cutExprs = zcols.map(c => org.apache.spark.sql.functions.expr(
      s"approx_percentile(${numSql(c)}, array($cutsSql), 1000)"))
    val cutRow = frame.agg(cutExprs.head, cutExprs.tail: _*).head()
    // empty frame / all-null dimension → approx_percentile yields NULL:
    // rank that dimension constant-0 instead of NPEing mid-OPTIMIZE
    // (ADVICE r13; sound — the envelopes recompute at write either way)
    def cutsAt(j: Int): Seq[Double] =
      Option(cutRow.getSeq[Double](j)).getOrElse(Seq.empty)
    def rank(c: String, cuts: Seq[Double]): Column =
      if (cuts.isEmpty) lit(0)
      else cuts.map(t => org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.expr(numSql(c)) > lit(t), 1)
        .otherwise(0))
        .reduce(_ + _) // 0..63; NULL ranks 0 (nulls cluster first)
    def bitsOf(c: Column, j: Int): Column = (0 until 6).map[Column] { i =>
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
    }.reduce(_ + _)
    val z = zcols.zipWithIndex.map { case (c, j) =>
      bitsOf(rank(c, cutsAt(j)).cast("long"), j) }.reduce(_ + _)
    frame.withColumn("_zcurve", z.cast("long"))
      .repartitionByRange(target, col("_zcurve"))
      .sortWithinPartitions(col("_zcurve"))
      .drop("_zcurve")
  }
}

/** `CALL cat.system.tag(table, name, version)` — name a committed version
  * (`_ref-<name>`): `VERSION AS OF '<name>'` reads it, and VACUUM retains
  * it past the count window until `drop_tag` releases it. Re-tagging an
  * existing name moves it (atomic replace; a ref is derived state over
  * immutable versions, so last-writer-wins is the correct semantic). */
private[sources] class GraftTagProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "tag"
  override def description(): String =
    "name a committed version; tagged versions survive vacuum until drop_tag"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build(),
    ProcedureParameter.in("version", IntegerType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val tag = input.getUTF8String(1).toString
    val v = input.getInt(2)
    GraftManifest.setRef(dir, tag, v)
    result(StructType.fromDDL("tag STRING, version INT"),
      UTF8String.fromString(tag), v)
  }
}

/** `CALL cat.system.drop_tag(table, name)` — release a tag; the next
  * vacuum may reclaim the version it protected. */
private[sources] class GraftDropTagProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "drop_tag"
  override def description(): String = "release a tag"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val tag = input.getUTF8String(1).toString
    val existed = GraftManifest.dropRef(dir, tag)
    result(StructType.fromDDL("tag STRING, existed BOOLEAN"),
      UTF8String.fromString(tag), existed)
  }
}

/** `CALL cat.system.tags(table)` — list the table's named refs as
  * (tag, version) rows, tag-sorted (SHOW TAGS). A directory listing of
  * `_ref-*` files — O(tags), no manifest read. */
private[sources] class GraftTagsProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "tags"
  override def description(): String = "list the table's tags"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    if (GraftManifest.versions(dir).isEmpty) throw new IllegalArgumentException(
      s"graft tags: no committed table at '${input.getUTF8String(0)}'")
    val schema = StructType.fromDDL("tag STRING, version BIGINT")
    // named `listed`, NOT `rows`: the LocalScan's rows() method would
    // shadow a local of that name and compile into an infinite self-loop
    val listed = GraftManifest.refs(dir).toSeq.sortBy(_._1).map { case (t, v) =>
      InternalRow.fromSeq(Seq[Any](UTF8String.fromString(t), v.toLong))
    }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = listed
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.add_constraint(table, name, expr)` — the CHECK/NOT
  * NULL data-quality verb (Delta `ADD CONSTRAINT` re-derived): validates
  * the expression against the head schema ([[GraftCheck]]'s closed
  * grammar — `IS NOT NULL`, comparisons, BETWEEN, IN), proves EVERY
  * EXISTING row satisfies it (one `WHERE NOT (expr)` scan — a
  * constraint the data already violates is refused, not recorded), and
  * commits the head republished with the `#check=` line. From then on
  * every task writer enforces it per appended row; a violating batch
  * aborts with nothing committed. */
private[sources] class GraftAddConstraintProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "add_constraint"
  override def description(): String =
    "add a CHECK constraint: validate existing rows, enforce on every future write"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build(),
    ProcedureParameter.in("expr", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val cname = input.getUTF8String(1).toString
    val expr = input.getUTF8String(2).toString.trim
    require(cname.nonEmpty && cname.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"graft add_constraint: name '$cname' must be alphanumeric/_-. " +
        "(it becomes part of a manifest line)")
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft add_constraint: no committed table at $dir"))
    require(!head.checks.exists(_._1 == cname),
      s"graft add_constraint: '$cname' already exists — drop_constraint first")
    val schema = StructType.fromDDL(head.schemaDdl.getOrElse(
      throw new IllegalStateException(s"graft add_constraint: no schema at $dir")))
    GraftCheck.parse(expr, schema) // validates grammar, column, literal types
    // Delta semantics: the constraint must already HOLD — the expression
    // text is valid SQL by construction, so one negated scan decides
    // (UNKNOWN rows satisfy a CHECK and match neither side of the NOT)
    val violations = org.apache.spark.sql.SparkSession.active
      .read.format("graft-sink").option("path", dir).load()
      .where(s"NOT ($expr)").count()
    require(violations == 0L,
      s"graft add_constraint: $violations existing row(s) violate '$expr' — " +
        "clean the data first (a recorded-but-false constraint would lie to readers)")
    val nv = GraftManifest.commitMetas(dir, head.metas, head.schemaDdl.get,
      truncate = true, expectedBase = Some(head.version),
      op = Some("ADD CONSTRAINT"),
      checksOverride = Some(head.checks :+ (cname -> expr)))
    result(StructType.fromDDL("constraint STRING, expr STRING, new_version INT"),
      UTF8String.fromString(cname), UTF8String.fromString(expr), nv)
  }
}

/** `CALL cat.system.drop_constraint(table, name)` — release a CHECK;
  * later writes stop enforcing it. */
private[sources] class GraftDropConstraintProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "drop_constraint"
  override def description(): String = "drop a CHECK constraint"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val cname = input.getUTF8String(1).toString
    val head = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft drop_constraint: no committed table at $dir"))
    val existed = head.checks.exists(_._1 == cname)
    if (existed)
      GraftManifest.commitMetas(dir, head.metas, head.schemaDdl.getOrElse(
          throw new IllegalStateException(s"graft drop_constraint: no schema at $dir")),
        truncate = true, expectedBase = Some(head.version),
        op = Some("DROP CONSTRAINT"),
        checksOverride = Some(head.checks.filterNot(_._1 == cname)))
    result(StructType.fromDDL("constraint STRING, existed BOOLEAN"),
      UTF8String.fromString(cname), existed)
  }
}

/** `CALL cat.system.constraints(table)` — SHOW CONSTRAINTS: the head's
  * CHECK constraints as (constraint, expr) rows, name-sorted. One header
  * read — O(constraints), never O(data). */
private[sources] class GraftConstraintsProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "constraints"
  override def description(): String = "list the table's CHECK constraints"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val vs = GraftManifest.versions(dir)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"graft constraints: no committed table at '${input.getUTF8String(0)}'")
    val schema = StructType.fromDDL("constraint STRING, expr STRING")
    val listed = GraftManifest.headerFacts(dir, vs.max).checks.sortBy(_._1)
      .map { case (n, e) =>
        InternalRow.fromSeq(Seq[Any](UTF8String.fromString(n), UTF8String.fromString(e)))
      }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = listed
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.files(table)` — the FILES metadata table (Iceberg
  * `t.files` / Delta `DESCRIBE DETAIL` granularity): one row per live
  * data file at the head snapshot, straight from the folded manifest —
  * partition value, physical rows, live rows (physical minus
  * deletion-vector positions), vectored-row count and column width.
  * O(manifest), never touches a data byte: this is how an operator
  * answers "where did my small files come from" / "how much
  * merge-on-read debt is outstanding" on a 100 TB table without a scan.
  * Rows are name-sorted for a stable display order. */
private[sources] class GraftFilesProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "files"
  override def description(): String =
    "one row per live data file: partition, rows, bytes, seq, index surface"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("version", IntegerType).defaultValue("-1").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val v = if (input.numFields > 1 && !input.isNullAt(1) && input.getInt(1) >= 0)
      Some(input.getInt(1)) else None
    val m = GraftManifest.readVersion(dir, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft files: no committed table at '${input.getUTF8String(0)}'"))
    // round 13 appended the ops columns a capacity audit needs — bytes
    // on disk, data sequence number, and the per-file index surface
    // (exact-stat / bound / bloom / NDV column counts): "why is this
    // probe slow" answers from O(files) manifest facts, zero data reads
    val schema = StructType.fromDDL(
      "file STRING, partition_col STRING, partition_value STRING, " +
        "rows BIGINT, live_rows BIGINT, dv_rows BIGINT, n_cols INT, " +
        "bytes BIGINT, seq BIGINT, n_stats INT, n_bounds INT, " +
        "n_blooms INT, n_ndvs INT, n_centroids INT")
    val listed = m.metas.sortBy(_.name).map { f =>
      val sz = scala.util.Try(java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, f.name))).getOrElse(-1L)
      InternalRow.fromSeq(Seq[Any](
        UTF8String.fromString(f.name),
        f.partition.map(p => UTF8String.fromString(p._1)).orNull,
        f.partition.map(p => UTF8String.fromString(p._2)).orNull,
        f.rows, f.liveRows, f.dv.map(_._2).getOrElse(0L), f.ncols,
        sz, f.seq.toLong, f.stats.size - f.bounds.size, f.bounds.size,
        f.blooms.size, f.ndvs.size, f.centroids.size))
    }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = listed
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.partitions(table)` — the PARTITIONS metadata table
  * (Iceberg `t.partitions`): per partition value, how many files hold it
  * and the physical/live row totals, folded from the head manifest in
  * O(manifest). An unpartitioned table reports one NULL-partition row.
  * The 100 TB use: spotting the skewed or fragmented partition (1 value,
  * 10k files) BEFORE it becomes a slow scan — and feeding `optimize`
  * exactly the values worth compacting. */
private[sources] class GraftPartitionsProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "partitions"
  override def description(): String =
    "per partition value: file count, physical rows, live rows, bytes"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val m = GraftManifest.readVersion(dir, None).getOrElse(
      throw new IllegalArgumentException(
        s"graft partitions: no committed table at '${input.getUTF8String(0)}'"))
    // bytes appended round 13 (mirrors `files`): the skew/fragmentation
    // audit needs SIZE, not just counts — one value at 10 GB in 10k files
    // and one at 10 GB in one file read the same by rows alone
    val schema = StructType.fromDDL(
      "partition STRING, n_files BIGINT, rows BIGINT, live_rows BIGINT, " +
        "bytes BIGINT")
    val listed = m.metas.groupBy(_.partition.map(_._2)).toSeq
      .sortBy(_._1.getOrElse("")).map { case (pv, fs) =>
        val bytes = fs.map(f => scala.util.Try(java.nio.file.Files.size(
          java.nio.file.Paths.get(dir, f.name))).getOrElse(0L)).sum
        InternalRow.fromSeq(Seq[Any](
          pv.map(UTF8String.fromString).orNull,
          fs.size.toLong, fs.map(_.rows).sum, fs.map(_.liveRows).sum, bytes))
      }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = listed
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.history(table)` — the commit audit (DESCRIBE HISTORY):
  * one row per committed version, NEWEST FIRST, with the commit clock, the
  * operation that produced it (the manifests' `#op=` label — APPEND /
  * OVERWRITE / DELETE / UPDATE / MERGE / TRUNCATE / OPTIMIZE / RESTORE /
  * CREATE TABLE / ADD COLUMNS; pre-label manifests read as 'WRITE'), and
  * the version's SNAPSHOT facts (file count, live rows — what a reader
  * pinned there observes). Driver-side O(versions) HEADER reads — every
  * manifest carries its snapshot's `_total` and `#files=` in the header,
  * so the audit never parses a file list (a 100k-file checkpoint costs
  * the same header read as an empty table; pre-`#files` manifests fall
  * back to one fold each). Bounded by the OPTIMIZE/VACUUM lifecycle,
  * never by data size; vacuumed versions simply no longer appear
  * (vacuum is the audit's eraser too). */
private[sources] class GraftHistoryProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "history"
  override def description(): String =
    "one row per committed version: clock, operation, snapshot file/row counts"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val vs = GraftManifest.versions(dir)
    if (vs.isEmpty) throw new IllegalArgumentException(
      s"graft history: no committed table at '${input.getUTF8String(0)}'")
    val schema = StructType.fromDDL(
      "version BIGINT, ts_millis BIGINT, operation STRING, n_files BIGINT, total_rows BIGINT")
    val audit = vs.sorted.reverse.map { v =>
      val h = GraftManifest.headerFacts(dir, v)
      val m = if (h.nFiles.isDefined) h
        else GraftManifest.readVersion(dir, Some(v)).get // pre-#files: fold once
      InternalRow.fromSeq(Seq[Any](v.toLong, m.ts.getOrElse(0L),
        UTF8String.fromString(m.op.getOrElse("WRITE")),
        m.nFiles.getOrElse(m.metas.size).toLong, m.total))
    }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = audit
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** The `bucket` V2 function the catalog exposes for transform
  * resolution. Its semantics are [[GraftBucket.of]] EXACTLY — the writer,
  * the scan's partition pruning and this function must agree, or a
  * storage-partitioned join would co-locate the wrong rows. Spark binds
  * it against (int numBuckets, <source column>). */
private[sources] object GraftBucketUnbound
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "graft bucket transform: floorMod(v, n) for longs, floorMod(String.hashCode, n) for strings"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.length == 2,
      s"bucket(numBuckets, col) takes 2 arguments, got ${inputType.length}")
    inputType.fields(1).dataType match {
      case LongType   => GraftBucketOfLong
      case StringType => GraftBucketOfString
      case dt => throw new UnsupportedOperationException(
        s"graft bucket() supports long/string source columns, got $dt")
    }
  }
}

private[sources] trait GraftBucketBound
    extends org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket" // equality across scans
  override def resultType(): org.apache.spark.sql.types.DataType = IntegerType
  override def isResultNullable: Boolean = false
}

private[sources] object GraftBucketOfLong extends GraftBucketBound {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, LongType)
  override def produceResult(input: InternalRow): Integer =
    Math.floorMod(input.getLong(1), input.getInt(0).toLong).toInt
}

private[sources] object GraftBucketOfString extends GraftBucketBound {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(IntegerType, StringType)
  override def produceResult(input: InternalRow): Integer =
    Math.floorMod(input.getUTF8String(1).toString.hashCode, input.getInt(0))
}

/** `CALL cat.system.txn_publish(tables, ids)` — commit N staged WAP
  * batches (comma-separated, positionally aligned) across N tables
  * ATOMICALLY: every table advances or none does. Mechanics in
  * [[GraftManifest.txnPublish]]: per-table version slots are claimed as
  * INVISIBLE pending manifests; creating the single root-level marker
  * file is the one atomic commit point; any failed claim rolls the
  * never-visible pending claims back. The fact+dim consistent publish a
  * warehouse refresh needs — no reader can observe the fact advanced
  * without its dim. */
private[sources] class GraftTxnPublishProcedure(cat: GraftCatalog)
    extends GraftProcedure(cat) {
  override def name(): String = "txn_publish"
  override def description(): String =
    "atomically publish staged WAP batches across multiple tables (all or none)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("tables", StringType).build(),
    ProcedureParameter.in("ids", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val tables = input.getUTF8String(0).toString.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    val ids = input.getUTF8String(1).toString.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(tables.size == ids.size && tables.nonEmpty,
      s"txn_publish: tables (${tables.size}) and ids (${ids.size}) must align")
    // Marker-name safety: the ids compose a filename under the catalog
    // root, so the charset here is STRICTER than stageWap's — no '/'
    // or '..' (an id could otherwise place the durable marker, and the
    // pendingInvisible existence probe, outside the root) and no '-'
    // (the joiner: ids a-b,c and a,b-c would collide into one marker,
    // conflating two distinct transactions). Dashed WAP ids remain
    // publishable per-table via wap_publish.
    ids.foreach(id => require(id.matches("[A-Za-z0-9_]+"),
      s"txn_publish: id '$id' must be [A-Za-z0-9_]+ (it names the commit marker)"))
    // deterministic marker name = the durable record of WHICH stages
    // committed together; a reused id set collides loudly rather than
    // double-publishing
    val marker = java.nio.file.Paths.get(cat.rootDir,
      "_txncommit-" + ids.mkString("-"))
    val versions = GraftManifest.txnPublish(
      tables.zip(ids).map { case (t, id) => (cat.dirForName(t), id) }, marker)
    val outSchema = StructType.fromDDL("table_name STRING, id STRING, new_version BIGINT")
    // binder name distinct from the LocalScan member (the
    // GraftTagsProcedure lesson: `rows` would shadow into a self-call)
    val outRows = tables.zip(ids).zip(versions).map { case ((t, id), v) =>
      InternalRow.fromSeq(Seq[Any](
        UTF8String.fromString(t), UTF8String.fromString(id), v.toLong))
    }.toArray
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = outRows
      override def readSchema(): StructType = outSchema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}

/** `CALL cat.system.wap_publish(table, id)` / `wap_abort(table, id)` —
  * settle a staged write-audit-publish batch: publish replays it as an
  * ordinary append commit CONDITIONED on the head the stage planned
  * against (a moved head throws instead of silently interleaving the
  * unaudited state); abort deletes the staged files eagerly (no version
  * ever named them). */
private[sources] class GraftWapProcedure(cat: GraftCatalog, publish: Boolean)
    extends GraftProcedure(cat) {
  override def name(): String = if (publish) "wap_publish" else "wap_abort"
  override def description(): String =
    if (publish) "publish a staged WAP batch as a conditioned append commit"
    else "abort a staged WAP batch, deleting its files"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("id", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = cat.dirForName(input.getUTF8String(0).toString)
    val id = input.getUTF8String(1).toString
    val schema = StructType.fromDDL("action STRING, id STRING, result BIGINT")
    val (action, res) =
      if (publish) ("published", GraftManifest.publishWap(dir, id).toLong)
      else ("aborted", GraftManifest.abortWap(dir, id).toLong)
    val row = InternalRow.fromSeq(Seq[Any](
      UTF8String.fromString(action), UTF8String.fromString(id), res))
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}
