package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** AVRO source + sink as a from-scratch DataSource V2 connector
  * (`format("graft-avro")`). The environment ships Avro CORE
  * (`avro-1.12.1.jar` on the Spark classpath) but not the `spark-avro`
  * data-source module, so the row-container format every Kafka/ingest
  * deployment speaks was the one mainstream format with no read/write
  * path — this connector closes that gap with the same public V2 API the
  * graft-docs source (read rungs) and graft-sink (commit protocol)
  * already demonstrate.
  *
  * Scope — the fixture column surface, failing loudly beyond it:
  *  - flat records of long / double / string (no unions, no nesting);
  *  - write: one Avro Object Container File per task (snappy-less null
  *    codec — codec jars are environment-dependent), task commit renames
  *    `.tmp` → `.avro`, JOB commit claims the next `_avro_manifest.g{N}`
  *    generation naming exactly the committed files (the graft-sink
  *    idempotency pattern: a re-run's manifest supersedes the old file
  *    set, orphans stay invisible to manifest-trusting readers);
  *  - read: schema INFERRED from the container header of the first
  *    manifest-named file (Avro is self-describing — no user schema
  *    needed), one input partition per file, column pruning applied at
  *    decode (SupportsPushDownRequiredColumns). At 100 TB an OCF also
  *    splits WITHIN a file on its sync markers; file granularity here
  *    matches the write sharding and keeps the demo honest. */
class AvroSourceProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-avro"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null && path.nonEmpty, "graft-avro requires a path")
    AvroSourceProvider.committedFiles(path).headOption match {
      case Some(f) =>
        val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
        try AvroSourceProvider.toSpark(r.getSchema) finally r.close()
      case None => new StructType() // write-only target: schema from the frame
    }
  }

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new AvroTable(properties.get("path"), schema)
}

object AvroSourceProvider {
  /** The current manifest generation (0 = none yet) — the ONE scan both
    * readers and committers use, so their views of the head can never
    * desynchronize (review: the listing was duplicated verbatim). */
  def maxGeneration(path: String): Int = {
    val gens = Option(new File(path).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("_avro_manifest.g"))
      .filterNot(_.endsWith(".tmp"))
      .flatMap(n => scala.util.Try(n.stripPrefix("_avro_manifest.g").toInt).toOption)
    if (gens.isEmpty) 0 else gens.max
  }

  /** The file names generation `g` commits (empty for g = 0). */
  private[sources] def generation(path: String, g: Int): Seq[String] =
    if (g == 0) Seq.empty
    else new String(Files.readAllBytes(Paths.get(path, s"_avro_manifest.g$g")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq

  /** The files the newest generation names (sorted for deterministic
    * partition order); every `.avro` present if no generation landed yet. */
  def committedFiles(path: String): Seq[File] = maxGeneration(path) match {
    case 0 =>
      Option(new File(path).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".avro")).sortBy(_.getName).toSeq
    case g => generation(path, g).sorted.map(new File(path, _))
  }

  def toSpark(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD, s"expected record schema, got $s")
    StructType(s.getFields.asScala.map { f =>
      val dt = f.schema().getType match {
        case Schema.Type.LONG   => LongType
        case Schema.Type.DOUBLE => DoubleType
        case Schema.Type.STRING => StringType
        case t => throw new IllegalArgumentException(
          s"graft-avro supports long/double/string, got $t for ${f.name}")
      }
      StructField(f.name(), dt)
    }.toSeq)
  }

  def toAvro(s: StructType): Schema = {
    val fields = s.fields.foldLeft(SchemaBuilder.record("row").fields()) {
      (b, f) => f.dataType match {
        case LongType   => b.requiredLong(f.name)
        case DoubleType => b.requiredDouble(f.name)
        case StringType => b.requiredString(f.name)
        case dt => throw new IllegalArgumentException(
          s"graft-avro supports long/double/string, got $dt for ${f.name}")
      }
    }
    fields.endRecord()
  }
}

class AvroTable(path: String, schema0: StructType)
    extends Table with SupportsRead with SupportsWrite {
  require(path != null && path.nonEmpty, "graft-avro requires option(\"path\")")
  override def name(): String = s"graft_avro($path)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(path, schema0)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroWriteBuilder(path, info)
}

/** SaveMode.Append ADDS to the committed set; SaveMode.Overwrite (Spark
  * calls `truncate()` before `build()`) REPLACES it. Before this builder
  * existed, append jobs replaced the manifest with only their own files —
  * an external caller appending a second batch silently lost the first. */
class AvroWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new AvroBatchWrite(path, info.schema(), replace, info.queryId())
  }
}

/** Column pruning reaches the DECODER: only requested fields convert to
  * Catalyst values (Avro still byte-skips the rest row by row — the
  * row-format reality; columnar skipping is what parquet/orc are for). */
class AvroScanBuilder(path: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new AvroScan(path, required)
}

case class AvroInputPartition(file: String) extends InputPartition

class AvroScan(path: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-avro $path ${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    AvroSourceProvider.committedFiles(path)
      .map(f => AvroInputPartition(f.getAbsolutePath): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    AvroReaderFactory(required.json)
}

/** Named serializable factory (an anonymous one would capture the Scan).
  * Carries the PRUNED schema as JSON (Avro `Schema` isn't serializable). */
case class AvroReaderFactory(requiredJson: String) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(partition.asInstanceOf[AvroInputPartition].file,
      org.apache.spark.sql.types.DataType.fromJson(requiredJson).asInstanceOf[StructType])
}

/** Pruning reaches Avro's own decoder: the pruned struct becomes the
  * READER (expected) schema, so schema resolution skips unrequested
  * writer fields at the byte level (ResolvingDecoder emits skip actions)
  * instead of decoding every field and discarding the Catalyst half. */
class AvroPartitionReader(file: String, required: StructType)
    extends PartitionReader[InternalRow] {
  private val fieldNames = required.fieldNames
  private val reader = new DataFileReader[GenericRecord](new File(file),
    new GenericDatumReader[GenericRecord](null, AvroSourceProvider.toAvro(required)))
  override def next(): Boolean = reader.hasNext
  override def get(): InternalRow = {
    val rec = reader.next()
    val vals: Array[Any] = fieldNames.map { n =>
      rec.get(n) match {
        case l: java.lang.Long      => l.longValue()
        case d: java.lang.Double    => d.doubleValue()
        case s: CharSequence        => UTF8String.fromString(s.toString)
        case other => throw new IllegalStateException(
          s"unexpected avro value ${Option(other).map(_.getClass).orNull} for $n")
      }
    }
    new GenericInternalRow(vals)
  }
  override def close(): Unit = reader.close()
}

case class AvroCommit(file: String, rows: Long) extends WriterCommitMessage

class AvroBatchWrite(path: String, schema: StructType, replace: Boolean,
    queryId: String) extends BatchWrite {
  private val jobTag = queryId.replaceAll("[^0-9a-zA-Z]", "").take(8)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    // the queryId tag makes part names unique ACROSS jobs (append jobs
    // from different applications can reuse (partitionId, taskId))
    AvroWriterFactory(path, schema.json, jobTag)

  /** Job commit: atomically land the manifest. Overwrite (truncate)
    * REPLACES the committed set with this job's files; append MERGES the
    * prior set in, so earlier batches stay visible. Concurrency uses the
    * same link(2)-claimed GENERATION protocol as
    * [[GraftManifest.commitMetas]]: a plain read-merge-rename of one manifest
    * file is a lost update under two concurrent appenders (POSIX rename
    * silently replaces — the second committer's REPLACE_EXISTING move
    * erases the first's merge). Each commit instead claims
    * `_avro_manifest.g{N+1}` with `Files.createLink` (atomic EEXIST on a
    * taken slot → re-read the WINNER's generation and retry). The
    * generation files are the only record readers consult. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val mine = messages.map(_.asInstanceOf[AvroCommit])
      .map(m => new File(m.file).getName)
    new File(path).mkdirs()
    var attempt = 0
    while (attempt < 1000) {
      attempt += 1
      val g = AvroSourceProvider.maxGeneration(path)
      val prior = if (replace) Seq.empty else AvroSourceProvider.generation(path, g)
      val names = (prior ++ mine).distinct.sorted
      val body = names.mkString("\n").getBytes("UTF-8")
      val tmp = Files.createTempFile(Paths.get(path), "_avro_manifest.g", ".tmp")
      Files.write(tmp, body)
      try {
        Files.createLink(Paths.get(path, s"_avro_manifest.g${g + 1}"), tmp)
        Files.delete(tmp)
        return
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp); () // lost the race; retry against the new head
      }
    }
    throw new IllegalStateException(s"graft-avro: gave up claiming a manifest generation at $path")
  }

  /** Job abort sweeps ONLY this job's task tmp files (the jobTag rides
    * every part name): a blanket .tmp sweep would clobber a concurrent
    * job's in-flight task files and mid-commit manifest tmp — exactly
    * the concurrency the generation CAS supports (review finding, the
    * same scoping the graft-sink abort fix took in round 16). */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".tmp") && f.getName.contains(jobTag))
      .foreach(_.delete())
}

/** Schema travels as its JSON form — Avro `Schema` is not serializable. */
case class AvroWriterFactory(path: String, schemaJson: String, jobTag: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroDataWriter(path,
      org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType],
      partitionId, taskId, jobTag)
}

class AvroDataWriter(path: String, schema: StructType, partitionId: Int,
    taskId: Long, jobTag: String) extends DataWriter[InternalRow] {
  new File(path).mkdirs()
  private val avroSchema = AvroSourceProvider.toAvro(schema)
  private val tmp = new File(path, f"part-$partitionId%05d-$taskId-$jobTag.tmp")
  private val out = new DataFileWriter[GenericRecord](
    new GenericDatumWriter[GenericRecord](avroSchema)).create(avroSchema, tmp)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val rec = new GenericData.Record(avroSchema)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      // the container schema declares every field REQUIRED, and
      // InternalRow.getLong/getDouble on a null slot silently return 0
      // — refuse loudly instead of corrupting (review finding)
      if (row.isNullAt(i)) throw new IllegalArgumentException(
        s"graft-avro: NULL in column '${f.name}' — the Avro container " +
          "schema declares required fields; COALESCE or filter nulls " +
          "before writing")
      f.dataType match {
        case LongType   => rec.put(f.name, row.getLong(i))
        case DoubleType => rec.put(f.name, row.getDouble(i))
        case StringType => rec.put(f.name, row.getUTF8String(i).toString)
        case dt => throw new IllegalArgumentException(
          s"graft-avro supports long/double/string, got $dt for ${f.name}")
      }
    }
    out.append(rec)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    val fin = new File(path, tmp.getName.stripSuffix(".tmp") + ".avro")
    Files.move(tmp.toPath, fin.toPath, StandardCopyOption.ATOMIC_MOVE)
    AvroCommit(fin.getAbsolutePath, rows)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: java.io.IOException => () }
    tmp.delete(); ()
  }
  override def close(): Unit = ()
}
