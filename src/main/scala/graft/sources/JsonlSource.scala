package graft.sources

import java.util


import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 batch connector: provenance-aware JSONL.
  *
  * Training-data pipelines need to answer "which file and line did
  * this example come from" long after ingest; this source attaches
  * `_file` (file name) and `_line` (1-based line number) to every row
  * at scan time, so provenance is a column, not a convention.
  * Usage:
  *
  *   spark.read.format("graft.sources.JsonlSource")
  *     .schema(userSchema)            // required — no inference pass
  *     .load(dir)                     // table schema = user ++ (_file, _line)
  *
  * Scale behaviors, each pinned by JsonlSourceSpec:
  *  - one InputPartition per file — parallelism tracks the file count;
  *  - `SupportsPushDownFilters` on `_file` (EqualTo / In): matching
  *    files are selected at PLANNING time, non-matching files are
  *    never opened — the file-level analogue of partition pruning;
  *  - `SupportsPushDownRequiredColumns`: when the query needs only
  *    provenance columns, lines are counted without JSON-parsing them
  *    at all (column pruning that skips WORK, not just bytes).
  *
  * Malformed lines follow P6 PERMISSIVE semantics: user columns null,
  * provenance still populated. Supported field types: string, long,
  * int, double, boolean — anything else fails at table resolution
  * (a silent all-null column would masquerade as missing data). The
  * session's Hadoop configuration (spark.hadoop.*, object-store
  * credentials) is captured at planning time and shipped to readers
  * as a [[org.apache.spark.util.SerializableConfiguration]].
  */
class JsonlSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft.sources.JsonlSource requires an explicit .schema(...) — " +
        "schema inference would be a full extra pass over the data")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null, "graft.sources.JsonlSource: .load(path) is required")
    val bad = schema.fields.filterNot(f =>
      f.name == JsonlSource.FileCol || f.name == JsonlSource.LineCol ||
        JsonlSource.supportedTypes.contains(f.dataType))
    require(bad.isEmpty,
      s"graft.sources.JsonlSource: unsupported field type(s) " +
        bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
        " — supported: string, long, int, double, boolean")
    new JsonlTable(schema, path)
  }
}

object JsonlSource {
  val FileCol = "_file"
  val LineCol = "_line"

  val supportedTypes: Set[DataType] =
    Set(StringType, LongType, IntegerType, DoubleType, BooleanType)

  val provenanceFields: Seq[StructField] = Seq(
    StructField(FileCol, StringType, nullable = false),
    StructField(LineCol, LongType, nullable = false))

  def fullSchema(user: StructType): StructType =
    StructType(user.fields.filterNot(f =>
      f.name == FileCol || f.name == LineCol) ++ provenanceFields)
}

private[sources] class JsonlTable(userSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft_jsonl($path)"
  override def schema(): StructType = JsonlSource.fullSchema(userSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the SESSION's Hadoop configuration here (driver side) so
    // spark.hadoop.* settings and object-store credentials apply; a
    // bare `new Configuration()` would silently ignore them
    val conf = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new JsonlScanBuilder(schema(), path, conf)
  }
}

private[sources] class JsonlScanBuilder(
    full: StructType, path: String,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = full
  private var fileFilters: Option[Set[String]] = None // None = all files
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = filters.filter {
      case EqualTo(JsonlSource.FileCol, _: String) => true
      case In(JsonlSource.FileCol, vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    // Conjunctive filters INTERSECT (each must hold for a row to
    // survive), so the set of files that can contain qualifying rows
    // is the intersection of each filter's value set.
    val sets: Seq[Set[String]] = accepted.toSeq.map {
      case EqualTo(_, v: String) => Set(v)
      case In(_, vs) => vs.map(_.asInstanceOf[String]).toSet
      case _ => Set.empty[String]
    }
    if (sets.nonEmpty) fileFilters = Some(sets.reduce(_ intersect _))
    pushed = accepted
    // File pruning is an OPTIMIZATION, not an evaluation: every filter
    // is returned as residual so Spark re-applies it post-scan. That
    // keeps the source correct even when a pushed value can never
    // match the emitted column (e.g. a full path — `_file` holds base
    // names): the scan prunes conservatively, the residual filter
    // gives the exact answer.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new JsonlScan(required, path, fileFilters, pushed, conf)
}

private[sources] class JsonlScan(
    required: StructType, path: String,
    fileFilters: Option[Set[String]],
    pushed: Array[Filter],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // surfaces in explain() via BatchScan — the same "PushedFilters"
  // breadcrumb the built-in file sources print, so plan audits (and
  // PlanShapeSpec-style pins) can see the file pruning
  override def description(): String =
    s"graft_jsonl $path, PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value)
    val files = fs.listStatus(p).filter(_.isFile)
      .map(_.getPath)
      .filter(f => f.getName.endsWith(".jsonl") || f.getName.endsWith(".json"))
      .filter(f => fileFilters.forall(keep =>
        keep.contains(f.getName) || keep.contains(f.toString)))
      .sortBy(_.getName)
    files.map(f => JsonlPartition(f.toString): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(required, conf)
}

private[sources] case class JsonlPartition(file: String) extends InputPartition

private[sources] class JsonlReaderFactory(
    required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new JsonlReader(partition.asInstanceOf[JsonlPartition].file, required, conf)
}

private[sources] class JsonlReader(
    file: String, required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val path = new Path(file)
  private val in = {
    val fs = path.getFileSystem(conf.value)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(path), java.nio.charset.StandardCharsets.UTF_8))
  }
  // provenance-only projection ⇒ the parser is never invoked
  private val needsParse = required.fields.exists(f =>
    f.name != JsonlSource.FileCol && f.name != JsonlSource.LineCol)
  @transient private lazy val mapper = new ObjectMapper()
  private val fileName = UTF8String.fromString(path.getName)
  private var lineNo = 0L
  private var current: InternalRow = _

  override def next(): Boolean = {
    val line = in.readLine()
    if (line == null) return false
    lineNo += 1
    val node: JsonNode =
      if (!needsParse) null
      else try mapper.readTree(line) catch { case _: Exception => null }
    val vals = required.fields.map { f =>
      f.name match {
        case JsonlSource.FileCol => fileName
        case JsonlSource.LineCol => lineNo
        case n =>
          val v = if (node == null) null else node.get(n)
          if (v == null || v.isNull) null
          else f.dataType match {
            case StringType => UTF8String.fromString(
              if (v.isTextual) v.asText() else v.toString)
            case LongType if v.isNumber => v.asLong()
            case IntegerType if v.isNumber => v.asInt()
            case DoubleType if v.isNumber => v.asDouble()
            case BooleanType if v.isBoolean => java.lang.Boolean.valueOf(v.asBoolean())
            case _ => null
          }
      }
    }
    current = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
