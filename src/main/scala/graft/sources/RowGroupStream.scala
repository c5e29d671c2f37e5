package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Micro-batch streaming source over an immutable parquet directory with
  * PARQUET-ROW-GROUP-granularity admission control — the rate-limited
  * ingest source for a continuous training-data pipeline.
  *
  * Why row groups and not files: Spark's file stream source admits work
  * per FILE (`maxFilesPerTrigger`), so one 10 GB file is one indivisible
  * admission unit — a single trigger must absorb however many rows it
  * holds, and batch memory is unbounded by the rate limit. A parquet row
  * group is the file's own internal split unit (its footer publishes each
  * group's byte range and row count), so admission by row group bounds
  * every micro-batch by data actually read, independent of how the
  * upstream writer sized its files. At 100 TB — where files are written
  * big deliberately — the row group is the only admission unit that is
  * both exact (no row skipping/seek inside the unit) and bounded.
  *
  * Planning cost is one footer read per file at stream start (the same
  * footer pass any parquet scan pays); data files are never opened until
  * their group is admitted. Offsets are a count into the path-sorted
  * (file, rowGroup) slice list, so restart-from-checkpoint resumes
  * exactly after the last committed slice: each slice is delivered
  * EXACTLY ONCE to the engine (the replayed tail after a crash is the
  * standard source-replay contract — pair with
  * [[graft.streaming.EpochLedger]] for an exactly-once SINK effect).
  * The directory must be immutable while a checkpoint is live (the
  * contract every file-based offset scheme has); a shrunk slice list
  * fails loudly instead of silently re-reading shifted offsets.
  *
  * Column pruning pushes into the parquet projection
  * (`SupportsPushDownRequiredColumns` → parquet read schema), so
  * `ReadSchema` stays tight through the streaming scan. Supported column
  * types: BOOLEAN, INT32 (+DATE), INT64 (+TIMESTAMP micros — NTZ is
  * normalized to session-zone timestamp exactly like
  * [[Tables.loadEvents]]), FLOAT, DOUBLE, BINARY(UTF8). Anything else is
  * a loud reject at schema inference, never a silent null.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft-rowgroups")
  *   .option("path", dir)
  *   .option("maxRowGroupsPerTrigger", 4)   // or maxRowsPerTrigger
  *   .load()
  * }}}
  */
class RowGroupStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rowgroups"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = RowGroupStream.pathOption(options)
    // ONE footer, not a full discover(): schema inference would otherwise
    // pay the whole per-file footer pass a second time at stream start
    RowGroupStream.toStructType(
      MessageTypeParser.parseMessageType(RowGroupStream.firstFileSchema(dir)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new RowGroupTable(schema, properties.get("path"))
}

private[sources] class RowGroupTable(tableSchema: StructType, dir: String)
    extends Table with SupportsRead {
  require(dir != null, "graft-rowgroups: option 'path' is required")
  override def name(): String = s"graft-rowgroups:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RowGroupScanBuilder(tableSchema, dir, options)
}

private[sources] class RowGroupScanBuilder(full: StructType, dir: String,
                                           options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the source's field order (parquet groups come back in
    // projection order; keeping file order makes the mapping positional)
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = new RowGroupScan(required, dir, options)
}

private[sources] class RowGroupScan(readSchemaV: StructType, dir: String,
                                    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = readSchemaV
  override def description(): String =
    s"graft-rowgroups $dir cols=[${readSchemaV.fieldNames.mkString(",")}]"

  override def toBatch: Batch =
    throw new UnsupportedOperationException(
      "graft-rowgroups is a streaming source; batch reads should use spark.read.parquet")

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val maxGroups = Option(options.get("maxRowGroupsPerTrigger")).map(_.toInt)
    val maxRows = Option(options.get("maxRowsPerTrigger")).map(_.toLong)
    new RowGroupMicroBatchStream(dir, readSchemaV, maxGroups, maxRows)
  }
}

/** Offset = how many slices of the path-sorted (file, rowGroup) list have
  * been admitted, plus the IDENTITY (basename#group) of the last admitted
  * slice. The identity is what makes offset-by-count safe under an
  * append-only directory: a new file that sorts BEFORE existing ones
  * would silently shift every index — re-delivering committed rows and
  * dropping new ones — so restart validates that slice `n-1` is still
  * the slice the checkpoint said it was, and fails loudly otherwise.
  */
private[sources] case class SliceOffset(n: Long, last: Option[String]) extends Offset {
  override def json(): String = last match {
    case None => n.toString
    case Some(l) =>
      // escape the two JSON-active characters a filename could carry —
      // an unescaped quote would make the checkpoint offset unparseable
      val esc = l.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"n":$n,"last":"$esc"}"""
  }
}

private[sources] object SliceOffset {
  private val WithLast = """\{"n":(\d+),"last":"(.*)"\}""".r
  def parse(json: String): SliceOffset = json.trim match {
    case WithLast(n, l) =>
      SliceOffset(n.toLong, Some(l.replace("\\\"", "\"").replace("\\\\", "\\")))
    case bare => SliceOffset(bare.toLong, None) // pre-identity checkpoints
  }
}

private[sources] class RowGroupMicroBatchStream(
    dir: String, readSchema: StructType,
    maxGroups: Option[Int], maxRows: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(maxGroups.forall(_ >= 1), "maxRowGroupsPerTrigger must be >= 1")
  require(maxRows.forall(_ >= 1), "maxRowsPerTrigger must be >= 1")

  // discovered once per stream (re-discovered per restart): footers only
  private lazy val slices: IndexedSeq[RowGroupStream.Slice] = RowGroupStream.discover(dir)
  // AvailableNow snapshot: set before the run starts, caps admission so
  // the query drains a FIXED slice list and then stops
  @volatile private var availableNowCap: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = slices.length.toLong

  override def getDefaultReadLimit: ReadLimit =
    (maxGroups, maxRows) match {
      case (Some(g), _) => ReadLimit.maxFiles(g) // slices are our "files"
      case (None, Some(r)) => ReadLimit.maxRows(r)
      case _ => ReadLimit.allAvailable()
    }

  override def initialOffset(): Offset = SliceOffset(0L, None)

  override def deserializeOffset(json: String): Offset = SliceOffset.parse(json)

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  private def identityAt(i: Long): Option[String] =
    if (i <= 0) None
    else {
      val s = slices((i - 1).toInt)
      Some(s"${new java.io.File(s.file).getName}#${s.groupIdx}")
    }

  /** Validate an offset's recorded slice identity against the current
    * directory. Called from BOTH latestOffset and planInputPartitions:
    * after a crash, Spark replays the pending batch straight from the
    * offset log through planInputPartitions — no latestOffset call — so
    * a check that lives only in admission would let exactly that replay
    * read shifted row groups.
    */
  private def validateIdentity(o: SliceOffset): Unit = {
    require(o.n <= slices.length.toLong,
      s"graft-rowgroups: checkpoint offset ${o.n} exceeds the ${slices.length} " +
        s"slices under $dir — the directory shrank under a live checkpoint " +
        "(the source requires an immutable/append-only directory)")
    o.last.foreach { expect =>
      val actual = identityAt(o.n)
      require(actual.contains(expect),
        s"graft-rowgroups: slice ${o.n - 1} under $dir is now " +
          s"${actual.getOrElse("absent")}, but the checkpoint committed $expect " +
          "— a file was added that sorts before existing ones (or one was " +
          "replaced), shifting every offset; the directory must be append-only " +
          "in sort order while a checkpoint is live")
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[SliceOffset]
    val from = so.n
    val total =
      if (availableNowCap >= 0) math.min(availableNowCap, slices.length.toLong)
      else slices.length.toLong
    validateIdentity(so)
    var end = from
    var rowBudget = maxRows.getOrElse(Long.MaxValue)
    val groupBudget = maxGroups.getOrElse(Int.MaxValue)
    // admit at least one slice even when it alone exceeds the row budget —
    // a slice is indivisible, and zero admission would stall the stream
    while (end < total && (end - from) < groupBudget &&
           (end == from || rowBudget >= slices(end.toInt).rows)) {
      rowBudget -= slices(end.toInt).rows
      end += 1
    }
    SliceOffset(end, identityAt(end))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[SliceOffset]
    val eo = end.asInstanceOf[SliceOffset]
    validateIdentity(so)
    validateIdentity(eo) // the crash-replay path arrives here without latestOffset
    (so.n.toInt until eo.n.toInt).map(i => slices(i): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RowGroupReaderFactory(readSchema.fieldNames)

  override def commit(end: Offset): Unit = () // files are immutable; nothing to release
  override def stop(): Unit = ()
}

private[sources] class RowGroupReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RowGroupReader(partition.asInstanceOf[RowGroupStream.Slice], columns)
}

/** Reads exactly one parquet row group via the file-range filter (a block
  * is selected iff its byte midpoint falls in the range — passing the
  * block's own [start, start+compressedLen) selects precisely it).
  */
private[sources] class RowGroupReader(slice: RowGroupStream.Slice,
                                      columns: Array[String])
    extends PartitionReader[InternalRow] {
  private val fileSchema = MessageTypeParser.parseMessageType(slice.schemaStr)
  private val projection = new MessageType(fileSchema.getName,
    columns.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
  private val sparkFields = RowGroupStream.toStructType(projection).fields

  private val reader: ParquetReader[Group] = {
    val conf = new Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      projection.toString)
    ParquetReader.builder(new GroupReadSupport(), new HPath(slice.file))
      .withConf(conf)
      .withFileRange(slice.startByte, slice.startByte + slice.lenBytes)
      .build()
  }

  private var current: Group = _

  override def next(): Boolean = { current = reader.read(); current != null }

  override def get(): InternalRow = {
    val vals = new Array[Any](sparkFields.length)
    var i = 0
    while (i < sparkFields.length) {
      vals(i) =
        if (current.getFieldRepetitionCount(i) == 0) null
        else sparkFields(i).dataType match {
          case BooleanType => current.getBoolean(i, 0)
          case IntegerType | DateType => current.getInteger(i, 0)
          case LongType | TimestampType => current.getLong(i, 0)
          case FloatType => current.getFloat(i, 0)
          case DoubleType => current.getDouble(i, 0)
          case StringType => UTF8String.fromBytes(current.getBinary(i, 0).getBytes)
          case dt => throw new IllegalStateException(s"unreachable: $dt passed inference")
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = reader.close()
}

private[sources] object RowGroupStream {

  /** One admission unit: a single row group of a single file. Carries the
    * footer facts the planner and reader need, so executors never re-read
    * footers.
    */
  final case class Slice(file: String, groupIdx: Int, startByte: Long,
                         lenBytes: Long, rows: Long, schemaStr: String)
      extends InputPartition

  def pathOption(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-rowgroups: option 'path' is required")
    p
  }

  private def listParquet(dir: String): IndexedSeq[String] = {
    val d = new java.io.File(dir)
    if (d.isDirectory)
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).sorted.toIndexedSeq
    else if (d.isFile) IndexedSeq(d.getAbsolutePath)
    else IndexedSeq.empty
  }

  /** Schema string of the first (path-sorted) file — one footer read, for
    * inference; the full slice discovery happens once at stream start.
    */
  def firstFileSchema(dir: String): String = {
    val files = listParquet(dir)
    require(files.nonEmpty, s"graft-rowgroups: no parquet files under $dir")
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(files.head), new Configuration()))
    try r.getFooter.getFileMetaData.getSchema.toString
    finally r.close()
  }

  /** Footer pass: path-sorted files → flat slice list. Deterministic, so
    * the slice index is a stable offset space for a checkpoint.
    */
  def discover(dir: String): IndexedSeq[Slice] = {
    val conf = new Configuration()
    listParquet(dir).flatMap { f =>
      val in = HadoopInputFile.fromPath(new HPath(f), conf)
      val r = ParquetFileReader.open(in)
      try {
        val schemaStr = r.getFooter.getFileMetaData.getSchema.toString
        r.getFooter.getBlocks.asScala.toIndexedSeq.zipWithIndex.map {
          case (b, i) =>
            Slice(f, i, b.getStartingPos, b.getCompressedSize, b.getRowCount, schemaStr)
        }
      } finally r.close()
    }
  }

  /** Supported-subset parquet→Spark schema mapping; loud reject beyond it.
    * TIMESTAMP(MICROS) — adjusted or NTZ — lands as TimestampType, the
    * engine-wide normalization [[Tables.loadEvents]] documents.
    */
  def toStructType(m: MessageType): StructType = StructType(
    m.getFields.asScala.map { f =>
      require(f.isPrimitive,
        s"graft-rowgroups: nested/group field '${f.getName}' is not supported")
      val p = f.asPrimitiveType()
      val logical = p.getLogicalTypeAnnotation
      val dt = p.getPrimitiveTypeName match {
        case PrimitiveTypeName.BOOLEAN => BooleanType
        case PrimitiveTypeName.INT32 =>
          logical match {
            case null => IntegerType
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => DateType
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                // signed narrow widths are value-identical in the int32
                // physical encoding (arrow/pandas write int8/int16 this way)
                if i.isSigned && i.getBitWidth <= 32 => IntegerType
            case other => throw new IllegalArgumentException(
              s"graft-rowgroups: INT32 field '${f.getName}' with logical type " +
                s"$other is not supported — a DECIMAL/TIME surfaced as its raw " +
                "unscaled integer would be silent corruption")
          }
        case PrimitiveTypeName.INT64 =>
          logical match {
            case null => LongType
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              require(t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS,
                s"graft-rowgroups: timestamp unit ${t.getUnit} on '${f.getName}' " +
                  "is not supported (MICROS only)")
              TimestampType
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                if i.isSigned && i.getBitWidth == 64 => LongType
            case other => throw new IllegalArgumentException(
              s"graft-rowgroups: INT64 field '${f.getName}' with logical type " +
                s"$other is not supported — a DECIMAL/TIME surfaced as its raw " +
                "unscaled integer would be silent corruption")
          }
        case PrimitiveTypeName.FLOAT => FloatType
        case PrimitiveTypeName.DOUBLE => DoubleType
        case PrimitiveTypeName.BINARY =>
          logical match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => StringType
            case other => throw new IllegalArgumentException(
              s"graft-rowgroups: BINARY field '${f.getName}' with logical type " +
                s"$other is not supported (UTF8 strings only)")
          }
        case other => throw new IllegalArgumentException(
          s"graft-rowgroups: parquet type $other on '${f.getName}' is not supported")
      }
      StructField(f.getName, dt, nullable = !f.isRepetition(
        org.apache.parquet.schema.Type.Repetition.REQUIRED))
    }.toArray)
}
