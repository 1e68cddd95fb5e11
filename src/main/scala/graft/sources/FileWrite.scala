package graft.sources

import graft.icelite.{ColRange, IceTable, IcebergFormat, StringOrder}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type => PType, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData, RowDeltaUtils}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One parquet file a write task staged, described the same way for both
  * table formats: `path` is relative to the table location, `ranges` are
  * the per-column [min, max] of the rangeable top-level columns (in the
  * representation Spark's `cast(string)` gives, strings in [[StringOrder]]
  * and truncated like Iceberg's `truncate(16)`), `nullCounts` cover every
  * top-level column the file holds, and `partition` holds a rolled
  * file's identity values by source column (Catalyst values: strings,
  * ints — dates as epoch days — longs, booleans; nulls omitted). Each
  * format's driver commit maps it to its own manifest record. */
final case class WrittenFile(
    path: String,
    rows: Long,
    sizeBytes: Long,
    splitOffsets: Seq[Long],
    ranges: Map[String, ColRange],
    nullCounts: Map[String, Long],
    partition: Map[String, Any] = Map.empty)

/** A write task's commit message: the data files it staged and, for a
  * row-level delta task, its position-delete files. */
final case class WrittenFiles(data: Seq[WrittenFile], deletes: Seq[WrittenFile] = Nil)
    extends WriterCommitMessage

object WrittenFiles {
  /** Data and delete files across a write's task messages. Writers open
    * a file only for its first row, so a task that saw no rows adds no
    * file (a stats-less empty file would be unprunable forever). */
  def of(messages: Array[WriterCommitMessage]): (Seq[WrittenFile], Seq[WrittenFile]) = {
    val ms = messages.toSeq.collect { case m: WrittenFiles => m }
    (ms.flatMap(_.data), ms.flatMap(_.deletes))
  }
}

/** Where one write's tasks stage files and how rows map onto them:
  * files land under `location/dataRel`, stamped with `fieldIds` (empty =
  * the ids the StructFields carry, if any) and `nestedIds`. Non-empty
  * `partCols` roll one file per identity value over rows clustered by
  * them; with `hive` the values become `c=v/` directories and the columns
  * leave the files (IceLite's layout), otherwise files keep every column
  * and the values ride only in the commit message (Iceberg v2). */
final case class FileWriteSpec(
    conf: SerializableHadoopConf,
    location: String,
    dataRel: String,
    schema: StructType,
    fieldIds: Seq[Int] = Nil,
    nestedIds: Map[String, Int] = Map.empty,
    partCols: Seq[String] = Nil,
    hive: Boolean = false)

/** Task writers for batch and streaming writes. A streaming epoch's
  * files stage under `<dataRel>-e<epoch>-<partition>`. */
final case class FileWriterFactory(spec: FileWriteSpec)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RollingWriter(spec, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new RollingWriter(spec.copy(dataRel = f"${spec.dataRel}-e$epochId-$partitionId%05d"),
      partitionId, taskId)
}

/** Task writers for row-level delta writes: position deletes stage under
  * `location/deleteRel`, inserts as `spec` says. */
final case class FileDeltaWriterFactory(spec: FileWriteSpec, deleteRel: String)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new FileDeltaWriter(spec, deleteRel, partitionId, taskId)
}

/** One task's data files. Unpartitioned, it writes one file; with
  * partition columns, rows arrive clustered and sorted on them
  * (RequiresDistributionAndOrdering), so exactly ONE file is open at a
  * time and the writer rolls to a new one when the key changes — one
  * file per value per task. Spark's group-based (copy-on-write)
  * UPDATE/MERGE rewrites hand rows with a leading `__row_operation`
  * column (ReplaceDataExec falls back to the plain writing task when the
  * operation exposes no metadata columns): those rows are recognized by
  * arity, the column is stripped and DELETE-marked rows are dropped. */
final class RollingWriter(spec: FileWriteSpec, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val schema  = spec.schema
  private val arity   = schema.length
  private val partIdx = spec.partCols.map(schema.fieldIndex).toIndexedSeq
  // hive layout: files hold only the non-partition columns
  private val fileIdx =
    if (spec.hive) schema.fields.indices.filterNot(partIdx.contains) else schema.fields.indices
  private val fileSchema = StructType(fileIdx.map(schema.fields))
  private val fileIds    = if (spec.fieldIds.isEmpty) Nil else fileIdx.map(spec.fieldIds)
  private val toFile =
    if (fileIdx.length == arity) null
    else new org.apache.spark.sql.catalyst.ProjectingInternalRow(fileSchema, fileIdx)
  private lazy val stripOp =
    new org.apache.spark.sql.catalyst.ProjectingInternalRow(schema, 1 to arity)

  private var cur: DataFileWriter = _
  private var curKey: IndexedSeq[Any] = _
  private var rolls = 0
  private val done = scala.collection.mutable.ListBuffer.empty[WrittenFile]

  /** Identity value of partition column `i` (null = SQL NULL). */
  private def keyOf(i: Int, row: InternalRow): Any = {
    val idx = partIdx(i)
    if (row.isNullAt(idx)) null
    else schema.fields(idx).dataType match {
      case StringType             => row.getUTF8String(idx).toString
      case IntegerType | DateType => row.getInt(idx)
      case LongType               => row.getLong(idx)
      case BooleanType            => row.getBoolean(idx)
      case other => throw new UnsupportedOperationException(
        s"partitioned write: unsupported partition type $other for column ${schema.fields(idx).name}")
    }
  }

  private def fileName: String =
    if (partIdx.isEmpty) f"part-$partitionId%05d-$taskId.parquet"
    else if (spec.hive) {
      // `c=v/` directories, values escaped the way Spark's own writer does
      val segs = partIdx.indices.map { i =>
        val v = Option(curKey(i)).map(k => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(
            RollingWriter.valueString(k, schema.fields(partIdx(i)).dataType)))
        s"${spec.partCols(i)}=${v.getOrElse(IceLiteScan.HiveNullPart)}"
      }
      f"${segs.mkString("/")}/part-$partitionId%05d-$taskId.parquet"
    } else f"part-$partitionId%05d-$taskId-p$rolls%04d.parquet"

  private def roll(): Unit = if (cur != null) {
    val f = cur.finish()
    done += (if (partIdx.isEmpty) f
      else f.copy(partition = spec.partCols.zip(curKey).filter(_._2 != null).toMap))
    cur = null
    rolls += 1
  }

  private def put(row: InternalRow): Unit = {
    if (partIdx.nonEmpty) {
      val key = partIdx.indices.map(keyOf(_, row))
      if (cur != null && key != curKey) roll()
      curKey = key
    }
    if (cur == null)
      cur = new DataFileWriter(spec.conf, spec.location, s"${spec.dataRel}/$fileName",
        fileSchema, fileIds, spec.nestedIds)
    if (toFile == null) cur.write(row)
    else { toFile.project(row); cur.write(toFile) }
  }

  override def write(row: InternalRow): Unit =
    if (row.numFields == arity) put(row)
    else if (row.getInt(0) != RowDeltaUtils.DELETE_OPERATION) {
      stripOp.project(row)
      put(stripOp)
    }

  /** The files written so far, closing the open one. */
  private[sources] def files: Seq[WrittenFile] = { roll(); done.toList }

  override def commit(): WriterCommitMessage = WrittenFiles(files)

  /** Already-rolled files are on disk but not in the table: a retried
    * task would otherwise leave them as orphans next to live data (the
    * job-level abort never runs when the retry succeeds). */
  override def abort(): Unit = {
    if (cur != null) cur.abort()
    val fs = new Path(spec.location).getFileSystem(spec.conf.value)
    done.foreach(f => fs.delete(new Path(spec.location, f.path), false))
    done.clear()
  }

  override def close(): Unit = ()
}

object RollingWriter {
  /** A partition value as `CAST(v AS STRING)` renders it: what hive
    * directory names carry (before escaping) and IceLite stats record. */
  def valueString(v: Any, dt: DataType): String = (v, dt) match {
    case (d: Int, DateType) => java.time.LocalDate.ofEpochDay(d.toLong).toString
    case _                  => v.toString
  }
}

/** Executor-side row-level delta writer. `delete` receives the projected
  * row id `(_file, _pos)` and STREAMS it into one position-delete parquet
  * per task (the Iceberg v2 shape, `file_path` string + `pos` long); its
  * `file_path` [min, max] is kept whole (truncated path bounds would be
  * useless: every path in a table shares a long prefix), which is what
  * lets readers range-prune which delete files to open. No buffering: the
  * delta plan is a narrow filter+project over the scan (rows arrive
  * file-clustered, positions ascending), and even a shuffled plan stays
  * correct — readers apply deletes as a set. Inserts (and the insert half
  * of UPDATE/MERGE, which `representUpdateAsDeleteAndInsert` splits)
  * stage through a [[RollingWriter]]. */
final class FileDeltaWriter(
    spec: FileWriteSpec,
    deleteRel: String,
    partitionId: Int,
    taskId: Long)
    extends DeltaWriter[InternalRow] {

  private var deletes: DataFileWriter = _
  private var inserts: RollingWriter = _
  private val delRow = new GenericInternalRow(2)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (deletes == null)
      deletes = new DataFileWriter(spec.conf, spec.location,
        f"$deleteRel/part-$partitionId%05d-$taskId.parquet", IceTable.PositionDeleteSchema,
        truncateStrings = false)
    val pos = id.getLong(1)
    require(pos >= 0 && pos <= Int.MaxValue.toLong,
      s"row position $pos outside the position-delete range")
    // copy the UTF8String: the projected row is a view over the input row
    delRow.update(0, id.getUTF8String(0).clone())
    delRow.update(1, pos)
    deletes.write(delRow)
  }

  override def insert(row: InternalRow): Unit = {
    if (inserts == null) inserts = new RollingWriter(spec, partitionId, taskId)
    inserts.write(row)
  }

  /** Never called: updates are represented as delete+insert. */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException("delta updates are represented as delete+insert")

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = WrittenFiles(
    Option(inserts).toSeq.flatMap(_.files), Option(deletes).map(_.finish()).toSeq)

  override def abort(): Unit = {
    if (deletes != null) deletes.abort()
    if (inserts != null) inserts.abort()
  }

  override def close(): Unit = ()
}

/** Row-at-a-time parquet writer (parquet-mr Group API) collecting the
  * file's stats as it writes: per-column null counts, and [min, max] of
  * the rangeable top-level columns — integers as longs, floats as
  * doubles, strings in [[StringOrder]] — rendered as `cast(string)`
  * would (so the IceLite pruner and the footer-stats path agree with
  * it). Flat columns go through type-specialized getters; only nested
  * values go through `row.get`. Size and split offsets (row-group starts,
  * what lets planners range-split a large file with zero IO) are read
  * once the file is closed. */
final class DataFileWriter(
    conf: SerializableHadoopConf,
    location: String,
    relPath: String,
    schema: StructType,
    fieldIds: Seq[Int] = Nil,
    nestedIds: Map[String, Int] = Map.empty,
    truncateStrings: Boolean = true) {

  import DataFileWriter._

  private val path    = new Path(location, relPath)
  private val msgType = WriteSchema.messageTypeFor(schema, fieldIds, nestedIds)
  private val factory = new SimpleGroupFactory(msgType)
  private val writer  = ExampleParquetWriter
    .builder(HadoopOutputFile.fromPath(path, conf.value))
    .withType(msgType)
    .withConf(conf.value)
    // honor the standard row-group size knob (the builder ignores the
    // hadoop conf, unlike ParquetOutputFormat) — row-group granularity is
    // what ranged splits parallelize over
    .withRowGroupSize(conf.value.getLong("parquet.block.size", 128L * 1024 * 1024))
    .build()

  private val n     = schema.length
  private val names = schema.fieldNames
  private val types = schema.fields.map(_.dataType)
  private val kinds = types.map(kindOf)

  private var rows   = 0L
  private val nulls  = new Array[Long](n)
  private val seen   = new Array[Boolean](n)
  private val minL   = new Array[Long](n)
  private val maxL   = new Array[Long](n)
  private val minD   = new Array[Double](n)
  private val maxD   = new Array[Double](n)
  private val minS   = new Array[String](n)
  private val maxS   = new Array[String](n)

  private def trackL(i: Int, v: Long): Unit =
    if (!seen(i)) { seen(i) = true; minL(i) = v; maxL(i) = v }
    else { if (v < minL(i)) minL(i) = v; if (maxL(i) < v) maxL(i) = v }

  private def trackD(i: Int, v: Double): Unit =
    if (!seen(i)) { seen(i) = true; minD(i) = v; maxD(i) = v }
    else { if (v < minD(i)) minD(i) = v; if (maxD(i) < v) maxD(i) = v }

  def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) nulls(i) += 1L
      else (kinds(i): @scala.annotation.switch) match {
        case Str =>
          val s = row.getUTF8String(i).toString
          g.append(names(i), Binary.fromString(s))
          if (!seen(i)) { seen(i) = true; minS(i) = s; maxS(i) = s }
          else {
            if (StringOrder.compare(s, minS(i)) < 0) minS(i) = s
            if (StringOrder.compare(maxS(i), s) < 0) maxS(i) = s
          }
        case Int32 =>
          val v = row.getInt(i); g.append(names(i), v); trackL(i, v.toLong)
        case Int64 =>
          val v = row.getLong(i); g.append(names(i), v); trackL(i, v)
        case Float32 =>
          val v = row.getFloat(i); g.append(names(i), v); trackD(i, v.toDouble)
        case Float64 =>
          val v = row.getDouble(i); g.append(names(i), v); trackD(i, v)
        case Bool   => g.append(names(i), row.getBoolean(i))
        case Days   => g.append(names(i), row.getInt(i))
        case Micros => g.append(names(i), row.getLong(i))
        case _      => WriteSchema.appendValue(g, names(i), types(i), row.get(i, types(i)))
      }
      i += 1
    }
    writer.write(g)
    rows += 1L
  }

  /** Close the file and describe it. */
  def finish(): WrittenFile = {
    writer.close()
    val ranges = (0 until n).filter(seen).map { i =>
      names(i) -> ((kinds(i): @scala.annotation.switch) match {
        // a lower bound is a prefix; an upper bound is the prefix with its
        // last code point bumped (None when none can be: unbounded)
        case Str if truncateStrings => ColRange(
          Some(IcebergFormat.truncateLowerBound(minS(i))), IcebergFormat.truncateUpperBound(maxS(i)))
        case Str     => ColRange(Some(minS(i)), Some(maxS(i)))
        case Int32   => ColRange(Some(minL(i).toInt.toString), Some(maxL(i).toInt.toString))
        case Int64   => ColRange(Some(minL(i).toString), Some(maxL(i).toString))
        case Float32 => ColRange(Some(minD(i).toFloat.toString), Some(maxD(i).toFloat.toString))
        case _       => ColRange(Some(minD(i).toString), Some(maxD(i).toString))
      })
    }.toMap
    import scala.jdk.CollectionConverters._
    WrittenFile(relPath, rows, path.getFileSystem(conf.value).getFileStatus(path).getLen,
      writer.getFooter.getBlocks.asScala.map(_.getStartingPos).toSeq, ranges,
      names.zip(nulls).toMap)
  }

  def abort(): Unit = {
    writer.close()
    path.getFileSystem(conf.value).delete(path, false)
  }
}

object DataFileWriter {
  // column kinds the write loop switches on; the first five keep stats
  private final val Str = 0
  private final val Int32 = 1
  private final val Int64 = 2
  private final val Float32 = 3
  private final val Float64 = 4
  private final val Bool = 5
  private final val Days = 6
  private final val Micros = 7
  private final val Nested = 8

  private def kindOf(dt: DataType): Int = dt match {
    case StringType                         => Str
    case IntegerType                        => Int32
    case LongType                           => Int64
    case FloatType                          => Float32
    case DoubleType                         => Float64
    case BooleanType                        => Bool
    case DateType                           => Days
    case TimestampType | TimestampNTZType   => Micros
    case _                                  => Nested
  }
}

object WriteSchema {

  /** Parquet MessageType for `schema`, physical layouts matching what
    * Spark's own writer emits (3-level LIST, key_value MAP), so Spark's
    * vectorized reader, our readers and DuckDB all read these files
    * identically. Field ids: `topIds` when given (a v2 table's real ids,
    * sparse after evolution), else the id a StructField carries
    * (TableMetadata.stampedSchema — what keeps IceLite files resolvable
    * by id after a rename/drop evolution), else none. Nested ids come from
    * the table's tracked map when given (an evolved table's nested ids
    * are sparse and must re-emit verbatim), else from the SAME traversal
    * [[IcebergFormat.icebergSchemaJson]] uses, so parquet metadata and
    * table schema agree on column identity. */
  def messageTypeFor(schema: StructType, topIds: Seq[Int] = Nil,
      nestedIds: Map[String, Int] = Map.empty): MessageType = {
    val ids: Seq[Option[Int]] =
      if (topIds.nonEmpty) {
        require(topIds.length == schema.length, "field id count != column count")
        topIds.map(Some(_))
      } else schema.fields.toSeq.map(f =>
        if (f.metadata.contains("parquet.field.id"))
          Some(f.metadata.getLong("parquet.field.id").toInt)
        else None)
    lazy val nested =
      if (nestedIds.nonEmpty) nestedIds
      else if (ids.forall(_.isDefined)) IcebergFormat.deriveNestedIds(schema, ids.flatten)
      else Map.empty[String, Int]
    val idOf = (p: String) =>
      if (nestedIds.isEmpty && ids.exists(_.isEmpty)) None
      else Some(nested.getOrElse(p,
        throw new IllegalStateException(s"no tracked field id for nested path $p")))
    val b = Types.buildMessage()
    schema.fields.zip(ids).foreach { case (f, id) =>
      b.addField(typeFor(f.name, f.dataType, id, Repetition.OPTIONAL, s"${f.name}.", idOf))
    }
    b.named("spark_schema")
  }

  private def typeFor(
      name: String,
      dt: DataType,
      id: Option[Int],
      rep: Repetition,
      prefix: String,
      idOf: String => Option[Int]): PType = {
    val t: PType = dt match {
      case st: StructType =>
        // mirror typeJson: each child resolves its id by path
        st.fields.map { f =>
          typeFor(f.name, f.dataType, idOf(prefix + f.name), Repetition.OPTIONAL,
            s"$prefix${f.name}.", idOf)
        }.foldLeft(Types.buildGroup(rep))(_.addField(_)).named(name)
      case at: ArrayType =>
        val elem = typeFor("element", at.elementType, idOf(prefix + "element"),
          Repetition.OPTIONAL, prefix + "element.", idOf)
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup().addField(elem).named("list")).named(name)
      case mt: MapType =>
        val k = typeFor("key", mt.keyType, idOf(prefix + "key"),
          Repetition.REQUIRED, prefix + "key.", idOf)
        val v = typeFor("value", mt.valueType, idOf(prefix + "value"),
          Repetition.OPTIONAL, prefix + "value.", idOf)
        Types.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(Types.repeatedGroup().addField(k).addField(v).named("key_value")).named(name)
      case p => primitiveFor(name, p, rep)
    }
    id.fold(t)(t.withId)
  }

  private def primitiveFor(name: String, dt: DataType, rep: Repetition): PType = (dt match {
    case StringType  => Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType())
    case BinaryType  => Types.primitive(BINARY, rep)
    case IntegerType => Types.primitive(INT32, rep)
    case LongType    => Types.primitive(INT64, rep)
    case FloatType   => Types.primitive(FLOAT, rep)
    case DoubleType  => Types.primitive(DOUBLE, rep)
    case BooleanType => Types.primitive(BOOLEAN, rep)
    case DateType    => Types.primitive(INT32, rep).as(LogicalTypeAnnotation.dateType())
    case TimestampType => Types.primitive(INT64, rep).as(
      LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
    case TimestampNTZType => Types.primitive(INT64, rep).as(
      LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
    case other => throw new UnsupportedOperationException(
      s"V2 write: unsupported type $other for column $name " +
        "(decimal columns are written through the table's library append)")
  }).named(name)

  /** Append one non-null Catalyst value into `g` under `name`, recursing
    * through struct/list/map. Null HANDLING is by omission, parquet-mr
    * style: a null field is simply never appended (optional repetition). */
  def appendValue(g: Group, name: String, dt: DataType, v: Any): Unit = dt match {
    case st: StructType =>
      val row = v.asInstanceOf[InternalRow]
      val sub = g.addGroup(name)
      var i = 0
      while (i < st.fields.length) {
        if (!row.isNullAt(i)) {
          val f = st.fields(i)
          appendValue(sub, f.name, f.dataType, row.get(i, f.dataType))
        }
        i += 1
      }
    case at: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      val lg  = g.addGroup(name)
      var i = 0
      while (i < arr.numElements()) {
        val item = lg.addGroup("list") // one repeated "list" group per element
        if (!arr.isNullAt(i))
          appendValue(item, "element", at.elementType, arr.get(i, at.elementType))
        i += 1
      }
    case mt: MapType =>
      val map  = v.asInstanceOf[MapData]
      val keys = map.keyArray()
      val vals = map.valueArray()
      val mg   = g.addGroup(name)
      var i = 0
      while (i < map.numElements()) {
        val kv = mg.addGroup("key_value")
        appendValue(kv, "key", mt.keyType, keys.get(i, mt.keyType))
        if (!vals.isNullAt(i))
          appendValue(kv, "value", mt.valueType, vals.get(i, mt.valueType))
        i += 1
      }
    case StringType  => g.append(name, Binary.fromString(v.asInstanceOf[UTF8String].toString))
    case BinaryType  => g.append(name, Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
    case IntegerType | DateType => g.append(name, v.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType => g.append(name, v.asInstanceOf[Long])
    case FloatType   => g.append(name, v.asInstanceOf[Float])
    case DoubleType  => g.append(name, v.asInstanceOf[Double])
    case BooleanType => g.append(name, v.asInstanceOf[Boolean])
    case other => throw new UnsupportedOperationException(
      s"V2 write: unsupported type $other for column $name")
  }
}
