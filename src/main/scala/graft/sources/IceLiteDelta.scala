package graft.sources

import graft.icelite.{IceTable, Snapshot}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.Locale

/** MERGE-ON-READ row-level SQL operations for IceLite — the
  * `SupportsDelta` twin of the copy-on-write [[IceLiteRowLevelOperation]]
  * (Iceberg's `write.delete.mode = merge-on-read`, the v2-spec MoR design
  * the reference deploys for low-latency deletes:
  * `/root/reference/query_iceberg_minio.ipynb:1119-1180` runs row-level
  * SQL against exactly such tables).
  *
  * How Spark drives it: because the operation implements [[SupportsDelta]],
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` / `RewriteMergeIntoTable`
  * plan a WriteDelta instead of a group-based ReplaceData — matched rows
  * flow to [[DeltaWriter.delete]] as their `(_file, _pos)` ROW IDs (our
  * table's metadata columns), inserts flow to [[DeltaWriter.insert]], and
  * updates are split into delete+insert (`representUpdateAsDeleteAndInsert`).
  * Executors write POSITION DELETE parquet files (`file_path, pos` — the
  * Iceberg v2 position-delete shape) plus ordinary data files for inserts;
  * the driver commit ([[IceTable.commitRowDeltas]]) appends both as delta
  * manifests while carrying every data manifest by pointer.
  *
  * 100 TB shape: write cost is proportional to MATCHED ROWS, not affected
  * files — a 10-row delete in a 10-TB file writes a few-KB delete file and
  * one metadata commit, zero data rewrite. Readers apply the deletes from
  * range-pruned per-file bitmaps until compaction rewrites them away
  * ([[IceTable.compact]] scans delete-applied and starts the new snapshot
  * clean). The condition still reaches the scan through
  * `DeltaBasedRowLevelOperationScanPlanning`, so manifest min/max file
  * skipping bounds what is even read. */
final class IceLiteDeltaBuilder(
    ice: IceTable,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new IceLiteDeltaOperation(ice, snap, info, onCommit)
}

final class IceLiteDeltaOperation(
    ice: IceTable,
    snap: Option[Snapshot],
    info: RowLevelOperationInfo,
    onCommit: Option[IceTable => Unit])
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = info.command()

  override def description(): String =
    s"icelite merge-on-read ${command().toString.toLowerCase(Locale.ROOT)}"

  /** Row identity = the scan's `_file`/`_pos` metadata columns (non-null
    * by construction, as `resolveRowIdAttrs` requires). */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** UPDATE splits into delete+insert: one writer shape (position deletes
    * + plain data files) serves all three commands. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(ice, snap)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        val md = ice.metadata
        // insert-bearing commands (UPDATE/MERGE) must hand rows in table
        // schema order — partIdx/dataIdx in the partitioned writer are
        // derived from it; DELETE's row schema is empty (row-id only)
        require(
          command() == RowLevelOperation.Command.DELETE ||
            StructType(writeInfo.schema().fields.map(_.copy(nullable = true))).catalogString ==
            StructType(md.schema.fields.map(_.copy(nullable = true))).catalogString,
          s"delta write schema ${writeInfo.schema().catalogString} != table schema ${md.schema.catalogString}")
        // insert-bearing commands (UPDATE/MERGE) on a hive-partitioned
        // table stage their insert files through the same rolling
        // partitioned writer SQL INSERT uses (ic66); position deletes are
        // layout-agnostic either way
        new IceLiteDeltaWrite(ice.location.toString, md.stampedSchema, md.partitionCols,
          command(), onCommit)
      }
    }
}

/** The WriteDelta write: executors stage position-delete files and (for
  * UPDATE/MERGE) insert data files; the driver commit is one CAS snapshot
  * appending the delta manifests — no data manifest is rewritten, no data
  * file is touched. On a hive-partitioned table the insert rows are
  * requested CLUSTERED + SORTED on the partition columns (same contract
  * as SQL INSERT's [[IceLiteWrite]]) so the rolling partitioned writer
  * stages one file per touched value per task — no small-file sprawl
  * when a 100 TB MERGE upserts into thousands of partitions. */
final class IceLiteDeltaWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    command: RowLevelOperation.Command,
    onCommit: Option[IceTable => Unit])
    extends DeltaWrite with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

  private val operation = command.toString.toLowerCase(Locale.ROOT)

  /** DELETE rows carry no data columns (row-id projection only) — a
    * distribution over partition columns would not even resolve; inserts
    * exist only for UPDATE/MERGE, where the delta plan's row schema keeps
    * the table columns, so identity(partCol) resolves and delete rows
    * (null data columns) simply cluster into the NULLS FIRST bucket. */
  private def wantsClustering = partCols.nonEmpty && command != RowLevelOperation.Command.DELETE

  override def requiredDistribution(): Distribution =
    if (!wantsClustering) Distributions.unspecified()
    else Distributions.clustered(partCols.map(c => Expressions.identity(c)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    if (!wantsClustering) Array.empty
    else partCols.map(c => Expressions.sort(
      Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val conf =
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration)
    private val tag       = java.util.UUID.randomUUID().toString.take(8)
    private val deleteRel = s"data/deletes-$tag"
    private val dataRel   = s"data/snap-d-$tag"

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      FileDeltaWriterFactory(FileWriteSpec(conf, location, dataRel, schema,
        partCols = partCols, hive = true), deleteRel)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val (data, deletes) = WrittenFiles.of(messages)
      val ins  = IceLiteWrite.entries(data, schema)
      val dels = IceLiteWrite.entries(deletes, IceTable.PositionDeleteSchema)
      if (dels.isEmpty && ins.isEmpty) return // nothing matched: no snapshot
      val t = IceTable.load(SparkSession.active, location)
      t.commitRowDeltas(dels, ins, operation)
      onCommit.foreach(_(t))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(location).getFileSystem(conf.value)
      fs.delete(new Path(location, deleteRel), true)
      fs.delete(new Path(location, dataRel), true)
    }
  }
}
