package graft.sources

import graft.icelite.{ColRange, IceTable, ManifestEntry}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSource V2 WRITE path for IceLite: `df.write.format("icelite")
  * .option("location", dir).mode("append"|"overwrite").save()`.
  *
  * Executors write parquet files straight into a staging snapshot dir
  * under the table location via parquet-mr, collecting per-file min/max +
  * row count AS THEY WRITE (one pass — no post-hoc stats scan); the
  * driver's commit is then pure metadata: one manifest of the writers'
  * entries plus the same rename-as-CAS rebase-and-retry snapshot commit
  * appends use. At 100 TB this is the right shape: data volume moves only
  * executor-side, the driver handles O(files) metadata, and a concurrent
  * library-path append cannot be clobbered (shared CAS protocol).
  *
  * Unpartitioned flat-primitive tables (the format surface); `overwrite`
  * maps to replace semantics via SupportsTruncate. */
final class IceLiteWriteBuilder(
    ice: IceTable,
    info: LogicalWriteInfo,
    onCommit: Option[IceTable => Unit] = None)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var replace = false
  private var dynamic = false
  private var byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None

  override def truncate(): WriteBuilder = { replace = true; this }

  /** `INSERT OVERWRITE` under partitionOverwriteMode=dynamic: replace
    * ONLY the partitions the query writes, carry every other file by
    * manifest pointer (Iceberg's dynamic-overwrite semantics). */
  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  /** Filter-based overwrite (`INSERT OVERWRITE ... PARTITION (c = v)` /
    * DataFrame `overwrite(condition)`): the victims come from the same
    * sound tri-state file classification metadata DELETE uses, so the
    * whole statement is ONE atomic snapshot — drop the provably-matching
    * files, append the staged rows. Accepted only when every file is
    * all-match or no-match (`canOverwrite` below); an unprovable
    * condition is a loud analysis error, never a partial overwrite. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)) replace = true
    else byFilter = Some(filters)
    this
  }

  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue) ||
      ice.metadataDeletePlan(filters.toIndexedSeq).isDefined

  override def build(): Write = {
    val md = ice.metadata
    require(Seq(replace, dynamic, byFilter.isDefined).count(identity) <= 1,
      "conflicting overwrite modes requested")
    require(!dynamic || md.partitionCols.nonEmpty,
      "dynamic partition overwrite requires a partitioned table")
    require(info.schema().catalogString == md.schema.catalogString,
      s"write schema ${info.schema().catalogString} != table schema ${md.schema.catalogString}")
    // stampedSchema: the data writers carry the table's field ids into
    // every parquet file (rename/drop evolution reads resolve by id)
    new IceLiteWrite(ice.location.toString, md.stampedSchema, md.partitionCols, replace,
      dynamic, info.queryId(), onCommit, byFilter)
  }
}

final class IceLiteWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    replace: Boolean,
    dynamic: Boolean,
    queryId: String,
    onCommit: Option[IceTable => Unit] = None,
    byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends Write with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}

  /** Hive-layout writes request rows CLUSTERED on the partition columns
    * (each value lands wholly in one task — one file per value per
    * commit, the compaction-friendly layout) and SORTED by them within
    * tasks (the rolling writer keeps exactly one file open at a time).
    * Unpartitioned writes request nothing — no shuffle is inserted. */
  override def requiredDistribution(): Distribution =
    if (partCols.isEmpty) Distributions.unspecified()
    else Distributions.clustered(partCols.map(c => Expressions.identity(c)).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    partCols.map(c => Expressions.sort(
      Expressions.identity(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray

  override def toBatch: BatchWrite =
    new IceLiteBatchWrite(location, schema, partCols, replace, dynamic,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration),
      onCommit, byFilter)

  /** `df.writeStream.format("icelite")`: every epoch commits one snapshot
    * through the CAS protocol with `(queryId, epochId)` as the commit
    * token, so a replayed epoch (restart, at-least-once redelivery) is
    * absorbed EXACTLY ONCE — the V2-native twin of the st05 foreachBatch
    * + appendOnce recipe. The token MUST be query-scoped: a second
    * streaming query into the same table (or a restart with a fresh
    * checkpoint) restarts epochs at 0, and an epoch-only token would make
    * commitStagedEntries swallow its first commits as replays — silent
    * data loss. Iceberg's own Spark streaming writer dedupes by
    * (queryId, epochId) for exactly this reason. */
  override def toStreaming: streaming.StreamingWrite = {
    require(!replace, "icelite streaming write supports append output mode only")
    require(partCols.isEmpty,
      "icelite streaming write supports unpartitioned tables; " +
        "use foreachBatch + the batch write for hive layouts")
    new IceLiteStreamingWrite(location, schema, queryId,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration),
      onCommit)
  }
}

final class IceLiteStreamingWrite(
    location: String,
    schema: StructType,
    queryId: String,
    conf: SerializableHadoopConf,
    onCommit: Option[IceTable => Unit] = None)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    FileWriterFactory(FileWriteSpec(conf, location, "data/snap", schema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val entries = IceLiteWrite.entries(WrittenFiles.of(messages)._1, schema)
    val t = IceTable.load(SparkSession.active, location)
    t.commitStagedEntries(entries, replace = false, token = Some(s"v2-$queryId-epoch-$epochId"))
    onCommit.foreach(_(t))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(location).getFileSystem(conf.value)
    WrittenFiles.of(messages)._1.foreach(f => fs.delete(new Path(location, f.path), false))
  }
}

final class IceLiteBatchWrite(
    location: String,
    schema: StructType,
    partCols: Seq[String],
    replace: Boolean,
    dynamic: Boolean,
    conf: SerializableHadoopConf,
    onCommit: Option[IceTable => Unit] = None,
    byFilter: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends BatchWrite {

  // staging dir fixed at the driver; every task writes beneath it
  private val dataRel = s"data/snap-w-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    FileWriterFactory(FileWriteSpec(conf, location, dataRel, schema,
      partCols = partCols, hive = true))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // write-audit-publish (Iceberg's `spark.wap.branch` idiom): with
    // `graft.wap.branch` set, a plain INSERT INTO lands on that branch —
    // invisible on main until CALL system.fast_forward publishes it.
    // Overwrites are refused UP FRONT: silently sending one to main while
    // the user believes it's staged would defeat the audit gate.
    val wap = Option(SparkSession.active.conf.get("graft.wap.branch", null))
      .filter(_.nonEmpty)
    require(wap.isEmpty || (byFilter.isEmpty && !dynamic && !replace),
      "graft.wap.branch supports plain INSERT INTO appends only")
    val entries = IceLiteWrite.entries(WrittenFiles.of(messages)._1, schema)
    val t = IceTable.load(SparkSession.active, location)
    if (byFilter.isDefined) {
      // filter-based overwrite: atomically swap the provably-matching
      // files for the staged rows (same classification as metadata DELETE)
      val removed = t.metadataDeletePlan(byFilter.get.toIndexedSeq).getOrElse(
        throw new IllegalStateException(
          "overwrite committed with a condition canOverwrite rejected"))
      t.commitReplaceScanned(removed, entries, "overwrite")
    } else if (dynamic) {
      // replace exactly the partitions this query wrote: both sides keyed
      // by the hive path segments (`a=x/b=1`), which the rolling writer
      // put in every staged relPath and every committed file carries
      def partPath(rel: String): String =
        rel.split('/').filter(_.contains("=")).mkString("/")
      val touched = entries.map(e => partPath(e.file)).toSet
      val victims = t.metadata.currentSnapshot.toSeq.flatMap(t.filesOf)
        .filter(f => touched.contains(partPath(f))).toSet
      t.commitReplaceScanned(victims, entries, "overwrite")
    } else t.commitStagedEntries(entries, replace, ref = wap)
    onCommit.foreach(_(t))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(location).getFileSystem(conf.value)
    fs.delete(new Path(location, dataRel), true)
  }
}

object IceLiteWrite {
  /** IceLite manifest entries for staged files: the writer's ranges as
    * column stats, plus min=max ranges for the partition values a hive
    * layout keeps out of the files (a null value records none:
    * conservative keep, matching the library's null-group stats) — the
    * same per-file stats the library's manifest pass records, so
    * partition pruning, DPP, storage-partitioned joins and metadata
    * COUNT(*) behave identically for SQL-written data. */
  def entries(files: Seq[WrittenFile], schema: StructType): Seq[ManifestEntry] =
    files.map { f =>
      val partRanges = f.partition.map { case (c, v) =>
        val s = RollingWriter.valueString(v, schema(c).dataType)
        c -> ColRange(Some(s), Some(s))
      }
      ManifestEntry(f.path, Some(f.ranges ++ partRanges), Some(f.rows), Some(f.sizeBytes),
        Some(f.splitOffsets.toList))
    }
}
