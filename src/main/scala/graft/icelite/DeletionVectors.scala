package graft.icelite

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Iceberg v3 DELETION VECTORS: per-data-file deleted-position bitmaps
  * stored as `deletion-vector-v1` blobs in Puffin files and referenced
  * from delete manifests via spec fields 143-145 (`referenced_data_file`,
  * `content_offset`, `content_size_in_bytes`).
  *
  * Blob layout (v3 spec, binary-compatible with Delta's DV format, which
  * Iceberg adopted for interop): a 4-byte big-endian length of the
  * magic+vector that follows, the 4-byte magic `1681511377` serialized
  * little-endian, the bitmap in the portable 64-bit Roaring
  * serialization, and a big-endian CRC-32 of magic+vector.
  *
  * Contracts implemented here (spec §Deletion Vectors):
  *   - at most one vector per data file per snapshot — a writer adding
  *     deletes for an already-vectored file MERGES the previous vector
  *     (and any parquet position deletes covering the file) into the new
  *     one, so the newest vector is always a superset;
  *   - readers apply only the NEWEST vector per file (older ones and
  *     absorbed parquet deletes are supersets-of — re-applying them is
  *     an idempotent no-op, never a correctness issue);
  *   - vectors ride ordinary delete manifests, so time travel, branch
  *     reads and incremental-scan guards see them exactly like any other
  *     row-level delete.
  *
  * Scale shape: the bitmap for a file is KBs for millions of deleted
  * rows; a reader fetches the Puffin footer's worth of bytes per file it
  * actually reads (ranged read of one blob), and the bitmap build runs
  * as one distributed aggregation — positions never pass through the
  * driver. */
object DeletionVectors {

  val BlobType = "deletion-vector-v1"
  private val Magic = 1681511377 // on disk little-endian, per the spec

  /** Serialize one bitmap as a `deletion-vector-v1` blob. */
  def blobBytes(bm: Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val body = new java.io.ByteArrayOutputStream()
    val dos  = new java.io.DataOutputStream(body)
    // magic, little-endian
    dos.write(Array[Byte](
      (Magic & 0xff).toByte, ((Magic >> 8) & 0xff).toByte,
      ((Magic >> 16) & 0xff).toByte, ((Magic >> 24) & 0xff).toByte))
    bm.serializePortable(dos)
    dos.flush()
    val mv  = body.toByteArray
    val crc = new java.util.zip.CRC32()
    crc.update(mv)
    val out = java.nio.ByteBuffer.allocate(4 + mv.length + 4) // BE by default
    out.putInt(mv.length)
    out.put(mv)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Parse + validate a `deletion-vector-v1` blob. */
  def parseBlob(bytes: Array[Byte]): Roaring64NavigableMap = {
    val bb = java.nio.ByteBuffer.wrap(bytes) // big-endian
    val len = bb.getInt
    require(len == bytes.length - 8,
      s"deletion vector length $len != payload ${bytes.length - 8}")
    val mv = new Array[Byte](len)
    bb.get(mv)
    val crcStored = bb.getInt
    val crc = new java.util.zip.CRC32()
    crc.update(mv)
    require(crc.getValue.toInt == crcStored, "deletion vector CRC mismatch")
    val magic = (mv(0) & 0xff) | ((mv(1) & 0xff) << 8) |
      ((mv(2) & 0xff) << 16) | ((mv(3) & 0xff) << 24)
    require(magic == Magic, f"bad deletion-vector magic 0x$magic%08x")
    val bm = new Roaring64NavigableMap()
    bm.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(mv, 4, mv.length - 4)))
    bm
  }

  /** Ranged read of one vector straight from its Puffin file —
    * executor-safe (resolves the filesystem from the path itself). */
  def readBitmap(blobPath: String, offset: Long, size: Long): Roaring64NavigableMap = {
    val p  = new Path(blobPath)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    try {
      val b = new Array[Byte](size.toInt)
      in.readFully(offset, b)
      parseBlob(b)
    } finally in.close()
  }

  /** Write one Puffin file holding a vector per (referenced data file,
    * serialized bitmap bytes) and return the manifest entries to commit:
    * content-1 delete entries whose `dvRef` carries (referenced file,
    * blob offset, blob size) — spec fields 143-145. */
  private def writeVectors(
      spark: SparkSession, location: String, snapshotSeq: Long,
      vectors: Seq[(String, Array[Byte])]): Seq[IcebergFormat.DataFileInfo] = {
    require(vectors.nonEmpty, "no deletion vectors to write")
    val tag  = java.util.UUID.randomUUID().toString.take(8)
    val path = new Path(location, s"data/dv-$tag.puffin")
    val fs   = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val blobs = vectors.map { case (ref, bytes) =>
      PuffinBlob(BlobType, Nil, 0L, snapshotSeq, bytes,
        Map("referenced-data-file" -> ref,
          "cardinality" -> parseBlob(bytes).getLongCardinality.toString))
    }
    val (fileSize, _) = Puffin.write(fs, path, blobs,
      Map("created-by" -> "graft-deletion-vectors"))
    val (_, metas) = Puffin.readFooter(fs, path)
    metas.map { m =>
      val card = m.properties("cardinality").toLong
      IcebergFormat.DataFileInfo(
        path = path.toString, recordCount = card, sizeBytes = fileSize,
        content = 1,
        dvRef = Some((m.properties("referenced-data-file"), m.offset, m.length)))
    }
  }

  /** Expand the NEWEST vector per referenced file (from `deletes`) into a
    * distributed (file, pos) pair RDD — the merge input a new vector
    * build unions in. */
  private def dvPairs(
      spark: SparkSession, deletes: Seq[IcebergFormat.PlannedDelete],
      wanted: Set[String]): org.apache.spark.rdd.RDD[(String, Long)] = {
    val newest = deletes.filter(d => d.content == 1 && d.dvRef.isDefined)
      .groupBy(d => IcebergFormat.normPath(d.dvRef.get)).map { case (f, ds) => f -> ds.maxBy(_.seq) }
      .filter { case (f, _) => wanted.contains(f) }
    if (newest.isEmpty) return spark.sparkContext.emptyRDD
    val metas = newest.toSeq.map { case (f, d) => (f, d.path.toString, d.dvOffset, d.dvSize) }
    spark.sparkContext.parallelize(metas, math.max(1, math.min(metas.size, 64)))
      .flatMap { case (f, blobPath, off, sz) =>
        val it = readBitmap(blobPath, off, sz).getLongIterator
        new Iterator[(String, Long)] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (String, Long) = (f, it.next())
        }
      }
  }

  /** Distributed bitmap build: (file, pos) pairs → per-file serialized
    * bitmaps on the driver (bitmaps only — positions never leave the
    * executors un-aggregated). */
  private def buildBitmaps(
      pairs: org.apache.spark.rdd.RDD[(String, Long)]): Map[String, Array[Byte]] = {
    pairs.combineByKey[Roaring64NavigableMap](
        (pos: Long) => { val b = new Roaring64NavigableMap(); b.addLong(pos); b },
        (b: Roaring64NavigableMap, pos: Long) => { b.addLong(pos); b },
        (a: Roaring64NavigableMap, b: Roaring64NavigableMap) => { a.or(b); a })
      .mapValues(blobBytes)
      .collect().toMap
  }

  /** Row-level DELETE producing deletion vectors: mark every CURRENT row
    * matching `condition` as deleted, one vector per touched data file,
    * merging each file's previous vector and any parquet position
    * deletes covering it (the v3 superset contract). One Puffin file +
    * one delta commit. Returns the number of vectors written. */
  def deleteWhere(spark: SparkSession, location: String, condition: Column): Int = {
    val mp = IcebergFormat.currentMetadataPath(spark, location)
    val p  = IcebergFormat.plan(spark, mp)
    require(p.files.nonEmpty, "nothing to delete from")
    // matched rows with provenance; parquet pushdown prunes the scan
    val raw = spark.read.schema(p.schema).parquet(p.files.map(_.path.toString): _*)
      .withColumn("__path", IcebergFormat.normPathCol(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    val matched = raw.filter(condition).select(col("__path"), col("__pos"))
    val newPairs = matched.rdd.map(r => (r.getString(0), r.getLong(1)))
    // affected files: bounded by the matches (driver holds paths only)
    val affected = newPairs.keys.distinct().collect().toSet
    if (affected.isEmpty) return 0
    // prior debt for those files: newest DV per file + parquet deletes
    val prior = dvPairs(spark, p.deletes, affected)
    val parquetDeletes = p.deletes
      .filter(d => d.content == 1 && d.dvRef.isEmpty).map(_.path.toString)
    val parquetPairs =
      if (parquetDeletes.isEmpty) spark.sparkContext.emptyRDD[(String, Long)]
      else IcebergFormat.positionDeletesFrame(spark, parquetDeletes)
        .select(IcebergFormat.normPathCol(col("file_path")).as("f"), col("pos"))
        .rdd.map(r => (r.getString(0), r.getLong(1)))
        .filter { case (f, _) => affected.contains(f) }
    val vectors = buildBitmaps(newPairs.union(prior).union(parquetPairs))
    val seq = IcebergFormat.snapshotLog(spark, mp).size + 1L // next commit's seq
    val infos = writeVectors(spark, location, seq, vectors.toSeq.sortBy(_._1))
    IcebergFormat.resumeWriter(spark, location).commitDelta(infos)
    infos.size
  }

  /** Maintenance: fold every live parquet position-delete file into
    * deletion vectors (one per referenced data file, merged with any
    * existing vector). After this commit the parquet delete files are
    * fully superseded — re-applying them is a no-op — and the next
    * compaction drops them with the rest of the debt. Returns the number
    * of vectors written (0 when there is no parquet delete debt). */
  def convertPositionDeletes(spark: SparkSession, location: String): Int = {
    val mp = IcebergFormat.currentMetadataPath(spark, location)
    val p  = IcebergFormat.plan(spark, mp)
    val parquetDeletes = p.deletes
      .filter(d => d.content == 1 && d.dvRef.isEmpty).map(_.path.toString)
    if (parquetDeletes.isEmpty) return 0
    val parquetPairs = IcebergFormat.positionDeletesFrame(spark, parquetDeletes)
      .select(IcebergFormat.normPathCol(col("file_path")).as("f"), col("pos"))
      .rdd.map(r => (r.getString(0), r.getLong(1)))
    val affected = parquetPairs.keys.distinct().collect().toSet
    val prior    = dvPairs(spark, p.deletes, affected)
    val vectors  = buildBitmaps(parquetPairs.union(prior))
    val seq   = IcebergFormat.snapshotLog(spark, mp).size + 1L
    val infos = writeVectors(spark, location, seq, vectors.toSeq.sortBy(_._1))
    IcebergFormat.resumeWriter(spark, location).commitDelta(infos)
    infos.size
  }
}
