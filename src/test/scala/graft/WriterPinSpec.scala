package graft

import graft.icelite.{FsCatalog, IceTable, IcebergFormat}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins the per-file stats every DSv2 write path commits: each path runs
  * once on fixed one-file inputs and every committed file's manifest row
  * (record count, size, split offsets, column bounds, null counts,
  * partition values) must render exactly as pinned. Delete files name
  * the data file their `file_path` bounds cover (`data#i`, compared
  * scheme-insensitively) and must record their on-disk length. */
class WriterPinSpec extends SparkSpec {

  private val cat = "pin_cat"
  private lazy val wh = {
    val w = scratch("writer_pin")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    w
  }

  override def beforeAll(): Unit = { super.beforeAll(); wh; () }

  override def afterAll(): Unit = {
    spark.conf.unset(s"spark.sql.catalog.$cat")
    spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    super.afterAll()
  }

  private val ddl = "k BIGINT, s STRING, x DOUBLE, n INT, b BOOLEAN, p STRING, dt DATE"

  /** Six rows in one partition: nulls in every column but the key, a
    * supplementary-plane string next to U+FFFD (their UTF-16 and UTF-8
    * orders disagree), negative and fractional doubles. */
  private def rows(keys: Seq[Long], tag: String = ""): DataFrame = {
    import spark.implicits._
    val all = Seq(
      (1L, Some("a"), Some(1.5), Some(10), Some(true), Some("p1"), Some("2024-01-01")),
      (2L, Some("\uFFFD"), Some(-2.25), None, Some(false), Some("p1"), Some("2024-01-02")),
      (3L, Some("\uD83D\uDE00"), Some(3.0), Some(30), None, Some("p2"), None),
      (4L, None, None, Some(40), Some(true), Some("p2"), Some("2024-01-04")),
      (5L, Some("mm"), Some(0.5), Some(50), Some(false), None, Some("2024-01-05")),
      (6L, Some("zz"), Some(6.5), Some(60), Some(true), Some("p3"), Some("2024-01-06")),
      (7L, Some("new"), Some(7.25), Some(70), Some(false), Some("p3"), Some("2024-01-07")))
    all.filter(r => keys.contains(r._1)).toDF("k", "s", "x", "n", "b", "p", "dt")
      .select(col("k"), concat(col("s"), lit(tag)).as("s"), col("x"), col("n"), col("b"),
        col("p"), col("dt").cast("date").as("dt"))
      .coalesce(1)
  }

  private def view(name: String, df: DataFrame): Unit = df.createOrReplaceTempView(name)

  private def ice(name: String): IceTable = new FsCatalog(spark, wh).loadTable("ns", name)

  private def norm(p: String): String = p.replaceFirst("^[a-z][a-z0-9+.-]*:/+", "/")

  private def diskLen(p: Path): Long =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen

  /** `data#i` for the data file `p` names (by position in `data`), else p. */
  private def nameOf(data: Seq[String], p: String): String = {
    val i = data.indexWhere(d => norm(d) == norm(p))
    if (i >= 0) s"data#$i" else p
  }

  /** Current-snapshot manifest rows of an IceLite table, data then deletes. */
  private def iceRows(t: IceTable): Seq[String] = {
    val sn = t.metadata.currentSnapshot.get
    def stats(e: graft.icelite.ManifestEntry) = e.stats.getOrElse(Map.empty).toSeq.sortBy(_._1)
    val data = t.entriesOf(sn).map { e =>
      e.file -> (s"rows=${e.rows.getOrElse(-1L)} size=${e.sizeBytes.getOrElse(-1L)} " +
        s"offs=${e.splitOffsets.getOrElse(Nil).mkString(",")} " +
        stats(e).map { case (c, r) => s"$c:[${r.min.getOrElse("")},${r.max.getOrElse("")}]" }
          .mkString(";"))
    }.sortBy(_._2)
    val files = data.map(_._1)
    val dels = t.deleteEntriesOf(sn).map { e =>
      val onDisk = diskLen(new Path(t.location, e.file))
      s"delete rows=${e.rows.getOrElse(-1L)} " +
        s"size=${if (e.sizeBytes.contains(onDisk)) "disk" else e.sizeBytes.toString} " +
        stats(e).map { case (c, r) =>
          s"$c:[${r.min.map(nameOf(files, _)).getOrElse("")},${r.max.map(nameOf(files, _)).getOrElse("")}]"
        }.mkString(";")
    }.sorted
    data.map(_._2) ++ dels
  }

  /** Current-snapshot manifest rows of a standard v2 table. */
  private def v2Rows(loc: String): Seq[String] = {
    val mp = IcebergFormat.currentMetadataPath(spark, loc)
    val p  = IcebergFormat.plan(spark, mp)
    val nameOfId = p.fieldIds.zip(p.schema.fields).toMap
    def bound(id: Int, b: Array[Byte]): String =
      nameOfId.get(id).flatMap(f => IcebergFormat.decodeBound(f.dataType, b))
        .map(_.toString).getOrElse(b.mkString("0x", "", ""))
    val data = p.files.map { f =>
      f.path.toString -> (s"rows=${f.rowCount} size=${f.sizeBytes} " +
        s"offs=${f.splitOffsets.mkString(",")} " +
        "bounds=" + f.bounds.toSeq.sortBy(_._1).map { case (id, (lo, hi)) =>
          s"${nameOfId(id).name}:[${bound(id, lo)},${bound(id, hi)}]" }.mkString(";") +
        " nulls=" + f.nullCounts.toSeq.sortBy(_._1).map { case (id, n) =>
          s"${nameOfId.get(id).map(_.name).getOrElse(id.toString)}=$n" }.mkString(",") +
        " part=" + f.partition.toSeq.sortBy(_._1).map { case (id, v) =>
          s"${nameOfId(id).name}=$v" }.mkString(","))
    }.sortBy(_._2)
    val files = data.map(_._1)
    // delete-file sizes straight from the delete manifests' entries
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recorded: Map[String, Long] = IcebergFormat.manifestListPaths(spark, mp)
      .filter(_._2 == 1).flatMap { case (m, _) =>
        IcebergFormat.readAvroForTest(fs, new Path(m)).map { e =>
          val df = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
          norm(df.get("file_path").toString) -> df.get("file_size_in_bytes").asInstanceOf[Long]
        }
      }.toMap
    val dels = p.deletes.map { d =>
      val size = recorded.get(norm(d.path.toString))
      s"delete rows=${d.rows} content=${d.content} " +
        s"size=${if (size.contains(diskLen(d.path))) "disk" else size.toString} " +
        d.pathBounds.map { case (lo, hi) => s"file_path:[${nameOf(files, lo)},${nameOf(files, hi)}]" }
          .getOrElse("file_path:none")
    }.sorted
    data.map(_._2) ++ dels
  }

  private def pinned(got: Seq[String], want: Seq[String]): Unit =
    assert(got == want, "\n--- got ---\n" + got.mkString("\n") + "\n--- want ---\n" + want.mkString("\n"))

  test("icelite INSERT: one flat file with inline bounds") {
    spark.sql(s"CREATE TABLE $cat.ns.ins ($ddl)")
    view("pin_src", rows(1L to 6L))
    spark.sql(s"INSERT INTO $cat.ns.ins SELECT * FROM pin_src")
    pinned(iceRows(ice("ins")), Seq(
      "rows=6 size=1464 offs=4 k:[1,6];n:[10,60];p:[p1,p3];s:[a,\uD83D\uDE00];x:[-2.25,6.5]"))
  }

  test("icelite INSERT into a hive-partitioned table: one file per value") {
    spark.sql(s"CREATE TABLE $cat.ns.hive ($ddl) PARTITIONED BY (p)")
    view("pin_src", rows(1L to 6L))
    spark.sql(s"INSERT INTO $cat.ns.hive SELECT * FROM pin_src")
    pinned(iceRows(ice("hive")), Seq(
      "rows=1 size=1137 offs=4 k:[5,5];n:[50,50];s:[mm,mm];x:[0.5,0.5]",
      "rows=1 size=1138 offs=4 k:[6,6];n:[60,60];p:[p3,p3];s:[zz,zz];x:[6.5,6.5]",
      "rows=2 size=1156 offs=4 k:[1,2];n:[10,10];p:[p1,p1];s:[a,\uFFFD];x:[-2.25,1.5]",
      "rows=2 size=1164 offs=4 k:[3,4];n:[30,40];p:[p2,p2];s:[\uD83D\uDE00,\uD83D\uDE00];x:[3.0,3.0]"))
  }

  test("icelite streaming epoch: one file per epoch task") {
    spark.sql(s"CREATE TABLE $cat.ns.stream ($ddl)")
    val src = scratch("writer_pin_stream_src")
    rows(1L to 6L).write.parquet(src)
    spark.readStream.schema(rows(Nil).schema).parquet(src)
      .writeStream.format("icelite")
      .option("location", ice("stream").location.toString)
      .option("checkpointLocation", scratch("writer_pin_stream_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    pinned(iceRows(ice("stream")), Seq(
      "rows=6 size=1464 offs=4 k:[1,6];n:[10,60];p:[p1,p3];s:[a,\uD83D\uDE00];x:[-2.25,6.5]"))
  }

  test("icelite copy-on-write MERGE: rewritten files") {
    spark.sql(s"CREATE TABLE $cat.ns.cow ($ddl)")
    view("pin_src", rows(1L to 6L))
    spark.sql(s"INSERT INTO $cat.ns.cow SELECT * FROM pin_src")
    view("pin_upd", rows(Seq(3L, 7L), "!"))
    spark.sql(s"""MERGE INTO $cat.ns.cow t USING pin_upd u ON t.k = u.k
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    pinned(iceRows(ice("cow")), Seq(
      "rows=7 size=1503 offs=4 k:[1,7];n:[10,70];p:[p1,p3];s:[a,\uD83D\uDE00!];x:[-2.25,7.25]"))
  }

  private def withMor[A](body: => A): A = {
    spark.conf.set("graft.delete.mode", "merge-on-read")
    try body finally spark.conf.unset("graft.delete.mode")
  }

  test("icelite merge-on-read DELETE: one position-delete file") {
    spark.sql(s"CREATE TABLE $cat.ns.mordel ($ddl)")
    view("pin_src", rows(1L to 6L))
    spark.sql(s"INSERT INTO $cat.ns.mordel SELECT * FROM pin_src")
    withMor(spark.sql(s"DELETE FROM $cat.ns.mordel WHERE k <= 2"))
    pinned(iceRows(ice("mordel")), Seq(
      "rows=6 size=1464 offs=4 k:[1,6];n:[10,60];p:[p1,p3];s:[a,\uD83D\uDE00];x:[-2.25,6.5]",
      "delete rows=2 size=disk file_path:[data#0,data#0];pos:[0,1]"))
  }

  test("icelite merge-on-read MERGE: position deletes plus insert files") {
    spark.sql(s"CREATE TABLE $cat.ns.mormerge ($ddl)")
    view("pin_src", rows(1L to 6L))
    spark.sql(s"INSERT INTO $cat.ns.mormerge SELECT * FROM pin_src")
    view("pin_upd", rows(Seq(3L, 7L), "!"))
    withMor(spark.sql(s"""MERGE INTO $cat.ns.mormerge t USING pin_upd u ON t.k = u.k
                          WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    pinned(iceRows(ice("mormerge")), Seq(
      "rows=2 size=1325 offs=4 k:[3,7];n:[30,70];p:[p2,p3];s:[new!,\uD83D\uDE00!];x:[3.0,7.25]",
      "rows=6 size=1464 offs=4 k:[1,6];n:[10,60];p:[p1,p3];s:[a,\uD83D\uDE00];x:[-2.25,6.5]",
      "delete rows=1 size=disk file_path:[data#1,data#1];pos:[2,2]"))
  }

  test("iceberg v2 overwrite: one nested-capable file with field-id bounds") {
    val loc = s"$wh/ns/v2ow"
    rows(1L to 6L).write.format("icelite").option("iceberg", "true")
      .option("location", loc).mode("overwrite").save()
    pinned(v2Rows(loc), Seq(
      "rows=6 size=1464 offs=4 bounds=k:[1,6];s:[a,\uD83D\uDE00];x:[-2.25,6.5];n:[10,60];p:[p1,p3] nulls=k=0,s=1,x=1,n=1,b=1,p=1,dt=1 part="))
  }

  test("iceberg v2 MERGE on an identity-partitioned table") {
    val loc  = s"$wh/ns/v2part"
    val base = rows(1L to 6L)
    val w = new IcebergFormat.Writer(spark, loc, base.schema, Seq("p"))
    w.commit(Seq("p1", "p2").map { v =>
      IcebergFormat.writeSingleFile(spark, s"$wh/stage", loc, v,
        base.filter(col("p") === v).coalesce(1)).copy(partitionValues = Map("p" -> v))
    })
    view("pin_upd", rows(Seq(3L, 7L), "!"))
    spark.sql(s"""MERGE INTO $cat.ns.v2part t USING pin_upd u ON t.k = u.k
                  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    pinned(v2Rows(loc), Seq(
      "rows=1 size=1265 offs=4 bounds=k:[3,3];s:[\uD83D\uDE00!,\uD83D\uDE00!];x:[3.0,3.0];n:[30,30];p:[p2,p2] nulls=k=0,s=0,x=0,n=0,b=1,p=0,dt=1 part=p=p2",
      "rows=1 size=1309 offs=4 bounds=k:[7,7];s:[new!,new!];x:[7.25,7.25];n:[70,70];p:[p3,p3] nulls=k=0,s=0,x=0,n=0,b=0,p=0,dt=0 part=p=p3",
      "rows=2 size=1985 offs=4 bounds= nulls=k=0,s=0,x=0,n=1,b=0,p=0,dt=0 part=p=p1",
      "rows=2 size=1993 offs=4 bounds= nulls=k=0,s=1,x=1,n=0,b=1,p=0,dt=1 part=p=p2",
      "delete rows=1 content=1 size=disk file_path:[data#3,data#3]"))
  }
}
