package perfbench

import graft.icelite.{FsCatalog, IceTable, IcebergFormat, IngestConfig, IngestJob, RestCatalog, RestCatalogServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat_ws, count, lit, sum, when, xxhash64}
import org.apache.spark.sql.streaming.Trigger
import org.json4s._

import scala.collection.mutable

/** One generated write cycle: how many of the batch's keys are new, and
  * the key range its deletes remove. */
final case class WriteCycle(n_new: Int, del_lo: Long, del_hi: Long, stream_rows: Int)

/** `lake_write`: orders-shaped tables written through every commit path
  * in seeded cycles. A cycle ingests a CSV batch, appends, deletes and
  * upserts through the IceTable API, runs INSERT / DELETE / MERGE through
  * SQL on an IceLite table and on a standard Iceberg v2 table, inserts
  * through the REST catalog binding, runs one `Trigger.AvailableNow`
  * stream append, and ends with maintenance (compaction and snapshot
  * expiry on the SQL and API paths, compaction on the v2 table). Every
  * commit is followed by a point read of the table it wrote — its count
  * and one key's presence — checked against a key-set model kept by the
  * benchmark. */
final class LakeWrite(ctx: Ctx) extends Workload {
  import ctx._

  private val cycles = (spec \ "cycles").extract[List[WriteCycle]].toIndexedSeq
  private val baseN = (spec \ "rows" \ "base").extract[Long]
  private val batchN = (spec \ "rows" \ "batch").extract[Long]
  private val baseCols = spark.read.parquet(s"$data/base.parquet").columns.toSeq

  private var wh, restWh, cn, rn, ckpt, streamSrc: String = _
  private var cat: FsCatalog = _
  private var server: RestCatalogServer = _
  private var restCat: RestCatalog = _
  private def v2loc = s"$wh/v2/orders"
  /** Per table: key -> the cycle whose generated row it holds (-1 = base). */
  private val models = mutable.Map.empty[String, mutable.HashMap[Long, Int]]
  private var c = 0
  private var rowsCommitted = 0L
  private var probe = 0
  private var planted = false
  private var lastDelete = (0L, 0L)
  private val spaceSamples = mutable.ArrayBuffer.empty[(Long, Long)] // (bytes, live rows)

  def setup(rep: Int): Unit = {
    Option(server).foreach(_.stop())
    Seq(wh, restWh).filter(_ != null).foreach(rmrf)
    wh = s"$work/wh_write_$rep"
    restWh = s"$work/wh_rest_$rep"
    ckpt = s"$work/ckpt_$rep"
    streamSrc = s"$work/stream_src_$rep"
    Seq(wh, restWh, ckpt, streamSrc).foreach(rmrf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(streamSrc))
    cn = s"icew$rep"
    rn = s"restw$rep"
    server = new RestCatalogServer(restWh).start()
    spark.conf.set(s"spark.sql.catalog.$cn", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cn.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$rn", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$rn.uri", server.uri)
    cat = new FsCatalog(spark, wh)
    restCat = new RestCatalog(spark, server.uri)
    val base = spark.read.parquet(s"$data/base.parquet")
    cat.createOrReplaceTable("w", "api", base)
    cat.createOrReplaceTable("w", "sqlt", base)
    // the standard Iceberg v2 table starts as a zero-copy export and is
    // then rewritten into files of its own: position deletes written
    // against files the export adopts from another table record paths
    // relative to that table, and readers do not apply them
    val src = cat.createOrReplaceTable("w", "v2src", base)
    timed("iceberg.export_ms")(src.exportIceberg(v2loc))
    spark.sql(s"CALL $cn.system.rewrite_data_files('v2', 'orders', $cpus)").collect()
    restCat.createOrReplaceTable("w", "rt", base)
    Seq("api", "sqlt", "v2", "rest").foreach { t =>
      val m = mutable.HashMap.empty[Long, Int]
      (0L until baseN).foreach(k => m(k) = -1)
      models(t) = m
    }
    models("ingest") = mutable.HashMap.empty
  }

  def warmUp(): Unit = {
    Seq("api", "sqlt", "v2", "rest").foreach(t => read(t, 0L))
  }

  private def sql(q: String): DataFrame = Trace.span("engine.analyze_ms")(spark.sql(q))
  private def first(df: DataFrame): Long = df.collect().head.getLong(0)
  private def api(): IceTable = Trace.span("icelite.load_ms")(cat.loadTable("w", "api"))
  private def v2(): DataFrame = Trace.span("iceberg.scan_build_ms")(
    IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, v2loc)))
  private def sqlName(t: String): String = t match {
    case "sqlt"   => s"$cn.w.sqlt"
    case "rest"   => s"$rn.w.rt"
    case "ingest" => s"$cn.w.ingest"
  }

  /** One point read: the row count and how many rows hold key `k`. */
  private def read(t: String, k: Long): (Long, Long) = {
    val hits = sum(when(col("o_orderkey") === k, 1L).otherwise(0L))
    val r = (t match {
      case "api" => Trace.span("icelite.scan_build_ms")(api().scan()).agg(count(lit(1)), hits)
      case "v2"  => v2().agg(count(lit(1)), hits)
      case _ =>
        // a table IngestJob has just replaced is found through the listing
        if (t == "ingest")
          check(Trace.span("catalog.list_ms")(cat.listTables("w")).contains("ingest"), "ingest table not listed")
        sql(s"SELECT count(*), count_if(o_orderkey = $k) FROM ${sqlName(t)}")
    }).collect().head
    returned(1)
    (r.getLong(0), r.getLong(1))
  }

  /** The point read after a commit: the count and one key's presence,
    * both checked against the model. */
  private def points(t: String, probeKeys: IndexedSeq[Long]): Unit = {
    val m = models(t)
    val k = probeKeys(probe % probeKeys.size)
    probe += 1
    ctx.op("point", s"read_$t")(read(t, k)).foreach { case (n, hits) =>
      val want = m.size + (if (plantWrong && !planted) { planted = true; 1 } else 0)
      check(n == want, s"$t after cycle $c: count $n, model says $want")
      check(hits == (if (m.contains(k)) 1 else 0), s"$t after cycle $c: key $k found $hits times")
    }
  }

  /** One acknowledged commit: timed, then applied to the model, then read. */
  private def commit(kind: String, span: String, t: String, rows: Long, probeKeys: IndexedSeq[Long])(
      body: => Any)(model: mutable.HashMap[Long, Int] => Unit): Unit = {
    if (ctx.op("work", kind)(Trace.span(span)(body)).isDefined) {
      model(models(t))
      rowsCommitted += rows
    }
    points(t, probeKeys)
  }

  private def put(keys: Iterable[Long])(m: mutable.HashMap[Long, Int]): Unit = keys.foreach(k => m(k) = c)
  private def drop(lo: Long, hi: Long)(m: mutable.HashMap[Long, Int]): Unit =
    m.filterInPlace { case (k, _) => k < lo || k >= hi }

  def step(): Boolean = {
    if (c >= cycles.size) return false
    val cy = cycles(c)
    val batch = spark.read.parquet(f"$data/cycles/c$c%04d.parquet")
    val keys = batch.select("o_orderkey").collect().map(_.getLong(0)).toIndexedSeq
    val newLo = baseN + c * (batchN / 2 + cy.stream_rows)
    val newKeys = newLo until newLo + cy.n_new
    val streamKeys = newKeys.end until newKeys.end + cy.stream_rows
    val fresh = batch.where(col("o_orderkey") >= newLo && col("o_orderkey") < newKeys.end)
    batch.createOrReplaceTempView("bw_batch")
    fresh.createOrReplaceTempView("bw_new")
    val (lo, hi) = (cy.del_lo, cy.del_hi)
    lastDelete = (lo, hi)
    val where = s"o_orderkey >= $lo AND o_orderkey < $hi"
    // probes: a new key, an existing key, a deleted one, in turn
    val probes = IndexedSeq(newKeys.start, keys.last, lo)

    commit("ingest", "ingest.csv_ms", "ingest", batchN, probes) {
      new IngestJob(spark, cat, s"$work/ingest_tmp").run(IngestConfig(
        source = f"$data/cycles/c$c%04d.csv", namespace = "w", explicitTableName = Some("ingest")))
    } { m => m.clear(); put(keys)(m) }
    commit("api_append", "icelite.commit_ms.append", "api", cy.n_new, probes)(api().append(fresh))(put(newKeys))
    commit("api_delete", "icelite.commit_ms.delete", "api", 0, probes)(
      api().deleteWhere(col("o_orderkey") >= lo && col("o_orderkey") < hi))(drop(lo, hi))
    commit("api_upsert", "icelite.commit_ms.upsert", "api", batchN, probes)(
      api().upsert(batch, Seq("o_orderkey")))(put(keys))
    Seq("sqlt" -> s"$cn.w.sqlt" -> "icelite", "v2" -> s"$cn.v2.orders" -> "iceberg").foreach {
      case ((t, name), fmt) =>
        // standard v2 tables take no INSERT INTO (no batch append), and
        // Spark plans an insert-only MERGE as an append: their SQL insert
        // is a MERGE of keys that are all new, so only its insert arm runs
        val insert =
          if (t == "sqlt") s"INSERT INTO $name SELECT * FROM bw_new"
          else s"MERGE INTO $name t USING bw_new s ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        commit(s"${t}_insert", s"sources.commit_ms.$fmt.insert", t, cy.n_new, probes)(
          sql(insert).collect())(put(newKeys))
        commit(s"${t}_delete", s"sources.commit_ms.$fmt.delete", t, 0, probes)(
          sql(s"DELETE FROM $name WHERE $where").collect())(drop(lo, hi))
        commit(s"${t}_merge", s"sources.commit_ms.$fmt.merge", t, batchN, probes)(
          sql(s"MERGE INTO $name t USING bw_batch s ON t.o_orderkey = s.o_orderkey " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect())(put(keys))
    }
    commit("rest_insert", "catalog.rest_commit_ms", "rest", cy.n_new, probes)(
      sql(s"INSERT INTO $rn.w.rt SELECT * FROM bw_new").collect())(put(newKeys))
    // the stream's source directory receives this cycle's file; one
    // AvailableNow trigger appends it to the API table
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(f"$data/stream/s$c%04d.parquet"),
      fs, new org.apache.hadoop.fs.Path(f"$streamSrc/s$c%04d.parquet"), false, spark.sparkContext.hadoopConfiguration)
    commit("stream_append", "streaming.trigger_ms", "api", cy.stream_rows, IndexedSeq(streamKeys.start)) {
      spark.readStream.schema(batch.schema).parquet(streamSrc)
        .writeStream.format("icelite")
        .option("location", cat.loadTable("w", "api").location.toString)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }(put(streamKeys))

    // maintenance, after sampling the space the cycle's history takes
    spaceSamples += ((du(wh) + du(restWh), models.values.map(_.size.toLong).sum))
    commit("api_compact", "icelite.commit_ms.compact", "api", 0, probes)(api().compact(cpus))(_ => ())
    commit("api_expire", "icelite.commit_ms.expire", "api", 0, probes)(api().expireSnapshots(2))(_ => ())
    commit("sqlt_rewrite", "sources.commit_ms.icelite.maintain", "sqlt", 0, probes)(
      sql(s"CALL $cn.system.rewrite_data_files('w', 'sqlt', $cpus)").collect())(_ => ())
    commit("sqlt_expire", "sources.commit_ms.icelite.maintain", "sqlt", 0, probes)(
      sql(s"CALL $cn.system.expire_snapshots('w', 'sqlt', 2)").collect())(_ => ())
    commit("v2_rewrite", "sources.commit_ms.iceberg.maintain", "v2", 0, probes)(
      sql(s"CALL $cn.system.rewrite_data_files('v2', 'orders', $cpus)").collect())(_ => ())
    c += 1
    true
  }

  def throughput(loopSeconds: Double): Double = rowsCommitted / loopSeconds

  def finish(): Unit = {
    // every table's content against the rows the model says it holds: the
    // generated rows tagged with their cycle, joined with each model
    val tagged = spark.read.parquet(s"$data/base.parquet").withColumn("__c", lit(-1)) +:
      (0 until c).flatMap(i => Seq(
        spark.read.parquet(f"$data/cycles/c$i%04d.parquet").withColumn("__c", lit(i)),
        spark.read.parquet(f"$data/stream/s$i%04d.parquet").withColumn("__c", lit(i))))
    import spark.implicits._
    val tables = Seq("api" -> cat.loadTable("w", "api").scan(), "sqlt" -> spark.table(s"$cn.w.sqlt"),
      "v2" -> IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, v2loc)),
      "rest" -> spark.table(s"$rn.w.rt"))
    val model = tables.flatMap { case (t, _) => models(t).iterator.map { case (k, cy) => (t, k, cy) } }
      .toDF("__t", "o_orderkey", "__c")
    val want = digests(tagged.reduce(_ unionByName _).join(model, Seq("o_orderkey", "__c")))
    val got = digests(tables.map { case (t, df) =>
      df.select(baseCols.map(n => col(n).cast("string")) :+ lit(t).as("__t"): _*)
    }.reduce(_ union _))
    tables.foreach { case (t, _) =>
      check(got.get(t) == want.get(t), s"$t content digest ${got.get(t)}, model says ${want.get(t)}")
    }
    if (c > 0) {
      val ing = spark.table(s"$cn.w.ingest").agg(count(lit(1)), sum("o_orderkey")).collect().head
      val keys = models("ingest").keys
      check(ing.getLong(0) == keys.size && ing.getLong(1) == keys.sum,
        s"ingest table holds ${ing.getLong(0)} rows, model says ${keys.size}")
    }
  }

  /** Row count and order-independent hash sum of each table's rows. */
  private def digests(df: DataFrame): Map[String, (Long, BigDecimal)] =
    df.groupBy("__t")
      .agg(count(lit(1)), sum(xxhash64(concat_ws("|", baseCols.map(n => col(n).cast("string")): _*))
        .cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  /** Bytes per row of the generated base file: the same rows written
    * once as plain parquet. */
  private def bytesPerRow: Double = du(s"$data/base.parquet").toDouble / baseN

  override def close(): Unit = server.stop()

  def spaceAmp: Double = Bench.median(spaceSamples.toSeq.map { case (b, n) => b / (n * bytesPerRow) })

  def counts: Map[String, Double] = {
    val ice = Seq(s"$cn.w.api", s"$cn.w.sqlt", s"$rn.w.rt", s"$cn.w.ingest")
    def total(kind: String) = ice.map(t => first(spark.sql(s"SELECT count(*) FROM $t.$kind")).toDouble).sum
    val locs = Seq(cat.loadTable("w", "api").location, cat.loadTable("w", "sqlt").location,
      cat.loadTable("w", "ingest").location, restCat.loadTable("w", "rt").location)
    // the files a key-range read of the last delete's range plans, of all
    val t = cat.loadTable("w", "api")
    val planned = t.planFiles("o_orderkey", Some(lastDelete._1.toString), Some(lastDelete._2.toString)).size
    Map(
      "icelite.files_planned_ratio" -> planned.toDouble / t.filesOf(t.metadata.currentSnapshot.get).size,
      "icelite.snapshots" -> total("snapshots"),
      "icelite.manifests" -> total("manifests"),
      "icelite.data_files" -> total("files"),
      "icelite.delete_files" -> total("delete_files"),
      "icelite.metadata_bytes" -> locs.map(l => du(s"$l/metadata")).sum.toDouble,
      "iceberg.manifests" -> first(spark.sql(s"SELECT count(*) FROM $cn.v2.orders.manifests")).toDouble,
      "iceberg.data_files" -> first(spark.sql(s"SELECT count(*) FROM $cn.v2.orders.files")).toDouble,
      "iceberg.delete_files" -> first(spark.sql(s"SELECT count(*) FROM $cn.v2.orders.delete_files")).toDouble,
      "ingest.rows_per_call" -> batchN.toDouble)
  }

  def pythonChecks: JValue = JNothing
}
