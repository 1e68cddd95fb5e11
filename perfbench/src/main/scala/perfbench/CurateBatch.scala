package perfbench

import graft.SparkEntry
import graft.icelite.FsCatalog
import org.json4s._
import org.json4s.JsonDSL._

import scala.collection.mutable

/** `curate_batch`: each step takes a fresh generated batch directory
  * (documents and embeddings), forces the curate ops of the query
  * registry on it with a noop sink, appends the deduplicated documents to
  * an IceLite table and reads that table back: its count and one
  * document's presence, a time travel to the snapshot before the append,
  * and its snapshot log. Fresh directories
  * bypass the ops' per-directory caches. */
final class CurateBatch(ctx: Ctx) extends Workload {
  import ctx._

  private val nBatches = (spec \ "batches").extract[Int]
  private val docsPer = (spec \ "rows" \ "documents").extract[Long]
  private val vecsPer = (spec \ "rows" \ "embeddings").extract[Long]
  private val queries = SparkEntry.queries
  private def dir(b: Int) = f"$data/b$b%04d"

  private var wh, cn: String = _
  private var cat: FsCatalog = _
  private var b = 1 // batch 0 is the warm-up batch
  private var docs = 0L
  private var snapshots0 = 0
  private val curatedCounts = mutable.ArrayBuffer.empty[(Int, Long)]

  def setup(rep: Int): Unit = {
    if (wh != null) rmrf(wh)
    wh = s"$work/wh_curate_$rep"
    rmrf(wh)
    cn = s"icec$rep"
    spark.conf.set(s"spark.sql.catalog.$cn", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cn.warehouse", wh)
    cat = new FsCatalog(spark, wh)
    cat.createOrReplaceTable("c", "docs", spark.read.parquet(s"${dir(0)}/documents.parquet").limit(0))
    snapshots0 = cat.loadTable("c", "docs").snapshots().size
  }

  private def force(q: String, d: String): Unit =
    Trace.span("ops.run")(queries(q)(spark, d)).write.format("noop").mode("overwrite").save()

  private def verifyDir = s"$work/verify"

  /** Runs the chain once on batch 0, writing each op's output for the
    * DuckDB comparison against the registry's oracles: the plans the loop
    * forces, with a parquet sink in place of the noop one. */
  def warmUp(): Unit = {
    rmrf(verifyDir)
    Layers.CurateOps.foreach(q => queries(q)(spark, dir(0)).write.parquet(s"$verifyDir/$q"))
  }

  def step(): Boolean = {
    if (b >= nBatches) return false
    val d = dir(b)
    Layers.CurateOps.foreach(q => ctx.op("work", q)(force(q, d)))
    ctx.op("work", "append_kept") {
      val kept = Trace.span("ops.run")(queries("dd01_exact")(spark, d)).select("doc_id")
      val t = Trace.span("icelite.load_ms")(cat.loadTable("c", "docs"))
      Trace.span("icelite.commit_ms.append")(
        t.append(spark.read.parquet(s"$d/documents.parquet").join(kept, "doc_id")))
    }
    val before = curatedCounts.lastOption.map(_._2).getOrElse(0L)
    ctx.op("point", "read") {
      val first = b * docsPer
      val r = Trace.span("engine.analyze_ms")(
        spark.sql(s"SELECT count(*), count_if(doc_id = $first) FROM $cn.c.docs")).collect().head
      returned(1)
      curatedCounts += ((b, r.getLong(0)))
      check(r.getLong(1) == 1, s"curated table holds batch $b's first document ${r.getLong(1)} times")
    }
    ctx.op("point", "travel") {
      val t = Trace.span("icelite.load_ms")(cat.loadTable("c", "docs"))
      val prev = t.snapshots().init.last.snapshot_id
      val n = Trace.span("engine.analyze_ms")(
        spark.sql(s"SELECT count(*) FROM $cn.c.docs VERSION AS OF $prev")).collect().head.getLong(0)
      returned(1)
      check(n == before, s"time travel before batch $b reads $n rows, the table held $before")
    }
    ctx.op("point", "snapshots") {
      val n = Trace.span("engine.analyze_ms")(
        spark.sql(s"SELECT count(*) FROM $cn.c.docs.snapshots")).collect().head.getLong(0)
      returned(1)
      check(n == snapshots0 + curatedCounts.size, s"${n} snapshots after ${curatedCounts.size} appends")
    }
    docs += docsPer
    b += 1
    true
  }

  /** Four batches: each op's median then rests on four samples. */
  override def minSteps: Int = 4

  def throughput(loopSeconds: Double): Double = docs / loopSeconds

  private var plainBytes = 0L
  def finish(): Unit = {
    val plain = s"$work/plain_curate"
    rmrf(plain)
    cat.loadTable("c", "docs").scan().write.parquet(plain)
    plainBytes = du(plain)
    rmrf(plain)
  }

  def spaceAmp: Double = du(cat.loadTable("c", "docs").location.toString).toDouble / plainBytes

  private def one(q: String): Double = spark.sql(q).collect().head.getLong(0).toDouble

  def counts: Map[String, Double] = {
    val t = s"$cn.c.docs"
    Map(
      "icelite.snapshots" -> one(s"SELECT count(*) FROM $t.snapshots"),
      "icelite.manifests" -> one(s"SELECT count(*) FROM $t.manifests"),
      "icelite.data_files" -> one(s"SELECT count(*) FROM $t.files"),
      "icelite.delete_files" -> one(s"SELECT count(*) FROM $t.delete_files"),
      "icelite.metadata_bytes" -> du(s"${cat.loadTable("c", "docs").location}/metadata").toDouble) ++
      Layers.CurateOps.map(q => s"ops.$q.rows" -> (if (q.startsWith("sm")) vecsPer else docsPer).toDouble)
  }

  def pythonChecks: JValue =
    ("kind" -> "curate") ~ ("plant" -> plantWrong) ~ ("verify_batch" -> dir(0)) ~
      ("outputs" -> Layers.CurateOps.map(q => q -> s"$verifyDir/$q").toMap) ~
      ("oracles" -> Layers.CurateOps.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap) ~
      ("curated_counts" -> curatedCounts.toList.map { case (bb, n) => ("dir" -> dir(bb)) ~ ("count" -> n) })
}
