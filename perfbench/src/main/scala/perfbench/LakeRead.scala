package perfbench

import graft.icelite.{Engine, FsCatalog, IcebergFormat}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.json4s._
import org.json4s.JsonDSL._

import scala.collection.mutable

/** One query of the seeded sequence: a query kind and its parameter. */
final case class ReadOp(kind: String, arg: Int)

/** `lake_read`: a star schema whose `lineitem` is an unpartitioned IceLite
  * table built from shipdate-ordered appends, plus a standard Iceberg v2
  * copy of it made with `exportIceberg`. A fixed seeded sequence of point
  * and scan queries runs against the static tables; no commit code runs. */
final class LakeRead(ctx: Ctx) extends Workload {
  import ctx._

  private val ops = (spec \ "ops").extract[List[ReadOp]].toIndexedSeq
  private val nParts = (spec \ "appends").extract[Int]
  private val nOrders = (spec \ "rows" \ "orders").extract[Long]
  private val parts = (0 until nParts).map(i => f"$data/lineitem/part-$i%02d.parquet")

  private var wh: String = _
  private var cn: String = _ // the SQL catalog bound to the current warehouse
  private var cat: FsCatalog = _
  private var engine: Engine = _
  private var v2loc: String = _
  private var snaps: IndexedSeq[Long] = IndexedSeq.empty
  private var filesListed = 0L
  private var next = 0
  private var queries = 0L
  // first answer of each distinct query, with the DuckDB query that re-derives it
  private val answers = mutable.LinkedHashMap.empty[(String, Int), (List[List[Any]], String)]

  def setup(rep: Int): Unit = {
    if (wh != null) rmrf(wh)
    wh = s"$work/wh_read_$rep"
    rmrf(wh)
    cn = s"ice$rep"
    spark.conf.set(s"spark.sql.catalog.$cn", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cn.warehouse", wh)
    cat = new FsCatalog(spark, wh)
    engine = new Engine(spark, cat)
    var t = cat.createOrReplaceTable("r", "lineitem", spark.read.parquet(parts.head))
    parts.tail.foreach(p => t = t.append(spark.read.parquet(p)))
    cat.createOrReplaceTable("r", "orders", spark.read.parquet(s"$data/orders.parquet"))
    cat.createOrReplaceTable("r", "customer", spark.read.parquet(s"$data/customer.parquet"))
    // a directory name without '_' is never mistaken for an IceLite table
    v2loc = s"$wh/v2/lineitem"
    timed("iceberg.export_ms")(t.exportIceberg(v2loc))
    snaps = t.snapshots().map(_.snapshot_id).toIndexedSeq
    check(snaps.size == nParts, s"lineitem has ${snaps.size} snapshots, expected $nParts")
    val dataFiles = fs.listFiles(t.location, true)
    var n = 0L
    while (dataFiles.hasNext) {
      val f = dataFiles.next().getPath
      if (f.getName.endsWith(".parquet") && !f.toString.contains("/metadata/")) n += 1
    }
    filesListed = n
  }

  def warmUp(): Unit = ops.map(_.kind).distinct.foreach(k => run(k, 0))

  private def sql(q: String): DataFrame = Trace.span("engine.analyze_ms")(spark.sql(q))

  private def rows(df: DataFrame): List[List[Any]] = {
    val r = df.collect()
    returned(r.length)
    r.map(norm).toList
  }

  private def norm(r: Row): List[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue()
    case x: java.time.LocalDateTime => x.toString
    case x: java.sql.Timestamp => x.toString
    case x => x
  }.toList

  private def day(d: Int): String = java.time.LocalDate.of(1995, 1, 1).plusDays(d).toString
  private def ts(d: Int): String = s"TIMESTAMP '${day(d)} 00:00:00'"
  private def pq(files: Seq[String]): String = files.map(f => s"'$f'").mkString("read_parquet([", ", ", "])")
  private val allLi = s"read_parquet('$data/lineitem/*.parquet')"

  /** Runs one query; returns its rows and the DuckDB query over the
    * generated files that must give the same answer. */
  private def run(kind: String, a: Int): (List[List[Any]], String) = kind match {
    case "p_count" =>
      (rows(sql(s"SELECT count(*) AS n FROM $cn.r.lineitem")), s"SELECT count(*) AS n FROM $allLi")
    case "p_describe" =>
      val names = Trace.span("engine.analyze_ms")(engine.describe("r.lineitem")).collect().map(_.getString(0))
      val listed = Trace.span("catalog.list_ms")(engine.listing()).collect()
        .map(r => s"${r.getString(0)}.${r.getString(1)}").toSet
      check(listed == Set("r.lineitem", "r.orders", "r.customer"), s"listing returned $listed")
      returned(names.length + listed.size)
      (names.map(List(_)).toList, s"SELECT column_name FROM (DESCRIBE SELECT * FROM '${parts.head}')")
    case "p_range" | "p_v2range" =>
      val lo = 37 + a * 297 + (if (kind == "p_v2range") 11 else 0)
      val where = s"l_shipdate >= ${ts(lo)} AND l_shipdate < ${ts(lo + 3)}"
      val oracle = s"SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS s FROM $allLi WHERE $where"
      if (kind == "p_range")
        (rows(sql(s"SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS s FROM $cn.r.lineitem WHERE $where")), oracle)
      else {
        val df = Trace.span("iceberg.scan_build_ms")(
          IcebergFormat.scan(spark, IcebergFormat.currentMetadataPath(spark, v2loc)))
        (rows(df.where(where).agg(count(lit(1)).as("n"),
          org.apache.spark.sql.functions.round(sum("l_extendedprice"), 2).as("s"))), oracle)
      }
    case "p_lookup" =>
      val k = (a.toLong * 104729L + 17) % nOrders
      val cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"
      (rows(sql(s"SELECT $cols FROM $cn.r.orders WHERE o_orderkey = $k")),
        s"SELECT $cols FROM '$data/orders.parquet' WHERE o_orderkey = $k")
    case "p_travel" =>
      val k = a
      (rows(sql(s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $cn.r.lineitem VERSION AS OF ${snaps(k)}")),
        s"SELECT count(*) AS n, sum(l_quantity) AS q FROM ${pq(parts.take(k + 1))}")
    case "p_incremental" =>
      val (from, to) = (a % 2, a % 2 + 2)
      val t = Trace.span("icelite.load_ms")(cat.loadTable("r", "lineitem"))
      val df = Trace.span("icelite.scan_build_ms")(t.scanIncremental(snaps(from), snaps(to)))
      (rows(df.agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))),
        s"SELECT count(*) AS n, sum(l_quantity) AS q FROM ${pq(parts.slice(from + 1, to + 1))}")
    case "p_meta" =>
      if (a % 2 == 0)
        (rows(sql(s"SELECT count(*) AS n FROM $cn.r.lineitem.snapshots")), s"SELECT $nParts::BIGINT AS n")
      else
        (rows(sql(s"SELECT count(*) AS n FROM $cn.r.lineitem.files")), s"SELECT $filesListed::BIGINT AS n")
    case "s_topk" =>
      val flag = Seq("R", "A", "N")(a % 3)
      val q = (t: String) => "SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev " +
        s"FROM $t WHERE l_returnflag = '$flag' GROUP BY l_suppkey ORDER BY rev DESC, l_suppkey LIMIT 10"
      (rows(sql(q(s"$cn.r.lineitem"))), q(allLi))
    case "s_join" =>
      val q = (li: String, o: String, c: String) => "SELECT c_mktsegment, count(*) AS n, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev " +
        s"FROM $li l JOIN $o o ON l.l_orderkey = o.o_orderkey JOIN $c c ON o.o_custkey = c.c_custkey " +
        s"WHERE o.o_orderdate < ${ts(400 + a * 200)} GROUP BY c_mktsegment ORDER BY c_mktsegment"
      (rows(sql(q(s"$cn.r.lineitem", s"$cn.r.orders", s"$cn.r.customer"))),
        q(allLi, s"'$data/orders.parquet'", s"'$data/customer.parquet'"))
    case "s_union" =>
      val q = (t: String) => "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM (" +
        s"SELECT l_returnflag, l_quantity FROM $t WHERE l_shipdate < ${ts(300 + a * 250)} UNION ALL " +
        s"SELECT l_returnflag, l_quantity FROM $t WHERE l_discount >= ${0.02 + a * 0.01}) u " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"
      (rows(sql(q(s"$cn.r.lineitem"))), q(allLi))
    case "s_hist" =>
      val q = (t: String) => s"SELECT CAST(floor(l_extendedprice / ${5000 + a * 1000}) AS BIGINT) AS b, " +
        s"count(*) AS n FROM $t GROUP BY 1 ORDER BY 1"
      (rows(sql(q(s"$cn.r.lineitem"))), q(allLi))
    case "s_filter" =>
      val q = (t: String) => "SELECT count(*) AS n, round(sum(l_extendedprice * l_discount), 2) AS rev " +
        s"FROM $t WHERE l_discount BETWEEN ${0.02 + a * 0.01 - 0.011} AND ${0.02 + a * 0.01 + 0.011} " +
        s"AND l_quantity < ${20 + a}"
      (rows(sql(q(s"$cn.r.lineitem"))), q(allLi))
  }

  private def same(a: List[List[Any]], b: List[List[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q)) + 0.0101
        case (p, q)                 => p == q
      }
    }

  def step(): Boolean = {
    val o = ops(next % ops.size)
    next += 1
    queries += 1
    ctx.op(if (o.kind.startsWith("p_")) "point" else "work", o.kind)(run(o.kind, o.arg)).foreach {
      case (got, oracle) =>
        answers.get((o.kind, o.arg)) match {
          case None => answers((o.kind, o.arg)) = (got, oracle)
          case Some((first, _)) =>
            check(same(first, got), s"${o.kind}(${o.arg}) answered $got, earlier $first")
        }
    }
    true
  }

  def throughput(loopSeconds: Double): Double = queries / loopSeconds

  private var plainBytes = 0L
  def finish(): Unit = {
    val plain = s"$work/plain_read"
    rmrf(plain)
    Seq("lineitem" -> parts, "orders" -> Seq(s"$data/orders.parquet"),
      "customer" -> Seq(s"$data/customer.parquet")).foreach { case (n, files) =>
      spark.read.parquet(files: _*).write.parquet(s"$plain/$n")
    }
    plainBytes = du(plain)
    rmrf(plain)
  }

  def spaceAmp: Double = du(wh).toDouble / plainBytes

  private def one(q: String): Double = spark.sql(q).collect().head.getLong(0).toDouble

  def counts: Map[String, Double] = {
    val t = cat.loadTable("r", "lineitem")
    val lo = s"${day(37)} 00:00:00"
    val hi = s"${day(40)} 00:00:00"
    val tables = Seq("lineitem", "orders", "customer")
    def total(kind: String) = tables.map(n => one(s"SELECT count(*) FROM $cn.r.$n.$kind")).sum
    Map(
      "icelite.files_planned_ratio" -> t.planFiles("l_shipdate", Some(lo), Some(hi)).size.toDouble /
        t.filesOf(t.metadata.currentSnapshot.get).size,
      "icelite.snapshots" -> total("snapshots"),
      "icelite.manifests" -> total("manifests"),
      "icelite.data_files" -> total("files"),
      "icelite.delete_files" -> total("delete_files"),
      "icelite.metadata_bytes" -> tables.map(n => du(s"${cat.loadTable("r", n).location}/metadata")).sum,
      "iceberg.manifests" -> one(s"SELECT count(*) FROM $cn.v2.lineitem.manifests"),
      "iceberg.data_files" -> one(s"SELECT count(*) FROM $cn.v2.lineitem.files"),
      "iceberg.delete_files" -> one(s"SELECT count(*) FROM $cn.v2.lineitem.delete_files"))
  }

  def pythonChecks: JValue =
    ("kind" -> "oracle_rows") ~ ("plant" -> plantWrong) ~
      ("queries" -> answers.toList.map { case ((k, a), (got, oracle)) =>
        ("kind" -> k) ~ ("arg" -> a) ~ ("oracle" -> oracle) ~ ("rows" -> Extraction.decompose(got))
      })
}
