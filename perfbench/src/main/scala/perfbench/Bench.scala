package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation of the closed loop. `cls` is `point` (a read that
  * should cost only the driver floor) or `work` (the workload's heavy
  * operation: a scan, a commit, or a curate op); `kind` names the
  * operation. A failed operation keeps its sample with `ok = false` and
  * counts as +inf latency. */
final case class Sample(op: Long, cls: String, kind: String, ms: Double, ok: Boolean,
    traced: Boolean)

/** What every workload gets: the session, its inputs and scratch space,
  * and the recorder its timed operations go through. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val cpus: Int, val plantWrong: Boolean) {
  implicit val formats: Formats = DefaultFormats
  val spec: JValue = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(s"$data/spec.json"))))

  val samples = mutable.ArrayBuffer.empty[Sample]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** Inclusive durations of setup-time calls (no trace is attached then). */
  val setupTimings = mutable.Map.empty[String, Double]
  /** Rows each operation returned to the client, by operation id. */
  val returnedRows = mutable.Map.empty[Long, Long]
  private var nextOp = 0L

  def returned(n: Long): Unit = returnedRows(nextOp) = n

  def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Runs one operation of the closed loop: times it, tags its Spark jobs
    * with the operation id, and turns an exception into a failed sample. */
  def op[T](cls: String, kind: String)(body: => T): Option[T] = {
    nextOp += 1
    val id = nextOp
    val traced = Trace.enabled
    spark.sparkContext.setJobGroup(s"op-$id", kind)
    Trace.beginOp(id, s"op.$kind")
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += Sample(id, cls, kind, (System.nanoTime() - t0) / 1e6, ok = true, traced)
      Some(r)
    } catch {
      case NonFatal(e) =>
        samples += Sample(id, cls, kind, (System.nanoTime() - t0) / 1e6, ok = false, traced)
        System.err.println(s"[perfbench] operation $id ($kind) failed:")
        e.printStackTrace()
        None
    } finally {
      Trace.endOp()
      spark.sparkContext.clearJobGroup()
    }
  }

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) {
      checkFailures += msg
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
    }

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupTimings(name) = (System.nanoTime() - t0) / 1e6
  }

  /** Total bytes of every file under `path`. */
  def du(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }
}

trait Workload {
  /** Builds every table the loop needs; called several times, each into a
    * fresh location, and the loop uses the last build. */
  def setup(rep: Int): Unit
  /** Runs each operation kind once on the last build, untimed by the loop. */
  def warmUp(): Unit
  /** One unit of the closed loop; false when the generated inputs ran out. */
  def step(): Boolean
  /** Steps every run makes, however long they take. */
  def minSteps: Int = 1
  /** Useful work per second of the timed loop. */
  def throughput(loopSeconds: Double): Double
  /** Untimed end-of-run checks; fills `ctx.checkFailures`. */
  def finish(): Unit
  def spaceAmp: Double
  /** Work counts read from SQL metadata tables and file listings. */
  def counts: Map[String, Double]
  /** Result records the Python side re-derives with DuckDB. */
  def pythonChecks: JValue
  /** Stops anything the workload started. */
  def close(): Unit = ()
}

object Bench {
  val SetupReps = 3

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").get
    val seconds  = arg(args, "seconds").get.toDouble
    val trace    = arg(args, "trace").contains("1")
    val data     = arg(args, "data").get
    val work     = arg(args, "work").get
    val out      = arg(args, "out").get
    val cpus     = arg(args, "cpus").get.toInt
    val plant    = arg(args, "plant-wrong").contains("1")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark    = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val ctx = new Ctx(spark, data, work, cpus, plant)
    val w: Workload = workload match {
      case "lake_read"    => new LakeRead(ctx)
      case "lake_write"   => new LakeWrite(ctx)
      case "curate_batch" => new CurateBatch(ctx)
    }

    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      w.warmUp()
      (System.nanoTime() - t0) / 1e9
    }

    // the closed loop, in whole steps (a query, a write cycle or a curate
    // batch), at least `minSteps` of them. A traced run measures its first half untraced and its second
    // half traced, at least one step each, so the halves give the tracing
    // overhead.
    val loopStart = System.nanoTime()
    val deadline  = loopStart + (seconds * 1e9).toLong
    val half      = loopStart + (seconds * 0.5e9).toLong
    var (more, steps, tracedSteps) = (true, 0, 0)
    while (more && (System.nanoTime() < deadline || steps < w.minSteps || (trace && tracedSteps == 0))) {
      if (trace && !Trace.enabled && steps > 0 && System.nanoTime() >= half) Trace.attach(spark)
      more = w.step()
      steps += 1
      if (Trace.enabled) tracedSteps += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    if (!more) ctx.check(false, s"$workload ran out of generated inputs before the time limit")
    if (trace) Trace.drain(spark)

    val finishS = {
      val t0 = System.nanoTime()
      w.finish()
      (System.nanoTime() - t0) / 1e9
    }
    val samples = ctx.samples.toSeq
    // each operation kind's median latency (a failed operation counts as
    // +inf), combined across the kinds of a class by geometric mean, so the
    // figure does not depend on which kind a single sample happens to be
    def latency(cls: String): Double = {
      val perKind = samples.filter(_.cls == cls).groupBy(_.kind).values
        .map(ss => median(ss.map(s => if (s.ok) s.ms else Double.PositiveInfinity)))
      math.exp(perKind.map(math.log).sum / perKind.size)
    }
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", sessionS + median(setupS) + warmS, "s"),
      ("point_ms", latency("point"), "ms"),
      ("work_ms", latency("work"), "ms"),
      ("throughput_per_s", w.throughput(loopS), "1/s"),
      ("space_amp", w.spaceAmp, "ratio"))
    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else Layers.metrics(ctx, w, samples) :+ (("jvm.peak_rss_mb", peakRssMb(), "MB"))

    val failed = samples.count(!_.ok)
    val host = Map(
      "nproc" -> cpus.toString,
      "mem_total_kb" -> scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1)).getOrElse(""),
      "jvm" -> System.getProperty("java.vm.version"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark" -> spark.version)
    import org.json4s.JsonDSL._
    val report: JValue =
      ("workload" -> workload) ~
        ("host" -> host) ~
        ("attempted" -> samples.size) ~ ("failed" -> failed) ~
        ("samples" -> Map("point" -> samples.count(_.cls == "point"),
          "work" -> samples.count(_.cls == "work"))) ~
        ("kinds" -> samples.groupBy(_.kind).map { case (k, ss) =>
          k -> (("n" -> ss.size) ~ ("median_ms" -> median(ss.map(_.ms)))) }) ~
        ("loop_s" -> loopS) ~ ("session_s" -> sessionS) ~ ("setup_reps_s" -> setupS.toList) ~ ("warm_up_s" -> warmS) ~ ("finish_s" -> finishS) ~
        ("check_failures" -> ctx.checkFailures.toList) ~
        ("metrics" -> metrics.map { case (n, v, u) => n -> (("value" -> v) ~ ("unit" -> u)) }.toMap) ~
        ("python_checks" -> w.pythonChecks)
    Files.write(Paths.get(out), JsonMethods.pretty(JsonMethods.render(report)).getBytes("UTF-8"))
    if (trace) Layers.writeSpans(ctx, s"$work/trace_spans.jsonl")
    w.close()
    spark.stop()
  }
}
