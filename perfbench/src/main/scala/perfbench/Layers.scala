package perfbench

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced run. Every workload reports the same
  * names; a layer the workload never calls reads 0. */
object Layers {
  /** The curate chain: at least one op of each ops module (Text, Dedup,
    * Sim, Multimodal), covering the minhash, IVF-PQ and PNG kernels. */
  val CurateOps = Seq("tx02_quality", "dd01_exact", "dd03_minhash_lsh",
    "sm20_ivf_pq_search", "mm03_decode")

  /** Bench-side spans, named after the metric they feed: the median
    * inclusive duration of the call. */
  val SpanMetrics: Seq[String] = Seq(
    "engine.analyze_ms", "icelite.load_ms", "icelite.scan_build_ms",
    "icelite.commit_ms.append", "icelite.commit_ms.delete", "icelite.commit_ms.upsert",
    "icelite.commit_ms.compact", "icelite.commit_ms.expire",
    "iceberg.scan_build_ms",
    "sources.commit_ms.icelite.insert", "sources.commit_ms.icelite.delete",
    "sources.commit_ms.icelite.merge", "sources.commit_ms.icelite.maintain",
    "sources.commit_ms.iceberg.insert", "sources.commit_ms.iceberg.delete",
    "sources.commit_ms.iceberg.merge", "sources.commit_ms.iceberg.maintain",
    "catalog.list_ms", "catalog.rest_commit_ms", "ingest.csv_ms", "streaming.trigger_ms")

  /** Timed once per setup, where no trace is attached. */
  val SetupMetrics = Seq("iceberg.export_ms")

  val CountMetrics = Seq(
    "icelite.files_planned_ratio", "icelite.snapshots", "icelite.manifests",
    "icelite.data_files", "icelite.delete_files", "icelite.metadata_bytes",
    "iceberg.manifests", "iceberg.data_files", "iceberg.delete_files")

  val Phases = Seq("analysis" -> "catalyst.analysis_ms", "optimization" -> "catalyst.optimize_ms",
    "planning" -> "catalyst.plan_ms")

  val SelfLayers = Seq("engine", "icelite", "iceberg", "sources", "catalog", "ingest",
    "streaming", "ops", "catalyst", "spark")

  val SparkMetrics = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_jobs",
    "spark.job_ms", "spark.scheduler_wait_ms", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.gc_ms", "spark.input_bytes", "spark.input_rows", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.output_bytes")

  /** The name, unit and order of every per-layer metric. */
  val All: Seq[(String, String)] =
    Seq("engine.analyze_ms" -> "ms") ++ Phases.map(_._2 -> "ms") ++
      SpanMetrics.tail.map(_ -> "ms") ++ SetupMetrics.map(_ -> "ms") ++
      CountMetrics.map(n => n -> (if (n.endsWith("ratio")) "ratio" else if (n.endsWith("bytes")) "bytes" else "count")) ++
      Seq("ingest.csv_rows_per_s" -> "rows/s") ++
      CurateOps.flatMap(q => Seq(s"ops.$q.ms" -> "ms", s"ops.$q.rows_per_s" -> "rows/s")) ++
      SparkMetrics.map(n => n -> (if (n.endsWith("_ms")) "ms" else if (n.endsWith("bytes")) "bytes" else "count")) ++
      Seq("spark.rows_read_per_row_returned" -> "ratio") ++
      SelfLayers.map(l => s"self.${l}_ms" -> "ms") ++
      Seq("driver.unattributed_ms" -> "ms", "trace.attribution_err_ms" -> "ms",
        "trace.overhead_pct" -> "%", "trace.ops" -> "count", "error_rate" -> "ratio")

  final case class OpTrace(op: Trace.Span, kind: String, jobs: Seq[Trace.Job],
      self: Map[String, Double]) {
    def wall: Double = op.end - op.start
  }

  private var opTraces: Seq[OpTrace] = Nil

  private def attribute(): Seq[OpTrace] = {
    val spans  = Trace.spans.toSeq
    val byOp   = spans.groupBy(_.op)
    val jobs   = Option(Trace.jobL).map(_.jobs.toSeq).getOrElse(Nil).filter(!_.end.isNaN)
    val jobsBy = jobs.groupBy(_.group)
    val phases = Option(Trace.phaseL).map(_.phases.toSeq).getOrElse(Nil).sortBy(_.start)
    byOp.toSeq.sortBy(_._1).flatMap { case (opId, ss) =>
      ss.find(s => s.parent == 0 && s.name.startsWith("op.")).filter(!_.end.isNaN).map { root =>
        val inner = ss.filter(s => s.id != root.id && !s.end.isNaN)
        val parentOf = ss.map(s => s.id -> s.parent).toMap
        def depth(id: Long): Int = if (id == 0) 0 else 1 + depth(parentOf.getOrElse(id, 0L))
        val d = inner.map(s => s.id -> depth(s.id)).toMap
        val js = jobsBy.getOrElse(s"op-$opId", Nil)
        val ps = phases.filter(p => p.end > root.start && p.start < root.end)
        OpTrace(root, root.name.stripPrefix("op."), js, Trace.selfTimes(root, inner, d, js, ps))
      }
    }
  }

  def metrics(ctx: Ctx, w: Workload, samples: Seq[Sample]): Seq[(String, Double, String)] = {
    opTraces = attribute()
    val n = math.max(1, opTraces.size).toDouble
    val spans = Trace.spans.toSeq.filter(!_.end.isNaN)
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SpanMetrics.foreach { m =>
      v(m) = Bench.median(spans.filter(_.name == m).map(s => s.end - s.start)) match {
        case x if x.isNaN => 0.0
        case x            => x
      }
    }
    SetupMetrics.foreach(m => v(m) = ctx.setupTimings.getOrElse(m, 0.0))
    val counts = w.counts
    CountMetrics.foreach(m => v(m) = counts.getOrElse(m, 0.0))
    val ingest = spans.filter(_.name == "ingest.csv_ms")
    v("ingest.csv_rows_per_s") =
      if (ingest.isEmpty) 0.0
      else counts.getOrElse("ingest.rows_per_call", 0.0) * ingest.size / ingest.map(s => (s.end - s.start) / 1000).sum
    val traced = samples.filter(s => s.traced && s.ok)
    CurateOps.foreach { q =>
      val xs = traced.filter(_.kind == q).map(_.ms)
      v(s"ops.$q.ms") = if (xs.isEmpty) 0.0 else Bench.median(xs)
      v(s"ops.$q.rows_per_s") =
        if (xs.isEmpty) 0.0 else counts.getOrElse(s"ops.$q.rows", 0.0) * xs.size / (xs.sum / 1000)
    }
    val jobs = opTraces.flatMap(_.jobs)
    def perOp(f: Trace.Job => Double) = jobs.map(f).sum / n
    v("spark.jobs") = jobs.size / n
    v("spark.stages") = perOp(_.stages)
    v("spark.tasks") = perOp(_.tasks)
    v("spark.single_task_jobs") = jobs.count(_.tasks == 1) / n
    v("spark.job_ms") = perOp(j => j.end - j.start)
    v("spark.scheduler_wait_ms") = perOp(_.waitMs)
    v("spark.executor_run_ms") = perOp(_.runMs)
    v("spark.executor_cpu_ms") = perOp(_.cpuMs)
    v("spark.gc_ms") = perOp(_.gcMs)
    v("spark.input_bytes") = perOp(_.inBytes.toDouble)
    v("spark.input_rows") = perOp(_.inRows.toDouble)
    v("spark.shuffle_write_bytes") = perOp(_.shuffleWrite.toDouble)
    v("spark.spill_bytes") = perOp(_.spill.toDouble)
    v("spark.output_bytes") = perOp(_.outBytes.toDouble)
    val withRows = opTraces.filter(o => ctx.returnedRows.contains(o.op.op))
    val returned = withRows.map(o => ctx.returnedRows(o.op.op)).sum
    v("spark.rows_read_per_row_returned") =
      if (returned == 0) 0.0 else withRows.flatMap(_.jobs).map(_.inRows).sum.toDouble / returned
    Phases.foreach { case (p, m) => v(m) = opTraces.map(_.self.getOrElse(s"catalyst.$p", 0.0)).sum / n }
    SelfLayers.foreach { l =>
      v(s"self.${l}_ms") = opTraces.map(_.self.filter(_._1.split('.').head == l).values.sum).sum / n
    }
    v("driver.unattributed_ms") = opTraces.map(_.self.getOrElse("driver.unattributed", 0.0)).sum / n
    v("trace.attribution_err_ms") =
      if (opTraces.isEmpty) 0.0 else opTraces.map(o => math.abs(o.self.values.sum - o.wall)).max
    // tracing overhead: traced mean latency over untraced mean latency of
    // the same operation kinds, weighted by the traced counts
    val untraced = samples.filter(s => !s.traced && s.ok).groupBy(_.kind)
    val pairs = traced.groupBy(_.kind).toSeq.flatMap { case (k, ts) =>
      untraced.get(k).map(us => (ts.size * ts.map(_.ms).sum / ts.size, ts.size * us.map(_.ms).sum / us.size))
    }
    v("trace.overhead_pct") =
      if (pairs.isEmpty) 0.0 else (pairs.map(_._1).sum / pairs.map(_._2).sum - 1) * 100
    v("trace.ops") = opTraces.size
    v("error_rate") = if (samples.isEmpty) 0.0 else samples.count(!_.ok).toDouble / samples.size
    All.map { case (name, unit) => (name, v.getOrElse(name, 0.0), unit) }
  }

  /** Spans, jobs, phases and each operation's self-time split, one JSON
    * object per line. */
  def writeSpans(ctx: Ctx, path: String): Unit = {
    val lines = Trace.spans.map(s => JsonMethods.compact(JsonMethods.render(
      ("type" -> "span") ~ ("op" -> s.op) ~ ("id" -> s.id) ~ ("parent" -> s.parent) ~
        ("name" -> s.name) ~ ("start_ms" -> s.start) ~ ("end_ms" -> s.end)))) ++
      opTraces.map(o => JsonMethods.compact(JsonMethods.render(
        ("type" -> "op") ~ ("op" -> o.op.op) ~ ("kind" -> o.kind) ~ ("wall_ms" -> o.wall) ~
          ("self_ms" -> o.self) ~ ("jobs" -> o.jobs.size) ~ ("tasks" -> o.jobs.map(_.tasks).sum))))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
