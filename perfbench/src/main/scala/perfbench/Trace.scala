package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Bench-side tracing. Spans are recorded around the calls the benchmark
  * makes into each engine layer; Catalyst phases and Spark jobs come from
  * Spark's public listeners. Everything is kept in memory and written out
  * when the run ends.
  *
  * Times are epoch milliseconds as doubles: bench spans are measured with
  * `nanoTime` and shifted onto the wall clock once, so they line up with
  * the millisecond timestamps Spark's listener events carry. */
object Trace {
  final case class Span(op: Long, id: Long, parent: Long, name: String,
      start: Double, var end: Double)
  final case class Phase(name: String, start: Double, end: Double)
  final case class Job(id: Int, start: Double, var end: Double, group: String,
      var stages: Int = 0, var tasks: Int = 0, var runMs: Double = 0, var cpuMs: Double = 0,
      var gcMs: Double = 0, var inBytes: Long = 0, var inRows: Long = 0,
      var shuffleWrite: Long = 0, var spill: Long = 0, var outBytes: Long = 0,
      var waitMs: Double = 0)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0L
  private var currentOp = 0L

  def beginOp(op: Long, name: String): Unit = if (enabled) {
    currentOp = op
    stack.clear()
    push(name)
  }
  def endOp(): Unit = if (enabled) { pop(); stack.clear() }

  private def push(name: String): Span = {
    nextId += 1
    val s = Span(currentOp, nextId, stack.headOption.map(_.id).getOrElse(0L), name, now(), Double.NaN)
    spans += s
    stack.push(s)
    s
  }
  private def pop(): Unit = if (stack.nonEmpty) stack.pop().end = now()

  /** A span named `layer.call` around one call into an engine layer. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      push(name)
      try body
      finally pop()
    }

  /** Spark listener: one record per job, with its stages' task metrics. */
  final class JobListener extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Job]
    private val byJob = mutable.Map.empty[Int, Job]
    private val jobOfStage = mutable.Map.empty[Int, Job]
    private val stageSubmit = mutable.Map.empty[Int, Long]
    private val stageFirstLaunch = mutable.Map.empty[Int, Long]
    @volatile var markerSeen = false

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g == "perfbench-marker") return
      val j = Job(e.jobId, e.time.toDouble, Double.NaN, g, stages = e.stageIds.size)
      jobs += j
      byJob(e.jobId) = j
      e.stageIds.foreach(s => jobOfStage(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byJob.remove(e.jobId) match {
        case Some(j) => j.end = e.time.toDouble
        case None    => markerSeen = true
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      for (j <- jobOfStage.get(id); sub <- stageSubmit.get(id); first <- stageFirstLaunch.get(id))
        j.waitMs += math.max(0L, first - sub)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      if (!stageFirstLaunch.contains(e.stageId)) stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      jobOfStage.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRows += m.inputMetrics.recordsRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Catalyst phase intervals of every executed query. */
  final class PhaseListener extends QueryExecutionListener {
    val phases = mutable.ArrayBuffer.empty[Phase]
    private def record(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  var jobL: JobListener = _
  var phaseL: PhaseListener = _

  def attach(spark: SparkSession): Unit = {
    jobL = new JobListener
    phaseL = new PhaseListener
    spark.sparkContext.addSparkListener(jobL)
    spark.listenerManager.register(phaseL)
    enabled = true
  }

  /** Waits until every listener event posted so far has been delivered:
    * both listeners share Spark's event queue, so once a marker job's end
    * has arrived, everything before it has too. */
  def drain(spark: SparkSession): Unit = if (jobL != null) {
    enabled = false
    spark.sparkContext.setJobGroup("perfbench-marker", "marker")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!jobL.markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Per-operation attribution: every instant of an operation's wall time
    * goes to exactly one owner — a Spark job if one runs, else a Catalyst
    * phase, else the innermost bench span, else `driver.unattributed`. So
    * for each operation the owners' self times sum to its wall time. */
  def selfTimes(op: Span, inner: Seq[Span], depth: Map[Long, Int],
      jobs: Seq[Job], phases: Seq[Phase]): Map[String, Double] = {
    final case class Iv(owner: String, prio: Double, s: Double, e: Double)
    val ivs = mutable.ArrayBuffer(Iv("driver.unattributed", 0, op.start, op.end))
    inner.foreach(s => ivs += Iv(s.name.split('.').head, 1 + depth(s.id) * 1e-3, s.start, s.end))
    phases.foreach(p => ivs += Iv(s"catalyst.${p.name}", 2, p.start, p.end))
    jobs.foreach(j => ivs += Iv("spark", 3, j.start, j.end))
    val clipped = ivs.map(i => i.copy(s = math.max(i.s, op.start), e = math.min(i.e, op.end)))
      .filter(i => i.e > i.s)
    val cuts = clipped.flatMap(i => Seq(i.s, i.e)).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (k <- 1 until cuts.size) {
      val (a, b) = (cuts(k - 1), cuts(k))
      val mid = (a + b) / 2
      val owner = clipped.filter(i => i.s <= mid && mid < i.e).maxBy(_.prio)
      out(owner.owner) += b - a
    }
    out.toMap
  }
}
