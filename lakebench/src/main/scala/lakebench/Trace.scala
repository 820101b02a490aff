package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced public call: `name` is `<layer>.<call>`, `op` the client
  * operation it belongs to, `parent` the enclosing span (0 = top level).
  * Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (end - start) / 1e6
}

/** Outside-in tracer: the benchmark wraps every public graft call it makes
  * in [[span]]. While [[recording]] is off a span is just the call, so the
  * untraced run pays one branch per call. Spark jobs are attributed to the
  * innermost open span through a job-local property; planning phases are
  * attributed by their start time. Everything stays in memory until a
  * [[TraceReport]] reads it at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  val spans = mutable.ArrayBuffer.empty[Span]
  val spark_ = new SparkStats
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = 0
  var recording = false

  sc.addSparkListener(spark_)
  spark.listenerManager.register(spark_.planListener)

  /** Marks the start of the next client operation. */
  def nextOp(): Unit = op += 1

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent == 0) null else parent.toString)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Epoch milliseconds of a nanoTime reading (listener events carry
    * epoch milliseconds). */
  def epochMs(nanos: Long): Double = nanos / 1e6 + epochOffsetMs

  /** Blocks until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.LakebenchBus.drain(sc)
}

object Tracer {
  val SpanKey = "lakebench.span"
}

/** Counters of one Spark job, attributed to the span that submitted it. */
final class Job(val span: Int, val start: Long) {
  var end = 0L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** One planning phase of an executed query: start (epoch ms), duration. */
final case class Phase(startMs: Long, ms: Long)

/** Per-job Spark counters keyed by the span that submitted the job, plus
  * the planning phases of every executed query. */
final class SparkStats extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val j = new Job(span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private val planning = Set("analysis", "optimization", "planning")
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = SparkStats.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        if (planning(name)) phases += Phase(p.startTimeMs, p.durationMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}

/** Per-layer numbers derived from the recorded spans. */
final class TraceReport(tracer: Tracer) {
  private val spans = tracer.spans.toVector
  private val children = spans.groupBy(_.parent)
  private val jobs = tracer.spark_.synchronized(tracer.spark_.jobs.values.toVector)
  private val jobsBySpan = jobs.filter(_.span != 0).groupBy(_.span)

  /** Self time: the span's duration minus the time its children cover
    * (children of one client thread never overlap). */
  def selfMs(s: Span): Double =
    s.ms - children.getOrElse(s.id, Vector.empty).map(_.ms).sum

  def selfMsByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }

  private def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Jobs submitted anywhere inside `s`. */
  def jobsUnder(s: Span): Vector[Job] =
    subtree(s).flatMap(c => jobsBySpan.getOrElse(c.id, Vector.empty))

  /** Wall time of `s` during which no Spark job of its own was running. */
  def gapMs(s: Span): Double = {
    val lo = tracer.epochMs(s.start)
    val hi = tracer.epochMs(s.end)
    val ivs = jobsUnder(s).map(j => (math.max(lo, j.start.toDouble),
      math.min(hi, (if (j.end > 0) j.end else j.start).toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (hi - lo) - covered)
  }

  /** Planning milliseconds of phases that started while `s` (or one of
    * its descendants) was the innermost open span. */
  def planMsUnder(s: Span): Double = {
    val ids = subtree(s).map(_.id).toSet
    phaseOwners.collect { case (p, Some(id)) if ids(id) => p.ms.toDouble }.sum
  }

  private lazy val phaseOwners: Vector[(Phase, Option[Int])] = {
    val ph = tracer.spark_.synchronized(tracer.spark_.phases.toVector)
    ph.map { p =>
      // innermost span open at the phase start: latest start <= t <= end
      val owner = spans.filter(s => tracer.epochMs(s.start) <= p.startMs + 1 &&
          tracer.epochMs(s.end) >= p.startMs)
        .sortBy(s => -s.start).headOption.map(_.id)
      (p, owner)
    }
  }

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  def spanCount: Int = spans.size

  def meanMs(name: String): Double = Stats.mean(named(name).map(_.ms))

  /** Spark counters over every top-level span. */
  def sparkMetrics: Map[String, Double] = {
    val tops = spans.filter(_.parent == 0)
    val js = tops.flatMap(jobsUnder)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> js.map(_.taskMs).sum.toDouble,
      "spark.job_ms" -> js.map(j => math.max(0L, j.end - j.start)).sum.toDouble,
      "spark.gap_ms" -> tops.map(gapMs).sum,
      "spark.plan_ms" -> tops.map(planMsUnder).sum,
      "spark.shuffle_read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> js.map(_.gcMs).sum.toDouble)
  }

  /** Every span, one JSON object per line. */
  def spansJsonLines: Iterator[String] = spans.iterator.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      f""""start_ms":${tracer.epochMs(s.start)}%.3f,"end_ms":${tracer.epochMs(s.end)}%.3f}"""
  }
}
