package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer's public function. `parent` is -1 for an
  * operation's root span; `op` is shared by every span of one pipeline run
  * or one query. */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark ran on behalf of one span, summed over its jobs and tasks. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var peakMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** In-memory span recorder. Spans nest on the benchmark thread; every Spark
  * job is tagged with its span through the job group and a local property
  * set from this thread, and a listener attributes the job's tasks to it.
  * Planning phases come from each action's QueryPlanningTracker, through a
  * QueryExecutionListener, attributed to the span that was open when the
  * phase started. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]

  private def countersOf(span: Int): Counters =
    counters.synchronized(counters.getOrElseUpdate(span, new Counters))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanKey))).map(_.toInt).getOrElse(-1)
      counters.synchronized {
        e.stageIds.foreach(stageSpan(_) = span)
        jobStart(e.jobId) = (span, e.time)
        countersOf(span).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      counters.synchronized {
        jobStart.remove(e.jobId).foreach { case (span, t0) =>
          countersOf(span).jobIntervals += ((t0, e.time))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.synchronized {
        countersOf(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      counters.synchronized {
        val c = countersOf(stageSpan.getOrElse(e.stageId, -1))
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        }
      }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
  }

  /** Adds a query execution's planning phases to the spans open when each
    * phase started. Actions arrive through the listener; a DataFrame's own
    * analysis, done when it is built, is recorded by calling this. */
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      val span = spanAt(s.startTimeMs)
      counters.synchronized {
        countersOf(span).phasesMs(phase) += s.durationMs
      }
    }

  private val watched = mutable.ArrayBuffer.empty[SparkSession]
  sc.addSparkListener(listener)
  watch(spark)

  /** Planning listeners are per session: register on each one used. */
  def watch(s: SparkSession): SparkSession = {
    s.listenerManager.register(planning)
    watched += s
    s
  }

  /** Innermost span open at wall-clock `ms` (-1 when none). */
  private def spanAt(ms: Long): Int = spans.synchronized {
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .sortBy(s => -s.startNs).headOption.map(_.id).getOrElse(-1)
  }

  /** Root span of one operation (a pipeline run or a query). */
  def op[A](name: String)(body: => A): A = {
    nextOp += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A = {
    val parent = open.headOption
    val s = spans.synchronized {
      val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1),
        nextOp, System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    open = s :: open
    tag(Some(s))
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      tag(open.headOption)
    }
  }

  private def tag(s: Option[Span]): Unit = s match {
    case Some(sp) =>
      sc.setJobGroup(s"op-${sp.op}", sp.name)
      sc.setLocalProperty(Tracer.SpanKey, sp.id.toString)
    case None =>
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.SpanKey, null)
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Every span with its counters, as JSON-ready maps. */
  def dump(): Seq[Map[String, Any]] = {
    drain()
    all.map { s =>
      val c = sum(Seq(s.id))
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_s" -> c.taskNs / 1e9, "planning_ms" -> c.phasesMs.toMap)
    }
  }

  /** Span ids of `root` and every span below it. */
  def subtree(root: Span): Seq[Int] = {
    val byParent = all.groupBy(_.parent)
    def go(id: Int): Seq[Int] =
      id +: byParent.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root.id)
  }

  /** Counters summed over `ids`; job intervals concatenated. */
  def sum(ids: Seq[Int]): Counters = counters.synchronized {
    val out = new Counters
    ids.flatMap(counters.get).foreach { c =>
      out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
      out.taskNs += c.taskNs; out.cpuNs += c.cpuNs; out.gcMs += c.gcMs
      out.shuffleRead += c.shuffleRead; out.shuffleWrite += c.shuffleWrite
      out.spill += c.spill; out.peakMem = math.max(out.peakMem, c.peakMem)
      out.jobIntervals ++= c.jobIntervals
      c.phasesMs.foreach { case (k, v) => out.phasesMs(k) += v }
    }
    out
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    watched.foreach(_.listenerManager.unregister(planning))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Wall seconds covered by at least one of the (start, end) ms intervals. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    for ((a, b) <- intervals.sortBy(_._1)) cur match {
      case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
      case Some((s, e)) => total += e - s; cur = Some((a, b))
      case None => cur = Some((a, b))
    }
    cur.foreach { case (s, e) => total += e - s }
    total / 1e3
  }
}
