package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder plus Spark listener counters, used only by the traced
  * run. A span wraps one call into a graft module; it sets a local
  * property on the calling thread, which Spark copies into the
  * properties of every job that call submits (including jobs submitted
  * from Spark's own broadcast threads), so each job is attributed to
  * exactly one span no matter when the listener bus delivers its
  * events. SQL executions are kept too, so a single call that runs many
  * queries (a whole pipeline pass) can be split by the table each
  * query writes or reads. Everything stays in memory until
  * [[Trace.dump]]. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Job id -> (span id, root SQL execution id), -1 where absent. */
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  /** Per job: task counters, summed over the job's tasks. */
  private val jobCounters = new ConcurrentHashMap[Int, Counters]()
  private val executions = new ConcurrentHashMap[Long, Execution]()
  /** (wall-clock start ms, nanoseconds) of every query's planning phases. */
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val callbackNs = new AtomicLong(0)

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(pp => Option(pp.getProperty(k)))
      val span = prop(SpanProp).map(_.toLong).getOrElse(-1L)
      val exec = prop("spark.sql.execution.root.id")
        .orElse(prop("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobInfo(span, exec))
      jobCounters.put(e.jobId, new Counters)
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val c = jobCounters.get(stageToJob.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      if (c != null && m != null) c.synchronized {
        c.tasks += 1
        c.busyNs += m.executorRunTime * 1000000L
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.spill += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, Execution(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.physicalPlanDescription,
            s.time, -1L))
        case x: SparkListenerSQLExecutionEnd =>
          val ex = executions.get(x.executionId)
          if (ex != null) executions.put(x.executionId, ex.copy(end = x.time))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      qe.tracker.phases.values.foreach { p =>
        planning.add((p.startTimeMs, (p.endTimeMs - p.startTimeMs) * 1000000L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as a span named `name` (`module.op`), child of the
    * innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(nextId.incrementAndGet(), open.headOption.map(_.id).getOrElse(0L),
      name, System.nanoTime(), System.currentTimeMillis())
    val prev = sc.getLocalProperty(SpanProp)
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, prev)
      spans += s
    }
  }

  /** Add to a counter of the most recently closed span named `name`. */
  def countLast(name: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name)
      .foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListenerBus(sc)

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Whether wall-clock time `ms` falls inside a span named `name`. */
  def within(name: String, ms: Long): Boolean =
    spans.exists(s => s.name == name && ms >= s.startMs && ms <= s.endMs)

  /** Planning time (analysis, optimization, physical planning) of the
    * queries whose phases started inside a span named `name`. */
  def planningSeconds(name: String): Double = {
    planning.asScala.collect { case (t, ns) if within(name, t) => ns }.sum / 1e9
  }
  def callbackSeconds: Double = callbackNs.get / 1e9

  /** Counters summed over the jobs matching `pick(jobId, info)`. */
  def jobTotals(pick: (Int, JobInfo) => Boolean): Counters = {
    val out = new Counters
    jobs.asScala.foreach { case (j, info) =>
      if (pick(j, info)) {
        out.jobs += 1
        Option(jobCounters.get(j)).foreach(out.add)
      }
    }
    out
  }

  /** Span ids of every span named `name` and of all their descendants. */
  def spanIds(name: String): Set[Long] = {
    val byParent = spans.groupBy(_.parent)
    def under(id: Long): Seq[Long] = id +: byParent.getOrElse(id, Nil).flatMap(s => under(s.id)).toSeq
    spans.filter(_.name == name).flatMap(s => under(s.id)).toSet
  }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  def spanCount(name: String, key: String): Double =
    spans.filter(_.name == name).map(_.counts.getOrElse(key, 0.0)).sum

  def execution(id: Long): Option[Execution] = Option(executions.get(id))
  def allExecutions: Seq[Execution] = executions.values.asScala.toSeq

  /** Spans with self time (duration minus the part of it covered by
    * child spans), as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val byParent = spans.groupBy(_.parent)
    val lines = spans.sortBy(_.start).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L
      var upTo = s.start
      kids.foreach { case (a, b) =>
        val lo = math.max(a, upTo)
        if (b > lo) { covered += b - lo; upTo = b }
      }
      val c = jobTotals((_, info) => info.span == s.id)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_s" -> Json.num(s.start / 1e9), "dur_s" -> Json.num((s.end - s.start) / 1e9),
        "self_s" -> Json.num((s.end - s.start - covered) / 1e9),
        "jobs" -> Json.num(c.jobs), "tasks" -> Json.num(c.tasks),
        "task_busy_s" -> Json.num(c.busyNs / 1e9)) ++
        s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, parent: Long, name: String, start: Long, startMs: Long) {
    var end: Long = start
    var endMs: Long = startMs
    val counts: mutable.Map[String, Double] = mutable.Map.empty
  }
  final case class JobInfo(span: Long, execution: Long)
  final case class Execution(id: Long, root: Long, plan: String, start: Long, end: Long)

  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var busyNs = 0L
    var shuffleWrite = 0L
    var outputBytes = 0L
    var outputRows = 0L
    var inputBytes = 0L
    var spill = 0L
    def add(o: Counters): Unit = o.synchronized {
      tasks += o.tasks; busyNs += o.busyNs; shuffleWrite += o.shuffleWrite
      outputBytes += o.outputBytes; outputRows += o.outputRows
      inputBytes += o.inputBytes; spill += o.spill
    }
  }
}
