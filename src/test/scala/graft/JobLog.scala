package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job seen by [[JobLog.during]]: its local properties, its
  * start and end times (ms), and the id and physical plan of the root
  * SQL execution it ran under (-1 and "" for a job outside SQL). */
final case class LoggedJob(id: Int, props: Map[String, String], start: Long, end: Long,
    execution: Long, plan: String) {
  def group: Option[String] = props.get("spark.jobGroup.id")
  def isWrite: Boolean = plan.contains("InsertIntoHadoopFsRelationCommand")
  def overlaps(o: LoggedJob): Boolean = start < o.end && o.start < end
}

object JobLog {

  /** Run `body` and return its result with every job that started while
    * it ran, in start order. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[LoggedJob]) = {
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val plans = new ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { starts.put(e.jobId, e); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
          ()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val result = try body finally {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    val jobs = starts.values.asScala.toSeq.map { s =>
      val props = Option(s.properties).map(p =>
        p.stringPropertyNames.asScala.map(k => k -> p.getProperty(k)).toMap)
        .getOrElse(Map.empty[String, String])
      val exec = props.get("spark.sql.execution.root.id")
        .orElse(props.get("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      LoggedJob(s.jobId, props, s.time, ends.getOrDefault(s.jobId, Long.MaxValue),
        exec, Option(plans.get(exec)).getOrElse(""))
    }
    (result, jobs.sortBy(j => (j.start, j.id)))
  }
}
