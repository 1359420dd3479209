package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** [[Bench.force]] is the one way every measurement main evaluates a key:
  * it must run every output column (a row count lets Catalyst prune them)
  * and take any column type. */
class ForceSpec extends SparkSpec {

  /** The executed plans (AQE's final ones) of every query `body` ran. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusAccess.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("force: a forced t_pmi runs its corpus totals aggregate and its pmi projection") {
    val dir = "/root/testdata/sf0.01"
    var rows = -1L
    val plan = executedPlans {
      rows = Bench.force(SparkEntry.queries("t_pmi")(spark, dir))
    }.mkString("\n")
    assert(rows === SparkEntry.queries("t_pmi")(spark, dir).count())
    assert(rows > 0, "t_pmi must score some bigrams for its projection to run")
    assert("HashAggregate\\(keys=\\[\\], functions=\\[sum.*output=\\[n_bg#\\d+L, n_uni#".r.findFirstIn(plan).nonEmpty,
      s"the n_bg / n_uni totals aggregate was pruned from the forced plan:\n$plan")
    assert(plan.contains("graft_ln("),
      s"the pmi projection was pruned from the forced plan:\n$plan")
  }

  test("force: map, array<map> and struct<map> columns force and return the row count") {
    val m = map(lit("k"), col("id"))
    val df = spark.range(7).select(col("id"), m.as("m"), array(m).as("am"),
      struct(col("id"), m.as("x")).as("sm"))
    assert(Bench.force(df) === 7L)
  }
}
