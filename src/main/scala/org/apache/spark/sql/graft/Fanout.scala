package org.apache.spark.sql.graft

import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution

/** The library's one way to run independent Spark actions concurrently
  * from the driver: `Runner.run`'s table writes and
  * `GraftParallelPersist`'s stage saves and loads.
  *
  * Each call owns its pool: at most 2 × `defaultParallelism` threads
  * (capped at the number of tasks), shut down before the call returns.
  * Every task runs under the caller's `SparkContext` local properties
  * (job group, description, scheduler pool, any custom property) and
  * active session, captured when the task is submitted and restored on
  * the pool thread — Spark's own idiom for broadcast and subquery
  * threads — so jobs never carry the properties of whichever thread
  * happened to create a pool thread. */
object Fanout {

  /** Run `tasks` concurrently and return their results in input order.
    * Fail-fast: once a task throws, no task that has not started yet
    * starts; the call waits for the running ones, then rethrows the
    * first failure in input order with any later ones attached as
    * suppressed. `threadName` prefixes the pool's thread names. */
  def run[T](spark: SparkSession, threadName: String, tasks: Seq[() => T]): Seq[T] =
    if (tasks.isEmpty) Seq.empty
    else {
      val width = math.min(2 * spark.sparkContext.defaultParallelism, tasks.size)
      val ids = new AtomicInteger(0)
      val pool = Executors.newFixedThreadPool(width, (r: Runnable) => {
        val t = new Thread(r, s"$threadName-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      val failed = new AtomicBoolean(false)
      try {
        val futures = tasks.map { task =>
          SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSession], pool) {
            if (failed.get) None
            else try Some(task()) catch { case e: Throwable => failed.set(true); throw e }
          }
        }
        val outcomes = futures.map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: later =>
            later.foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(Some(v)) => v }
        }
      } finally {
        failed.set(true) // an interrupted wait must not let queued tasks start
        pool.shutdown()
      }
    }
}
