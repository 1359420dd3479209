package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one run shares across its phases: the session, the run's work
  * directory, the optional trace, and the op log the metrics come from.
  *
  * An op is one call a user makes (a pipeline pass, a MERGE, a query
  * batch). [[op]] times the call alone; its output check runs after the
  * clock stops and a failed check counts the op as failed. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val cores: Int) {

  var trace: Option[Trace] = None

  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** The same latencies keyed by the call (span) name. */
  val byCall: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Set-up work a workload had to do inside its timed section. */
  var extraSetupSeconds = 0.0
  /** Seconds spent inside ops of the timed section. */
  var opSeconds = 0.0
  val info: mutable.LinkedHashMap[String, Json.J] = mutable.LinkedHashMap.empty
  /** Workload facts the per-layer metrics need (sizes, recall). */
  val gauges: mutable.Map[String, Double] = mutable.Map.empty

  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Add `v` to counter `key` of the last closed span named `spanName`. */
  def countOn(spanName: String, key: String, v: Double): Unit =
    trace.foreach(_.countLast(spanName, key, v))

  /** Time `body` as an op of `kind`, then check its result. An exception
    * in either counts as a failed op. */
  def op[T](kind: String, spanName: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(span(spanName)(body))
      catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    opSeconds += dt
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
    if (spanName != kind) byCall.getOrElseUpdate(spanName, mutable.ArrayBuffer.empty) += dt
    val problem = res match {
      case Left(e) => Some(s"$spanName threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Exception => Some(s"$spanName check threw: ${e.getMessage}") }
    }
    problem.foreach(fail)
    res.toOption.filter(_ => problem.isEmpty)
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[graftbench] FAILED: $msg")
  }

  def dir(parts: String*): String = parts.foldLeft(work)(_ resolve _).toString

  def deleteDir(path: String): Unit = Ctx.deleteRecursively(java.nio.file.Paths.get(path))
}

object Ctx {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var total = 0L
        s.filter(Files.isRegularFile(_)).forEach(f => total += Files.size(f))
        total
      } finally s.close()
    }

  /** Order-independent content digest: row count and the sum of a 31-bit
    * hash of every row. Map columns go through `to_json`, which xxhash64
    * cannot hash directly. */
  def digest(df: DataFrame): (Long, Long) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
