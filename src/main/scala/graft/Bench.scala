package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON result line on stdout.
  *
  * Methodology (deterministic, trustable numbers):
  *   - fixed query order (sorted by name) so run-to-run comparisons are
  *     apples-to-apples;
  *   - one warmup pass at sf0.001 to absorb JVM/JIT + Spark session
  *     startup cost before anything is timed;
  *   - shared intermediates (silver) are persisted once via
  *     [[SparkEntry.warmCache]] so each query's time reflects the
  *     operator, not a recomputed upstream chain;
  *   - every pass, the warm-up included, goes through [[force]], so a
  *     query's time covers every output column, not just its row count;
  *   - failures are recorded per query (`"errors"`) and make the exit
  *     code nonzero — a broken query can never masquerade as a fast one.
  */
object Bench {
  /** The local session every main (Bench, Verify, Probe, Sweep) runs
    * in: `local[$SPARK_GRAFT_CPUS]` with as many shuffle
    * partitions as cores, UTC, the graft SQL extensions, nanosecond
    * parquet timestamps read as longs, and no UI. `defaultCpus` is the
    * core count when `SPARK_GRAFT_CPUS` is unset. */
  def session(defaultCpus: String, logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Evaluate every column of every row of `df` in one pass through
    * Spark's `noop` sink, and return the row count from an [[Observation]]
    * on that same pass. A `count()` (or a count over any never-null
    * expression of the row) lets Catalyst prune every column that does not
    * change the row count, so projections, windows and UDF columns would
    * never run; the sink consumes all of them, maps included. */
  def force(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    rows.get("rows").asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(defaultCpus = "32")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")

    // Local-iteration filter (comma-separated keys): time just the queries
    // under work instead of the whole surface. The driver never sets it —
    // archived BENCH lines are always the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // Warmup at the smallest SF: exercises every code path (JIT, codegen
    // caches, parquet footer reads) without touching the timed dataset.
    // ML queries warm at sf0.01: at sf0.001 the 30-day feature windows are
    // empty after na.drop, Pipeline.fit throws, and the timed passes would
    // be cold-start. Warmup failures print to stderr — a silent warm hole
    // shows up as an inexplicably slow first timed pass otherwise.
    val warmDir = "/root/testdata/sf0.001"
    val mlWarmDir = "/root/testdata/sf0.01"
    SparkEntry.warmCache(spark, warmDir)
    ordered.foreach { case (name, fn) =>
      val dir = if (name.startsWith("ml_")) mlWarmDir else warmDir
      try force(fn(spark, dir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup failed for $name at $dir: ${e.getMessage}")
      }
    }
    SparkEntry.clearCache()

    // A warm failure (e.g. unreadable dir) must not abort before the JSON
    // line: per-query errors below still report what actually broke.
    try SparkEntry.warmCache(spark, sfDir) catch { case _: Throwable => () }
    // Errors keyed by query name (a query failing both passes must not
    // produce duplicate JSON keys), and a failed pass contributes no
    // timing: a query with zero successful passes reports null, not the
    // near-zero elapsed time of its throw.
    var errors = Map.empty[String, String]
    // best-of-2 per query: single-JVM timings carry multi-second GC/JIT
    // noise; the min of two passes is a far stabler point estimate
    val results: Seq[(String, Option[Double])] = ordered.map { case (name, fn) =>
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          force(fn(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors += (name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
          None
        }
      }
      name -> times.minOption
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // Two renderings of the same results:
    //   - BENCH_FULL.json (in the working directory — the project root
    //     under `run / fork` — no size limit): the per-query dict
    //     at 10 ms precision — THE archive contract, the copy every
    //     regression comparison reads.
    //   - STDOUT line (what the round archiver keeps — last 2 KB only):
    //     summary ONLY ({total, n_queries, sf} + errors when any). The
    //     per-query dict lived here through round 7 and funded fourteen
    //     key-rename batches squeezing under the 2 KB tail; a CONSTANT
    //     size summary ends that treadmill — the surface can grow without
    //     ever touching the stdout budget. HarnessContractSpec pins the
    //     shape.
    def r3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    def rq(d: Double): String = {
      val s2 = r3(d)
      if (s2.length <= 4) s2
      else String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    }
    def qsLine(render: Double => String): String =
      results.map { case (k, v) => s"${jstr(k)}:${v.fold("null")(render)}" }.mkString("{", ",", "}")
    // errors key only when something failed: a clean run spends zero of
    // the 2 KB archive budget saying so (failed runs exit 1 regardless)
    val errJson =
      if (errors.isEmpty) ""
      else "\"errors\":" + errors.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "},")
    val total = results.flatMap(_._2).sum
    // sf as the directory BASENAME: the full path spends 15 bytes of the
    // 2 KB archive budget saying "/root/testdata/" every time
    val sfName = new java.io.File(sfDir).getName
    // "cpus" makes multi-core archive runs self-describing: the driver's
    // low-core scaling pass overwrites this file, and without the field
    // the 32-core per-query dump is indistinguishable from the 8-core one
    // (a number when the env var is numeric; "local[*]"-style opt-ins
    // fall back to a JSON string rather than corrupting the line)
    val cpusJson = cpus.toIntOption.map(_.toString).getOrElse(jstr(cpus))
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","cpus":$cpusJson,"queries":${qsLine(rq)},$errJson"sf":"$sfName"}"""
    // a filtered run must never clobber the full-surface archive; its
    // per-query detail goes to stderr instead (stdout keeps the pinned
    // one-line shape either way)
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () }
    else System.err.println(fullLine)
    println(
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""timed":${results.count(_._2.nonEmpty)},$errJson"sf":"$sfName","full":"BENCH_FULL.json"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
