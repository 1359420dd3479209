package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of a run. The phases run in this order: [[generate]]
  * (builds the input rows in memory), [[writeInputs]] and [[prepare]]
  * (what the output checks need), all three set-up, then [[timed]] (the
  * measured ops). */
trait Workload {
  def name: String
  def generate(): Unit
  def writeInputs(): Unit
  def inputs: Seq[(String, Long)]
  def prepare(): Unit
  def timed(): Unit
}

/** Benchmark entry point, normally launched by `perfbench/run.py`:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --cores <n> --work <dir> --out <dir> [--expected <dir>] [--record 1]
  *
  * Prints one JSON result line last on stdout. */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Ops stop being started after this many seconds of JVM life, so a
    * badly regressed build still ends inside the run's time limit. */
  val DeadlineSeconds = 140.0
  def pastDeadline: Boolean = (System.currentTimeMillis() - jvmStartMs) / 1e3 > DeadlineSeconds

  val Workloads: Seq[String] = Seq("pipeline_daily", "corpus_curation")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = opts("cores").toInt
    Expected.dir = opts.get("expected").map(Paths.get(_).toAbsolutePath)
    Expected.record = opts.get("record").contains("1")
    Files.createDirectories(work)
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .appName("graftbench").master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ctx = new Ctx(spark, work, seed, seconds, cores)
    try run(workload, ctx, sessionS, traced, out)
    finally spark.stop()
  }

  private def run(workload: String, ctx: Ctx, sessionS: Double, traced: Boolean,
      out: Path): Unit = {
    // set-up: corpus_curation's warm-up run on a small input, then the
    // real input's generation, write and preparation
    val warmS = if (workload == "corpus_curation") secs(warmUp(ctx)) else 0.0
    val w: Workload =
      if (workload == "pipeline_daily") new PipelineDaily(ctx) else new CorpusCuration(ctx, warm = false)
    val genS = secs(w.generate())
    val writeS = secs(w.writeInputs())
    val prepS = secs(w.prepare())
    // the trace covers the timed section only
    val trace = if (traced) Some(new Trace(ctx.spark)) else None
    ctx.trace = trace

    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    w.timed()
    val sectionS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0

    val setupS = sessionS + warmS + genS + writeS + prepS + ctx.extraSetupSeconds
    val primary = Primary(workload)
    val lat = ctx.latencies.getOrElse(primary, Seq.empty[Double]).toSeq
    val rss = peakRssMb()

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", ctx.opSeconds, "s"),
        ("ok_ratio", if (ctx.attempted == 0) 0.0 else (ctx.attempted - ctx.failed).toDouble / ctx.attempted, "ratio"),
        ("peak_rss_mb", rss, "MB"),
        ("batch_s", Batch(workload).flatMap(ctx.latencies.get).map(_.sum).sum, "s"))
      case Some(t) =>
        t.stop()
        val perLayer = Layers.all(ctx, t, sectionS, gcS)
        t.dump(out.resolve(s"trace-$workload-${ctx.seed}.jsonl"))
        perLayer
    }

    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(ctx.seed),
      "traced" -> Json.bool(traced), "cores" -> Json.num(ctx.cores.toLong),
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors().toLong),
      "primary_op" -> Json.str(primary), "primary_samples" -> Json.num(lat.size.toLong),
      "op_mean_s" -> Json.num(if (lat.isEmpty) 0.0 else lat.sum / lat.size),
      "op_p50_s" -> Json.num(Stats.median(lat)),
      "op_max_s" -> Json.num(if (lat.isEmpty) 0.0 else lat.max),
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "generate_s" -> Json.num(genS), "write_inputs_s" -> Json.num(writeS),
      "prepare_s" -> Json.num(prepS), "section_s" -> Json.num(sectionS),
      "section_gc_s" -> Json.num(gcS),
      "jit_s" -> Json.num(ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3),
      "ops" -> Json.obj((ctx.latencies.toSeq ++ ctx.byCall.toSeq).map { case (k, v) =>
        k -> Json.obj(Seq("n" -> Json.num(v.size.toLong), "p50_s" -> Json.num(Stats.median(v.toSeq)),
          "total_s" -> Json.num(v.sum)))
      }),
      "inputs" -> Json.obj(w.inputs.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(ctx.failures.toSeq.map(Json.str))) ++ ctx.info.toSeq
    val result = Json.obj(Seq(
      "correct" -> Json.bool(ctx.failed == 0 && ctx.attempted > 0),
      "attempted" -> Json.num(ctx.attempted), "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.write(out.resolve(s"result-$workload-${ctx.seed}-${if (traced) 1 else 0}.json"),
      Json.obj(Seq("result" -> result, "info" -> Json.obj(info))).getBytes("UTF-8"))
    println("graftbench-info " + Json.obj(info))
    println(result)
  }

  /** The batch job of each workload (`batch_s` sums these ops) and its
    * serving op, whose mean, median and maximum go to the info line with
    * their sample count. They are not end-to-end metrics: a run has only
    * a few serving calls, too few for a tail. `wall_s` includes them, and
    * a traced run reports them per call. */
  val Batch: Map[String, Seq[String]] = Map(
    "pipeline_daily" -> Seq("pass"), "corpus_curation" -> Seq("curation", "dedup", "build"))
  val Primary: Map[String, String] = Map(
    "pipeline_daily" -> "dml", "corpus_curation" -> "ann_query")

  /** Runs corpus_curation once on a small input from the same seed, in
    * its own directory and op log, so that class loading, Spark's code
    * generation and most JIT compilation happen before the clock starts
    * (they took half of a cold run's timed section). Its output checks
    * still count. pipeline_daily has none: see [[PipelineDaily]]. */
  private def warmUp(ctx: Ctx): Unit = {
    val wctx = new Ctx(ctx.spark, ctx.work.resolve("warm"), ctx.seed, ctx.seconds, ctx.cores)
    val w = new CorpusCuration(wctx, warm = true)
    w.generate(); w.writeInputs(); w.prepare(); w.timed()
    ctx.attempted += wctx.attempted
    ctx.failed += wctx.failed
    ctx.failures ++= wctx.failures.map("warm-up: " + _)
    Ctx.deleteRecursively(wctx.work)
  }

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Runtime.getRuntime.totalMemory / 1048576.0
    else Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
