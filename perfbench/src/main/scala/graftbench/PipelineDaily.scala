package graftbench

import graft.pipeline.{GraftConfig, Runner}

/** `pipeline_daily`: the reference's nightly job. The batch op is one
  * `Runner.run` over the seeded events with the stages medallion,
  * scoring, monitoring and mobility, into a fresh output directory,
  * writes and the runner's own read-back included. Then the scores it
  * wrote are published to a versioned serving table day by day
  * ([[ServingTable]]): MERGE, UPDATE, DELETE and OPTIMIZE calls, with
  * reads in between.
  *
  * There is no warm-up run: the nightly job runs once in a fresh JVM, so
  * the timed pass is the cold one a user gets from `graft.Run`. (A
  * warm-up pass would cost another 40 s of cold pass, and the run
  * budget has no room for it.) */
final class PipelineDaily(ctx: Ctx) extends Workload {
  import PipelineDaily._

  val name = "pipeline_daily"
  private val inDir = ctx.dir("in")
  private var stats: Gen.EventStats = _
  private var slices: Array[Array[org.apache.spark.sql.Row]] = _
  private var inputBytes = 0L

  private def config(out: String): GraftConfig = GraftConfig.Defaults.copy(
    master = s"local[${ctx.cores}]", shufflePartitions = ctx.cores,
    inputDir = inDir, outputDir = out, stages = Stages,
    splitDate = Gen.Day0.plusDays(Days / 2).toString)

  def generate(): Unit = {
    val (sl, st) = Gen.events(ctx.seed, BaseEvents, Days)
    slices = sl
    stats = st
  }

  def writeInputs(): Unit = Gen.write(ctx.spark, slices, Gen.EventSchema, s"$inDir/events.parquet")

  private var serving: Option[ServingTable] = None

  def inputs: Seq[(String, Long)] = serving.toSeq.flatMap(_.inputs) ++ Seq(
    "events_rows" -> stats.rows, "events_valid_ids" -> stats.validIds,
    "events_resent_rows" -> stats.resent, "events_null_key_rows" -> stats.nullKeyRows,
    "events_type_variant_rows" -> stats.variantRows, "events_files" -> stats.files.toLong,
    "events_bytes" -> inputBytes)

  def prepare(): Unit = {
    inputBytes = Ctx.bytesUnder(java.nio.file.Paths.get(inDir, "events.parquet"))
    ctx.gauges("pipeline.events_bytes") = inputBytes.toDouble
  }

  /** Checks that hold for any seed. */
  private def invariants(written: Seq[(String, Long)]): Option[String] = {
    val m = written.toMap
    val tables = written.map(_._1).toSet
    if (tables.size != written.size) Some("a table was written twice")
    else if (!ExpectedTables.forall(tables)) Some(s"missing tables: ${ExpectedTables.filterNot(tables)}")
    else if (m("medallion/brz") != stats.rows)
      Some(s"bronze rows ${m("medallion/brz")} != input rows ${stats.rows}")
    else if (m("medallion/silver") != stats.validIds)
      Some(s"silver rows ${m("medallion/silver")} != distinct valid event_ids ${stats.validIds}")
    else if (m("medallion/fact_events") != stats.validIds)
      Some(s"fact_events rows ${m("medallion/fact_events")} != silver rows ${stats.validIds}")
    else None
  }

  /** One pass, then the serving-table phase on the scores it wrote. */
  def timed(): Unit = {
    val out = ctx.dir("out", "pass")
    val written = ctx.op("pass", "pipeline.pass")(Runner.run(ctx.spark, config(out))) { written =>
      invariants(written).orElse(
        // content digests of every table, for seeds that have them recorded
        if (Expected.has(name, ctx.seed) || Expected.record)
          Expected.check(name, ctx.seed, written.map { case (t, _) =>
            t -> Ctx.digest(ctx.spark.read.parquet(s"$out/$t"))
          })
        else None)
    }
    ctx.info("tables") = Json.num(written.map(_.size.toLong).getOrElse(0L))
    if (written.isEmpty) ctx.fail("no serving-table phase: the pass failed")
    else {
      // preparing the serving table is set-up, not a timed op (run adds
      // its base commits and warm-up day to set-up the same way)
      val t0 = System.nanoTime()
      val table = new ServingTable(ctx, ctx.spark.read.parquet(s"$out/scoring/score_demand"))
      table.prepare(servingDays)
      ctx.extraSetupSeconds += (System.nanoTime() - t0) / 1e9
      serving = Some(table)
      table.run(servingDays)
    }
    ctx.deleteDir(out)
  }

  private def servingDays: Int = math.max(1, math.round(ctx.seconds / NominalDaySeconds).toInt)
}

object PipelineDaily {
  val Stages: Seq[String] = Seq("medallion", "scoring", "monitoring", "mobility")
  /** Base events per input (before re-sends and null-key rows). */
  val BaseEvents = 20000
  val Days = 30
  /** Simulated serving-table days = run seconds / this, so the work per
    * run is fixed by `--seconds` alone. */
  val NominalDaySeconds = 2.0
  val ExpectedTables: Seq[String] = Seq("medallion/brz", "medallion/silver",
    "medallion/fact_events", "scoring/score_demand", "monitoring/monitor_psi",
    "mobility/od_matrix")
}
