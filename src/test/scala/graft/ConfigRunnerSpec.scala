package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{Bronze, GraftConfig, Runner, Silver}
import graft.sources.Sinks

class ConfigRunnerSpec extends SparkSpec {

  private def writeProps(body: String): String = {
    val f = Files.createTempFile("graft_cfg", ".properties")
    Files.write(f, body.getBytes("UTF-8"))
    f.toString
  }

  test("load: parses overrides, applies defaults, validates stages") {
    val p = writeProps(
      s"""paths.input = $sfDir
         |paths.output = /tmp/graft_cfg_out
         |stages = monitoring , medallion
         |spark.shuffle_partitions = 8
         |monitoring.psi_crit = 0.35
         |""".stripMargin)
    val cfg = GraftConfig.load(p)
    assert(cfg.inputDir === sfDir)
    assert(cfg.stages === Seq("monitoring", "medallion"))
    assert(cfg.shufflePartitions === 8)
    assert(cfg.psiCrit === 0.35)
    // untouched keys fall back to defaults
    assert(cfg.psiWarn === GraftConfig.Defaults.psiWarn)
    assert(cfg.master === GraftConfig.Defaults.master)
  }

  test("load: fails fast on missing file, missing paths, bad stage, bad number") {
    intercept[java.io.FileNotFoundException] {
      GraftConfig.load("/tmp/definitely/not/here.properties")
    }
    val noPaths = writeProps("stages = medallion\n")
    val e1 = intercept[IllegalArgumentException] { GraftConfig.load(noPaths) }
    assert(e1.getMessage.contains("paths.input"))
    val badStage = writeProps(
      s"paths.input = $sfDir\npaths.output = /tmp/x\nstages = medallion,goold\n")
    val e2 = intercept[IllegalArgumentException] { GraftConfig.load(badStage) }
    assert(e2.getMessage.contains("goold"))
    val badNum = writeProps(
      s"paths.input = $sfDir\npaths.output = /tmp/x\nmonitoring.psi_warn = lots\n")
    val e3 = intercept[IllegalArgumentException] { GraftConfig.load(badNum) }
    assert(e3.getMessage.contains("psi_warn"))
  }

  test("runner: writes configured stages, thresholds drive the classification columns") {
    val out = Files.createTempDirectory("graft_run_out").toString
    // psi_warn low enough that the synthetic drift trips at least 'warn';
    // volume_drop_ratio extreme so the alert exercises the configured bound
    val cfg = GraftConfig.load(writeProps(
      s"""paths.input = $sfDir
         |paths.output = $out
         |stages = monitoring
         |monitoring.split_date = 2024-01-15
         |monitoring.psi_warn = 0.0001
         |monitoring.psi_crit = 99.0
         |monitoring.volume_drop_ratio = 0.99
         |""".stripMargin))
    val written = Runner.run(spark, cfg)
    val names = written.map(_._1)
    assert(names.forall(_.startsWith("monitoring/")), s"unexpected tables: $names")
    assert(names.contains("monitoring/monitor_psi"))
    assert(written.forall(_._2 > 0), "every monitoring table must have rows")

    val psi = spark.read.parquet(s"$out/monitoring/monitor_psi")
    assert(psi.columns.contains("severity"))
    // warn threshold ~0 → everything at least 'warn'; crit=99 → nothing critical
    assert(psi.filter(col("severity") === "critical").count() === 0)
    assert(psi.filter(col("severity") === "ok").count() === 0)

    val vol = spark.read.parquet(s"$out/monitoring/monitor_volume")
    // alertBelow = 1 - 0.99 = 0.01: current volume is far above 1% of base
    assert(vol.select("volume_alert").head().getInt(0) === 0)

    val miss = spark.read.parquet(s"$out/monitoring/monitor_missing")
    assert(miss.columns.contains("shift_alert"))
  }

  test("runner: medallion stage writes date-partitioned tables readable back") {
    val out = Files.createTempDirectory("graft_run_med").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion\n"))
    val written = Runner.run(spark, cfg)
    assert(written.map(_._1).contains("medallion/silver"))
    val silverRows = written.toMap.apply("medallion/silver")
    assert(silverRows > 0)
    // event_date-carrying frames are written partitioned (directory layout)
    val silverDir = new java.io.File(s"$out/medallion/silver")
    assert(silverDir.listFiles().exists(_.getName.startsWith("event_date=")),
      "silver must be written date-partitioned")
  }

  test("runner: mobility stage writes the six trajectory marts off the shared silver") {
    val out = Files.createTempDirectory("graft_run_mob").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = mobility\n"))
    val written = Runner.run(spark, cfg).toMap
    val expected = Seq("od_matrix", "stay_episodes", "zone_net_flow",
      "location_entropy", "home_zones", "zone_pagerank").map(n => s"mobility/$n")
    assert(expected.forall(written.contains), s"missing marts: ${expected.filterNot(written.contains)}")
    assert(expected.forall(written(_) > 0L), "every mobility mart must be non-empty")
    // PageRank mass conservation survives the write/read round-trip
    val pr = spark.read.parquet(s"$out/mobility/zone_pagerank")
    val mass = pr.agg(org.apache.spark.sql.functions.sum("pr")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass $mass")
  }

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("runner: every returned row count equals the table read back, and no cache outlives the run") {
    val out = Files.createTempDirectory("graft_run_counts").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion,scoring,monitoring,mobility\n"))
    spark.catalog.clearCache() // other specs leave their own frames cached
    Runner.stageFrames(spark, cfg)
    assert(cacheIsEmpty, "stageFrames must stay lazy and cache nothing")
    val written = Runner.run(spark, cfg)
    assert(cacheIsEmpty, "run must unpersist silver when the pass ends")
    assert(written.map(_._1).toSet.size === written.size)
    written.foreach { case (name, rows) =>
      assert(rows === spark.read.parquet(s"$out/$name").count(), s"row count of $name")
    }
  }

  test("runner: a failed write leaves no cached silver behind") {
    val file = Files.createTempFile("graft_run_blocker", ".txt").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $file/out\nstages = medallion,mobility\n"))
    spark.catalog.clearCache()
    intercept[Exception] { Runner.run(spark, cfg) }
    assert(cacheIsEmpty, "run must unpersist silver when a write throws")
  }

  test("runner: silver written from the cache has the uncached lineage's files per date") {
    def filesPerDate(path: String): Map[String, Int] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("event_date="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val out = Files.createTempDirectory("graft_run_layout").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out/run\nstages = medallion\n"))
    Runner.run(spark, cfg)
    Sinks.writePartitioned(Silver.cleanEvents(Bronze.ingestEvents(Tables.events(spark, sfDir))),
      s"$out/direct", Seq("event_date"))
    val direct = filesPerDate(s"$out/direct")
    assert(direct.nonEmpty)
    assert(filesPerDate(s"$out/run/medallion/silver") === direct)
  }
}
