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

  /** One four-stage pass under a job group, with every job it ran. */
  private lazy val groupedPass: (Seq[(String, Long)], Seq[LoggedJob], GraftConfig) = {
    val out = Files.createTempDirectory("graft_run_fanout").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion,scoring,monitoring,mobility\n"))
    spark.sparkContext.setJobGroup("graft-runner-pass", "runner fan-out spec")
    val (written, jobs) =
      try JobLog.during(spark)(Runner.run(spark, cfg))
      finally spark.sparkContext.clearJobGroup()
    (written, jobs, cfg)
  }

  test("runner: tables come back in stageFrames order") {
    val (written, _, cfg) = groupedPass
    assert(written.map(_._1) === Runner.stageFrames(spark, cfg).map(_._1))
  }

  test("runner: stage tables are written concurrently") {
    val writes = groupedPass._2.filter(_.isWrite)
    assert(writes.size >= groupedPass._1.size, "every table's write must run as a job")
    // jobs of one write may overlap each other (broadcast and shuffle
    // stages); only jobs of two different tables' writes count
    val overlapping = writes.combinations(2).count { case Seq(a, b) =>
      a.execution != b.execution && a.overlaps(b)
    }
    assert(overlapping > 0, "no two tables' write jobs overlapped in time")
  }

  test("runner: every job of the pass carries the caller's job group") {
    val jobs = groupedPass._2
    assert(jobs.nonEmpty)
    val stray = jobs.filterNot(_.group.contains("graft-runner-pass"))
    assert(stray.isEmpty, s"jobs outside the caller's group: ${stray.map(j => j.id -> j.group)}")
  }

  private def writerThreadsAlive: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-runner-write") && t.isAlive).map(_.getName)
  }

  test("runner: a failed write names the first failing table, unpersists silver and leaves no writer thread") {
    val out = Files.createTempDirectory("graft_run_fail").toString
    // a regular file where the monitoring stage's directory should go
    Files.createFile(java.nio.file.Paths.get(s"$out/monitoring"))
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion,scoring,monitoring,mobility\n"))
    spark.catalog.clearCache()
    val firstMonitoring = Runner.stageFrames(spark, cfg).map(_._1).find(_.startsWith("monitoring/")).get
    val e = intercept[Exception] { Runner.run(spark, cfg) }
    assert(e.getMessage.contains(s"table $firstMonitoring "), e.getMessage)
    assert(cacheIsEmpty, "run must unpersist silver when a concurrent write throws")
    val deadline = System.currentTimeMillis() + 10000
    while (writerThreadsAlive.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(writerThreadsAlive.isEmpty, s"writer threads left alive: $writerThreadsAlive")
  }

  /** Runs `body`, and returns with its result the BlockManager warnings
    * it logged that say a task went to store an RDD block another task
    * had already stored or was storing: it raced the first build of that
    * partition. */
  private def blockRaces[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-block-races", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("already exists") && m.contains("rdd_")) seen.add(m)
        ()
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try (body, { import scala.jdk.CollectionConverters._; seen.asScala.toSeq })
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("runner: silver's cache is filled before a second write starts, and no task races its build") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val out = Files.createTempDirectory("graft_run_once").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion\n"))
    spark.catalog.clearCache()
    // events reach a listener in the order they were posted, so a counter
    // orders them: the last stored RDD block (silver is the only frame a
    // medallion-only pass caches) marks when silver's cache was filled
    val seq = new java.util.concurrent.atomic.AtomicLong(0L)
    val filledAt = new java.util.concurrent.atomic.AtomicLong(0L)
    val writeStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val n = seq.incrementAndGet()
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) filledAt.set(n)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writeStarts.add(seq.incrementAndGet())
          ()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (written, races) =
      try blockRaces(Runner.run(spark, cfg))
      finally {
        org.apache.spark.ListenerBusAccess.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(races.isEmpty, s"tasks raced the first build of a cached block: $races")
    assert(filledAt.get > 0, "no task stored a cached silver block")
    import scala.jdk.CollectionConverters._
    val starts = writeStarts.asScala.toSeq
    assert(starts.size === written.size, "every table's write must run as a SQL execution")
    val beforeFill = starts.count(_ < filledAt.get)
    assert(beforeFill === 1, s"$beforeFill writes started before silver's cache was filled")
  }
}
