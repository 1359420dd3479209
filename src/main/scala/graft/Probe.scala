package graft

import org.apache.spark.sql.SparkSession

/** Throwaway-style measurement main for iterative-operator knob probes
  * (kept in-tree so probe results in BASELINE are reproducible):
  * times zonePageRank / zoneCommunities across checkpoint cadences. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    SparkEntry.warmCache(spark, dir)
    // IVF-PQ recall curve over its two query-side levers (nprobe ×
    // refine) — the measurement behind the deployed v_iq/v_ix defaults;
    // results recorded in BASELINE.md
    if (args.length > 1 && args(1) == "iqcurve") {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(spark, dir).cache()
      val q = emb.filter(col("vec_id") < 10)
      for (nprobe <- Seq(1, 2, 4, 8, 16); refine <- Seq(1, 2, 4, 8)) {
        val t0 = System.nanoTime()
        val r = graft.similarity.Similarity
          .ivfPqEval(emb, q, nprobe = nprobe, refine = refine)
          .head().getAs[Double]("recall_at_k")
        println(f"IQCURVE nprobe=$nprobe%2d refine=$refine%2d recall@5=$r%.3f " +
          f"(${(System.nanoTime() - t0) / 1e9}%5.2f s)")
      }
      spark.stop(); return
    }
    // similarity decomposition: where do v_iq / v_pq spend their time —
    // the fits (driver-round jobs) or the ADC query path?
    if (args.length > 1 && args(1) == "simparts") {
      import org.apache.spark.sql.functions.col
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
          jobStart.put(j.jobId, System.nanoTime()); ()
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val t0 = jobStart.remove(j.jobId)
          println(f"  JOB ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s")
        }
      })
      val emb = Tables.embeddings(spark, dir)
      val q = emb.filter(col("vec_id") < 10)
      for (pass <- 1 to 2) {
        def t(name: String)(f: => Any): Unit = {
          val t0 = System.nanoTime()
          val (j0, s0) = (jobs.get(), stages.get())
          val r = f
          val n = r match { case l: Long => s" ($l rows)"; case _ => "" }
          println(f"SIMPART $name%-16s($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
            f"jobs=${jobs.get() - j0}%2d stages=${stages.get() - s0}%2d$n")
        }
        t("kmeansFit")(graft.similarity.Similarity.kmeansFit(emb))
        t("pqFit")(graft.similarity.Similarity.pqFit(emb))
        t("ivfPqTopK")(graft.similarity.Similarity.ivfPqTopK(emb, q).count())
        t("pqTopK")(graft.similarity.Similarity.pqTopK(emb, q).count())
        t("bruteForceTopK")(graft.similarity.Similarity.bruteForceTopK(emb, q).count())
        t("ivfPqEval")(graft.similarity.Similarity.ivfPqEval(emb, q).count())
      }
      spark.stop(); return
    }
    // ML decomposition: per-fit cost at the bench scale, and the effect
    // of the cached training frame's partition count on the sequential
    // tree fits (GBT = ~20 boosting rounds × several jobs each; with a
    // KB-per-partition aggregate-grain train set, per-task scheduling
    // overhead is the hypothesis to test)
    if (args.length > 1 && args(1) == "mlparts") {
      import org.apache.spark.sql.functions.col
      val feat = graft.features.FeatureEngineering.demandFeatures(
        graft.pipeline.Silver.cleanEvents(
          graft.pipeline.Bronze.ingestEvents(Tables.events(spark, dir))))
      val labeled = feat.withColumn("label", col("event_count").cast("double"))
      val train = labeled.filter(col("trip_date") < "2024-01-25")
      println("train rows: " + train.count() + ", partitions: " + train.rdd.getNumPartitions)
      def prep = {
        val zoneIdx = new org.apache.spark.ml.feature.StringIndexer()
          .setInputCol("zone_id").setOutputCol("zone_idx").setHandleInvalid("keep")
        val zoneOh = new org.apache.spark.ml.feature.OneHotEncoder()
          .setInputCol("zone_idx").setOutputCol("zone_oh")
        val va = new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(Array("hour", "demand_lag_1", "demand_lag_7", "demand_avg_7d",
            "demand_avg_30d", "avg_value", "is_peak_hour", "is_night", "zone_oh"))
          .setOutputCol("features")
        Seq(zoneIdx, zoneOh, va)
      }
      for (p <- Seq(0, 8, 4, 1); pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val cached = (if (p == 0) train else train.coalesce(p)).persist()
        val gbt = new org.apache.spark.ml.regression.GBTRegressor()
          .setLabelCol("label").setFeaturesCol("features")
          .setMaxIter(20).setMaxDepth(6).setSeed(42)
        val model = new org.apache.spark.ml.Pipeline()
          .setStages((prep :+ gbt).toArray).fit(cached)
        cached.unpersist()
        println(f"MLPART gbt_p$p%-2d($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
          s"(stages=${model.stages.length})")
      }
      // same-semantics spark.ml knobs on the view shape: cacheNodeIds
      // (NodeIdCache instead of re-broadcasting the partial ensemble per
      // level) and a bigger maxMemoryInMB (more nodes per findBestSplits
      // group) — neither changes splits, both only reshape the job stream
      for (knob <- Seq("nodeids", "mem1024"); pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val cached = train.persist()
        val n = cached.count()
        val p = math.min(spark.sparkContext.defaultParallelism,
          math.max(1, (n / 8192L).toInt + 1))
        val gbt = new org.apache.spark.ml.regression.GBTRegressor()
          .setLabelCol("label").setFeaturesCol("features")
          .setMaxIter(20).setMaxDepth(6).setSeed(42)
        if (knob == "nodeids") gbt.setCacheNodeIds(true)
        else gbt.setMaxMemoryInMB(1024)
        val model = new org.apache.spark.ml.Pipeline()
          .setStages((prep :+ gbt).toArray).fit(cached.coalesce(p))
        cached.unpersist()
        println(f"MLPART gbt_$knob%-8s($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
          s"(stages=${model.stages.length})")
      }
      // scale-correct order: fill the cache at full parallelism, read the
      // row count off the materialization, then feed the fit a coalesced
      // VIEW of the cache (narrow, per-job) — no second evaluation of the
      // feature chain, no driver guess at the data size
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val cached = train.persist()
        val n = cached.count()
        val p = math.min(spark.sparkContext.defaultParallelism,
          math.max(1, (n / 8192L).toInt + 1))
        val fitInput = cached.coalesce(p)
        val gbt = new org.apache.spark.ml.regression.GBTRegressor()
          .setLabelCol("label").setFeaturesCol("features")
          .setMaxIter(20).setMaxDepth(6).setSeed(42)
        val model = new org.apache.spark.ml.Pipeline()
          .setStages((prep :+ gbt).toArray).fit(fitInput)
        cached.unpersist()
        println(f"MLPART gbt_view_p$p%-2d($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
          s"(stages=${model.stages.length})")
      }
      spark.stop(); return
    }
    // post-execution plan + job/stage counts for named keys: AQE's FINAL
    // plan (with ReusedQueryStage/ReusedExchange nodes runtime reuse
    // actually produced — the pre-execution dump can't show them) plus
    // the per-key job/stage count under the bench's force methodology.
    if (args.length > 2 && args(1) == "final") {
      import org.apache.spark.sql.functions.{col, count, to_json, xxhash64}
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size); ()
        }
      })
      for (name <- args(2).split(',').toSeq; pass <- 1 to 2) {
        val df = SparkEntry.queries(name)(spark, dir)
        val cols = df.schema.fields.map { f =>
          if (Bench.containsMap(f.dataType)) to_json(col(f.name)) else col(f.name)
        }
        val forced = df.agg(count(xxhash64(cols.toIndexedSeq: _*)))
        val (j0, s0) = (jobs.get(), stages.get())
        val t0 = System.nanoTime()
        // collect(), not head(): head() executes a limit-wrapped COPY of
        // the plan, leaving `forced.queryExecution` unexecuted — the dump
        // below would then show the initial AQE plan instead of the final
        // one with its runtime codegen spans and reused stages
        forced.collect()
        println(f"FINAL $name%-8s($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
          f"jobs=${jobs.get() - j0}%3d stages=${stages.get() - s0}%3d")
        if (pass == 2) {
          val txt = forced.queryExecution.executedPlan.toString
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"/tmp/final_$name.txt"), txt)
          println(s"  wrote /tmp/final_$name.txt (${txt.length} chars)")
        }
      }
      spark.stop(); return
    }
    // generic mode: `runMain graft.Probe <dir> q1,q2` times the named
    // SparkEntry queries (2 passes each) instead of the cadence sweep
    if (args.length > 1) {
      val names = args(1).split(',').toSeq
      for (name <- names; pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, dir).count()
        println(f"PROBE $name%-10s($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s ($n rows)")
      }
      spark.stop()
      return
    }
    val silver = graft.pipeline.Silver.cleanEvents(
      graft.pipeline.Bronze.ingestEvents(Tables.events(spark, dir))).cache()
    silver.count()
    def time(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = f.count()
      println(f"PROBE $name%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s ($n rows)")
    }
    for (c <- Seq(1, 2, 3); pass <- 1 to 2)
      time(s"m_pr_ck$c($pass)")(graft.mobility.Mobility.zonePageRank(silver, checkpointEvery = c))
    for (c <- Seq(1, 2, 3); pass <- 1 to 2)
      time(s"m_lp_ck$c($pass)")(graft.mobility.Mobility.zoneCommunities(silver, checkpointEvery = c))
    spark.stop()
  }
}
