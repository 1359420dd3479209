package graftbench

/** Per-layer metrics of a traced run, named `<module>.<op>.<counter>`.
  * Every workload reports the same list; a module the workload does not
  * call reads 0. Sums are over the whole timed section. */
object Layers {
  private type M = (String, Double, String)

  val PipelineStages: Seq[String] = PipelineDaily.Stages
  val DmlOps: Seq[String] = Seq("merge", "update", "delete", "optimize")
  val ReadOps: Seq[String] = Seq("read_head", "read_where", "read_version", "history")

  def all(ctx: Ctx, t: Trace, sectionS: Double, gcS: Double): Seq[M] =
    pipeline(ctx, t) ++ sources(ctx, t) ++ corpus(ctx, t) ++ spark(ctx, t, sectionS, gcS)

  private def jobsOf(t: Trace, span: String) = {
    val ids = t.spanIds(span)
    t.jobTotals((_, j) => ids(j.span))
  }

  /** A pass is one call, so its jobs are split by the SQL execution
    * that ran them: a write of `<out>/pass/<stage>/<table>` or the
    * runner's read-back of that path. */
  private def pipeline(ctx: Ctx, t: Trace): Seq[M] = {
    val passSpans = t.spanIds("pipeline.pass")
    val TableRe = (java.util.regex.Pattern.quote(ctx.dir("out")) + "/pass/(\\w+)/(\\w+)").r
    // execution id -> (stage, is a write), for executions the pass ran
    val roles: Map[Long, (String, Boolean)] = t.allExecutions
      .filter(e => t.within("pipeline.pass", e.start)).flatMap { e =>
      TableRe.findFirstMatchIn(e.plan).map { m =>
        e.id -> (m.group(1), e.plan.contains("InsertIntoHadoopFsRelationCommand"))
      }
    }.toMap
    def role(exec: Long): Option[(String, Boolean)] =
      roles.get(exec).orElse(t.execution(exec).flatMap(e => roles.get(e.root)))
    def execSeconds(pick: ((String, Boolean)) => Boolean): Double =
      t.allExecutions.filter(e => roles.get(e.id).exists(pick) && e.end >= e.start)
        .map(e => (e.end - e.start) / 1e3).sum
    def jobs(pick: ((String, Boolean)) => Boolean) =
      t.jobTotals((_, j) => passSpans(j.span) && role(j.execution).exists(pick))
    val perStage = PipelineStages.flatMap { st =>
      val c = jobs(_ == ((st, true)))
      Seq(
        (s"pipeline.$st.s", execSeconds(_ == ((st, true))), "s"),
        (s"pipeline.$st.jobs", c.jobs.toDouble, "count"),
        (s"pipeline.$st.tasks", c.tasks.toDouble, "count"),
        (s"pipeline.$st.task_busy_s", c.busyNs / 1e9, "s"),
        (s"pipeline.$st.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        (s"pipeline.$st.output_bytes", c.outputBytes.toDouble, "bytes"),
        (s"pipeline.$st.rows_written", c.outputRows.toDouble, "count"))
    }
    val readback = jobs(!_._2)
    val writes = jobs(_._2)
    val passes = ctx.latencies.get("pass").map(_.size).getOrElse(0)
    val inBytes = ctx.gauges.getOrElse("pipeline.events_bytes", 0.0)
    perStage ++ Seq(
      ("pipeline.readback.s", execSeconds(!_._2), "s"),
      ("pipeline.readback.jobs", readback.jobs.toDouble, "count"),
      ("pipeline.input_scans", if (inBytes == 0 || passes == 0) 0.0
        else writes.inputBytes / inBytes / passes, "ratio"),
      ("pipeline.planning_s", t.planningSeconds("pipeline.pass"), "s"))
  }

  private def sources(ctx: Ctx, t: Trace): Seq[M] = {
    val dml = DmlOps.flatMap { op =>
      val name = s"sources.$op"
      val c = jobsOf(t, name)
      Seq(
        (s"$name.s", t.spanSeconds(name), "s"),
        (s"$name.jobs", c.jobs.toDouble, "count"),
        (s"$name.output_bytes", c.outputBytes.toDouble, "bytes"),
        (s"$name.files_rewritten", t.spanCount(name, "files_removed"), "count"))
    }
    val reads = ReadOps.flatMap { op =>
      val name = s"sources.$op"
      Seq(
        (s"$name.s", t.spanSeconds(name), "s"),
        (s"$name.jobs", jobsOf(t, name).jobs.toDouble, "count"),
        (s"$name.files_scanned", t.spanCount(name, "files_scanned"), "count"))
    }
    val dmlBytes = DmlOps.map(op => jobsOf(t, s"sources.$op").outputBytes).sum.toDouble
    val srcBytes = t.spanCount("sources.merge", "source_bytes")
    val snap = t.spanCount("sources.read_where", "snapshot_files")
    dml ++ reads ++ Seq(
      ("sources.write_amp", if (srcBytes == 0) 0.0 else dmlBytes / srcBytes, "ratio"),
      ("sources.prune_ratio",
        if (snap == 0) 0.0 else t.spanCount("sources.read_where", "files_scanned") / snap, "ratio"),
      ("sources.space_amp", ctx.gauges.getOrElse("sources.space_amp", 0.0), "ratio"))
  }

  private def corpus(ctx: Ctx, t: Trace): Seq[M] = {
    def sj(name: String): Seq[M] = Seq(
      (s"$name.s", t.spanSeconds(name), "s"),
      (s"$name.jobs", jobsOf(t, name).jobs.toDouble, "count"))
    val q = jobsOf(t, "similarity.query")
    sj("dedup.run_curation") ++ sj("sampling.write_curated") ++ sj("sampling.write_split") ++
      sj("dedup.semantic_dedup") ++ sj("similarity.build_index") ++
      sj("similarity.kmeans_fit") ++ sj("similarity.pq_fit") ++ sj("similarity.pq_encode") ++
      sj("similarity.query") ++ Seq(
        ("similarity.query.task_busy_s", q.busyNs / 1e9, "s"),
        ("similarity.query.recall_at_5", ctx.gauges.getOrElse("similarity.recall_at_5", 0.0), "ratio"))
  }

  private def spark(ctx: Ctx, t: Trace, sectionS: Double, gcS: Double): Seq[M] = {
    val all = t.jobTotals((_, j) => j.span > 0)
    Seq(
      ("spark.jobs_total", all.jobs.toDouble, "count"),
      ("spark.tasks_total", all.tasks.toDouble, "count"),
      ("spark.core_util", if (sectionS <= 0) 0.0 else all.busyNs / 1e9 / (sectionS * ctx.cores), "ratio"),
      ("spark.gc_s", gcS, "s"),
      ("spark.spill_bytes", all.spill.toDouble, "bytes"),
      ("spark.trace_overhead", if (sectionS <= 0) 0.0 else t.callbackSeconds / sectionS, "ratio"))
  }
}
