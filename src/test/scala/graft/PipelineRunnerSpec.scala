package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipeline.Pipeline
import graft.sampling.Sampling
import graft.text.TextFunctions

class PipelineRunnerSpec extends SparkSpec {

  test("incremental runs: only listed dates land, re-runs idempotent, discovery finds the gap") {
    val sink = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val d1 = Pipeline.runIncremental(spark, sfDir, sink, Seq("2024-01-01"))
    assert(d1.select("event_date").distinct().count() === 1)
    val c1 = d1.count()
    assert(c1 > 0)
    Pipeline.runIncremental(spark, sfDir, sink, Seq("2024-01-02"))
    val after2 = spark.read.parquet(sink)
    assert(after2.select("event_date").distinct().count() === 2)
    val c2 = after2.count()
    // replaying date 1 rewrites its partition, never appends
    Pipeline.runIncremental(spark, sfDir, sink, Seq("2024-01-01"))
    assert(spark.read.parquet(sink).count() === c2, "replay must be idempotent")
    // discovery: both processed dates excluded, the rest of the month remains
    val nd = Pipeline.newDates(spark, sfDir, sink)
    assert(!nd.contains("2024-01-01") && !nd.contains("2024-01-02"))
    assert(nd.nonEmpty)
  }

  test("newDates: absent sink means all-new; corrupt sink PROPAGATES, no silent reprocess") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink")
    val absent = tmp.resolve("never_written").toString
    val all = Pipeline.newDates(spark, sfDir, absent)
    assert(all.nonEmpty, "first run must see every source date as new")
    // corrupt sink: a .parquet file whose footer cannot be read must NOT
    // be mistaken for "sink absent" — full reprocessing is idempotent but
    // expensive, and the sink needs fixing
    val corrupt = tmp.resolve("corrupt")
    java.nio.file.Files.createDirectories(corrupt)
    java.nio.file.Files.write(corrupt.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      Pipeline.newDates(spark, sfDir, corrupt.toString)
    }
  }

  test("runAll composes every stage over one shared silver lineage") {
    val out = Pipeline.runAll(spark, sfDir)
    val expected = Set(
      "brz", "silver", "dim_time", "dim_users", "dim_zones",
      "fact_events", "fact_payments", "agg_demand_hourly",
      "agg_revenue_daily", "agg_user_daily",
      "feat_demand", "feat_surge", "feat_churn",
      "score_demand", "score_surge", "score_metrics",
      "dq_summary", "monitor_psi", "monitor_missing", "monitor_volume")
    assert(out.keySet === expected)
    // stages are lazy: building the full DAG runs no jobs; materializing
    // a leaf pulls exactly its lineage
    assert(out("fact_events").count() === out("silver").count())
    assert(out("monitor_volume").count() === 1)
  }

  test("runCuration: each stage shrinks or holds the corpus; curated docs are canonical and clean") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val out = Pipeline.runCuration(docs, bench,
      minQuality = 0.2, rates = Map("en" -> 0.5), defaultRate = 1.0)
    val n0 = docs.count()
    val counts = Seq("quality_kept", "exact_kept", "near_kept", "decontaminated", "curated")
      .map(k => k -> out(k).count())
    // monotone non-increasing through the stages
    assert(counts.map(_._2).sliding(2).forall(p => p.head >= p.last),
      s"stage counts must shrink: $counts (from $n0)")
    assert(counts.last._2 > 0)
    // benchmark docs themselves never survive decontamination
    assert(out("decontaminated").join(bench.select("doc_id"), "doc_id").count() === 0)
    // curated is a subset of decontaminated
    assert(out("curated").join(out("decontaminated").select("doc_id"), "doc_id").count()
      === out("curated").count())
    // split assignment covers every curated doc, disjointly and exhaustively
    val split = out("split")
    assert(split.count() === out("curated").count())
    assert(split.filter(!col("split").isin("train", "val", "test")).count() === 0)
    // epoch shuffle covers exactly the curated mix, permuted (dense
    // 1..n positions per shard)
    val shuffled = out("shuffled")
    assert(shuffled.count() === out("curated").count())
    assert(shuffled.select("doc_id").exceptAll(out("curated").select("doc_id")).count() === 0)
    assert(shuffled.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"))
      .filter(col("mx") =!= col("n")).count() === 0)
    // default run ships no QA report; opting in adds the one-row
    // confusion matrix over the quality-kept corpus
    assert(!out.contains("lsh_eval"))
    val withQa = Pipeline.runCuration(docs, bench, withLshEval = true)
    val qa = withQa("lsh_eval").head()
    assert(qa.getAs[Double]("recall") >= 0.0 && qa.getAs[Double]("recall") <= 1.0)
    assert(qa.getAs[Long]("tp") + qa.getAs[Long]("fn") > 0, "eval saw the planted near-dups")
  }

  /** The curation funnel composed stage by stage from the public
    * operators, each stage over the previous stage's frame: the
    * reference every runCuration output must reproduce. */
  private def stagedCuration(docs: DataFrame, bench: DataFrame, minQuality: Double,
      rates: Map[String, Double], defaultRate: Double): Map[String, DataFrame] = {
    val qualityKept = docs.join(TextFunctions.quality(docs)
      .filter(col("quality_score") >= minQuality).select("doc_id"), "doc_id")
    val exactKept = Dedup.exactDedup(qualityKept)
      .filter(col("is_duplicate") === 0).select("doc_id")
      .join(qualityKept, "doc_id")
    val nearKept = Dedup.dupClusters(exactKept, Dedup.minhashLsh(exactKept))
      .filter(col("is_canonical") === 1).select("doc_id")
      .join(exactKept, "doc_id")
    val clean = Dedup.decontaminate(nearKept, bench)
    val curated = Sampling.stratifiedHashSample(clean, "doc_id", "lang", rates, defaultRate)
    Map("quality_kept" -> qualityKept, "exact_kept" -> exactKept, "near_kept" -> nearKept,
      "decontaminated" -> clean, "curated" -> curated,
      "split" -> Sampling.splitAssign(curated, "doc_id", salt = "graft:split"),
      "shuffled" -> Sampling.shuffleShards(curated, "doc_id"))
  }

  private val curRates = Map("en" -> 0.5, "de" -> 0.25)

  test("runCuration: outputs and curationReport equal the staged operator chain") {
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val ref = stagedCuration(docs, bench, 0.2, curRates, 0.1)
    val out = Pipeline.runCuration(docs, bench,
      minQuality = 0.2, rates = curRates, defaultRate = 0.1)
    assert(out.keySet === ref.keySet)
    ref.foreach { case (k, want) =>
      val got = out(k)
      assert(got.schema === want.schema, s"$k schema")
      assert(got.exceptAll(want).count() === 0, s"$k has rows the staged chain drops")
      assert(want.exceptAll(got).count() === 0, s"$k misses rows the staged chain keeps")
    }
    // (docs, non-empty whitespace tokens) per stage of the staged chain
    def docsAndTokens(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(
        sum(size(filter(split(lower(col("text")), " "), t => t =!= ""))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val want = (Seq("input" -> docs) ++
      Seq("quality_kept", "exact_kept", "near_kept", "decontaminated", "curated").map(k => k -> ref(k)) ++
      Seq("train", "val", "test").map(s => s"split_$s" -> ref("split").filter(col("split") === s)))
      .map { case (k, df) => k -> docsAndTokens(df) }.toMap
    assert(want.values.forall(_._1 > 0), s"every stage must keep docs: $want")
    val report = Pipeline.curationReport(docs, bench,
      minQuality = 0.2, rates = curRates, defaultRate = 0.1)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(report === want)
  }

  test("runCuration: writing curated and split re-runs no dedup window or LSH join") {
    val docs = Tables.documents(spark, sfDir)
    val out = Pipeline.runCuration(docs, docs.filter(col("doc_id") % 20 === 0),
      minQuality = 0.2, rates = curRates, defaultRate = 0.1)
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_write").toString
    val (_, jobs) = JobLog.during(spark) {
      out("curated").write.mode("overwrite").parquet(s"$dir/curated")
      out("split").write.mode("overwrite").parquet(s"$dir/split")
    }
    assert(jobs.count(_.isWrite) >= 2, "both writes must run as jobs")
    val rerun = jobs.filter(j => j.plan.contains("Window") || j.plan.contains("band_hash"))
    assert(rerun.map(_.id) === Nil,
      s"writes re-ran the funnel:\n${rerun.map(_.plan).distinct.mkString("\n")}")
  }

  test("cross-stage optimization: fact build reuses the silver lineage plan") {
    val out = Pipeline.runMedallion(spark, sfDir)
    // the fact's analyzed plan embeds the silver dedup window — one
    // lineage end-to-end, no opaque stage boundary
    val plan = out("fact_events").queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number") || plan.contains("Window"), plan)
    assert(out("agg_revenue_daily").filter(col("total_revenue") < 0).count() === 0)
  }
}
