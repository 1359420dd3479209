package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.features.FeatureEngineering
import graft.mobility.Mobility
import graft.monitoring.Monitoring
import graft.quality.DataQuality
import graft.sampling.Sampling
import graft.scoring.Scoring
import graft.text.TextFunctions

/** Composable pipeline runners — the re-expression of the reference's
  * Airflow DAGs (reference airflow/dags: bronze → silver → gold → ML)
  * as plain functions over DataFrames.
  *
  * Orchestration-tool independence is the point: each stage takes and
  * returns DataFrames, so the same composition runs under any scheduler —
  * or none. Laziness does the dependency ordering: nothing executes until
  * a sink materializes a frame, and Catalyst sees the WHOLE lineage (a
  * DAG of Spark plans, not of opaque tasks), so cross-stage optimization
  * such as pushdown through the silver projection into the bronze scan
  * happens for free, which per-task orchestration can never do. What
  * laziness does NOT give is one silver computation per run: each table
  * written is its own query over a differently column-pruned silver
  * branch, and Catalyst does not reuse the silver exchange across them.
  * [[Runner.run]] therefore persists silver once per pass, and once the
  * cache is filled writes the tables concurrently on a bounded pool
  * (taking each table's row count from an `Observation` on its write).
  * A caller that writes several of these frames itself should persist
  * silver too, and fill it before any concurrent reader starts. */
object Pipeline {

  /** bronze → silver → star schema + aggregates, keyed like the
    * reference's gold tables. */
  def runMedallion(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val bronze = Bronze.ingestEvents(Tables.events(spark, dir))
    val silver = Silver.cleanEvents(bronze)
    val users = Gold.dimUsers(silver)
    val zones = Gold.dimZones(silver)
    Map(
      "brz" -> bronze,
      "silver" -> silver,
      "dim_time" -> Gold.dimTime(silver),
      "dim_users" -> users,
      "dim_zones" -> zones,
      "fact_events" -> Gold.factEvents(silver, users, zones),
      "fact_payments" -> Gold.factPayments(silver, users),
      "agg_demand_hourly" -> Aggregates.demandHourlyByZone(silver),
      "agg_revenue_daily" -> Aggregates.revenueDailyByZone(silver),
      "agg_user_daily" -> Aggregates.userDailySummary(silver))
  }

  /** Feature + scoring stage over a silver frame (reference ml_dag). */
  def runScoring(silver: DataFrame): Map[String, DataFrame] = {
    val demandFeat = FeatureEngineering.demandFeatures(silver)
    val surgeFeat = FeatureEngineering.surgeFeatures(silver)
    val scoredDemand = Scoring.scoreDemand(demandFeat)
    Map(
      "feat_demand" -> demandFeat,
      "feat_surge" -> surgeFeat,
      "feat_churn" -> FeatureEngineering.churnFeatures(silver),
      "score_demand" -> scoredDemand,
      "score_surge" -> Scoring.scoreSurge(surgeFeat),
      "score_metrics" -> Scoring.scoringMetrics(scoredDemand, "event_count", "predicted_demand"))
  }

  /** Mobility analytics stage over a silver frame: the trajectory marts
    * (§2.11) a mobility platform serves next to the zone aggregates. */
  def runMobility(silver: DataFrame): Map[String, DataFrame] = Map(
    "od_matrix" -> Mobility.odMatrix(silver),
    "stay_episodes" -> Mobility.stayEpisodes(silver),
    "zone_net_flow" -> Mobility.zoneNetFlow(silver),
    "location_entropy" -> Mobility.locationEntropy(silver),
    "home_zones" -> Mobility.homeZone(silver),
    "zone_pagerank" -> Mobility.zonePageRank(silver))

  /** Quality + monitoring stage (reference monitoring dag). */
  def runMonitoring(silver: DataFrame, splitDate: String): Map[String, DataFrame] = Map(
    "dq_summary" -> DataQuality.summary(
      silver, Seq("event_id", "user_id", "ts", "event_type", "value", "zone_id")),
    "monitor_psi" -> Monitoring.psi(silver, Seq("value", "zone_id"), splitDate),
    "monitor_missing" -> Monitoring.missingRates(silver, Seq("value", "zone_id", "user_id"), splitDate),
    "monitor_volume" -> Monitoring.volume(silver, splitDate))

  /** Full run: every stage, one shared silver lineage. */
  def runAll(spark: SparkSession, dir: String, splitDate: String = "2024-01-15"): Map[String, DataFrame] = {
    val medallion = runMedallion(spark, dir)
    val silver = medallion("silver")
    medallion ++ runScoring(silver) ++ runMonitoring(silver, splitDate)
  }

  /** Incremental medallion: process ONLY `dates` and dynamic-overwrite
    * exactly those partitions of the date-partitioned silver sink.
    *
    * This is the daily-production shape at 100 TB: the filter prunes the
    * work to the new dates (on a date-partitioned source the scan itself
    * is pruned; here the date derives from `ts`, so the filter runs at
    * scan speed instead), and `overwritePartitions` makes re-runs
    * IDEMPOTENT — replaying a date replaces that partition byte-for-byte
    * instead of appending duplicates, the same guarantee the reference
    * gets from Delta MERGE. Untouched partitions are never rewritten. */
  def runIncremental(spark: SparkSession, dir: String, sinkPath: String,
      dates: Seq[String]): DataFrame = {
    val silver = Silver.cleanEvents(Bronze.ingestEvents(Tables.events(spark, dir)))
      .filter(col("event_date").isin(dates.map(java.sql.Date.valueOf): _*))
    graft.sources.Sinks.overwritePartitions(silver, sinkPath, Seq("event_date"))
    spark.read.parquet(sinkPath)
  }

  /** Dates present in the source but absent from the sink — the discovery
    * half of incremental processing. Both sides are tiny distinct-date
    * aggregates; the sink side reads partition directories only.
    *
    * Only a sink that does not EXIST (first run, nothing written yet)
    * means "everything is new" — checked explicitly against the
    * filesystem, not by catching read errors: a permission failure or a
    * corrupt footer must propagate, because swallowing it would silently
    * trigger full reprocessing (safe under the idempotent overwrite, but
    * expensive) and hide a sink that needs fixing. */
  def newDates(spark: SparkSession, dir: String, sinkPath: String): Seq[String] = {
    val src = Silver.cleanEvents(Bronze.ingestEvents(Tables.events(spark, dir)))
      .select(col("event_date")).distinct()
    val sink = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sink))
      return src.collect().map(_.get(0).toString).sorted.toSeq
    val have = spark.read.parquet(sinkPath).select(col("event_date")).distinct()
    src.join(have, Seq("event_date"), "left_anti")
      .collect().map(_.get(0).toString).sorted.toSeq
  }

  /** Training-data curation stage — the LLM-corpus counterpart of the
    * medallion flow, chaining the §2.7-§2.9 operators the way a real
    * corpus pipeline runs them:
    *
    *   1. score: quality signals per doc;
    *   2. filter: keep docs whose quality score clears `minQuality`;
    *   3. exact dedup: drop texts identical up to case (keep min doc_id);
    *   4. near dedup: MinHash-LSH pairs → connected components → keep
    *      only each cluster's canonical doc;
    *   5. decontaminate against the benchmark set;
    *   6. deterministic per-language sample into the final mix;
    *   7. deterministic train/val/test assignment on the curated docs;
    *   8. deterministic epoch shuffle of the curated mix (sharded md5
    *      permutation — the order a training run replays).
    *
    * The funnel executes ONCE, at call time: [[curationFlags]] pins one
    * flag per stage on a docs-sized frame, and each stage output is
    * `docs` filtered to the doc_ids its flag keeps (`split` and
    * `shuffled` are projections of `curated`). Writing the outputs scans
    * `docs` and joins the pinned flags; no quality scan, dedup window or
    * LSH join runs again. The pin is a `localCheckpoint`, whose blocks
    * are lost with their executor: re-call the operator rather than hold
    * its outputs across executor loss.
    *
    * `withLshEval = true` adds an `"lsh_eval"` output: the
    * precision/recall/F1 of the approximate near-dup pass against the
    * exact shingle-Jaccard path over the quality-kept corpus — the QA
    * report a curation run ships alongside its outputs. Off by default
    * (it costs an extra exact-Jaccard pass; at 100 TB run it on a
    * sampled stratum). */
  def runCuration(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double = 0.2,
      rates: Map[String, Double] = Map.empty, defaultRate: Double = 1.0,
      withLshEval: Boolean = false): Map[String, DataFrame] = {
    val flags = curationFlags(docs, benchmark, minQuality, rates, defaultRate)
    def kept(flag: String) = docs.join(flags.filter(col(flag)).select("doc_id"), "doc_id")
    val qualityKept = kept("q")
    val curated = kept("cur")
    val outputs = Map(
      "quality_kept" -> qualityKept,
      "exact_kept" -> kept("e"),
      "near_kept" -> kept("nk"),
      "decontaminated" -> kept("dec"),
      "curated" -> curated,
      // split salt MUST differ from the sampling salt: both hash doc_id,
      // and with the shared default every sampled survivor has fraction
      // < rate ≤ its stratum cap, so the 0.8/0.9 split thresholds would
      // assign every curated doc to train (round-8 find; the independent
      // salt restores the unconditional 80/10/10 expectation)
      "split" -> Sampling.splitAssign(curated, "doc_id", salt = "graft:split"),
      "shuffled" -> Sampling.shuffleShards(curated, "doc_id"))
    if (withLshEval) outputs + ("lsh_eval" -> Dedup.lshEval(qualityKept))
    else outputs
  }

  /** The curation run's oracle-checkable face: one row per stage with
    * surviving doc and token counts — input → quality filter → exact
    * dedup → near dedup → decontamination → stratified sample → the three
    * split assignments — taken in one conditional-sum aggregate over the
    * same pinned flags [[runCuration]] filters `docs` by. The DuckDB
    * oracle replays the funnel from the operators' definitions.
    *
    * Token counts are non-empty whitespace tokens (the `t_pk` packing
    * definition).
    *
    * Returns an eagerly materialized `localCheckpoint` of the 9-row
    * report: it executes at call time, its lineage is cut (it will not
    * recompute if the source data changes), and localCheckpoint blocks
    * are unrecoverable on executor loss under dynamic allocation.
    * Callers wanting a fresh report re-call the operator. */
  def curationReport(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double = 0.2,
      rates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0): DataFrame =
    flagReport(curationFlags(docs, benchmark, minQuality, rates, defaultRate))
      .localCheckpoint(true)

  /** The curation funnel as one flag column per stage, over every doc:
    * `doc_id, n_toks, q, e, nk, dec, cur, s_tr, s_va, s_te`.
    *
    *   - `q`   — quality_score ≥ minQuality
    *     ([[graft.text.TextFunctions.qualityScoreCol]]);
    *   - `e`   — q AND doc_id = min(quality doc_id) over the
    *     md5(lower(text)) group ([[graft.dedup.Dedup.exactDedup]]'s
    *     groups restricted to quality docs via min-over-when);
    *   - `nk`  — e AND not in the NON-canonical set of
    *     [[graft.dedup.Dedup.dupClusters]] over the exact-kept docs and
    *     their MinHash-LSH pairs (the non-canonical set is
    *     dup-volume-sized, so the flag join broadcasts);
    *   - `dec` — nk AND neither [[graft.dedup.Dedup.decontaminate]] probe
    *     fires (exact hash hit, or the near-overlap probe over the nk
    *     docs);
    *   - `cur` — dec AND the stratified hash-sample predicate
    *     ([[graft.sampling.Sampling.stratifiedHashSample]]'s salt and
    *     rates);
    *   - `s_tr`/`s_va`/`s_te` — cur AND the "graft:split" 80/10/10
    *     thresholds of [[graft.sampling.Sampling.splitAssign]].
    *
    * The q/e frame is persisted while the LSH, cluster and probe passes
    * read it, so the corpus text is scored once; it needs no fill job of
    * its own, because those passes run one after another. The result is an eager
    * `localCheckpoint(true)`, the pinned-result contract of
    * [[graft.dedup.Dedup.dupClusters]]: every frame derived from it reads
    * the materialized flags instead of re-running the funnel. */
  private[graft] def curationFlags(docs: DataFrame, benchmark: DataFrame,
      minQuality: Double, rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val hashW = Window.partitionBy(md5(lower(col("text"))))
    val flagged = docs
      .withColumn("n_toks",
        size(filter(split(lower(col("text")), " "), t => t =!= "")))
      .withColumn("q", TextFunctions.qualityScoreCol(col("text")) >= minQuality)
      .withColumn("e",
        col("q") && col("doc_id") === min(when(col("q"), col("doc_id"))).over(hashW))
      .persist() // filled by its first reader, dupClusters' pair count
    try {
      val exactKept = flagged.filter(col("e"))
      val nonCanon = Dedup.dupClusters(exactKept, Dedup.minhashLsh(exactKept))
        .filter(col("is_canonical") === 0)
        .select(col("doc_id"), lit(1).as("nc"))
      val withNk = flagged
        .join(nonCanon, Seq("doc_id"), "left")
        .withColumn("nk", col("e") && col("nc").isNull)
      val nearIds = Dedup.nearHitIds(withNk.filter(col("nk")), benchmark, 3, 5)
        .withColumn("nh", lit(1))
      val curFlag =
        if (rates.isEmpty && defaultRate >= 1.0) col("dec")
        else col("dec") && Sampling.stratifiedKeep("doc_id", "lang", rates, defaultRate)
      val splitF = Sampling.hashFraction(col("doc_id"), "graft:split")
      withNk
        .join(broadcast(Dedup.benchHashSet(benchmark)),
          md5(lower(col("text"))) === col("bench_hash"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .withColumn("dec", col("nk") && col("bench_hash").isNull && col("nh").isNull)
        .withColumn("cur", curFlag)
        .withColumn("s_tr", col("cur") && splitF < 0.8)
        .withColumn("s_va", col("cur") && splitF >= 0.8 && splitF < 0.9)
        .withColumn("s_te", col("cur") && splitF >= 0.9)
        .select("doc_id", "n_toks", "q", "e", "nk", "dec", "cur", "s_tr", "s_va", "s_te")
        .localCheckpoint(true)
    } finally {
      flagged.unpersist()
      ()
    }
  }

  /** The lazy 9-row report over a [[curationFlags]] frame — separate so
    * plan dumps can `explain` the aggregate without the report's own
    * checkpoint hiding it. */
  private[graft] def flagReport(flags: DataFrame): DataFrame = {
    val stages = Seq("input" -> lit(true), "quality_kept" -> col("q"),
      "exact_kept" -> col("e"), "near_kept" -> col("nk"), "decontaminated" -> col("dec"),
      "curated" -> col("cur"), "split_train" -> col("s_tr"), "split_val" -> col("s_va"),
      "split_test" -> col("s_te")).zipWithIndex
    val aggs = stages.flatMap { case ((_, f), i) =>
      Seq(coalesce(sum(when(f, 1L)), lit(0L)).as(s"d$i"),
        coalesce(sum(when(f, col("n_toks").cast("long"))), lit(0L)).as(s"t$i"))
    }
    val rows = stages.map { case ((name, _), i) =>
      struct(lit(i).as("stage_idx"), lit(name).as("stage"),
        col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    }
    flags.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.stage_idx"), col("r.stage"), col("r.n_docs"), col("r.n_tokens"))
  }
}
