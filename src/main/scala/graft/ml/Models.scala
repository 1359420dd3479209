package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** spark.ml training pipelines (SURVEY.md §2.4; rows-only oracle — model
  * outputs have no SQL equivalent).
  *
  * Re-expresses the reference's model training (reference
  * src/ml/demand_forecasting.py:63-300, surge_pricing.py:114-330): the
  * same StringIndexer → OneHotEncoder → VectorAssembler prep, RF / linear
  * regressors and an RF classifier over bucketed surge categories.
  *
  * Determinism: fixed seeds everywhere, and the train/test split is a
  * DATE split (last 5 days held out), not randomSplit — so results are
  * stable across partitionings and runs.
  *
  * Scale notes: spark.ml tree ensembles train distributed (histogram-based
  * splits, no driver-side data); the prep stages are narrow column ops.
  * At 100 TB you bound training cost by sampling the training window, not
  * by changing the pipeline.
  */
object Models {

  private val splitDate = "2024-01-25"

  private def demandPrep(inputCols: Array[String]) = {
    val zoneIdx = new StringIndexer()
      .setInputCol("zone_id").setOutputCol("zone_idx").setHandleInvalid("keep")
    val zoneOh = new OneHotEncoder()
      .setInputCol("zone_idx").setOutputCol("zone_oh")
    val va = new VectorAssembler()
      .setInputCols(inputCols :+ "zone_oh").setOutputCol("features")
    Seq(zoneIdx, zoneOh, va)
  }

  private val demandFeatureCols = Array(
    "hour", "demand_lag_1", "demand_lag_7", "demand_avg_7d",
    "demand_avg_30d", "avg_value", "is_peak_hour", "is_night")

  private def demandSplit(feat: DataFrame): (DataFrame, DataFrame) = {
    val labeled = feat.withColumn("label", col("event_count").cast("double"))
    (labeled.filter(col("trip_date") < splitDate),
      labeled.filter(col("trip_date") >= splitDate))
  }

  /** Persist a training frame, materialize the cache at full parallelism,
    * and return (cacheHandle, fitView): the fit view is a NARROW coalesce
    * of the cache sized so each task carries ≥ ~8k rows. Tree/boosting
    * fits run ~iters × depth SEQUENTIAL jobs over this frame, and at the
    * aggregate grain (hours × zones) the session's shuffle partitioning
    * leaves KB-sized tasks whose scheduling overhead dominates every one
    * of those jobs — measured at sf0.1: the 20×6 GBT fit 18.3 s → 8.9 s
    * with nothing but this resize. The count is not an extra pass: it IS
    * the cache-fill job the first fit stage would otherwise trigger, and
    * the coalesce reads cached blocks (no re-evaluation, no shuffle). The
    * partition target scales with the DATA (rows/8k, capped by cores), so
    * a billion-row training window still fans out cluster-wide. */
  private def cacheForFit(train: DataFrame): (DataFrame, DataFrame) = {
    val cached = train.persist()
    val n = cached.count()
    val cores = train.sparkSession.sparkContext.defaultParallelism
    // data term: ≥ ~8k rows per task; floor: a few tasks so the per-level
    // tree aggregations still spread over cores even on a tiny window
    // (measured: RF-depth-8 fits lose ~15% single-task); cap: core count.
    val p = math.min(cores,
      math.max(math.min(cores / 8, 4), (n / 8192L).toInt + 1))
    (cached, cached.coalesce(math.max(p, 1)))
  }

  private def fitPredict(feat: DataFrame, estimator: org.apache.spark.ml.PipelineStage): DataFrame = {
    val (train, test) = demandSplit(feat)
    // The feature frame is a lag/rolling WINDOW chain; every fit stage
    // (indexer scan, one-hot fit, each tree/boosting pass) re-triggers it
    // unless materialized. Persist for the fit, release after.
    val (cachedTrain, fitView) = cacheForFit(train)
    try {
      val pipeline = new Pipeline().setStages((demandPrep(demandFeatureCols) :+ estimator).toArray)
      val model = pipeline.fit(fitView) // eager; transform below reads only test
      model.transform(test)
        .select("trip_date", "hour", "zone_id", "label", "prediction")
    } finally cachedTrain.unpersist()
  }

  /** The demand RF is fitted ONCE per distinct feature frame and shared by
    * [[demandRandomForest]], [[demandFeatureImportances]] and
    * [[persistRoundTrip]] — the reference fits one forest and reads both
    * predictions and importances off it (demand_forecasting.py:120-173);
    * refitting an identical seeded 20-tree forest per query is pure waste.
    * Keyed by (session, canonicalized plan) so the same features over a
    * different dataset fit their own model. */
  private val demandRfCache = TrieMap.empty[(SparkSession, LogicalPlan), PipelineModel]

  private def fitDemandRf(feat: DataFrame): PipelineModel =
    demandRfCache.getOrElseUpdate(
      (feat.sparkSession, feat.queryExecution.analyzed.canonicalized), {
        val (train, _) = demandSplit(feat)
        val (cachedTrain, fitView) = cacheForFit(train)
        try new Pipeline()
          .setStages((demandPrep(demandFeatureCols) :+ new RandomForestRegressor()
            .setLabelCol("label").setFeaturesCol("features")
            .setNumTrees(20).setMaxDepth(8).setSeed(42)).toArray)
          .fit(fitView)
        finally cachedTrain.unpersist()
      })

  /** RandomForest demand regressor: held-out-window predictions. */
  def demandRandomForest(feat: DataFrame): DataFrame = {
    val (_, test) = demandSplit(feat)
    fitDemandRf(feat).transform(test)
      .select("trip_date", "hour", "zone_id", "label", "prediction")
  }

  /** Model persistence round-trip (reference trains + saves, the serving
    * process loads — demand_forecasting.py:280 train_all_models, app.py:112
    * load_models): save the fitted demand-RF pipeline, load it back, and
    * predict the held-out window with the RELOADED model. Output is
    * byte-identical to [[demandRandomForest]] (spec-asserted) — the
    * round-trip is the operator under test. */
  def persistRoundTrip(feat: DataFrame, path: String): DataFrame = {
    // same on-disk layout as PipelineModel.write/load (cross-loadable,
    // spec-asserted), with the per-stage writes/reads fanned out on a
    // bounded pool — stage artifacts are independent, so wall-clock is
    // the slowest stage instead of the sum of sequential tiny-job chains
    val spark = feat.sparkSession
    org.apache.spark.ml.GraftParallelPersist.save(fitDemandRf(feat), spark, path)
    val reloaded = org.apache.spark.ml.GraftParallelPersist.load(spark, path)
    val (_, test) = demandSplit(feat)
    reloaded.transform(test)
      .select("trip_date", "hour", "zone_id", "label", "prediction")
  }

  /** Gradient-boosted-trees demand regressor (reference trains RF, GBT and
    * LR and keeps the best — demand_forecasting.py:74-260). */
  def demandGBT(feat: DataFrame): DataFrame =
    fitPredict(feat, new GBTRegressor()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(20).setMaxDepth(6).setSeed(42))

  /** [[demandGBT]] with a deterministically hash-sampled TRAINING window
    * (pinned fraction; the held-out scoring window stays intact, so the
    * prediction frame matches `ml_gbt` row-for-row). Two jobs: (a) a
    * bench-protocol line tracking the GBT code path at a fraction of the
    * full fit's cost; (b) the documented 100 TB protocol made executable —
    * training cost for every spark.ml fit here is bounded by sampling
    * the training window, not by changing the pipeline.
    *
    * MEASURED honesty note (rounds 7-8, sf0.1): at this scale the fit is
    * bounded by SEQUENTIAL boosting iterations' job-scheduling overhead,
    * not data volume — sampling alone saved nothing (12.6 s vs the full
    * fit's 13.5 s), so the tracker also trims the iteration count and
    * depth (6×4 vs the full 20×6): a cheap line that exercises the same
    * code path without duplicating the most expensive fit in the bench.
    * At real scale the per-iteration scan dominates and the row sampling
    * is the term that matters. */
  def demandGBTSampled(feat: DataFrame, fraction: Double = 0.25,
      maxIter: Int = 6, maxDepth: Int = 4): DataFrame = {
    val sampled = feat.filter(
      col("trip_date") >= splitDate ||
        graft.sampling.Sampling.hashFraction(
          concat_ws("|", col("trip_date"), col("hour"), col("zone_id")),
          "gbt_s") < fraction)
    fitPredict(sampled, new GBTRegressor()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(42))
  }

  /** Linear-regression baseline with identical prep and split. */
  def demandLinear(feat: DataFrame): DataFrame =
    fitPredict(feat, new LinearRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setRegParam(0.1).setElasticNetParam(0.0))

  /** Best-model select (reference's select_best_model): train all three
    * demand regressors on the same prep/split, evaluate on the held-out
    * window, return one metrics row per model ordered best-first. */
  def bestDemandModel(feat: DataFrame): Seq[(String, Map[String, Double])] = {
    val candidates = Seq(
      "random_forest" -> demandRandomForest(feat),
      "gbt" -> demandGBT(feat),
      "linear" -> demandLinear(feat))
    candidates
      .map { case (name, preds) => name -> regressionMetrics(preds.cache()) }
      .sortBy(_._2("rmse"))
  }

  /** RMSE / MAE / R² on a predictions frame — TWO aggregation jobs (a
    * one-column mean, then one five-sum pass) where the evaluator API ran
    * one summarizer pass per metric. Same definitions as
    * `RegressionMetrics`: rmse = √(Σe²/n), mae = Σ|e|/n,
    * r2 = 1 − SSerr/SStot. SStot sums SHIFTED squares around the label
    * mean, Σ(y−ȳ)² − (Σ(y−ȳ))²/n: mathematically the same as the
    * expanded Σy² − (Σy)²/n one-pass form, but immune to its
    * catastrophic cancellation when the label mean is large relative to
    * the label spread (the expanded form can return SStot ≤ 0 → r² ≥ 1
    * or ±Inf on real data at scale). Callers pass CACHED prediction
    * frames, so the extra mean job reads memory, not lineage. Every
    * in-repo parity assertion compares THROUGH this one function. */
  def regressionMetrics(predictions: DataFrame): Map[String, Double] = {
    val e = col("prediction") - col("label")
    val cRow = predictions.agg(avg(col("label"))).head()
    val c = if (cRow.isNullAt(0)) 0.0 else cRow.getDouble(0)
    val dy = col("label") - lit(c)
    val row = predictions.agg(
      count(lit(1)).as("n"),
      sum(e * e).as("sse"),
      sum(abs(e)).as("sae"),
      sum(dy).as("sy"),
      sum(dy * dy).as("syy")).head()
    val n = row.getAs[Long]("n").toDouble
    require(n > 0, "regressionMetrics: the predictions frame is empty; " +
      "rmse, mae and r2 are undefined for n = 0")
    val sse = row.getAs[Double]("sse")
    val ssTot = row.getAs[Double]("syy") - row.getAs[Double]("sy") * row.getAs[Double]("sy") / n
    Map(
      "rmse" -> math.sqrt(sse / n),
      "mae" -> row.getAs[Double]("sae") / n,
      "r2" -> (1.0 - sse / ssTot))
  }

  private val surgeFeatureCols = Array(
    "hour", "event_count", "user_count", "demand_supply_ratio",
    "is_weekend", "is_peak_hour", "value_lag_1", "count_avg_7d")

  /** Surge-category classifier: bucket the hourly value level into
    * low/mid/high (reference bucketed surge_multiplier), RF classifier,
    * held-out-window predictions. */
  def surgeClassifier(surgeFeat: DataFrame): DataFrame = {
    val labeled = surgeFeat.withColumn("label",
      when(col("avg_value") < 40, 0.0).when(col("avg_value") < 80, 1.0).otherwise(2.0))
    val (train, fitView) = cacheForFit(labeled.filter(col("trip_date") < splitDate))
    try {
      val test = labeled.filter(col("trip_date") >= splitDate)
      val rf = new RandomForestClassifier()
        .setLabelCol("label").setFeaturesCol("features")
        .setNumTrees(20).setMaxDepth(8).setSeed(42)
      new Pipeline().setStages((demandPrep(surgeFeatureCols) :+ rf).toArray)
        .fit(fitView).transform(test)
        .select("trip_date", "hour", "zone_id", "label", "prediction")
    } finally train.unpersist()
  }

  /** Surge-level RF REGRESSOR (the reference trains BOTH a regressor on
    * the continuous surge multiplier and a classifier on its buckets —
    * surge_pricing.py:63 prepare_data_regression, :183-231): same prep,
    * features and date split as the classifier, continuous label = the
    * hourly value level the classifier buckets. */
  def surgeRegressor(surgeFeat: DataFrame): DataFrame = {
    val labeled = surgeFeat.withColumn("label", col("avg_value").cast("double"))
    val (train, fitView) = cacheForFit(labeled.filter(col("trip_date") < splitDate))
    try {
      val test = labeled.filter(col("trip_date") >= splitDate)
      val rf = new RandomForestRegressor()
        .setLabelCol("label").setFeaturesCol("features")
        .setNumTrees(20).setMaxDepth(8).setSeed(42)
      new Pipeline().setStages((demandPrep(surgeFeatureCols) :+ rf).toArray)
        .fit(fitView).transform(test)
        .select("trip_date", "hour", "zone_id", "label", "prediction")
    } finally train.unpersist()
  }

  /** Feature importances of the fitted RF demand regressor (reference
    * logs model.featureImportances — demand_forecasting.py:171-173): one
    * (feature, importance) row per assembled vector slot, slot names from
    * the vector's ML attribute metadata (one-hot slots expand to their
    * category name). Importances are impurity-based and sum to 1. */
  def demandFeatureImportances(feat: DataFrame): DataFrame = {
    val model = fitDemandRf(feat)
    val fitted = model.stages.last
      .asInstanceOf[org.apache.spark.ml.regression.RandomForestRegressionModel]
    // transform is lazy — only the schema (vector ML attributes) is read
    val schema = model.transform(demandSplit(feat)._1.limit(1)).schema
    val attrs = org.apache.spark.ml.attribute.AttributeGroup
      .fromStructField(schema("features")).attributes
    val imps = fitted.featureImportances.toArray
    val names = attrs match {
      case Some(a) => a.map(at => at.name.getOrElse(s"f${at.index.getOrElse(-1)}"))
      case None => imps.indices.map(i => s"f$i").toArray
    }
    val spark = feat.sparkSession
    import spark.implicits._
    names.zip(imps).toSeq.toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature"))
  }

  /** Accuracy / weighted F1 for the classifier. */
  def classificationMetrics(predictions: DataFrame): Map[String, Double] = {
    val ev = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
    Seq("accuracy", "f1").map(m => m -> ev.setMetricName(m).evaluate(predictions)).toMap
  }

  /** FastText-style corpus quality classifier — the reference's
    * features → model → batch-score arc (demand_forecasting.py:63-300)
    * applied to the LLM-data surface: hashed token features →
    * LogisticRegression → a per-document quality PROBABILITY, the score
    * [[graft.pipeline.Pipeline.runCuration]] can filter on in place of
    * the hand-tuned heuristic (`classifierQuality = true`).
    *
    * Labels, in fastText's recipe (positive class = a TRUSTED corpus,
    * negative = the raw crawl — noisy by design, positives hiding in the
    * negatives are tolerated): pass the trusted exemplars as `trusted`
    * (matched by doc_id). Without exemplars the label falls back to weak
    * supervision distilled from the heuristic
    * ([[graft.text.TextFunctions.quality]] score ≥ `labelThreshold`) —
    * a smoothing of the heuristic into token space, NOT a new signal:
    * spam the heuristic scores clean stays clean-looking in this mode.
    * The trusted-exemplar mode is what separates repeated-token spam
    * whose length/punct stats look fine (spec-asserted: AUC > naive on
    * a planted garbage stratum).
    *
    * `scoreDocs` scores a different frame with the fitted model (e.g.
    * today's crawl batch against yesterday's model) — default scores the
    * training corpus itself.
    *
    * Scale: HashingTF is a stateless map-side transform — no vocabulary
    * fit, no shuffle, constant memory at any corpus size; LR trains
    * distributed (L-BFGS over partial gradients). SCORING does not go
    * through `model.transform`: the fitted coefficient vector (KB — one
    * double per hash slot) is inlined as a literal array and the margin
    * computed natively — `sigmoid(b + Σ_tokens w[murmur3(token) mod d])`,
    * the same centroids-as-literals pattern as the IVF quantizer. That
    * keeps scoring whole-stage-codegen'd (model.transform plans a
    * ScalaUDF) and sidesteps a spark.ml serialization trap: the binary
    * LR training summary pins the SparkSession (non-serializable
    * ObservationManager in Spark 4) inside the prediction UDF's closure.
    * The native margin is exact parity: HashingTF's slot index IS
    * `pmod(murmur3_seed42(token), d)` — the same hash `functions.hash`
    * computes. Deterministic: fixed hash, convex optimum. At 100 TB, fit
    * on a hash-sampled stratum and batch-score everything. */
  def qualityClassifier(docs: DataFrame,
      trusted: Option[DataFrame] = None,
      scoreDocs: Option[DataFrame] = None,
      labelThreshold: Double = 0.5,
      numFeatures: Int = 1024): DataFrame = {
    def tokenize(df: DataFrame): DataFrame = df
      .withColumn("tokens", filter(split(lower(col("text")), " "), t => t =!= ""))
    val weak = trusted match {
      case Some(t) =>
        docs.select(col("doc_id"))
          .join(t.select(col("doc_id"), lit(1.0).as("label")), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("label"), lit(0.0)).as("label"))
      case None =>
        graft.text.TextFunctions.quality(docs)
          .select(col("doc_id"),
            (col("quality_score") >= labelThreshold).cast("double").as("label"))
    }
    val (labeled, fitView) = cacheForFit(
      tokenize(docs.select(col("doc_id"), col("text"))).join(weak, "doc_id"))
    try {
      val tf = new org.apache.spark.ml.feature.HashingTF()
        .setInputCol("tokens").setOutputCol("features")
        .setNumFeatures(numFeatures)
      val lr = new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(25).setRegParam(0.01)
      val model = new Pipeline().setStages(Array(tf, lr)).fit(fitView)
      val lrm = model.stages(1)
        .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
      val wLit = array(lrm.coefficients.toArray.map(lit).toIndexedSeq: _*)
      val margin = aggregate(
        col("tokens"), lit(lrm.intercept),
        (acc, t) => acc +
          element_at(wLit, (pmod(hash(t), lit(numFeatures)) + 1).cast("int")))
      val target = scoreDocs
        .map(d => tokenize(d.select(col("doc_id"), col("text"))))
        .getOrElse(labeled)
      target.select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-margin))).as("quality_prob"))
    } finally labeled.unpersist()
  }
}
