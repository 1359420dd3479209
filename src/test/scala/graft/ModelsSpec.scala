package graft

import org.apache.spark.sql.functions._

import graft.features.FeatureEngineering
import graft.ml.Models
import graft.pipeline.{Bronze, Silver}

class ModelsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val silver =
    Silver.cleanEvents(Bronze.ingestEvents(Tables.events(spark, dir))).cache()
  private lazy val demandFeat = FeatureEngineering.demandFeatures(silver).cache()

  test("rf demand model: held-out predictions beat a naive constant") {
    val preds = Models.demandRandomForest(demandFeat).cache()
    assert(preds.count() > 0)
    val m = Models.regressionMetrics(preds)
    // naive baseline: rmse of predicting the global mean
    val stats = preds.agg(stddev("label").as("sd")).head()
    assert(m("rmse") <= stats.getAs[Double]("sd") * 1.2,
      s"rf rmse ${m("rmse")} should not be far above label sd")
    assert(m("mae") <= m("rmse"))
  }

  test("linear baseline trains on the same prep and emits finite predictions") {
    val preds = Models.demandLinear(demandFeat).cache()
    assert(preds.count() > 0)
    assert(preds.filter(isnan(col("prediction")) || col("prediction").isNull).count() === 0)
  }

  test("best-model select ranks all three regressors by held-out rmse") {
    val ranked = Models.bestDemandModel(demandFeat)
    assert(ranked.map(_._1).toSet === Set("random_forest", "gbt", "linear"))
    val rmses = ranked.map(_._2("rmse"))
    assert(rmses === rmses.sorted, "must be ordered best-first")
  }

  test("surge regressor: same prep/split as classifier, predictions track the label") {
    val surgeFeat = FeatureEngineering.surgeFeatures(silver).cache()
    val preds = Models.surgeRegressor(surgeFeat).cache()
    assert(preds.count() > 0)
    assert(preds.filter(isnan(col("prediction")) || col("prediction").isNull).count() === 0)
    val m = Models.regressionMetrics(preds)
    val sd = preds.agg(stddev("label").as("sd")).head().getAs[Double]("sd")
    assert(m("rmse") <= sd * 1.2, s"surge rf rmse ${m("rmse")} should not be far above label sd $sd")
  }

  test("demand feature importances: one row per vector slot, sum ~1, named slots rank") {
    val imp = Models.demandFeatureImportances(demandFeat).cache()
    val total = imp.agg(sum("importance")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"importances must sum to 1, got $total")
    assert(imp.filter(col("importance") < 0).count() === 0)
    // the raw demand features must be present among the named slots
    val names = imp.select("feature").collect().map(_.getString(0)).toSet
    assert(Set("demand_lag_1", "demand_avg_7d", "hour").subsetOf(names))
    // lag/rolling demand features carry real signal on this synthetic data
    val topNames = imp.limit(8).collect().map(_.getString(0)).toSet
    assert(topNames.exists(n => n.startsWith("demand_")),
      s"expected a demand_* feature in the top slots, got $topNames")
  }

  test("model persistence: reloaded pipeline predicts identically to the in-memory one") {
    val path = "/root/repo/target/test_ml_model_persist"
    val direct = Models.demandRandomForest(demandFeat).cache()
    val reloaded = Models.persistRoundTrip(demandFeat, path).cache()
    assert(reloaded.count() === direct.count())
    // byte-identical predictions: the round-trip must not perturb the model
    assert(direct.exceptAll(reloaded).count() === 0)
    assert(reloaded.exceptAll(direct).count() === 0)
  }

  test("parallel persistence is byte-compatible with stock PipelineModel save/load") {
    import org.apache.spark.ml.{GraftParallelPersist, PipelineModel}
    val parallelPath = "/root/repo/target/test_ml_persist_par"
    val stockPath = "/root/repo/target/test_ml_persist_stock"
    // cross pairs: parallel-write → STOCK load, stock-write → PARALLEL load
    Models.persistRoundTrip(demandFeat, parallelPath) // parallel save
    val stockLoaded = PipelineModel.load(parallelPath)
    val model = stockLoaded
    model.write.overwrite().save(stockPath)
    val parLoaded = GraftParallelPersist.load(spark, stockPath)
    val test = demandFeat
      .withColumn("label", org.apache.spark.sql.functions.col("event_count").cast("double"))
      .filter(org.apache.spark.sql.functions.col("trip_date") >= "2024-01-25")
    val cols = Seq("trip_date", "hour", "zone_id", "prediction").map(
      org.apache.spark.sql.functions.col)
    val a = stockLoaded.transform(test).select(cols: _*)
    val b = parLoaded.transform(test).select(cols: _*)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("quality classifier: AUC beats naive on a planted garbage stratum") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    def spam(baseId: Long, n: Int) = (0 until n).map { i =>
      (baseId + i, (s"spamtok${i % 3} " * (30 + i % 20)) + s"spamtail${i % 5}")
    }.toDF("doc_id", "text")
    // fastText recipe: trusted = a (noisy) positive set — the even half
    // of the real corpus; negatives = everything else, i.e. the training
    // spam AND the odd real docs (positives hiding in the negatives, as
    // in a real crawl). Length/punct stats of the spam look clean — only
    // the token surface separates it.
    val trainCorpus = docs.unionByName(spam(800000L, 60))
    val trusted = docs.filter(col("doc_id") % 2 === 0)
    // held out: the odd real docs + NEW spam docs (same token family,
    // different lengths/mixes)
    val holdout = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(spam(900000L, 40))
    val scored = Models.qualityClassifier(
      trainCorpus, trusted = Some(trusted), scoreDocs = Some(holdout)).cache()
    assert(scored.count() === holdout.count())
    val pAvg = scored.filter(col("doc_id") >= 900000L)
      .agg(avg("quality_prob")).head().getDouble(0)
    val cAvg = scored.filter(col("doc_id") < 900000L)
      .agg(avg("quality_prob")).head().getDouble(0)
    assert(pAvg < cAvg, s"held-out spam $pAvg should score below clean $cAvg")
    // AUC of quality_prob against is-real ground truth on the HELD-OUT
    // frame: the learned token surface must beat the naive 0.5 coin
    val ev = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol("truth").setRawPredictionCol("quality_prob")
      .setMetricName("areaUnderROC")
    val auc = ev.evaluate(scored.withColumn("truth",
      (col("doc_id") < 900000L).cast("double")))
    assert(auc > 0.8, s"AUC $auc must beat naive 0.5 decisively")
    scored.unpersist()
  }

  test("surge classifier: deterministic seeded predictions with sane accuracy") {
    val surgeFeat = FeatureEngineering.surgeFeatures(silver).cache()
    val preds = Models.surgeClassifier(surgeFeat).cache()
    assert(preds.count() > 0)
    val m = Models.classificationMetrics(preds)
    assert(m("accuracy") > 0.34, s"accuracy ${m("accuracy")} should beat 3-way chance")
    // determinism: same seed + date split → identical predictions
    val again = Models.surgeClassifier(surgeFeat)
    assert(preds.exceptAll(again).count() === 0)
  }

  test("experiment tracking: one run row per fit, metrics match the evaluations") {
    val path = "/root/repo/target/test_ml_runs"
    val runs = graft.ml.Experiments.trackedDemandRuns(demandFeat, path).cache()
    assert(runs.count() === 2)
    assert(runs.select("model").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet === Set("random_forest", "linear"))
    // metrics in the table equal a fresh evaluation of the same fit
    // (the RF is cache-shared, the split is a pure date filter)
    val logged = runs.filter(col("model") === "random_forest")
      .select(element_at(col("metrics"), "rmse")).head().getDouble(0)
    val fresh = Models.regressionMetrics(Models.demandRandomForest(demandFeat))("rmse")
    assert(logged === fresh, s"logged rmse $logged != fresh $fresh")
    // params survive the round-trip
    assert(runs.filter(col("model") === "random_forest")
      .select(element_at(col("params"), "numTrees")).head().getString(0) === "20")
    // append-only: logging again without freshStart grows the table
    graft.ml.Experiments.logRun(spark, path, "manual",
      Map("k" -> "v"), Map("rmse" -> 1.0),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(graft.ml.Experiments.runsTable(spark, path).count() === 3)
    // history + champion views
    assert(graft.ml.Experiments.history(spark, path, "manual").count() === 1)
    val best = graft.ml.Experiments.bestByMetric(spark, path, "rmse")
    assert(best.count() === 3) // one champion per model
    // a run MISSING the requested metric must never be crowned champion:
    // ascending order defaults to NULLs-first, so without nulls_last this
    // classifier-style run (no rmse in its metrics map) would win
    graft.ml.Experiments.logRun(spark, path, "manual",
      Map("kind" -> "classifier"), Map("accuracy" -> 0.9),
      java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))
    val manualBest = graft.ml.Experiments.bestByMetric(spark, path, "rmse")
      .filter(col("model") === "manual")
      .select(element_at(col("metrics"), "rmse")).head()
    assert(!manualBest.isNullAt(0) && manualBest.getDouble(0) === 1.0,
      "champion must be the run that HAS the metric, not the NULL one")
  }

  test("experiment tracking: deterministic run_ids and a scalar-typed gate view") {
    val path = "/root/repo/target/test_ml_runs_ids"
    val runs = graft.ml.Experiments.trackedDemandRuns(demandFeat, path)
    // run_id is md5(model|key-sorted params|pinned trained_at) — fully
    // reproducible, so the exact ids are pinned here (the driver's
    // rows-only check sees a byte-stable table across replays)
    val ids = runs.select("run_id").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(ids === Set(
      "03cb2fecd0ae4ddd266f9748f8f3150d", // random_forest
      "1d2159ec4b2be48c75aa2320bb0c8cc9"), // linear
      s"unexpected run_ids: $ids")
    // gate view: every column scalar (no MapType anywhere — the driver's
    // pandas sort crashes on unhashable map cells), maps rendered as
    // key-sorted JSON so the string is deterministic
    val view = graft.ml.Experiments.runsScalarView(runs)
    assert(view.count() === 2)
    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
      case _ => false
    }
    assert(view.schema.fields.forall(f => !containsMap(f.dataType)),
      "gate view must contain no map types")
    val pj = view.filter(col("model") === "random_forest")
      .select("params_json").head().getString(0)
    assert(pj ===
      """[{"key":"maxDepth","value":"8"},{"key":"numTrees","value":"20"},{"key":"seed","value":"42"}]""",
      s"params_json not key-sorted deterministic: $pj")
  }

  test("regressionMetrics: exact on a hand-sized frame, fails clearly on an empty one") {
    import spark.implicits._
    // e = (0, 0, 1): sse 1, sae 1; label mean 2, SStot 2
    val m = Models.regressionMetrics(
      Seq((1.0, 1.0), (2.0, 2.0), (3.0, 4.0)).toDF("label", "prediction"))
    assert(m("rmse") === math.sqrt(1.0 / 3))
    assert(m("mae") === 1.0 / 3)
    assert(m("r2") === 0.5)
    val e = intercept[IllegalArgumentException] {
      Models.regressionMetrics(Seq.empty[(Double, Double)].toDF("label", "prediction"))
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }
}
