package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipeline.Pipeline
import graft.similarity.Similarity

/** `corpus_curation`: LLM-corpus curation and similarity search. The
  * timed section runs `Pipeline.runCuration` and writes its `curated`
  * and `split` outputs, then `Dedup.semanticDedup`, then
  * `Similarity.buildAnnIndex`, then a fixed sequence of
  * `queryAnnIndex` batches against that index.
  *
  * Checks: the written curated/split counts against
  * `Pipeline.curationReport`, every planted near-duplicate vector pair
  * among the semantic-dedup pairs, k rows per query, and the index's
  * mean recall@5 against `bruteForceTopK`, measured after the clock on
  * [[CorpusCuration.RecallQueries]] queries (the timed ones among them). */
final class CorpusCuration(ctx: Ctx, warm: Boolean) extends Workload {
  import CorpusCuration._

  val name = "corpus_curation"
  private val spark = ctx.spark
  private val inDir = ctx.dir("in")
  private var docRows: Array[Array[Row]] = _
  private var embRows: Array[Array[Row]] = _
  private var docStats: Gen.DocStats = _
  private var embStats: Gen.EmbStats = _
  private var planted: Set[(Long, Long)] = Set.empty
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var report: Map[String, Long] = Map.empty

  private val docCount = if (warm) WarmDocs else Docs
  private val vecCount = if (warm) WarmVectors else Vectors
  private def batches: Int = math.max(1, math.round(ctx.seconds / NominalBatchSeconds).toInt)

  def generate(): Unit = {
    val (d, ds) = Gen.documents(ctx.seed, docCount, ctx.cores)
    val (e, es, pl) = Gen.embeddings(ctx.seed, vecCount, ctx.cores)
    docRows = d; docStats = ds
    embRows = e; embStats = es; planted = pl
  }

  def writeInputs(): Unit = {
    Gen.write(spark, docRows, Gen.DocSchema, s"$inDir/documents.parquet")
    Gen.write(spark, embRows, Gen.EmbSchema, s"$inDir/embeddings.parquet")
  }

  def inputs: Seq[(String, Long)] = Seq(
    "documents_rows" -> docStats.rows, "documents_near_dups" -> docStats.nearDups,
    "documents_exact_dups" -> docStats.exactDups, "embeddings_rows" -> embStats.rows,
    "embeddings_planted_dups" -> embStats.planted, "embedding_dim" -> embStats.dim.toLong,
    "query_batches" -> batches.toLong, "queries_per_batch" -> QueriesPerBatch.toLong)

  private def docs: DataFrame = graft.Tables.documents(spark, inDir)
  private def emb: DataFrame = graft.Tables.embeddings(spark, inDir)
  private def benchmarkSet(d: DataFrame): DataFrame = d.filter(col("doc_id") % 20 === 0)

  /** Query `i` of the run: ids spread over the whole id range. */
  private def queryId(i: Int): Long = Math.floorMod(i.toLong * 7919L, vecCount.toLong)
  private def batchIds(b: Int): Seq[Long] =
    (b * QueriesPerBatch until (b + 1) * QueriesPerBatch).map(queryId)
  /** The queries recall is measured on: the timed batches' and more. */
  private def recallIds: Seq[Long] =
    (0 until math.max(RecallQueries, batches * QueriesPerBatch)).map(queryId).distinct

  /** The curation report the written outputs are checked against (it
    * runs the same text and dedup operators, so it also warms them) and
    * the exact top-k of every query recall is measured on. */
  def prepare(): Unit = {
    val d = docs
    report = Pipeline.curationReport(d, benchmarkSet(d), MinQuality, Rates, DefaultRate)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    ctx.info("curation_report") = Json.obj(report.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id").isin(recallIds: _*)), K)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  def timed(): Unit = {
    val out = ctx.dir("out")
    val d = docs
    val e = emb
    ctx.op("curation", "corpus.curation") {
      val outs = ctx.span("dedup.run_curation")(
        Pipeline.runCuration(d, benchmarkSet(d), MinQuality, Rates, DefaultRate))
      ctx.span("sampling.write_curated")(outs("curated").write.mode("overwrite").parquet(s"$out/curated"))
      ctx.span("sampling.write_split")(outs("split").write.mode("overwrite").parquet(s"$out/split"))
    }(_ => checkCuration(out))

    ctx.op("dedup", "dedup.semantic_dedup")(
      Dedup.semanticDedup(e, threshold = DedupThreshold).select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    ) { pairs =>
      val missed = planted.count(p => !pairs.contains(p))
      ctx.info("semantic_dedup_pairs") = Json.num(pairs.size.toLong)
      if (missed > 0) Some(s"semanticDedup missed $missed of ${planted.size} planted pairs") else None
    }

    val index = s"$out/index"
    ctx.op("build", "similarity.build_index")(Similarity.buildAnnIndex(e, index))(_ => None)
    if (ctx.trace.isDefined) {
      // the index build's phases, each through its public function
      ctx.span("similarity.kmeans_fit")(Similarity.kmeansFit(e, 16, 2))
      val books = ctx.span("similarity.pq_fit")(Similarity.pqFit(e, 4, 16, 2))
      ctx.span("similarity.pq_encode")(Similarity.pqEncode(e, books).collect())
    }

    for (b <- 0 until batches if b == 0 || !Main.pastDeadline) {
      val ids = batchIds(b)
      ctx.op("ann_query", "similarity.query")(query(index, ids))(rowsCheck(ids, _))
    }
    checkRecall(index)
  }

  private def query(index: String, ids: Seq[Long]): Array[Row] = Similarity.queryAnnIndex(spark, index,
    emb, emb.filter(col("vec_id").isin(ids: _*)), K).collect()

  private def rowsCheck(ids: Seq[Long], rows: Array[Row]): Option[String] =
    if (rows.length != ids.size * K) Some(s"query of ${ids.size} returned ${rows.length} rows, want ${ids.size * K}")
    else None

  /** recall@5 of the index on [[RecallQueries]] queries,
    * after the clock: the timed batches are too few for a steady mean. */
  private def checkRecall(index: String): Unit = {
    ctx.attempted += 1
    val ids = recallIds
    val rows = query(index, ids)
    val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = ids.map(q => (got.getOrElse(q, Set.empty[Long]) intersect truth(q)).size).sum.toDouble /
      (ids.size * K)
    ctx.gauges("similarity.recall_at_5") = recall
    ctx.info("ann_recall_at_5") = Json.num(recall)
    // the floor holds for the real input's size; the warm-up's is smaller
    rowsCheck(ids, rows).orElse(
      if (!warm && recall < RecallFloor) Some(f"ANN recall@5 $recall%.3f is below the floor $RecallFloor")
      else None).foreach(ctx.fail)
  }

  /** Written curated/split row counts against the one-pass report, and
    * their digests against the recorded ones when the seed has them. */
  private def checkCuration(out: String): Option[String] = {
    val curated = spark.read.parquet(s"$out/curated")
    val split = spark.read.parquet(s"$out/split")
    val got = Map("curated" -> curated.count()) ++ split.groupBy("split").count().collect()
      .map(r => s"split_${r.getString(0)}" -> r.getLong(1))
    Seq("curated", "split_train", "split_val", "split_test")
      .find(k => got.getOrElse(k, 0L) != report.getOrElse(k, -1L))
      .map(k => s"$k rows ${got.getOrElse(k, 0L)} != curationReport ${report.getOrElse(k, -1L)}")
      .orElse(
        if (!warm && (Expected.has(name, ctx.seed) || Expected.record))
          Expected.check(name, ctx.seed, Seq("curated" -> Ctx.digest(curated), "split" -> Ctx.digest(split)))
        else None)
  }
}

object CorpusCuration {
  val Docs = 1500
  val Vectors = 2000
  /** Input sizes of the warm-up run. */
  val WarmDocs = 300
  val WarmVectors = 400
  val K = 5
  val QueriesPerBatch = 10
  val MinQuality = 0.2
  val Rates: Map[String, Double] = Map("en" -> 0.5, "de" -> 0.25)
  val DefaultRate = 0.1
  /** Cosine at or above which two vectors are semantic duplicates. */
  val DedupThreshold = 0.95
  /** Mean recall@5 below this fails the run's recall check: an index
    * that got much faster by answering worse fails outright (the repo
    * measured 0.28 for ADC without the exact re-rank). The repo's spec
    * floor for the deployed IVF-PQ default is 0.5, but on this corpus the
    * current code measures 0.44-0.70 depending on the seed, through the
    * index fit (66 seeds: mean 0.56, standard deviation 0.06), so a floor
    * near the lowest value would fail unchanged code about once in fifty
    * runs. This one is over three deviations below the mean; smaller
    * losses show in the traced runs' `similarity.query.recall_at_5`
    * median. */
  val RecallFloor = 0.35
  /** Queries recall@5 is measured on. */
  val RecallQueries = 200
  /** Query batches run = run seconds / this. */
  val NominalBatchSeconds = 1.5
}
