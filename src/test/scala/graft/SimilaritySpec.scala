package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val emb = {
    graft.functions.GraftFunctions.register(spark) // bucketCol is native now
    Tables.embeddings(spark, dir).cache()
  }
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("brute force: exactly k neighbors per query, ranked by cosine") {
    val top = Similarity.bruteForceTopK(emb, queries, k = 5).cache()
    assert(top.groupBy("query_id").count().filter(col("count") =!= 5).count() === 0)
    // rank 1 cosine >= rank 5 cosine within each query
    val byQuery = top.groupBy("query_id")
      .agg(max(when(col("rank") === 1, col("cosine"))).as("c1"),
        max(when(col("rank") === 5, col("cosine"))).as("c5"))
    assert(byQuery.filter(col("c1") < col("c5")).count() === 0)
    assert(top.filter(col("query_id") === col("neighbor_id")).count() === 0)
  }

  test("radius search: exactly the above-threshold slice of the full score set") {
    val tau = 0.3
    val rad = Similarity.radiusSearch(emb, queries, minCosine = tau).cache()
    assert(rad.filter(col("cosine") < tau).count() === 0)
    // agrees with brute force where the shapes overlap: any top-k neighbor
    // scoring >= tau must appear in the radius set with the same cosine
    val topAbove = Similarity.bruteForceTopK(emb, queries, k = 5)
      .filter(col("cosine") >= tau)
      .select("query_id", "neighbor_id", "cosine")
    assert(topAbove.exceptAll(rad.select("query_id", "neighbor_id", "cosine")).count() === 0)
    // exact set equivalence against an unthresholded rescore: the >= tau
    // slice of ALL pair scores is the radius result, both directions —
    // a variant that silently dropped an above-threshold pair outside
    // the top-k, or let a sub-tau pair through, fails here
    val full = Similarity.radiusSearch(emb, queries, minCosine = -2.0)
      .select("query_id", "neighbor_id", "cosine")
    val expected = full.filter(col("cosine") >= tau)
    val got = rad.select("query_id", "neighbor_id", "cosine")
    assert(expected.exceptAll(got).count() === 0,
      "radius set is missing above-threshold pairs")
    assert(got.exceptAll(expected).count() === 0,
      "radius set contains pairs the full rescore doesn't place above tau")
    val n = rad.count()
    assert(n > 0, "tau=0.3 must catch some neighbors in this corpus")
  }

  test("lsh buckets are balanced enough and every ann pair shares a bucket in some table") {
    val buckets = emb.select(
      Similarity.bucketCol(col("embedding"), 4).as("bucket"))
    val n = buckets.select("bucket").distinct().count()
    assert(n > 4, s"expected spread over >4 of 16 buckets, got $n")
    val ann = Similarity.lshTopK(emb, queries, k = 5).cache()
    assert(ann.count() > 0)
    assert(ann.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
    // every returned pair collides with the query in at least one of the
    // 4 tables — exactly (probes = 1 multiprobe) or within one flipped
    // plane bit (bucket ids differ in ≤ 1 bit)
    val np = Similarity.autoPlanes(emb.count())
    val tables = 4
    val withBuckets = (0 until tables).map { t =>
      emb.select(col("vec_id"),
        Similarity.bucketCol(col("embedding"), np, planeOffset = t * np).as(s"b$t"))
    }.reduce(_.join(_, "vec_id"))
    var qSide = withBuckets.withColumnRenamed("vec_id", "query_id")
    (0 until tables).foreach(t => qSide = qSide.withColumnRenamed(s"b$t", s"qb$t"))
    val joined = ann
      .join(qSide, "query_id")
      .join(withBuckets.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    val collides = (0 until tables)
      .map(t => expr(s"bit_count(qb$t ^ b$t) <= 1"))
      .reduce(_ || _)
    assert(joined.filter(!collides).count() === 0)
  }

  test("ivf ann: deterministic centroids, bounded candidates, decent recall vs brute force") {
    val ivf = Similarity.ivfTopK(emb, queries, k = 1).cache()
    // deterministic: same call, same results
    assert(ivf.exceptAll(Similarity.ivfTopK(emb, queries, k = 1)).count() === 0)
    // at most k rows per query, never the query itself
    assert(ivf.groupBy("query_id").count().filter(col("count") > 1).count() === 0)
    assert(ivf.filter(col("query_id") === col("neighbor_id")).count() === 0)
    // probing 4/16 cells must recall the true top-1 for a majority of
    // queries on this corpus (embeddings are label-clustered)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("neighbor_id").as("bf_top1"))
    val hits = ivf.join(bf, "query_id")
      .filter(col("neighbor_id") === col("bf_top1")).count()
    assert(hits >= queries.count() / 2, s"ivf recall@1 too low: $hits/${queries.count()}")
    // ANN cosine can never beat brute force
    val j = bf.join(Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("cosine").as("bf_cos")), "query_id")
      .join(ivf.select(col("query_id"), col("cosine").as("ivf_cos")), "query_id")
    assert(j.filter(col("ivf_cos") > col("bf_cos") + 1e-12).count() === 0)
  }

  test("auto plane count scales with corpus size; multi-table recall never hurts") {
    assert(Similarity.autoPlanes(500) === 4)
    assert(Similarity.autoPlanes(2000) === 5)
    assert(Similarity.autoPlanes(1000000000L) === 24)
    // capped at 30: the native bucket id is an int (nPlanes < 31); past
    // 2^30 buckets the lever is more tables, not more planes
    assert(Similarity.autoPlanes(Long.MaxValue) === 30)
    // table 0 of the 2-table index IS the 1-table index → candidate set
    // only grows → per-query top-1 cosine can only improve
    val np = Similarity.autoPlanes(emb.count())
    val one = Similarity.lshTopK(emb, queries, k = 1, nPlanes = np, tables = 1)
      .select(col("query_id"), col("cosine").as("c1"))
    val two = Similarity.lshTopK(emb, queries, k = 1, nPlanes = np, tables = 2)
      .select(col("query_id"), col("cosine").as("c2"))
    assert(one.join(two, "query_id").filter(col("c2") < col("c1") - 1e-12).count() === 0)
  }

  test("lshTopK plans ONE corpus-side scan regardless of table count") {
    // the per-table union shape re-read the corpus `tables` times (4
    // scans at the default — 4× the IO at 100 TB for identical join
    // input); the exploded (t, bucket) shape reads it once. Two scans
    // total: corpus + the query slice (itself a scan of the same file).
    val scans = Similarity.lshTopK(emb, queries, k = 5)
      .queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
    assert(scans.size <= 2, s"expected one corpus + one query scan, got ${scans.size}")
  }

  test("annEval: confusion row is consistent with the two searches it compares") {
    val row = Similarity.annEval(emb, queries).head()
    val (tp, fp, fn) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"), row.getAs[Long]("fn"))
    val recall = row.getAs[Double]("recall_at_k")
    // the exact side always emits k=5 per query on this corpus
    assert(tp + fn === 5L * queries.count())
    // both sides emit ranked lists: extra LSH picks == missed exact picks
    assert(tp + fp <= 5L * queries.count())
    assert(recall === tp.toDouble / (tp + fn))
    // the row's job is to MEASURE the deployed config; the floor only
    // guards collapse. Both recall levers must move the measurement up
    // (superset candidates + exact rescoring ⇒ monotone recall):
    // more tables, and — the round-11 default — 1-bit multiprobe, which
    // recovers neighbors lost to one marginal plane dot without adding
    // corpus-side hash tables.
    assert(recall >= 0.2, s"ann recall@5 collapsed: $recall")
    val narrow = Similarity.annEval(emb, queries, tables = 2, probes = 0)
      .head().getAs[Double]("recall_at_k")
    val wideTables = Similarity.annEval(emb, queries, tables = 4, probes = 0)
      .head().getAs[Double]("recall_at_k")
    val multiprobe = Similarity.annEval(emb, queries, tables = 2, probes = 1)
      .head().getAs[Double]("recall_at_k")
    assert(wideTables >= narrow, s"4-table recall $wideTables fell below 2-table $narrow")
    assert(multiprobe >= narrow, s"multiprobe recall $multiprobe fell below single-probe $narrow")
    // the deployed default (4 tables × 1-bit probes) must not regress
    // below the pre-round-11 default (2 tables, exact buckets only) —
    // the fix v_ev's 0.32 measurement demanded
    assert(recall >= narrow, s"deployed default $recall below old default $narrow")
  }

  test("ivfPqEval: deployed-config recall floor; exhaustive point is exactly 1.0") {
    val row = Similarity.ivfPqEval(emb, queries).head()
    val (tp, fn) = (row.getAs[Long]("tp"), row.getAs[Long]("fn"))
    val recall = row.getAs[Double]("recall_at_k")
    assert(tp + fn === 5L * queries.count())
    assert(recall === tp.toDouble / (tp + fn))
    // the deployed v_iq/v_ix config (nprobe=4/16, refine=4) must clear
    // the same floor its rows-only spec pins
    assert(recall >= 0.5, s"ivf-pq recall@5 collapsed at deployed config: $recall")
    // probing EVERY cell with a corpus-sized ADC shortlist makes the
    // pipeline exhaustive — recall is 1.0 exactly, not approximately
    // (the identity that proves the QA measures what it claims)
    val exhaustive = Similarity.ivfPqEval(emb, queries,
      nprobe = 16, refine = (emb.count() / 5L + 1L).toInt)
      .head().getAs[Double]("recall_at_k")
    assert(exhaustive === 1.0, s"exhaustive IVF-PQ must equal brute force: $exhaustive")
    // refine IS a monotone lever at fixed nprobe: a larger ADC
    // shortlist is a superset, and the exact re-rank of a superset can
    // only cover more of the true top-k. (nprobe alone is NOT monotone
    // at fixed refine — more probed cells means more ADC-scored
    // competitors for the same k×refine slots, and ADC ranking error
    // can evict true neighbors; measured on this corpus: nprobe=16
    // refine=4 scores BELOW nprobe=4 refine=4. The BASELINE curve
    // records it — the levers must move together.)
    val narrow = Similarity.ivfPqEval(emb, queries, refine = 1)
      .head().getAs[Double]("recall_at_k")
    val wide = Similarity.ivfPqEval(emb, queries, refine = 8)
      .head().getAs[Double]("recall_at_k")
    assert(narrow <= wide,
      s"refine must be monotone at fixed nprobe: $narrow > $wide")
  }

  test("label outliers: a planted far vector ranks first in its label") {
    import spark.implicits._
    // label 1: 20 near-identical vectors + one pointing the other way
    val base = (0 until 20).map(i => (i.toLong, Array.fill(64)(1.0f + i * 0.001f), 1))
    val planted = (99L, Array.fill(64)(-1.0f), 1)
    val df = (base :+ planted).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(df, k = 3).collect()
    val first = out.filter(_.getAs[Int]("rank") == 1).head
    assert(first.getAs[Long]("vec_id") === 99L, "the anti-aligned vector must rank 1")
    assert(first.getAs[Double]("centroid_cosine") < 0.0)
    // corpus-wide: k rows per label, ranks dense from 1
    val corpus = Similarity.labelOutliers(emb).cache()
    val perLabel = corpus.groupBy("label").count()
    assert(perLabel.filter(col("count") =!= 5).count() === 0)
  }

  test("kmeans: deterministic fit, full coverage, assignment matches best centroid") {
    val cents1 = Similarity.kmeansFit(emb, nlist = 8, iters = 2)
    val cents2 = Similarity.kmeansFit(emb, nlist = 8, iters = 2)
    assert(cents1.map(_.toSeq).toSeq === cents2.map(_.toSeq).toSeq,
      "same corpus + seeds must fit identical centroids")
    val assign = Similarity.kmeansAssign(emb, cents1).cache()
    assert(assign.count() === emb.count())
    assert(assign.filter(col("cell") < 0 || col("cell") >= 8).count() === 0)
    assert(assign.filter(col("centroid_cosine") < -1.0 || col("centroid_cosine") > 1.0)
      .count() === 0)
    // every cell non-empty on this corpus (seeds come from the corpus itself)
    assert(assign.select("cell").distinct().count() === 8)
  }

  test("lsh ann recalls the bucket-local subset of brute-force ranking") {
    val bf = Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("neighbor_id").as("bf_top1"))
    val ann = Similarity.lshTopK(emb, queries, k = 1)
      .select(col("query_id"), col("neighbor_id").as("ann_top1"))
    // when the true top-1 lands in the query's bucket, ANN must return it;
    // sanity: ANN top-1 cosine never exceeds brute-force top-1 cosine
    val j = Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("cosine").as("bf_cos"))
      .join(Similarity.lshTopK(emb, queries, k = 1)
        .select(col("query_id"), col("cosine").as("ann_cos")), "query_id")
    assert(j.filter(col("ann_cos") > col("bf_cos") + 1e-12).count() === 0)
  }

  test("pq: codes in range, deterministic, recall floor vs exact top-5") {
    val books = Similarity.pqFit(emb, m = 4, k = 16)
    assert(books.length === 4 && books.forall(_.length === 16) &&
      books.forall(_.forall(_.length === 16)))
    val codes = Similarity.pqEncode(emb, books).cache()
    assert(codes.count() === emb.count())
    (0 until 4).foreach { s =>
      assert(codes.filter(col(s"c$s") < 0 || col(s"c$s") > 15).count() === 0)
      // every subspace uses a spread of centroids (not a degenerate fit)
      assert(codes.select(s"c$s").distinct().count() >= 4, s"subspace $s degenerate")
    }
    val pq = Similarity.pqTopK(emb, queries, k = 5).cache()
    assert(pq.exceptAll(Similarity.pqTopK(emb, queries, k = 5)).count() === 0)
    assert(pq.groupBy("query_id").count().filter(col("count") =!= 5).count() === 0)
    // recall@5 vs the exact top-5: 16 centroids × 4 subspaces on a
    // label-clustered 64-dim corpus must recover most true neighbors
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = pq.select("query_id", "neighbor_id").intersect(bf).count()
    val total = bf.count()
    assert(hits.toDouble / total >= 0.5, s"pq recall@5 too low: $hits/$total")
    // same declared-quadratic broadcast contract as sim_bf: a
    // BroadcastNestedLoopJoin streams the coded corpus
    val plan = pq.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"expected broadcast join in:\n$plan")
    codes.unpersist(); pq.unpersist()
  }

  test("ivf-pq: candidate volume bounded by the cell filter, recall floor vs exact top-5") {
    val ivfpq = Similarity.ivfPqTopK(emb, queries, k = 5).cache()
    // deterministic + shape contracts
    assert(ivfpq.exceptAll(Similarity.ivfPqTopK(emb, queries, k = 5)).count() === 0)
    assert(ivfpq.groupBy("query_id").count().filter(col("count") > 5).count() === 0)
    assert(ivfpq.filter(col("query_id") === col("neighbor_id")).count() === 0)
    // the IVF half actually prunes: candidates scored = rows of the
    // cell-filtered probe join, independently recomputed — must stay in
    // family with nprobe/nlist (×2 slack for cell-size skew) of the
    // pqTopK cross product this operator exists to avoid
    val cents = Similarity.kmeansFit(emb, nlist = 16, iters = 2)
    val cand = emb.select(col("vec_id").as("neighbor_id"),
      Similarity.cellOf(cents).as("cell"))
      .join(queries.select(col("vec_id").as("query_id"),
        explode(Similarity.nearestCells(cents, 4)).as("cell")), Seq("cell"))
      .count()
    val crossProduct = emb.count() * queries.count()
    assert(cand.toDouble / crossProduct <= 2.0 * 4 / 16,
      s"ivf cell filter failed to prune: $cand of $crossProduct pairs scored")
    // recall@5 vs exact: the composed index must not lose the recall the
    // PQ half alone achieves on this corpus (coarse quantizer misses are
    // bounded by nprobe=4 of 16 on label-clustered embeddings)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivfpq.select("query_id", "neighbor_id").intersect(bf).count()
    val total = bf.count()
    assert(hits.toDouble / total >= 0.5, s"ivf-pq recall@5 too low: $hits/$total")
    // ANN cosine never beats brute force (exact re-rank returns true cosines)
    val j = Similarity.bruteForceTopK(emb, queries, k = 1)
      .select(col("query_id"), col("cosine").as("bf_cos"))
      .join(ivfpq.filter(col("rank") === 1)
        .select(col("query_id"), col("cosine").as("ann_cos")), "query_id")
    assert(j.filter(col("ann_cos") > col("bf_cos") + 1e-12).count() === 0)
    ivfpq.unpersist()
  }

  test("persisted ANN index: query refits nothing, equals inline IVF-PQ, partition-prunes to probed cells") {
    val path = java.nio.file.Files.createTempDirectory("graft_annix").toString
    Similarity.buildAnnIndex(emb, path)
    // the model sidecar landed and the index is cell-partitioned on disk
    assert(new java.io.File(s"$path/_model/model.txt").exists())
    assert(new java.io.File(s"$path/index").listFiles()
      .exists(_.getName.startsWith("cell=")))
    val viaIndex = Similarity.queryAnnIndex(spark, path, emb, queries)
    val got = viaIndex.collect().toSet
    // deterministic fits ⇒ the persisted index answers EXACTLY like the
    // inline fit-and-query operator with the same parameters
    val inline = Similarity.ivfPqTopK(emb, queries).collect().toSet
    assert(got === inline, "index query diverged from inline ivfPqTopK")
    // the scale point of partitioning by cell: the broadcast probe join
    // on the PARTITION column triggers dynamic partition pruning — the
    // ADC scan reads the probed cell directories, not the index
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell in:\n${plan.take(3000)}")
  }

  /** A search result's rows in rank order, for exact comparison. */
  private def ranked(df: DataFrame) = df.orderBy("query_id", "rank").collect().toSeq

  test("ivfTopK probing every cell returns exactly bruteForceTopK's rows") {
    assert(ranked(Similarity.ivfTopK(emb, queries, k = 5, nprobe = 16)) ===
      ranked(Similarity.bruteForceTopK(emb, queries, 5)))
  }

  test("ivfPqTopK with one cell returns exactly pqTopK's rows") {
    // one cell: the cell join and the cross join score the same pairs
    // against the same codebooks
    assert(ranked(Similarity.ivfPqTopK(emb, queries, nlist = 1, nprobe = 1)) ===
      ranked(Similarity.pqTopK(emb, queries)))
  }

  test("Lloyd fits are bit-identical run to run on a multi-partition corpus") {
    // the per-round partials merge in partition order, not in the order
    // the tasks happen to finish
    val corpus = emb.repartition(8).cache()
    assert(corpus.rdd.getNumPartitions === 8)
    def bits(a: Array[Array[Double]]) =
      a.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    val fits = (1 to 5).map { _ =>
      (bits(Similarity.kmeansFit(corpus, nlist = 8, iters = 2)),
        Similarity.pqFit(corpus, m = 4, k = 16).map(bits).toSeq)
    }
    assert(fits.distinct.size === 1, "five fits of one corpus differ")
    corpus.unpersist()
  }

  test("ANN model format: buildAnnIndex writes the golden model.txt, queryAnnIndex answers like ivfPqTopK") {
    val fx = SimilaritySpec.annFixture(spark)
    val path = Files.createTempDirectory("graft_annfmt").toString
    Similarity.buildAnnIndex(fx, path, nlist = 4, m = 2, kCent = 4)
    val got = new String(Files.readAllBytes(Paths.get(path, "_model", "model.txt")), "UTF-8")
    val want = new String(Files.readAllBytes(SimilaritySpec.GoldenModel), "UTF-8")
    assert(got === want)
    val q = fx.filter(col("vec_id") < 6)
    assert(ranked(Similarity.queryAnnIndex(spark, path, fx, q, k = 3, nprobe = 2)) ===
      ranked(Similarity.ivfPqTopK(fx, q, k = 3, nlist = 4, nprobe = 2, m = 2, kCent = 4)))
  }
}

object SimilaritySpec {
  /** The model file [[annFixture]]'s index was written with. */
  val GoldenModel = Paths.get("src/test/resources/golden_ann/model.txt")

  /** 48 vectors of 8 dims from a closed form, exact in double: four
    * clusters (a 4.0 offset on the dims congruent to the id mod 4) plus a
    * deterministic wobble in [-1, 1]. One partition, so every Lloyd round
    * sums its rows in one order. */
  def annFixture(spark: SparkSession): DataFrame =
    spark.range(0, 48, 1, 1).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        when(col("id") % 4 === d % 4, lit(4.0)).otherwise(lit(0.0)) +
          ((col("id") * (d + 3)) % 17 - 8) / 8.0): _*).as("embedding"))
}
