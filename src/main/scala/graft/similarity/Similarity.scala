package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.8).
  *
  * Five top-k search faces:
  *   - [[bruteForceTopK]] — exact cosine top-k via a broadcast cross join
  *     + rank window. Quadratic in corpus size: the CORRECTNESS BASELINE,
  *     never the scale path. The queries (small) broadcast; the corpus
  *     only streams. [[radiusSearch]] is its threshold counterpart.
  *   - [[lshTopK]] — random-hyperplane LSH: each vector hashes to a
  *     bucket by the sign pattern of its dot products with `nPlanes`
  *     fixed pseudo-random hyperplanes; search touches only the query's
  *     bucket. Cost drops from |Q|×|C| to |Q|×|bucket| (expected
  *     |C|/2^nPlanes). Buckets are the only shuffle key.
  *   - [[ivfTopK]] — k-means cells; each query scores its `nprobe`
  *     nearest cells.
  *   - [[pqTopK]] — product-quantization codes scored by asymmetric
  *     distance (ADC) against every corpus row.
  *   - [[ivfPqTopK]] — both: ADC over the probed cells only.
  *     [[buildAnnIndex]] persists that index and [[queryAnnIndex]]
  *     queries it without refitting.
  *
  * One core under them: every exact ranking is [[rankTopK]]; the three
  * PQ faces run one ADC search ([[adcSearch]]: per-query lookup tables,
  * a k×refine shortlist, exact re-rank), which probes cells when the
  * index frame has a `cell` column; every fit is one Lloyd loop
  * ([[lloydFit]]); the persisted model has one codec ([[AnnModel]]).
  *
  * Determinism: hyperplane coefficients come from an integer LCG
  * (coef = ((1103515245·(p·dim+d) + 12345) mod 2048) − 1024) — exact
  * integer arithmetic reproducible in any engine, no RNG state. Cosines
  * are index-ordered folds, bit-identical across engines.
  */
object Similarity {

  /** Index-ordered cosine — graft's native codegen'd one-pass expression
    * (same accumulation order as an explicit fold, so the ANSI oracle
    * reproduces it bit-identically). */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(a, b)

  /** The exact ranking every search ends in: the top `k` of `scored`'s
    * (query_id, neighbor_id, cosine) pairs per query, cosine descending,
    * ties broken on neighbor_id. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact top-k neighbors per query vector (correctness baseline). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    rankTopK(c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb"))), k)
  }

  /** Exact radius search: every corpus vector within cosine ≥ `minCosine`
    * of each query — the threshold-query counterpart of [[bruteForceTopK]]
    * (top-k asks "the closest k whatever they score"; radius asks
    * "everything above a similarity bar", the shape dedup-style audits
    * and recall studies want). Same quadratic-baseline contract: queries
    * broadcast, corpus streams, no shuffle; at corpus scale run the
    * LSH/IVF candidate generators and apply the same threshold. */
  def radiusSearch(corpus: DataFrame, queries: DataFrame,
      minCosine: Double = 0.3): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb")))
      .filter(col("cosine") >= minCosine)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Sign-pattern LSH bucket id from `nPlanes` LCG hyperplanes starting at
    * global plane index `planeOffset` (distinct offsets give independent
    * hash tables — the LCG coefficient stream is indexed by the GLOBAL
    * plane number, so table t's planes are disjoint from table t−1's).
    *
    * Delegates to the native codegen'd expression
    * ([[graft.functions.HyperplaneBuckets]]): ONE fused loop computes all
    * plane dots, vs one interpreted HOF fold per plane — the cost gap
    * grows with the auto-scaled plane count. The session must have graft
    * functions registered ([[graft.functions.GraftFunctions.register]];
    * [[lshTopK]] does it for callers). The expression reads the vector
    * dimension from the array itself — no dim parameter to get wrong. */
  def bucketCol(emb: Column, nPlanes: Int, planeOffset: Int = 0): Column =
    graft.functions.GraftFunctions.hyperplaneBucket(emb, nPlanes, planeOffset)

  /** Planes needed so the EXPECTED bucket occupancy stays ~`targetBucket`
    * as the corpus grows: ⌈log₂(N / targetBucket)⌉, floored at 4. A
    * constant plane count is a scale cliff — per-query candidate cost is
    * |C|/2^planes, linear in corpus size unless the bucket space grows
    * with it (same lesson as the simhash 8-bit→15-bit band fix).
    * Capped at 30: the native expression packs the sign pattern into an
    * int bucket id (`nPlanes < 31`), and past 2^30 buckets per table the
    * right lever is more tables, not more planes. */
  def autoPlanes(corpusSize: Long, targetBucket: Int = 64): Int =
    math.min(30, math.max(4,
      math.ceil(math.log(math.max(corpusSize, 1L).toDouble / targetBucket) / math.log(2)).toInt))

  /** Cosine of the embedding column to one centroid literal. */
  private def cosTo(cent: Array[Double]): Column =
    cosine(col("embedding"), typedLit(cent.toSeq))

  /** One (cosine, cell) struct per centroid literal. */
  private def centroidScores(cents: Array[Array[Double]]): Seq[Column] =
    cents.toSeq.zipWithIndex.map { case (c, i) => struct(cosTo(c).as("cos"), lit(i).as("cell")) }

  /** Winning (cosine, cell) struct over centroid literals — struct
    * comparison is lexicographic, so `greatest` is argmax by cosine with
    * the cell index as the deterministic tie-break. `greatest` takes at
    * least two arguments, so a single centroid is its own winner. */
  private def bestCentroid(cents: Array[Array[Double]]): Column =
    centroidScores(cents) match {
      case Seq(only) => only
      case scores => greatest(scores: _*)
    }

  /** Codegen'd argmax-by-cosine cell assignment over centroid literals. */
  private[graft] def cellOf(cents: Array[Array[Double]]): Column =
    bestCentroid(cents).getField("cell")

  /** The `m` nearest cells by cosine (multi-probe assignment, the IVF
    * trick reused by SemDeDup blocking): all centroid cosines evaluate in
    * one codegen'd projection, sort_array keeps the top-m cell indices.
    * Ties resolve toward the higher cell index (struct comparison), which
    * is deterministic either way. */
  private[graft] def nearestCells(cents: Array[Array[Double]], m: Int): Column =
    transform(slice(sort_array(array(centroidScores(cents): _*), asc = false), 1, m),
      p => p.getField("cell"))

  /** Per-label centroid outliers — embedding QA: the k vectors farthest
    * (lowest cosine) from their OWN label's centroid are the mislabeled /
    * corrupt-embedding candidates a curation pass reviews.
    *
    * One posexplode+aggregate builds the per-(label, dim) means (shuffle
    * key grows with labels×dim, not corpus), centroids re-assemble as
    * arrays and broadcast back onto the corpus scan, and the bottom-k
    * window runs per label. Rank-based rather than threshold-based so the
    * output is meaningful on any corpus without tuning. */
  def labelOutliers(corpus: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = corpus
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(avg(col("v")).as("m"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("centroid"))
    val w = Window.partitionBy("label").orderBy(col("centroid_cosine").asc, col("vec_id"))
    corpus.join(broadcast(cents), "label")
      .withColumn("centroid_cosine", cosine(col("embedding"), col("centroid")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("label", "vec_id", "centroid_cosine", "rank")
  }

  /** The `n` lowest-vec_id embeddings as driver arrays — ONE bounded
    * collect (n×dim doubles, KB-sized) shared by the k-means seed set
    * and, unit-normalized driver-side, the PQ subspace seed sets, so
    * composed fits ([[ivfPqTopK]], [[buildAnnIndex]]) pay one seed job
    * instead of one per fit. */
  private def seedRows(corpus: DataFrame, n: Int): Array[Array[Double]] =
    corpus.orderBy("vec_id").limit(n).select("embedding").collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)

  /** Driver-side L2 normalization, bit-identical to [[unitCol]] over the
    * source column type: the norm is the same left-to-right fold of
    * squares (transform-then-aggregate ≡ foldLeft of x·x — identical
    * IEEE op order), and each element divides by the same double. On an
    * `array<float>` column the HOF squares in FLOAT before the double
    * accumulation (Multiply(float,float) → float), so the driver replay
    * must square through float too — the collected doubles are exact
    * float widenings, so the roundtrip loses nothing. */
  private def unitize(v: Array[Double], floatElems: Boolean): Array[Double] = {
    val n = math.sqrt(v.foldLeft(0.0)((acc, x) =>
      acc + (if (floatElems) (x.toFloat * x.toFloat).toDouble else x * x)))
    v.map(_ / n)
  }

  /** Whether the embedding column stores float elements (decides the
    * [[unitize]] square precision). */
  private def floatEmbedding(corpus: DataFrame): Boolean =
    corpus.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }

  /** Deterministic Lloyd k-means over an embedding column: seeds = the
    * `nlist` lowest-vec_id vectors, `iters` refinement rounds. Each round
    * is one distributed pass; the only driver traffic is the nlist×dim
    * centroid means (KB-sized at any corpus scale). `iters` is therefore
    * a sequential JOB-COUNT multiplier — the driver coordinates one Spark
    * job per round, so at cluster scale the knob trades centroid quality
    * against scheduler round-trips, never against shuffle volume. */
  def kmeansFit(corpus: DataFrame, nlist: Int = 16, iters: Int = 2): Array[Array[Double]] =
    lloydFit(corpus, Some(nlist), None, iters)._1.get

  /** The one Lloyd fit behind [[kmeansFit]] (`nlist` given), [[pqFit]]
    * (`pq` = (m, kCent) given) and the composed IVF-PQ fit (both): ONE
    * seed collect of the max(nlist, kCent) lowest-vec_id vectors, then
    * `iters` rounds of ONE [[roundAcc]] job each — k-means round r and
    * PQ round r share that job, since neither depends on the other's
    * state. The PQ seeds are the kCent seed rows unit-normalized
    * driver-side (bit-identical to unitCol — see [[unitize]]) and sliced
    * into every subspace's seed set; the vector dimension reads off the
    * seed rows. Fit job count: 1 + iters, whichever halves are fitted. */
  private def lloydFit(corpus: DataFrame, nlist: Option[Int], pq: Option[(Int, Int)],
      iters: Int): (Option[Array[Array[Double]]], Option[Array[Array[Array[Double]]]]) = {
    // self-register the native cosine (idempotent): cellOf's assignment
    // column resolves graft_cosine_sim at analysis time, and relying on a
    // PREVIOUS query having registered it makes the call order-dependent
    // (bit us when a key rename shuffled the Verify iteration order)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val seeds = seedRows(corpus, (nlist.toSeq ++ pq.map(_._2)).max)
    var cents = nlist.map(seeds.take)
    var books = pq.map { case (m, kCent) =>
      val rows = seeds.take(kCent).map(unitize(_, floatEmbedding(corpus)))
      require(rows.nonEmpty, "the PQ fit needs a non-empty corpus")
      val dim = rows.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val dsub = dim / m
      Array.tabulate(m)(s => rows.map(_.slice(s * dsub, (s + 1) * dsub)))
    }
    for (_ <- 0 until iters) {
      val acc = roundAcc(corpus, cents, books)
      cents = cents.map(kmRebuild(acc.kmCnt, acc.kmSum, _))
      books = books.map(pqRebuild(acc.pqCnt, acc.pqSum, _))
    }
    (cents, books)
  }

  // ------------------------------------------------------- Lloyd engine
  //
  // One Lloyd round of either fit needs only (per-cell, per-dim) value
  // sums and counts. The first formulation ran them as a
  // posexplode → groupBy → collect chain, which at ANY corpus size costs
  // one Exchange (AQE materializes it as its own job) on top of the
  // result job — at bench scale the fits were pure sequential scheduler
  // latency (guide §1.2), and at cluster scale the explode shuffles
  // corpus×dim pre-aggregated rows it never needed to. roundAcc replaces
  // the chain with ONE narrow job per round (guide §2.4 shuffle
  // removal): assignments stay the SAME codegen'd projection
  // (cellOf / PqCodes-over-unitCol), each (cell, dim) sum adds the same
  // double values in the same within-partition row order the hash
  // aggregate's partial buffers did, and mean = sum / count in one double
  // division, exactly Average's final divide. Each partition folds its
  // rows into one partial; the driver collects the partials and merges
  // them in partition-index order, never in task-completion order. So a
  // fit is a function of the corpus's partitioning alone: the same
  // partitions give bit-identical centroids and codebooks on every run,
  // and a single-split corpus gives the result the hash aggregate did.
  // Driver traffic is one KB-sized partial per partition.

  /** Partial sums for one Lloyd round: k-means per (cell, dim) and/or PQ
    * per (subspace, cell, dim) counts and value sums. Null arrays when
    * the corresponding fit is absent from the round. */
  private final case class RoundAcc(
      kmCnt: Array[Array[Long]], kmSum: Array[Array[Double]],
      pqCnt: Array[Array[Array[Long]]], pqSum: Array[Array[Array[Double]]])

  /** ONE job computing the round's sums for the k-means fit
    * (`cents` given), the PQ fit (`books` given), or BOTH fused
    * ([[lloydFit]] — the rounds are independent: cents_r depends only on
    * cents_{r-1}, books_r only on books_{r-1}, so composed fits pay one
    * job per round instead of one per fit per round). */
  private def roundAcc(corpus: DataFrame,
      cents: Option[Array[Array[Double]]],
      books: Option[Array[Array[Array[Double]]]]): RoundAcc = {
    val nlist = cents.map(_.length).getOrElse(0)
    val dim = cents.flatMap(_.headOption).map(_.length).getOrElse(0)
    val m = books.map(_.length).getOrElse(0)
    val kC = books.flatMap(_.headOption).map(_.length).getOrElse(0)
    val dsub = books.flatMap(_.headOption.flatMap(_.headOption)).map(_.length).getOrElse(0)
    val hasKm = cents.isDefined
    val hasPq = books.isDefined
    val pqBase = if (hasKm) 2 else 0
    // the SAME assignment expressions the replaced groupBy chain ran:
    // raw-embedding cell argmax for k-means, fused code kernel over the
    // unit projection for PQ — values identical by construction
    val kmCols: Seq[Column] = cents.toSeq.flatMap(cs =>
      Seq(cellOf(cs).as("cell"), col("embedding").as("raw")))
    val floatEmb = hasPq && floatEmbedding(corpus)
    val pqCols: Seq[Column] = books.toSeq.flatMap { bs =>
      Seq(graft.functions.GraftFunctions.pqCodesRaw(col("embedding"), bs).as("codes"),
        col("embedding").as("praw"))
    }
    def zero = RoundAcc(
      if (hasKm) Array.fill(nlist)(new Array[Long](dim)) else null,
      if (hasKm) Array.fill(nlist)(new Array[Double](dim)) else null,
      if (hasPq) Array.fill(m, kC)(new Array[Long](dsub)) else null,
      if (hasPq) Array.fill(m, kC)(new Array[Double](dsub)) else null)
    def seqOp(acc: RoundAcc, r: org.apache.spark.sql.Row): RoundAcc = {
      if (hasKm && !r.isNullAt(0) && !r.isNullAt(1)) {
        val cell = r.getInt(0)
        val raw = r.getSeq[Number](1)
        val n = math.min(dim, raw.length)
        var d = 0
        while (d < n) {
          acc.kmCnt(cell)(d) += 1L
          acc.kmSum(cell)(d) += raw(d).doubleValue()
          d += 1
        }
      }
      if (hasPq && !r.isNullAt(pqBase) && !r.isNullAt(pqBase + 1)) {
        val codes = r.getSeq[Int](pqBase)
        val praw = r.getSeq[Number](pqBase + 1)
        // unit view of the raw row, bit-identical to unitCol: squares in
        // FLOAT when the column is float, then the double division
        var nAcc = 0.0
        var i = 0
        while (i < praw.length) {
          val x = praw(i).doubleValue()
          nAcc += (if (floatEmb) (x.toFloat * x.toFloat).toDouble else x * x)
          i += 1
        }
        val nrm = math.sqrt(nAcc)
        var pos = 0
        while (pos < praw.length) {
          val s = pos / dsub
          if (s < m) {
            val cell = codes(s)
            acc.pqCnt(s)(cell)(pos - s * dsub) += 1L
            acc.pqSum(s)(cell)(pos - s * dsub) += praw(pos).doubleValue() / nrm
          }
          pos += 1
        }
      }
      acc
    }
    def combOp(a: RoundAcc, b: RoundAcc): RoundAcc = {
      if (hasKm) {
        var c = 0
        while (c < nlist) {
          var d = 0
          while (d < dim) {
            a.kmCnt(c)(d) += b.kmCnt(c)(d); a.kmSum(c)(d) += b.kmSum(c)(d); d += 1
          }
          c += 1
        }
      }
      if (hasPq) {
        var s = 0
        while (s < m) {
          var c = 0
          while (c < kC) {
            var d = 0
            while (d < dsub) {
              a.pqCnt(s)(c)(d) += b.pqCnt(s)(c)(d); a.pqSum(s)(c)(d) += b.pqSum(s)(c)(d); d += 1
            }
            c += 1
          }
          s += 1
        }
      }
      a
    }
    corpus.select(kmCols ++ pqCols: _*).rdd
      .mapPartitions(rows => Iterator(rows.foldLeft(zero)(seqOp)))
      .collect().foldLeft(zero)(combOp)
  }

  /** New centroids from a round's sums: mean = sum / count per dim (the
    * exact Average divide); a cell no row quantized into keeps its
    * previous centroid (the replaced chain's missing-group case). */
  private def kmRebuild(cnt: Array[Array[Long]], sum: Array[Array[Double]],
      prev: Array[Array[Double]]): Array[Array[Double]] =
    prev.indices.map { c =>
      if (cnt(c).forall(_ == 0L)) prev(c)
      else Array.tabulate(prev(c).length)(d =>
        if (cnt(c)(d) == 0L) 0.0 else sum(c)(d) / cnt(c)(d))
    }.toArray

  /** New codebooks from a round's sums — the [[kmRebuild]] contract per
    * subspace. */
  private def pqRebuild(cnt: Array[Array[Array[Long]]],
      sum: Array[Array[Array[Double]]],
      prev: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] =
    Array.tabulate(prev.length) { s =>
      Array.tabulate(prev(s).length) { c =>
        if (cnt(s)(c).forall(_ == 0L)) prev(s)(c)
        else Array.tabulate(prev(s)(c).length)(d =>
          if (cnt(s)(c)(d) == 0L) 0.0 else sum(s)(c)(d) / cnt(s)(c)(d))
      }
    }

  /** Cluster assignment for a fitted [[kmeansFit]] model: every vector's
    * cell plus its cosine to the winning centroid — shuffle-free (the
    * centroids ride along as literals in a codegen'd projection). */
  def kmeansAssign(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // ONE argmax struct supplies both columns — two parallel greatest()
    // trees would duplicate every centroid-cosine expression
    val best = bestCentroid(cents)
    corpus.select(
      col("vec_id"),
      best.getField("cell").as("cell"),
      best.getField("cos").as("centroid_cosine"))
  }

  /** Deterministic IVF (inverted-file) ANN — the coarse-quantizer
    * counterpart of [[lshTopK]]: partition the corpus into `nlist` cells
    * around k-means centroids, search only the `nprobe` cells nearest to
    * each query.
    *
    *   - centroids are DETERMINISTIC: seeds = the `nlist` lowest-vec_id
    *     vectors, refined by `iters` Lloyd rounds (assignment is a
    *     codegen'd argmax over centroid-literal cosines; the per-round
    *     collect is nlist×dim means — KB-sized at any corpus scale);
    *   - the cell id is the ONLY shuffle key; per-query candidate cost is
    *     nprobe/nlist of the corpus, tunable at query time;
    *   - recall comes from probing multiple cells (a neighbor is missed
    *     only when it quantizes outside all probed cells).
    *
    * IVF vs LSH trade-off: IVF adapts its partition to the data
    * distribution (tighter candidate sets on clustered embeddings; the
    * centroid fit is a light training pass), LSH is data-oblivious (no
    * fit, stable under distribution drift). Both are O(|C|) build +
    * sub-linear probe. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = kmeansFit(corpus, nlist, iters)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), cellOf(cents).as("cell"))
    val probed = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), explode(nearestCells(cents, nprobe)).as("cell"))
    rankTopK(c.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_emb"), col("c_emb"))), k)
  }

  /** Bucketed ANN: top-k per query among candidates that share a bucket
    * with the query in ANY of `tables` independent hash tables —
    * MULTI-PROBED (Lv et al., "Multi-Probe LSH", VLDB 2007): with
    * `probes = 1` each query additionally probes, per table, the
    * `nPlanes` buckets whose sign pattern differs in exactly one
    * hyperplane. A true neighbor lost to one marginal plane dot (the
    * dominant miss mode as [[autoPlanes]] grows with the corpus) is
    * recovered by the flipped probe, so recall holds as the corpus — and
    * with it the plane count — scales, WITHOUT multiplying the number of
    * corpus-side hash tables (measured on the test corpora: 2 tables
    * multiprobe ≥ 8 tables single-probe; curve in BASELINE.md).
    *
    *   - plane count auto-scales with corpus size ([[autoPlanes]]) unless
    *     pinned via `nPlanes` — per-query candidate cost is
    *     ~`targetBucket` × `tables` × (1 + nPlanes·probes), sub-linear in
    *     corpus size at any scale;
    *   - the probe expansion is QUERY-side only (the small broadcast
    *     frame explodes ×(1+nPlanes); the corpus still hashes each
    *     vector once per table), so the corpus-scan cost of more recall
    *     is zero;
    *   - recall widens with `tables` and with `probes`; candidates are
    *     deduped before scoring so a pair found by several probes is
    *     scored once. `probes = 0` restores exact-bucket-only search.
    *
    * `nPlanes = 0` (auto) triggers one `corpus.count()` — a metadata-only
    * job on a parquet scan; pass an explicit value to avoid it. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nPlanes: Int = 0, tables: Int = 4, targetBucket: Int = 64,
      probes: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val np = if (nPlanes > 0) nPlanes else autoPlanes(corpus.count(), targetBucket)
    // ONE corpus scan for ALL tables: every table's (t, bucket) pair is
    // computed in a single projection and exploded, instead of a
    // per-table union that re-reads the corpus `tables` times — at
    // 100 TB the union shape pays `tables`× the scan IO for identical
    // join input (the spec asserts the plan's corpus-side scan count)
    def tableBucket(t: Int): Column =
      struct(lit(t).as("t"),
        bucketCol(col("embedding"), np, planeOffset = t * np).as("bucket"))
    val c = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        explode(array((0 until tables).map(tableBucket): _*)).as("tb"))
      .select(col("neighbor_id"), col("c_emb"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // query side (broadcast-small): exact bucket per table, plus — with
    // probes = 1 — the np one-plane-flipped buckets per table
    val qtb = (0 until tables).flatMap { t =>
      val b0 = bucketCol(col("embedding"), np, planeOffset = t * np)
      val bs = if (probes <= 0) Seq(b0)
        else b0 +: (0 until np).map(p => b0.bitwiseXOR(lit(1 << p)))
      bs.map(b => struct(lit(t).as("t"), b.as("bucket")))
    }
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(array(qtb: _*)).as("tb"))
      .select(col("query_id"), col("q_emb"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val candidates = c.join(broadcast(q), Seq("t", "bucket"))
      .drop("t", "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    rankTopK(candidates.withColumn("cosine", cosine(col("q_emb"), col("c_emb"))), k)
  }

  /** ANN QA row — recall@k of [[lshTopK]] against [[bruteForceTopK]] on
    * the same queries: the `dd_ev` pattern for the vector side, making
    * the measurement that justifies approximate search a driver-visible,
    * oracle-checkable output instead of a spec-only assertion. Both
    * rankers break cosine ties on neighbor_id, so the comparison is
    * deterministic. One confusion row out: tp = neighbors both paths
    * rank top-k, fn = true top-k neighbors LSH missed (its recall
    * denominator), fp = LSH picks outside the true top-k (= fn when both
    * sides emit full k lists).
    *
    * Scale: cost = the two searches (bucketed candidates + the
    * brute-force baseline over the QUERY slice — queries broadcast,
    * corpus streams once); the join keys are (query, neighbor) pairs,
    * k·|queries| rows. At 100 TB run it on a sampled query stratum —
    * the ratio is the product, not the corpus-wide counts. */
  def annEval(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nPlanes: Int = 0, tables: Int = 4, probes: Int = 1): DataFrame =
    confusionVsExact(
      lshTopK(corpus, queries, k, nPlanes, tables, probes = probes),
      bruteForceTopK(corpus, queries, k))

  /** IVF-PQ recall QA — the [[annEval]] confusion row for the COMPOSED
    * index ([[ivfPqTopK]]) against brute-force cosine ground truth, at
    * the deployed defaults or any (nprobe, refine) point — the two
    * independent query-side recall levers on a fixed index. The
    * measurement that justifies `v_iq`/`v_ix`'s deployed config as a
    * driver-visible output, the way [[annEval]] justified the LSH
    * defaults. Probing every cell with a corpus-sized refine shortlist
    * makes the pipeline exhaustive, so recall_at_k = 1.0 exactly — the
    * identity the spec pins. */
  def ivfPqEval(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, kCent: Int = 16,
      iters: Int = 2, refine: Int = 4): DataFrame =
    confusionVsExact(
      ivfPqTopK(corpus, queries, k, nlist, nprobe, m, kCent, iters, refine),
      bruteForceTopK(corpus, queries, k))

  /** One confusion row (tp/fp/fn/recall@k) of an approximate top-k
    * result against the exact one, matched on (query, neighbor). */
  private def confusionVsExact(approxTopK: DataFrame,
      exactTopK: DataFrame): DataFrame = {
    val exact = exactTopK
      .select(col("query_id").as("e_q"), col("neighbor_id").as("e_n"))
    val approx = approxTopK
      .select(col("query_id").as("p_q"), col("neighbor_id").as("p_n"))
    approx
      .join(exact, col("p_q") === col("e_q") && col("p_n") === col("e_n"), "full_outer")
      .agg(
        sum(when(col("p_q").isNotNull && col("e_q").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p_q").isNotNull && col("e_q").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("p_q").isNull && col("e_q").isNotNull, 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        (col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L)))
          .as("recall_at_k"))
  }

  // ---------------------------------------------------------------- PQ

  // The L2-nearest-centroid assignment (argmin ‖x−c‖² ≡ argmax
  // (x·c − ‖c‖²/2), the dot riding cos·‖x‖·‖c‖) lives in the fused
  // native kernel [[graft.functions.PqCodes]] — the earlier Column
  // formulation built m×k cosine+norm subtrees per row, and both its
  // plan size and its per-row evaluation dominated the PQ paths.

  /** `(vec_id, c0..c{m-1})` PQ codes in ONE fused native kernel per row
    * ([[graft.functions.PqCodes]] with the L2 normalization folded in —
    * bit-identical to the unitCol → m×k centroid-score expression forest
    * it replaces, at a fraction of both the plan size and the per-row
    * cost, and with NO interpreted `transform`/`aggregate` HOF in the
    * projection, so the corpus-side encode stage stays in whole-stage
    * codegen). `keep` carries extra columns (e.g. the IVF cell) through
    * the projection chain. */
  private def pqCodeCols(corpus: DataFrame, books: Array[Array[Array[Double]]],
      keep: Seq[(Column, String)] = Seq.empty): DataFrame = {
    val m = books.length
    val kept = keep.map { case (c, n) => c.as(n) }
    val keptRefs = keep.map { case (_, n) => col(n) }
    corpus
      .select(Seq(col("vec_id"),
        graft.functions.GraftFunctions.pqCodesRaw(col("embedding"), books).as("codes")) ++
        kept: _*)
      .select(Seq(col("vec_id")) ++ keptRefs ++
        (0 until m).map(s => element_at(col("codes"), s + 1).as(s"c$s")): _*)
  }

  /** L2-normalize an embedding column (PQ approximates DOT products; on
    * unit vectors dot == cosine, so recall is measured against the same
    * cosine ground truth as every other ANN path here). */
  private def unitCol(v: Column): Column = {
    val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))
    transform(v, x => x / n)
  }

  /** Product-quantization codebooks (Jégou/Douze/Schmid, TPAMI 2011 —
    * the PQ half of FAISS's IVF-PQ): the D-dim unit vector splits into
    * `m` subspaces of D/m dims; each subspace gets its own deterministic
    * Lloyd k-means (`k` centroids, seeds = lowest-vec_id slices, same
    * protocol as [[kmeansFit]]). Returns m × k × (D/m) centroids.
    *
    * Scale: `iters` bounded driver rounds, each ONE distributed pass
    * that fits all m subspaces together and collects m×k×(D/m) means —
    * KB-sized at any corpus size. */
  def pqFit(corpus: DataFrame, m: Int = 4, k: Int = 16,
      iters: Int = 2): Array[Array[Array[Double]]] =
    lloydFit(corpus, None, Some((m, k)), iters)._2.get

  /** Encode every vector as `m` small codes — the 100 TB memory story:
    * the searchable index is m bytes/vector (m=4, k=16 → 2 BYTES packed)
    * instead of D floats (64×4 = 256 bytes here); a shuffle-free,
    * codegen'd projection. */
  def pqEncode(corpus: DataFrame, books: Array[Array[Array[Double]]]): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    pqCodeCols(corpus, books)
  }

  /** Asymmetric-distance (ADC) top-k: each query's approximate cosine to
    * a corpus vector is Σ_s q_slice_s · codebook[s][code_s] — the corpus
    * embedding is consumed SCAN-SIDE into its m codes, so the join and
    * ranking window carry m small ints per corpus row instead of D
    * floats (persist [[pqEncode]]'s output as the standing index and
    * even the encode scan disappears from the query path); the codebooks
    * ride as literals, the query slices broadcast. Like
    * [[bruteForceTopK]] this scores every (query, corpus) pair — PQ's
    * win is scan/shuffle WIDTH, not candidate count; compose with the
    * IVF cell filter ([[ivfPqTopK]]) for candidate pruning.
    *
    * `refine`: ADC keeps a k×refine shortlist per query, then ONLY those
    * rows join back to the corpus for an exact-cosine re-rank — the
    * standard PQ pipeline (coarse scores prune, exact scores decide).
    * The exact kernel touches queries×k×refine embeddings instead of the
    * corpus; measured here: recall@5 0.28 ADC-only → with the refine
    * stage the true neighbors inside the shortlist are returned exactly. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      m: Int = 4, kCent: Int = 16, iters: Int = 2, refine: Int = 4): DataFrame = {
    val books = pqFit(corpus, m, kCent, iters)
    adcSearch(pqEncode(corpus, books), None, books, corpus, queries, k, 0, refine)
  }

  /** zip_with dot of two array columns (non-literal sides). */
  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Per-QUERY ADC lookup tables — the classic PQ trick (Jégou 2011
    * §III.C): `lut_s[c] = q_slice_s · books(s)(c)` computed once per
    * query row, so the per-(query, candidate) score collapses to m
    * codegen'd `element_at` probes + adds instead of m interpreted
    * zip_with/aggregate dot folds. Bit-identical to scoring each pair
    * directly: the dot over the SAME centroid literal runs the same
    * left-to-right fold, only hoisted from per-pair to per-query, and
    * doubles read back from an array are the doubles written. At any
    * scale the candidate side dwarfs the query side, so this removes
    * the interpreted-HOF term from the scan entirely. */
  private def adcLutCols(books: Array[Array[Array[Double]]], qUnit: Column): Seq[Column] = {
    val dsub = books.head.head.length
    books.indices.map { s =>
      array(books(s).map(c =>
        dotCol(slice(qUnit, s * dsub + 1, dsub), array(c.map(lit).toIndexedSeq: _*))): _*)
        .as(s"lut$s")
    }
  }

  /** ADC score from [[adcLutCols]] tables against code columns c0..c{m-1}:
    * same left-to-right subspace sum as the inline form. */
  private def adcLutScore(m: Int): Column =
    (0 until m).map(s => element_at(col(s"lut$s"), col(s"c$s") + 1)).reduce(_ + _)

  /** The one ADC search under [[pqTopK]], [[ivfPqTopK]] and
    * [[queryAnnIndex]]. `index` holds `(vec_id, c0..c{m-1})` codes under
    * `books`. With a `cell` column each query joins only the rows of its
    * `nprobe` nearest `cents` (the IVF probe); without one every query
    * scores every row (a broadcast cross join). Query side: the unit
    * vector, the probed cells and the per-query ADC tables (query rows
    * are broadcast-small by contract, so rebuilding the KB-sized tables
    * per probe row is noise next to the per-candidate fold they
    * eliminate). The ADC scores keep a k×`refine` shortlist per query,
    * which joins back to the corpus (broadcast — queries×k×refine rows)
    * for the exact re-rank: cosine is scale-invariant, so the unit query
    * against the raw corpus vector is the true cosine. */
  private def adcSearch(index: DataFrame, cents: Option[Array[Array[Double]]],
      books: Array[Array[Array[Double]]], corpus: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, refine: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cell = Seq("cell").filter(index.columns.contains)
    val q = queries.select(Seq(col("vec_id").as("query_id"),
      unitCol(col("embedding")).as("q_unit")) ++
      cell.map(explode(nearestCells(cents.get, nprobe)).as(_)): _*)
      .select(Seq(col("query_id"), col("q_unit")) ++ cell.map(col) ++
        adcLutCols(books, col("q_unit")): _*)
    val idx = index.withColumnRenamed("vec_id", "neighbor_id")
    val pairs = if (cell.isEmpty) idx.crossJoin(broadcast(q))
      else idx.join(broadcast(q), cell)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("approx_cosine").desc, col("neighbor_id"))
    val shortlist = pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cosine", adcLutScore(books.length))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= k * refine)
      .select("query_id", "neighbor_id", "q_unit")
    rankTopK(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
      .join(broadcast(shortlist), "neighbor_id")
      .withColumn("cosine", cosine(col("q_unit"), col("c_emb"))), k)
  }

  /** The fitted IVF-PQ index: centroids, codebooks and the per-vector
    * `(vec_id, cell, c0..c{m-1})` rows, built in ONE corpus projection
    * after the composed fit (one seed collect + one fused job per
    * round, [[lloydFit]]). */
  private def ivfPqIndex(corpus: DataFrame, nlist: Int, m: Int, kCent: Int, iters: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val (cents, books) = lloydFit(corpus, Some(nlist), Some((m, kCent)), iters)
    (cents.get, books.get, pqCodeCols(corpus, books.get, keep = Seq(cellOf(cents.get) -> "cell")))
  }

  /** IVF-PQ (Jégou 2011 §IV / the FAISS `IVFx,PQy` index — the actual
    * 100 TB ANN architecture), composed from this file's two halves,
    * which prune ORTHOGONAL costs:
    *
    *   - IVF prunes CANDIDATE COUNT: each query scores only the rows
    *     quantized into its `nprobe` nearest of `nlist` cells —
    *     ~nprobe/nlist of the corpus (spec-measured), instead of
    *     [[pqTopK]]'s full cross product;
    *   - PQ-ADC prunes CANDIDATE WIDTH: each candidate is scored from
    *     its m small codes against the broadcast codebooks, so the
    *     probe join and ranking window move m ints per row, not D
    *     floats — at 10⁹ vectors the searchable index is GBs, not TBs;
    *   - the exact re-rank of each query's k×`refine` ADC shortlist
    *     restores true-cosine ordering, touching queries×k×refine
    *     embeddings (the standard coarse-prune / exact-decide pipeline).
    *
    * The per-vector index row (cell + m codes) is built in ONE corpus
    * projection — persist it as the standing index in production and
    * the query path never touches an embedding except the re-rank. A
    * (query, neighbor) pair is scored at most once by construction:
    * cell assignment is an argmax (each corpus row lives in exactly one
    * cell), so multi-probe needs no dedup, unlike LSH's bucket union.
    * Recall levers, independent: `nprobe` (coarse misses) and `refine`
    * (ADC ranking error); both are query-side knobs on a fixed index. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 4, kCent: Int = 16,
      iters: Int = 2, refine: Int = 4): DataFrame = {
    val (cents, books, index) = ivfPqIndex(corpus, nlist, m, kCent, iters)
    adcSearch(index, Some(cents), books, corpus, queries, k, nprobe, refine)
  }

  // ------------------------------------------------ persisted ANN index
  //
  // [[ivfPqTopK]] refits centroids and codebooks per call — right for a
  // one-shot query, wrong for the production shape where the corpus is
  // indexed ONCE and queried forever. buildAnnIndex persists the
  // standing index: the per-vector (vec_id, c0..c{m-1}) rows as parquet
  // PARTITIONED BY the IVF cell — so each cell is its own directory —
  // plus a tiny `_model/` text sidecar (centroids + codebooks, KBs).
  // queryAnnIndex then joins the broadcast probed queries on `cell`:
  // because `cell` is the PARTITION column and the build side is tiny,
  // Spark's dynamic partition pruning kicks in and the scan reads ONLY
  // the probed cell directories (plan-asserted in the spec) — at 10⁹
  // vectors the query touches nprobe/nlist of the index files, and the
  // index itself is m bytes/vector, not D floats. The exact re-rank
  // needs real embeddings, so it joins the k×refine shortlist back to
  // the corpus (broadcast — queries×k×refine rows).

  /** The `_model/model.txt` codec: a `key=value` header, then one line
    * per centroid (`cent=i|v`) and per codebook vector (`book=s|j|v`) —
    * deterministic, greppable, the manifest-file discipline applied to a
    * model artifact. The only code that writes or parses the file. */
  private object AnnModel {
    private def file(path: String) = new org.apache.hadoop.fs.Path(s"$path/_model/model.txt")
    private def fmtVec(v: Array[Double]): String = v.mkString(",")
    private def parseVec(s: String): Array[Double] = s.split(',').map(_.toDouble)

    def write(spark: org.apache.spark.sql.SparkSession, path: String, nlist: Int,
        kCent: Int, cents: Array[Array[Double]], books: Array[Array[Array[Double]]]): Unit = {
      val lines: Seq[String] =
        Seq(s"nlist=$nlist", s"m=${books.length}", s"kcent=$kCent",
          s"dsub=${books.head.head.length}") ++
          cents.zipWithIndex.map { case (c, i) => s"cent=$i|${fmtVec(c)}" }.toSeq ++
          books.zipWithIndex.flatMap { case (b, s) =>
            b.zipWithIndex.map { case (c, j) => s"book=$s|$j|${fmtVec(c)}" }.toSeq
          }.toSeq
      val mp = file(path)
      val out = mp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(mp, true)
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }

    /** The persisted model: (centroids, codebooks). */
    def read(spark: org.apache.spark.sql.SparkSession, path: String)
        : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
      val mp = file(path)
      val in = mp.getFileSystem(spark.sparkContext.hadoopConfiguration).open(mp)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val lines = text.split("\n").filter(_.nonEmpty)
      val hdr = lines.filter(l => !l.startsWith("cent=") && !l.startsWith("book="))
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1).toInt }
        .toMap
      val cents = lines.filter(_.startsWith("cent=")).map { l =>
        val Array(i, v) = l.stripPrefix("cent=").split('|')
        i.toInt -> parseVec(v)
      }.sortBy(_._1).map(_._2)
      val bookRows = lines.filter(_.startsWith("book=")).map { l =>
        val parts = l.stripPrefix("book=").split('|')
        (parts(0).toInt, parts(1).toInt, parseVec(parts(2)))
      }
      val books = Array.tabulate(hdr("m")) { s =>
        bookRows.filter(_._1 == s).sortBy(_._2).map(_._3)
      }
      (cents, books)
    }
  }

  /** Fit + persist the IVF-PQ index for `corpus` under `path`. */
  def buildAnnIndex(corpus: DataFrame, path: String, nlist: Int = 16,
      m: Int = 4, kCent: Int = 16, iters: Int = 2): Unit = {
    val (cents, books, index) = ivfPqIndex(corpus, nlist, m, kCent, iters)
    index.write.mode("overwrite").partitionBy("cell").parquet(s"$path/index")
    AnnModel.write(corpus.sparkSession, path, nlist, kCent, cents, books)
  }

  /** Top-k against a [[buildAnnIndex]] index without refitting anything:
    * ADC scoring over the cell-partition-pruned index scan, exact
    * re-rank of the k×refine shortlist against `corpus`. */
  def queryAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame, k: Int = 5, nprobe: Int = 4,
      refine: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (cents, books) = AnnModel.read(spark, path)
    adcSearch(spark.read.parquet(s"$path/index"), Some(cents), books, corpus, queries,
      k, nprobe, refine)
  }
}
