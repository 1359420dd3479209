package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup

class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private lazy val docs = Tables.documents(spark, dir).cache()

  test("exact dedup: planted duplicates share hash, winner is min id") {
    import spark.implicits._
    val planted = Seq(
      (1L, "alpha beta gamma delta"), (2L, "ALPHA beta gamma delta"),
      (3L, "totally different text here")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(planted).collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    assert(out(2L).getAs[Long]("winner_id") === 1L)
    assert(out(2L).getAs[Int]("is_duplicate") === 1)
    assert(out(1L).getAs[Int]("is_duplicate") === 0)
    assert(out(3L).getAs[Long]("dup_count") === 1L)
  }

  test("minhash-lsh finds the planted near-dups without an all-pairs join") {
    val pairs = Dedup.minhashLsh(docs).cache()
    assert(pairs.count() > 0)
    // every candidate surviving 4-of-4 band agreement should be high-sim
    assert(pairs.filter(col("est_jaccard") <= 0.25).count() === 0)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "LSH must never cross-join")
  }

  test("minhash auto-banding: S-curve argmin, family constraint, monotone in threshold") {
    // t=0.5 CONFIRMS the standing 4x4 banding (area 0.165 vs 0.215 for
    // 8x2); the derivation moves correctly as the target moves
    assert(Dedup.autoBands(16, 0.5, Dedup.Md5Family) === 4)
    assert(Dedup.autoBands(16, 0.3, Dedup.Md5Family) === 8)
    // md5 slices at most 4 components per digest: b >= 4 even at t=0.9,
    // while the unconstrained xx family drops to one 16-row band
    assert(Dedup.autoBands(16, 0.9, Dedup.Md5Family) === 4)
    assert(Dedup.autoBands(16, 0.9, Dedup.XxHash64Family) === 1)
    // argmin property over every family-legal divisor of k
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val b = Dedup.autoBands(16, t, Dedup.XxHash64Family)
      val legal = (1 to 16).filter(16 % _ == 0)
      assert(legal.forall(a => Dedup.sCurveArea(16, b, t) <= Dedup.sCurveArea(16, a, t)),
        s"autoBands($t) = $b is not the area argmin")
    }
    // a higher threshold never wants MORE bands
    val bs = Seq(0.2, 0.4, 0.6, 0.8, 0.95).map(Dedup.autoBands(16, _, Dedup.XxHash64Family))
    assert(bs === bs.sorted.reverse, s"band counts not monotone: $bs")
    // S-curve endpoints and the recall-at-threshold numbers the scaladoc cites
    assert(Dedup.candidateProb(0.0, 4, 4) === 0.0)
    assert(math.abs(Dedup.candidateProb(1.0, 4, 4) - 1.0) < 1e-12)
    assert(math.abs(Dedup.candidateProb(0.5, 4, 4) - 0.2275) < 0.001)
    assert(math.abs(Dedup.candidateProb(0.5, 8, 2) - 0.8999) < 0.001)
  }

  test("minhash candidates agree with exact jaccard pairs at high threshold") {
    val lsh = Dedup.minhashLsh(docs).select("doc_a", "doc_b")
    val exact = Dedup.ngramJaccard(docs, threshold = 0.8).select("doc_a", "doc_b")
    // at jaccard >= 0.8 every exact pair must be recalled by 4x4 LSH
    assert(exact.except(lsh).count() === 0)
  }

  test("simhash: bag-of-words permutations collide at hamming 0, fingerprints are 60-bit") {
    import spark.implicits._
    val planted = Seq(
      (1L, "key agg row scan slow fast table value part hash merge batch"),
      (2L, "batch merge hash part value table fast slow scan row agg key"), // permutation
      (3L, "completely unrelated words nothing shared whatsoever here today")).toDF("doc_id", "text")
    val fp = Dedup.simhashFingerprints(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fp.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(fp(1L) === fp(2L), "simhash is order-invariant over the token bag")
    val pairs = Dedup.simhashPairs(planted, maxHamming = 3).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") === 1L &&
      r.getAs[Long]("doc_b") === 2L && r.getAs[Int]("hamming") === 0))
    assert(!pairs.exists(r => r.getAs[Long]("doc_b") === 3L))
  }

  test("xxhash64 minhash family recalls every true exact-duplicate pair") {
    // identical shingle sets → identical signatures under any hash family
    // → guaranteed same-band candidates with est = 1.0. The corpus has no
    // exact dups, so plant two on top of it.
    val planted = docs.select("doc_id", "text").unionByName(
      docs.filter(col("doc_id") < 2)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val xx = Dedup.minhashLsh(planted, family = Dedup.XxHash64Family).cache()
    val dupHits = xx.filter(col("doc_b") >= 1000000L && col("doc_a") === col("doc_b") - 1000000L)
    assert(dupHits.count() === 2)
    assert(dupHits.filter(col("est_jaccard") =!= 1.0).count() === 0)
    // and the xx family never emits low-similarity junk on the real corpus
    assert(Dedup.minhashLsh(docs, family = Dedup.XxHash64Family)
      .filter(col("est_jaccard") <= 0.25).count() === 0)
  }

  test("ngram jaccard df cap drops stop-shingles from candidates and sizes") {
    import spark.implicits._
    // "x y z" appears in every doc (stop-shingle); each pair also shares a
    // rare tail. With dfMax=2 the universal shingle is ignored everywhere.
    val planted = Seq(
      (1L, "x y z a b c"), (2L, "x y z a b c"), (3L, "x y z q r s")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(planted, threshold = 0.0)
    assert(uncapped.count() === 3) // all pairs share "x y z"
    val capped = Dedup.ngramJaccard(planted, threshold = 0.0, dfMax = Some(2))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    // (1,3)/(2,3) shared ONLY the universal shingle → no candidate at all
    assert(capped.keySet === Set((1L, 2L)))
    // (1,2) jaccard computed on DF-filtered sets: identical docs → 1.0
    assert(capped((1L, 2L)).getAs[Double]("jaccard") === 1.0)
  }

  test("dup clusters: chain of pairs collapses to one component, singletons stay canonical") {
    import spark.implicits._
    val planted = Seq(1L, 2L, 3L, 4L, 10L).toDF("doc_id")
    // chain 1-2-3-4 (diameter 3 — takes >1 propagation round), 10 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    // both execution paths must produce the identical map: the default
    // hits the driver union-find (3 pairs ≤ cutover), cutover=0 forces
    // the distributed propagation loop
    for (cutover <- Seq(200000L, 0L)) {
      val out = Dedup.dupClusters(planted, pairs, driverCutover = cutover).collect()
        .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Int]("is_canonical"))).toMap
      assert(out(1L) === (1L, 1) && out(2L) === (1L, 0) && out(3L) === (1L, 0) && out(4L) === (1L, 0))
      assert(out(10L) === (10L, 1))
    }
    // string doc_ids under the cutover must NOT take the driver path
    // (its Long casts would NPE): the distributed loop handles them and
    // the min-reachable-id fixpoint is lexicographic
    val sDocs = Seq("a", "b", "c", "z").toDF("doc_id")
    val sPairs = Seq(("a", "b"), ("b", "c")).toDF("doc_a", "doc_b")
    val sOut = Dedup.dupClusters(sDocs, sPairs).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("cluster_id")).toMap
    assert(sOut === Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
    // real corpus: every minhash pair lands in one cluster, exactly one
    // canonical doc per cluster, all docs labeled
    val clusters = Dedup.dupClusters(docs, Dedup.minhashLsh(docs)).cache()
    assert(clusters.count() === docs.count())
    assert(clusters.groupBy("cluster_id")
      .agg(sum("is_canonical").as("n_canon")).filter(col("n_canon") =!= 1).count() === 0)
    // driver/distributed parity on the real corpus's pair graph
    val dist = Dedup.dupClusters(docs, Dedup.minhashLsh(docs), driverCutover = 0L)
    assert(clusters.exceptAll(dist).count() === 0)
    assert(dist.exceptAll(clusters).count() === 0)
    clusters.unpersist()
  }

  test("incremental minhash equals the full batch restricted to batch-touching pairs") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val incremental = Dedup.minhashLshIncremental(batch, Dedup.minhashIndex(corpus))
    val fullFiltered = Dedup.minhashLsh(docs)
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
    assert(incremental.exceptAll(fullFiltered).count() === 0)
    assert(fullFiltered.exceptAll(incremental).count() === 0)
    // and it finds something: the corpus has planted near-dups crossing
    // the batch boundary
    assert(incremental.count() > 0)
  }

  test("dup clusters pointer doubling: long chain converges within maxIter, labels identical") {
    import spark.implicits._
    // path graph 0-1-2-…-63: diameter 63, far beyond the default 20 rounds
    // of plain propagation — path halving must close it in O(log d)
    val n = 64L
    val chainDocs = spark.range(n).select(col("id").as("doc_id"))
    val chainPairs = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // cutover pinned to 0: this test gates the DISTRIBUTED doubling loop
    // (63 pairs would otherwise take the driver union-find)
    val out = Dedup.dupClusters(chainDocs, chainPairs, pointerDoubling = true,
      driverCutover = 0L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out.size === n.toInt)
    assert(out.values.forall(_ == 0L), "every chain node must label to doc 0")
    // and on the real corpus all three paths must agree exactly
    val pairs = Dedup.minhashLsh(docs)
    val plain = Dedup.dupClusters(docs, pairs, driverCutover = 0L)
    val doubled = Dedup.dupClusters(docs, pairs, pointerDoubling = true,
      driverCutover = 0L)
    assert(plain.exceptAll(doubled).count() === 0)
    assert(doubled.exceptAll(plain).count() === 0)
  }

  test("decontaminate drops exact and near benchmark matches, keeps the rest") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "THE QUICK brown fox jumps over the lazy dog today"), // exact after normalize
      (3L, "the quick brown fox jumps over the lazy cat today"), // near: shares >= 5 shingles
      (4L, "completely unrelated content about spark query planning")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L))
    // a lenient overlap threshold keeps the near-match
    val keptLoose = Dedup.decontaminate(corpus, bench, minOverlap = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptLoose === Set(3L, 4L))
  }

  test("contamination report: per-benchmark exact/near counts, clean items keep zero rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "THE QUICK brown fox jumps over the lazy dog today"), // exact after normalize
      (3L, "the quick brown fox jumps over the lazy cat today"), // near only
      (4L, "completely unrelated content about spark query planning")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"), // leaked
      (200L, "pristine benchmark question nobody has ever copied anywhere")
    ).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, bench).collect()
      .map(r => r.getAs[Long]("bench_id") ->
        ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_near"), r.getAs[Long]("max_shared"))))
      .toMap
    // 100: docs 1+2 exact; near hits = docs 1,2 (all 8 shingles) and 3
    // (shares >= 5); worst offender shares all 8 shingles
    assert(rep(100L) === ((2L, 3L, 8L)))
    // clean item present with zeros — the report is benchmark-sized
    assert(rep(200L) === ((0L, 0L, 0L)))
    // report agrees with decontaminate: corpus docs surviving
    // decontamination are exactly those never counted as near/exact hits
    assert(Dedup.decontaminate(corpus, bench).count() === 1)
  }

  test("bloom decontaminate: byte-for-byte the exact path's survivors, planted FPs die in confirm") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "THE QUICK brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely unrelated content about spark query planning")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val viaBloom = Dedup.bloomDecontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaExact = Dedup.decontaminate(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom === viaExact)
    // an fpp high enough to make false positives near-certain still changes
    // nothing: the confirm join removes every bloom FP
    val fpHeavy = Dedup.bloomDecontaminate(docs, docs.filter(col("doc_id") % 17 === 0), fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.decontaminate(docs, docs.filter(col("doc_id") % 17 === 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fpHeavy === exact)
    // null-text rows on BOTH sides: md5(null) is null (anti-join keeps)
    // while xxhash64(null) is the seed — without the isNotNull guard the
    // bloom path would drop corpus doc 5 that the exact path keeps
    val corpusN = corpus.union(Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val benchN = bench.union(Seq((101L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val keptBloomN = Dedup.bloomDecontaminate(corpusN, benchN)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptExactN = Dedup.decontaminate(corpusN, benchN)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBloomN === keptExactN)
    assert(keptBloomN.contains(5L), "null-text docs are never exact leaks")
  }

  test("substring dups: planted shared span found at exact offsets, df cap kills boilerplate") {
    import spark.implicits._
    // doc 1 tokens 6..30 === doc 2 tokens 11..35: one 25-token shared run
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, ((1 to 5).map(i => s"a$i").mkString(" ")) + " " + shared + " " +
        ((1 to 10).map(i => s"z$i").mkString(" "))),
      (2L, ((1 to 10).map(i => s"b$i").mkString(" ")) + " " + shared + " " +
        ((1 to 5).map(i => s"y$i").mkString(" "))),
      (3L, (1 to 40).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val runs = Dedup.substringDups(corpus, k = 10, minTokens = 20).collect()
    assert(runs.length === 1)
    val r = runs.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Int]("start_a") === 6 && r.getAs[Int]("start_b") === 11)
    assert(r.getAs[Int]("match_len") === 25)
    // a 15-token shared span stays below minTokens = 20
    val short = Seq(
      (1L, (1 to 15).map(i => s"s$i").mkString(" ") + " tail1 tail2 tail3 tail4 tail5"),
      (2L, "h1 h2 h3 h4 h5 " + (1 to 15).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.substringDups(short, k = 10, minTokens = 20).count() === 0)
    // boilerplate guard: a 25-token phrase in EVERY doc of a 30-doc
    // corpus exceeds dfMax and generates no pairs at all
    val boiler = (1 to 30).map(i => (i.toLong, s"intro$i " + shared)).toDF("doc_id", "text")
    assert(Dedup.substringDups(boiler, k = 10, minTokens = 20, dfMax = 10).count() === 0)
    // ...while the uncapped run would have reported all ~435 pairs
    assert(Dedup.substringDups(boiler, k = 10, minTokens = 20, dfMax = 1000).count() === 435)
    // the cap counts OCCURRENCES, not docs: a padding run repeats one
    // window m times per doc, so even a df=2 pair is m² join rows —
    // 2 docs of 50 repeated tokens exceed a 50-occurrence cap (82 > 50)
    val padding = Seq(
      (1L, Seq.fill(50)("p").mkString(" ")),
      (2L, Seq.fill(50)("p").mkString(" "))).toDF("doc_id", "text")
    assert(Dedup.substringDups(padding, k = 10, minTokens = 20, dfMax = 50).count() === 0)
    assert(Dedup.substringDups(padding, k = 10, minTokens = 20, dfMax = 1000).count() > 0)
  }

  test("substring coverage: distinct duplicated positions, overlaps not double-counted") {
    import spark.implicits._
    val shared = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      // doc 1 shares its tokens 6..30 with docs 2 AND 3: overlapping runs
      // on doc 1 must still count 25 distinct positions, not 50
      (1L, ((1 to 5).map(i => s"a$i").mkString(" ")) + " " + shared + " " +
        ((1 to 10).map(i => s"z$i").mkString(" "))),
      (2L, ((1 to 10).map(i => s"b$i").mkString(" ")) + " " + shared),
      (3L, shared + " " + ((1 to 15).map(i => s"y$i").mkString(" "))),
      (4L, (1 to 40).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val runs = Dedup.substringDups(corpus, k = 10, minTokens = 20)
    val cov = Dedup.substringCoverage(corpus, runs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(cov(1L).getAs[Long]("dup_tokens") === 25L)
    assert(math.abs(cov(1L).getAs[Double]("dup_frac") - 25.0 / 40.0) < 1e-12)
    assert(cov(2L).getAs[Long]("dup_tokens") === 25L)
    assert(cov(3L).getAs[Long]("dup_tokens") === 25L)
    // untouched doc reports zero, not null, and every doc has a row
    assert(cov(4L).getAs[Long]("dup_tokens") === 0L)
    assert(cov(4L).getAs[Double]("dup_frac") === 0.0)
    assert(cov.size === 4)
  }

  test("lsh eval: confusion matrix reconciles with both dedup paths") {
    val row = Dedup.lshEval(docs).head()
    val (tp, fp, fn) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"), row.getAs[Long]("fn"))
    // tp+fp = LSH-predicted pairs above threshold; tp+fn = exact pairs
    val predicted = Dedup.minhashLsh(docs).filter(col("est_jaccard") >= 0.5).count()
    val truth = Dedup.ngramJaccard(docs).count()
    assert(tp + fp === predicted)
    assert(tp + fn === truth)
    val (p, r, f1) =
      (row.getAs[Double]("precision"), row.getAs[Double]("recall"), row.getAs[Double]("f1"))
    assert(p >= 0.0 && p <= 1.0 && r >= 0.0 && r <= 1.0)
    assert(f1 <= math.max(p, r) + 1e-12, "F1 is bounded by its components")
    // the synthetic corpus's near-dups are blatant — a sane LSH config
    // must recover most of them; this guards against config drift between
    // the predicted and truth paths (e.g. mismatched shingle widths)
    assert(r >= 0.5, s"LSH recall $r collapsed vs exact path")
  }

  test("embedding near-dups are label-blocked (no cross-label pairs)") {
    val emb = Tables.embeddings(spark, dir)
    val pairs = Dedup.embeddingNearDups(emb, threshold = 0.3).cache()
    assert(pairs.count() > 0)
    val labels = emb.select(col("vec_id"), col("label"))
    val joined = pairs
      .join(labels.withColumnRenamed("vec_id", "vec_a").withColumnRenamed("label", "la"), "vec_a")
      .join(labels.withColumnRenamed("vec_id", "vec_b").withColumnRenamed("label", "lb"), "vec_b")
    assert(joined.filter(col("la") =!= col("lb")).count() === 0)
    assert(pairs.filter(col("cosine") > 1.0 || col("cosine") < -1.0).count() === 0)
  }

  test("normalized dedup collapses punctuation/whitespace variants; coarser than exact") {
    import spark.implicits._
    val planted = Seq(
      (1L, "Alpha, beta—gamma!"), (2L, "alpha   beta gamma"),
      (3L, "alpha beta gamma"), (4L, "different entirely")).toDF("doc_id", "text")
    val out = Dedup.normalizedDedup(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // all three variants share one normalized group under winner 1
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getAs[Long]("winner_id") === 1L)
      assert(out(id).getAs[Long]("dup_count") === 3L)
    }
    assert(out(1L).getAs[Int]("is_duplicate") === 0)
    assert(out(4L).getAs[Long]("dup_count") === 1L)
    // exact sees the variants as distinct → norm groups are unions of
    // exact groups (coarser partition, never finer), also on real docs
    val exact = Dedup.exactDedup(planted)
    assert(exact.select("text_hash").distinct().count() === 4)
    val joined = Dedup.normalizedDedup(docs)
      .select(col("doc_id"), col("dup_count").as("norm_n"))
      .join(Dedup.exactDedup(docs).select(col("doc_id"), col("dup_count").as("exact_n")), "doc_id")
    assert(joined.filter(col("norm_n") < col("exact_n")).count() === 0)
  }

  test("semantic dedup: cluster-blocked pairs ⊆ exact all-pairs, recall holds") {
    val emb = Tables.embeddings(spark, dir)
    val t = 0.35
    val sem = Dedup.semanticDedup(emb, threshold = t).select("vec_a", "vec_b", "cosine").cache()
    // exact ground truth: unblocked all-pairs above the same threshold
    graft.functions.GraftFunctions.register(spark)
    val exact = emb.alias("a")
      .join(emb.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding"))
          .as("cosine"))
      .filter(col("cosine") >= t).cache()
    // blocking can only DROP pairs, never invent or rescore them
    assert(sem.exceptAll(exact).count() === 0)
    val nExact = exact.count()
    val nSem = sem.count()
    assert(nSem > 0 && nExact > 0)
    // cluster blocking keeps the bulk of true near-dups (embeddings
    // cluster by construction, so near-dups co-locate in cells)
    assert(nSem.toDouble / nExact >= 0.5,
      s"semantic dedup recall ${nSem.toDouble / nExact} collapsed vs exact all-pairs")
    sem.unpersist(); exact.unpersist()
  }

  test("semantic blocking eval: confusion row reconciles with exact all-pairs truth") {
    val emb = Tables.embeddings(spark, dir)
    val row = Dedup.semanticBlockingEval(emb).head()
    val (nCand, tp, fn) = (row.getAs[Long]("n_cand"), row.getAs[Long]("tp"), row.getAs[Long]("fn"))
    // tp + fn is EXACTLY the true pair count (fp = 0 by construction:
    // predicted pairs are cosine-post-filtered candidates)
    graft.functions.GraftFunctions.register(spark)
    val nTrue = emb.alias("a")
      .join(emb.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")) >= 0.35)
      .count()
    assert(tp + fn === nTrue)
    assert(tp <= nCand, "every true positive was a candidate first")
    assert(row.getAs[Double]("recall") === tp.toDouble / math.max(1L, tp + fn))
    assert(row.getAs[Double]("cand_precision") === tp.toDouble / math.max(1L, nCand))
    // the row MEASURES the 4-plane/2-table blocking at a low (0.35)
    // similarity bar on a diffuse corpus — ≈0.35 recall is the honest
    // answer, and is exactly why such a report must sit next to any
    // approximate dedup run; the floor only guards collapse, and the
    // widening lever (more tables) must move the measurement up
    assert(row.getAs[Double]("recall") >= 0.2,
      s"blocking recall collapsed: ${row.getAs[Double]("recall")}")
    val wide = Dedup.semanticBlockingEval(emb, tables = 4).head()
    assert(wide.getAs[Double]("recall") >= row.getAs[Double]("recall"),
      "4-table blocking recall fell below 2-table")
  }

  test("embedding decontamination: exactly the cosine-hit vectors drop, benchmark side intact") {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 20 =!= 0)
    val bench = emb.filter(col("vec_id") % 20 === 0)
    val t = 0.4
    val kept = Dedup.embeddingDecontaminate(corpus, bench, minCosine = t).cache()
    // ground truth: brute-force cosine hits
    graft.functions.GraftFunctions.register(spark)
    val hits = corpus.alias("c").join(bench.alias("b"),
        graft.functions.GraftFunctions.cosineSim(col("c.embedding"), col("b.embedding")) >= t)
      .select(col("c.vec_id")).distinct().cache()
    assert(hits.count() > 0, "threshold must be exercised at this SF")
    assert(kept.count() === corpus.count() - hits.count())
    // no hit survives, every non-hit survives
    assert(kept.join(hits, "vec_id").count() === 0)
    assert(corpus.select("vec_id").exceptAll(kept.select("vec_id"))
      .exceptAll(hits).count() === 0)
    // schema passthrough: the survivors keep their corpus columns
    assert(kept.columns.toSet === corpus.columns.toSet)
    kept.unpersist(); hits.unpersist()
  }

  test("right-to-be-forgotten: MoR erasure removes a doc from corpus AND minhash index") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_rtbf").toString
    val corpusT = s"$root/corpus"
    val indexT = s"$root/index"
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated text about distributed query engines and shuffles"),
      (3L, "partition pruning and column statistics make parquet scans cheap"))
      .toDF("doc_id", "text")
    // corpus and its DERIVED minhash index both live as versioned tables
    VersionedTable.commit(corpus, corpusT, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(Dedup.minhashIndex(corpus), indexT,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // a near-duplicate of doc 1 arrives: the index MUST flag it
    val batch = Seq((9L, "the quick brown fox jumps over the lazy dog near the river"))
      .toDF("doc_id", "text")
    def probe(): Set[(Long, Long)] = Dedup.minhashLshIncrementalFromIndex(
      Dedup.minhashIndex(batch), VersionedTable.readVersion(spark, indexT))
      .filter(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() === Set((1L, 9L)), "pre-erasure the near-dup must match doc 1")
    // GDPR erasure: one MoR delete per table — no data file rewritten in
    // either, the derived index forgets the doc the same way the corpus
    // does, and both erasures are time-travel-auditable versions
    VersionedTable.deleteMergeOnRead(spark, corpusT, "doc_id = 1", ts = "2026-01-02T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, indexT, "doc_id = 1", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.readVersion(spark, corpusT).count() === 2L)
    assert(probe() === Set.empty, "post-erasure the index must not match doc 1")
    // the erased doc's signatures never contaminate a rebuilt index either
    val rebuilt = Dedup.minhashIndex(
      VersionedTable.readVersion(spark, corpusT))
    assert(rebuilt.filter(col("doc_id") === 1L).isEmpty)
  }
}
