package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Similarity

/** 10× scale stress harness — reproduces BASELINE.md's "10× scale stress"
  * table. The point is validating SCALE BEHAVIOR, not test-SF timings:
  * bucket spaces that must grow with the corpus, stop-shingle caps that
  * must bound quadratic joins, hash families that must stay cheap.
  *
  * Three corpora, all built deterministically from sf0.1 inputs:
  *   - `dupHeavy`: documents replicated 10× with a per-copy word suffixed
  *     (near-identical variants — adversarially duplicate-heavy, every doc
  *     has 9 true near-dups). Exercises minhash/simhash candidate volume.
  *   - `stopShingle`: 10 copies with EVERY word suffixed by the copy index
  *     (copies share no content shingles) plus one common phrase appended
  *     to every doc — a planted stop-shingle with document frequency = the
  *     whole corpus. Exercises the ngram df cap: uncapped, that one phrase
  *     alone generates ~N²/2 join rows.
  *   - `emb10x`: embeddings replicated 10× (20k vectors). Exercises ANN
  *     bucket-space scaling: auto planes keep per-query candidates flat,
  *     a constant plane count grows them linearly.
  *
  * Prints `STRESS <name> <sec> (<rows> rows)` lines; copy into BASELINE.md.
  */
object Stress {

  /** Materialize every column (same rationale as Bench.force: a bare
    * count() lets Catalyst prune the similarity math out of the timing). */
  private def force(df: DataFrame): Long =
    df.agg(count(xxhash64(df.columns.map(col): _*))).head().getLong(0)

  private def time(name: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val n = force(df)
    val s = (System.nanoTime() - t0) / 1e9
    println(f"STRESS $name%-26s $s%8.2f s  ($n rows)")
  }

  /** CHECKPOINT COST CURVE vs file count — the full-state checkpoint
    * carries the whole file list + stats every K commits; at 10⁶-file
    * tables that single write is Delta's multi-part-checkpoint
    * motivation. Write + cold-read cost at three real file counts;
    * BASELINE records the slope and the split-or-document decision.
    * Fixture: one commit of N 1-row files (repartition pins the file
    * count; the fixture write itself is not measured). */
  private def checkpointCostLine(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.sources.VersionedTable
    val pts = Seq(1000, 4000, 16000).map { n =>
      val p = s"${java.nio.file.Files.createTempDirectory("graft_ckc")}/t$n"
      VersionedTable.commit(
        spark.range(n.toLong).selectExpr("id", "id * 10 AS v")
          .repartition(n), p, mode = "overwrite")
      // hash emptiness leaves ~1-1/e of the n partitions non-empty; the
      // ACTUAL file count is the curve's x-coordinate
      val actual = VersionedTable.snapshotFiles(spark, p).size
      val (w, r, files) = VersionedTable.checkpointCost(spark, p)
      require(files == actual, s"checkpoint lost files: $files of $actual")
      (actual, w, r)
    }
    val slope = {
      val (n1, w1, _) = pts.head; val (n2, w2, _) = pts.last
      (w2 - w1) / (n2 - n1) * 1000.0
    }
    val rSlope = {
      val (n1, _, r1) = pts.head; val (n2, _, r2) = pts.last
      (r2 - r1) / (n2 - n1) * 1000.0
    }
    val line = pts.map { case (n, w, r) => f"$n%d:w$w%.2f/r$r%.2f" }.mkString(" ")
    println(f"STRESS vt_checkpoint_cost     $line s; slope w$slope%.3f r$rSlope%.3f s per 1k files")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // standalone re-measure of one expensive line without the full run:
    // SPARK_GRAFT_STRESS_ONLY=checkpoint
    if (sys.env.get("SPARK_GRAFT_STRESS_ONLY").contains("checkpoint")) {
      checkpointCostLine(spark)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_STRESS_ONLY").contains("cdf")) {
      val deep = deepLog1k(spark)
      cdfDeepBackfillLine(spark, deep)
      streamUnpacedCatchupLine(spark, deep)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_STRESS_ONLY").contains("ckmulti")) {
      checkpointMultipartLine(spark)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_STRESS_ONLY").contains("deepclone")) {
      deepCloneCostLine(spark)
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_STRESS_ONLY").contains("soak")) {
      streamSoakLine(spark)
      spark.stop()
      return
    }

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    val dupHeavy = (0 until 10).map { i =>
      docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) col("text") else concat(col("text"), lit(s" variant$i"))).as("text"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"dup-heavy corpus: ${dupHeavy.count()} docs")

    time("minhash_md5_10x")(Dedup.minhashLsh(dupHeavy))
    time("minhash_xxhash64_10x")(Dedup.minhashLsh(dupHeavy, family = Dedup.XxHash64Family))
    time("simhash_10x")(Dedup.simhashPairs(dupHeavy))
    time("dedup_exact_10x")(Dedup.exactDedup(dupHeavy))
    // label propagation over ~250k near-dup pairs (xx family: cheapest)
    time("dedup_clusters_10x")(Dedup.dupClusters(dupHeavy,
      Dedup.minhashLsh(dupHeavy, family = Dedup.XxHash64Family)))
    // Efraimidis–Spirakis top-200 of 50k docs: TakeOrderedAndProject keeps
    // per-task state at n rows — cost is the scan, not the top-n
    time("weighted_sample_10x")(graft.sampling.Sampling.weightedSample(
      dupHeavy.withColumn("n_chars", length(col("text"))), "doc_id", "n_chars", 200))
    // deterministic epoch shuffle: ONE shard-keyed exchange + per-shard
    // local sort — no global ordering stage; must scale like the shuffle
    time("shuffle_shards_10x")(graft.sampling.Sampling.shuffleShards(
      dupHeavy.select("doc_id"), "doc_id"))
    // token-budget sampler at 50k docs / 5 strata: the bucketed plan's
    // per-(stratum, bucket) windows must keep this scan-bound — the
    // naive per-stratum window would sort 10k docs per stratum partition
    time("token_budget_10x")(graft.sampling.Sampling.tokenBudgetSample(
      dupHeavy
        .withColumn("lang", (col("doc_id") % 5).cast("string"))
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
      "doc_id", "lang", "n_tok", budgets = Map.empty, defaultBudget = 200000L))
    // PMI collocations: bigram explode+agg is linear in tokens; the
    // marginal joins are vocab-sized, unaffected by corpus growth
    time("text_pmi_10x")(graft.text.TextFunctions.pmiCollocations(dupHeavy))
    // substring-dup anchors on the adversarial corpus: every 10-variant
    // group shares nearly its whole token stream, so anchor volume is the
    // worst case short of boilerplate (which the occurrence cap removes)
    time("substring_dups_10x")(Dedup.substringDups(dupHeavy))
    // Decontamination at 10× with a 10% benchmark (5k docs): bloom must
    // track the exact path at test scale (both are corpus-scan-bound;
    // the shared shingle stage dominates). The bloom's structural win is
    // broadcast SIZE — ~1.2 MB per million benchmark keys vs a hashed
    // relation an order of magnitude bigger — which pays off when
    // benchmark suites reach tens of millions of rows.
    // the prefix-filter's intended regime: every shingle has df≈10 (ten
    // near-identical copies), so candidate volume — 45 pairs per distinct
    // shingle — dominates; compare against the plain capped join on the
    // SAME corpus (the stop-shingle block below measures the dup-light
    // regime, where the prefix machinery is pure overhead)
    time("ngram_dup_10x")(Dedup.ngramJaccard(dupHeavy))
    // caller-owned persist (timing includes cache build — first action
    // populates it — matching the earlier internal-persist methodology)
    val shDup = Dedup.shingleTable(dupHeavy).persist()
    time("ngram_dup_prefix_10x")(
      Dedup.ngramJaccardPrefix(dupHeavy, shingles = Some(shDup)))
    shDup.unpersist()
    spark.catalog.clearCache()
    dupHeavy.cache(); dupHeavy.count()  // re-pin the corpus for the lines below
    val bench10 = dupHeavy.filter(col("doc_id") % 10 === 0)
    time("decontam_exact_10x")(Dedup.decontaminate(dupHeavy, bench10))
    time("decontam_bloom_10x")(Dedup.bloomDecontaminate(dupHeavy, bench10))
    // the persisted-intermediate (_mat) timing runs LAST in the dupHeavy
    // block: the callee persists frames the caller can't unpersist by
    // reference, so the clearCache below reclaims them before the next
    // corpus — and no NON-mat timing runs with them resident.
    // persisted anchors: tokenize+hash once instead of once per plan
    // branch (stop count, anti-join probe, both self-join sides); its
    // token-stream-sized anchor cache is why this line runs last of all
    time("substring_dups_10x_mat")(
      Dedup.substringDups(dupHeavy, persistAnchors = true))
    dupHeavy.unpersist()
    spark.catalog.clearCache()

    // High-diameter pair graph: a 4096-node chain is the worst case for
    // plain min-label propagation (diameter rounds — would blow maxIter);
    // pointer doubling closes it in O(log d) ≈ 12 rounds.
    val chainDocs = spark.range(4096L).select(col("id").as("doc_id"))
    val chainPairs = spark.range(4095L)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    time("clusters_chain4k_dbl")(
      Dedup.dupClusters(chainDocs, chainPairs, maxIter = 30, pointerDoubling = true,
        driverCutover = 0L)) // pin the distributed loop: this line gates pointer doubling

    // 100× CLEAN corpus (opt-in: SPARK_GRAFT_STRESS_100X=1): 500k docs,
    // every word suffixed per copy so copies share no shingles — the
    // "corpus grows, duplicates don't" case. Candidate volume must stay
    // ~linear in N (band buckets hold only true dups + random collisions);
    // a quadratic term here is the design failure banding exists to
    // prevent. Clean-corpus by construction: each copy's only near-dups
    // are within its own 5k docs.
    if (sys.env.get("SPARK_GRAFT_STRESS_100X").contains("1")) {
      def cleanCorpus(copies: Int): DataFrame = (0 until copies).map { i =>
        docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"))
      }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
      val clean10 = cleanCorpus(10)
      println(s"clean corpus 10x: ${clean10.count()} docs")
      time("minhash_xx_clean_10x")(
        Dedup.minhashLsh(clean10, family = Dedup.XxHash64Family))
      clean10.unpersist()
      val clean100 = cleanCorpus(100)
      println(s"clean corpus 100x: ${clean100.count()} docs")
      time("minhash_xx_clean_100x")(
        Dedup.minhashLsh(clean100, family = Dedup.XxHash64Family))
      clean100.unpersist()
    }

    // Stop-shingle corpora: every doc ends with the same common phrase
    // (document frequency = |corpus|), copies share no CONTENT shingles
    // (every word suffixed with the copy index). Uncapped, each of the 5
    // phrase shingles generates |corpus|²/2 join rows — at 10× (50k docs)
    // that is ~6×10⁹ rows, hours of work, so the uncapped cliff is only
    // measured at 1× (~6×10⁷ rows) and the CAPPED path at 1× and 10×:
    // sub-quadratic growth shows as capped_10x ≈ 10 × capped_1x.
    def stopShingleCorpus(copies: Int): DataFrame = (0 until copies).map { i =>
      docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        concat(regexp_replace(col("text"), "(\\S+)", s"$$1_$i"),
          lit(" all rights reserved terms and conditions apply")).as("text"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()

    val ss1 = stopShingleCorpus(1)
    println(s"stop-shingle corpus 1x: ${ss1.count()} docs")
    time("ngram_capped_1x")(Dedup.ngramJaccard(ss1))
    if (sys.env.get("SPARK_GRAFT_STRESS_UNCAPPED").contains("1"))
      time("ngram_UNCAPPED_1x")(Dedup.ngramJaccard(ss1, dfMax = None))
    ss1.unpersist()

    val ss10 = stopShingleCorpus(10)
    println(s"stop-shingle corpus 10x: ${ss10.count()} docs")
    time("ngram_capped_10x")(Dedup.ngramJaccard(ss10))
    // materialized-shingle path: the explode is persisted, so the text is
    // scanned once instead of feeding 4 independent plan branches (timing
    // INCLUDES building the cache — first action populates it)
    val sh10 = Dedup.shingleTable(ss10).persist()
    time("ngram_capped_10x_mat")(Dedup.ngramJaccardFromShingles(sh10))
    sh10.unpersist()
    // prefix-filtered exact path (PPJoin): candidates from rarity-ordered
    // prefixes only, full-set verify — output byte-identical (spec); the
    // measurement is whether the smaller candidate join beats the extra
    // rank window + verify join at this corpus shape. Runs after the
    // other ngram lines so its internal shingle persist (reclaimed by the
    // clearCache below) never sits under them.
    val shSs = Dedup.shingleTable(ss10).persist()
    time("ngram_prefix_10x")(
      Dedup.ngramJaccardPrefix(ss10, shingles = Some(shSs)))
    shSs.unpersist()
    ss10.unpersist()
    spark.catalog.clearCache()

    // Fuzzy-join dictionary stress: sf parts carry only ~64 distinct
    // names, so build a REALISTIC dictionary — 4 words hash-picked from
    // the p_name vocabulary per id. High segment entropy (the PassJoin
    // regime), lengths peaked in a ~15-bucket band (the regime where
    // length-band blocking fans out Σ_ℓ n_ℓ² ≈ N²/3). The length-band
    // fan-out is COMPUTED from the length histogram (25-row self-join)
    // instead of materialized — at 10× it is ~10¹⁰ rows, the cliff that
    // got the round-6 design replaced. PassJoin must grow ~linearly.
    // sf parts carry only 16 distinct words, so widen to ~416 effective
    // words with a hash-picked letter suffix — segment entropy matching
    // a real product/person dictionary, not the boilerplate-prefix
    // degradation case (that limit is documented in the scaladoc).
    val vocab = Tables.part(spark, sfDir)
      .select(explode(split(col("p_name"), " ")).as("w"))
      .distinct().orderBy("w").collect().map(_.getString(0))
    val letters = array(('a' to 'z').map(c => lit(c.toString)): _*)
    def nameDict(n: Long): DataFrame = {
      val vlit = array(vocab.map(lit).toIndexedSeq: _*)
      def w(seed: Int) = concat(
        element_at(vlit,
          (pmod(xxhash64(col("id"), lit(seed)), lit(vocab.length)) + 1).cast("int")),
        element_at(letters,
          (pmod(xxhash64(col("id"), lit(seed + 100)), lit(26)) + 1).cast("int")))
      spark.range(n)
        .select(concat_ws(" ", w(1), w(2), w(3), w(4)).as("name"))
        .repartition(cpus.toInt).cache()
    }
    for (mult <- Seq(1, 10)) {
      val nd = nameDict(20000L * mult)
      val hist = nd.select(length(col("name")).as("len"))
        .groupBy("len").count()
      val lenbandPairs = hist.alias("a").join(hist.alias("b"),
          abs(col("a.len") - col("b.len")) <= 2)
        .agg(sum(col("a.count") * col("b.count"))).head().getLong(0) / 2
      println(s"name dict ${mult}x: ${nd.count()} names, " +
        s"length-band fan-out would be $lenbandPairs pairs")
      time(s"fuzzy_passjoin_${mult}x")(
        graft.analytics.Analytics.fuzzyNameJoin(nd, "name"))
      nd.unpersist()
    }

    val emb = Tables.embeddings(spark, sfDir)
    val emb10x = (0 until 10).map { i =>
      emb.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"embedding corpus: ${emb10x.count()} vectors" +
      s" (auto planes = ${Similarity.autoPlanes(emb10x.count())})")
    val queries = emb10x.filter(col("vec_id") < 10)

    time("ann_auto_planes_10x")(Similarity.lshTopK(emb10x, queries))
    time("ann_const_4planes_10x")(Similarity.lshTopK(emb10x, queries, nPlanes = 4, tables = 1))
    time("ann_ivf_10x")(Similarity.ivfTopK(emb10x, queries))
    emb10x.unpersist()

    // Skewed join: 4M-row fact with 50% of rows on ONE key, 20k-key dim.
    // Broadcast disabled to model a dim too big to broadcast at 100 TB —
    // the case where the shuffle join's hot partition is the straggler.
    // Plain (AQE skew-split active) and explicitly salted, side by side.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val skewFact = spark.range(0, 4000000L).select(
      col("id").as("row_id"),
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(20000L))).as("key"))
      .repartition(cpus.toInt).cache()
    println(s"skew corpus: ${skewFact.count()} rows, hottest key holds 50%")
    val skewDim = spark.range(0, 20000L)
      .select(col("id").as("key"), (col("id") * 7 % 1000).as("dim_payload"))
    time("skew_join_plain")(skewFact.join(skewDim, "key"))
    time("skew_join_salted")(
      graft.analytics.SkewJoin.salted(skewFact, skewDim, "key", col("row_id")))
    skewFact.unpersist()
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // OLAP core at 1× and 10× lineitem (~6M rows): the aggregate/join
    // plans are shuffle-bounded by GROUP keys (bounded) or broadcast dims,
    // so time should grow ~linearly with the fact (scan-bound) — the
    // "would this survive 100×" evidence for §2.5. Lineitem is replicated
    // with shifted orderkeys so join fan-outs stay realistic.
    // SCD-2 at 10× per-user history depth: silver replicated with shifted
    // ts/event_id so every user's event chain is 10× longer — the worst
    // case for the per-user windows. All state partitions by user_id, so
    // cost should track rows, not rows² per user.
    val sv = graft.pipeline.Silver.cleanEvents(
      graft.pipeline.Bronze.ingestEvents(Tables.events(spark, sfDir)))
    val sv10 = (0 until 10).map { i =>
      sv.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL '${i * 30}' DAY"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"scd2 corpus: ${sv10.count()} silver events")
    time("scd2_1x")(graft.pipeline.Gold.scd2UserZones(sv))
    time("scd2_10x")(graft.pipeline.Gold.scd2UserZones(sv10))
    sv10.unpersist()

    // Co-location at 10× CLEAN growth ("corpus grows, density doesn't"):
    // each copy shifts user_id AND ts by a month, so copies never share a
    // (zone, hour-bucket) — true pairs and candidates both grow exactly
    // 10×. The failure mode this gates: same-window user replication
    // would grow per-(zone, hour) concurrency 10× and candidate pairs
    // ~100× — quadratic SEMANTICS (more people actually co-located), not
    // a plan flaw; the clean model isolates the plan's own scaling. The
    // 100× block below upgrades the gate to a million-event trajectory
    // corpus.
    def svShift(copies: Int): DataFrame = (0 until copies).map { i =>
      sv.withColumn("event_id", col("event_id") + lit(i * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i * 100000000L))
        .withColumn("ts", col("ts") + expr(s"INTERVAL '${i * 31}' DAY"))
    }.reduce(_ unionByName _)
    val svc10 = svShift(10).repartition(cpus.toInt).cache()
    println(s"coloc corpus: ${svc10.count()} silver events")
    time("m_co_1x")(graft.mobility.Mobility.coLocation(sv))
    time("m_co_10x")(graft.mobility.Mobility.coLocation(svc10))
    svc10.unpersist()
    if (sys.env.get("SPARK_GRAFT_STRESS_100X").contains("1")) {
      val svc100 = svShift(100)
      time("m_co_100x")(graft.mobility.Mobility.coLocation(svc100))
    }

    val li = Tables.lineitem(spark, sfDir)
    val li10 = (0 until 10).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    val ord = Tables.orders(spark, sfDir)
    val ord10 = (0 until 10).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"olap corpus: ${li10.count()} lineitems, ${ord10.count()} orders")
    val cust = Tables.customer(spark, sfDir)
    time("q1_agg_1x")(graft.analytics.Analytics.pricingSummary(li))
    time("q1_agg_10x")(graft.analytics.Analytics.pricingSummary(li10))
    time("q_cube_1x")(graft.analytics.Analytics.pricingCube(li))
    time("q_cube_10x")(graft.analytics.Analytics.pricingCube(li10))
    time("q3_join_1x")(graft.analytics.Analytics.shippingPriority(cust, ord, li))
    time("q3_join_10x")(graft.analytics.Analytics.shippingPriority(cust, ord10, li10))
    li10.unpersist(); ord10.unpersist()

    // 100× OLAP (opt-in with the 100× gate): 60M lineitems / 15M orders —
    // ~the largest corpus that fits this container. The agg plans shuffle
    // only group keys (bounded), the join only its matched fan-out; cost
    // must keep tracking the scan. NOT cached (60M rows would evict
    // everything else): built from the 10×-replication lineage directly.
    if (sys.env.get("SPARK_GRAFT_STRESS_100X").contains("1")) {
      def rep100(df: DataFrame, keyCol: String): DataFrame =
        (0 until 100).map { i =>
          df.withColumn(keyCol, col(keyCol) + lit(i * 100000000L))
        }.reduce(_ unionByName _)
      val li100 = rep100(li, "l_orderkey")
      val ord100 = rep100(ord, "o_orderkey")
      println(s"olap corpus 100x: ${li100.count()} lineitems")
      time("q1_agg_100x")(graft.analytics.Analytics.pricingSummary(li100))
      time("q3_join_100x")(graft.analytics.Analytics.shippingPriority(cust, ord100, li100))
    }

    // RFM quintiles at 1× vs 10× USER DIM — the axis globalNtile
    // range-partitions (round 8 replaced three single-partition ntile
    // window sorts; growth must stay ~linear now that no task sees the
    // whole user table). Offset user_ids so |users| itself grows 10×.
    val events = Tables.events(spark, sfDir)
    def silverOf(ev: DataFrame) =
      graft.pipeline.Silver.cleanEvents(graft.pipeline.Bronze.ingestEvents(ev))
    time("rfm_quintiles_1x")(
      graft.features.FeatureEngineering.rfmSegments(silverOf(events)))
    val ev10 = (0 until 10).map { i =>
      events.select(
        (col("event_id") + lit(i * 1000000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * 100000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"events 10x: ${ev10.count()} rows")
    time("rfm_quintiles_10x")(
      graft.features.FeatureEngineering.rfmSegments(silverOf(ev10)))
    ev10.unpersist()

    // End-to-end curation at 1× vs 10× CLEAN growth: every word suffixed
    // per copy so copies share no shingles — stage volumes (quality
    // scores, dedup windows, LSH buckets, decontam joins, sample/split
    // hashes) all grow 10× with no candidate blow-up, so the report's
    // composed five shuffle families must track ~linearly. The adversarial
    // candidate-volume axis is already gated by minhash_*_10x above; this
    // line gates the COMPOSITION (the `cur` entry is one of the most
    // expensive bench lines — per-job latency of the flag, LSH,
    // cluster and probe passes at test SF, which a 10× corpus amortizes).
    val docsL = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    def curCorpus(copies: Int): DataFrame = (0 until copies).map { i =>
      docsL.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("lang"),
        regexp_replace(col("text"), "(\\S+)", s"$$1_$i").as("text"))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    val cur1 = curCorpus(1)
    println(s"curation corpus 1x: ${cur1.count()} docs")
    time("curation_1x")(graft.pipeline.Pipeline.curationReport(
      cur1, cur1.filter(col("doc_id") % 20 === 0),
      minQuality = 0.2, rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1))
    cur1.unpersist()
    val cur10 = curCorpus(10)
    println(s"curation corpus 10x: ${cur10.count()} docs")
    time("curation_10x")(graft.pipeline.Pipeline.curationReport(
      cur10, cur10.filter(col("doc_id") % 20 === 0),
      minQuality = 0.2, rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1))
    cur10.unpersist()
    spark.catalog.clearCache()

    // Embedding decontamination growth curve: the operator is
    // DECLARED-QUADRATIC — cost ∝ |corpus| × |benchmark| through the
    // broadcast cross join — measured here with the corpus fixed at 10×
    // (20k vectors) across 1×/4×/16× benchmark slices. MEASURED (round
    // 9, BASELINE Corpus 9): flat in |benchmark| at these sizes — the
    // one corpus scan dominates and the per-row dot-product loop stays
    // under scan cost even at 16× — confirming the operator's contract
    // that the quadratic term only bites once benchmarks leave the
    // thousands (then: sharded broadcast / LSH fallback per scaladoc).
    val embT = Tables.embeddings(spark, sfDir)
    val emb10 = (0 until 10).map { i =>
      embT.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _).repartition(cpus.toInt).cache()
    println(s"embedding corpus 10x: ${emb10.count()} vectors")
    val embBase = embT.orderBy("vec_id")
    for (mult <- Seq(1, 4, 16)) {
      val benchN = 100 * mult
      time(f"emb_decontam_b${mult}%dx")(Dedup.embeddingDecontaminate(
        emb10, embBase.limit(benchN), minCosine = 0.95))
    }
    emb10.unpersist()

    // Bucketed-state incremental view: fold TEN daily batches into the
    // zone×hour revenue state through the A/B bucketed-table step. The
    // scale property under test: each fold's join shuffles ONLY the
    // day's delta (state side reads its bucket layout, no Exchange —
    // plan-asserted in PipelineSpec); ten folds must cost ~10× one fold
    // plus the state rewrite, with history never rescanned.
    {
      import graft.pipeline.Aggregates
      val sv = silverOf(events).cache()
      val days = sv.select("event_date").distinct()
        .orderBy("event_date").limit(10).collect().map(_.getDate(0))
      val broot = java.nio.file.Files.createTempDirectory("graft_bstate").toString
      Seq("stress_state_a", "stress_state_b")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      val t0 = System.nanoTime()
      graft.sources.Sinks.writeBucketed(
        Aggregates.revenueStateByZoneHour(sv.filter(col("event_date") === days.head)),
        "stress_state_a", s"$broot/s0", Seq("zone_id", "hour"), nBuckets = cpus.toInt)
      var cur = "stress_state_a"
      days.zipWithIndex.drop(1).foreach { case (d, i) =>
        val next = if (cur == "stress_state_a") "stress_state_b" else "stress_state_a"
        Aggregates.mergeRevenueStateBucketedStep(spark, cur,
          sv.filter(col("event_date") === d), next, s"$broot/s$i", nBuckets = cpus.toInt)
        cur = next
      }
      val foldS = (System.nanoTime() - t0) / 1e9
      val nKeys = spark.table(cur).count()
      println(f"STRESS bucketed_fold_10d      $foldS%8.2f s  ($nKeys rows)")
      // exactness holds through ten bucketed folds, not just the spec's 3
      val full = Aggregates.revenueStateByZoneHour(
        sv.filter(col("event_date").isin(days.map(_.toString): _*)))
      val diff = Aggregates.revenueViewFromState(spark.table(cur))
        .exceptAll(Aggregates.revenueViewFromState(full)).count()
      println(s"STRESS bucketed_fold_check    diff=$diff (must be 0)")
      Seq("stress_state_a", "stress_state_b")
        .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      sv.unpersist()
    }

    // Versioned-table COMMIT-PATH scale: (a) per-batch commit cost must
    // stay FLAT in commit count — the round-11 delta-manifest +
    // checkpoint log caps per-commit metadata reads at 1+K (the full-
    // list log re-serialized the whole file list per append and lastTxn
    // read EVERY manifest, O(V²) cumulative over a stream's life);
    // (b) a WIDE commit's footer-stats pass runs on a bounded thread
    // pool, so a 200-file batch pays ~files/16 metadata round-trips,
    // not 200 serial driver reads.
    {
      import graft.sources.VersionedTable
      val vroot = java.nio.file.Files.createTempDirectory("graft_vtc").toString
      val one = spark.range(1).selectExpr("id", "id * 10 AS v").coalesce(1)
      val times = (0 until 40).map { i =>
        val t0 = System.nanoTime()
        VersionedTable.commitIfNew(one, s"$vroot/chain", "stress", i.toLong,
          ts = java.time.Instant.EPOCH.plusSeconds(i.toLong).toString)
        (System.nanoTime() - t0) / 1e9
      }
      val first = times.take(10).sum
      val last = times.takeRight(10).sum
      println(f"STRESS vt_commit_first10      $first%8.2f s  (10 rows)")
      println(f"STRESS vt_commit_last10       $last%8.2f s  (${last / first}%.2fx vs first10 — flat = no per-batch log scan)")
      val wide = silverOf(events).repartition(200)
      val t0 = System.nanoTime()
      VersionedTable.commit(wide, s"$vroot/wide", mode = "overwrite",
        ts = "2026-01-01T00:00:00Z")
      val s200 = (System.nanoTime() - t0) / 1e9
      val nf = VersionedTable.snapshotFiles(spark, s"$vroot/wide").size
      println(f"STRESS vt_commit_200files     $s200%8.2f s  ($nf files, pooled footer stats)")
    }

    // PARTITIONED TABLE at scale: the reference's standing write shape
    // (date-partitioned medallion tables). Measures (a) the hive-layout
    // write tax vs a flat commit of the same frame, (b) partition
    // pruning exactness — a one-day predicate must open only that day's
    // value directory, and (c) metadata-only COUNT: partition-aligned
    // countWhere/rowCount answer from `fr=` manifest lines with ZERO
    // data files opened, vs the same count as a pruned scan.
    {
      import graft.sources.VersionedTable
      val proot = java.nio.file.Files.createTempDirectory("graft_vtp").toString
      val sv = silverOf(events)
        .select("event_id", "event_type", "value", "event_date")
        .repartition(8)
      val tFlat0 = System.nanoTime()
      VersionedTable.commit(sv, s"$proot/flat", mode = "overwrite",
        ts = "2026-01-01T00:00:00Z")
      val flatS = (System.nanoTime() - tFlat0) / 1e9
      val t0 = System.nanoTime()
      VersionedTable.commit(sv, s"$proot/t", mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", partitionBy = Seq("event_date"))
      val wS = (System.nanoTime() - t0) / 1e9
      val all = VersionedTable.snapshotFiles(spark, s"$proot/t")
      val day = "2024-01-07"
      val kept = VersionedTable.prunedFiles(spark, s"$proot/t",
        s"event_date = DATE'$day'")
      val exact = kept.forall(_.contains(s"event_date=$day"))
      println(f"STRESS vt_partition_write     flat $flatS%.2f s vs partitioned $wS%.2f s " +
        f"(${all.size} files, ${all.map(_.split('/')(2)).distinct.size} value dirs)")
      println(s"STRESS vt_partition_prune     ${kept.size}/${all.size} files for one day " +
        s"(exact=$exact — every kept file in the day's directory)")
      val t1 = System.nanoTime()
      val metaN = VersionedTable.countWhere(spark, s"$proot/t",
        s"event_date = DATE'$day'")
      val metaS = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val scanN = VersionedTable.readVersion(spark, s"$proot/t")
        .filter(col("event_date") === lit(day).cast("date")).count()
      val scanS = (System.nanoTime() - t2) / 1e9
      require(metaN == scanN, s"metadata count $metaN != scan count $scanN")
      println(f"STRESS vt_partition_count     metadata $metaS%.3f s vs scan $scanS%.3f s " +
        f"($metaN rows, zero data files opened on the metadata path)")
    }

    // OPTIMIZE ZORDER data skipping: the measurement that justifies
    // Z-ordering. Same snapshot compacted to the same file count twice —
    // v1 round-robin (repartition), v2 Z-ORDERed on (zone_id, user_id) —
    // then an identical 2-D range filter scans both. Parquet row-group
    // min/max pruning is the mechanism; the SCAN's numOutputRows (rows
    // surviving footer-level pruning, before Spark's row filter) is the
    // honest skip metric: Z-order keeps each file/row-group to a small
    // (zone × user) rectangle, so most row groups miss the query box and
    // are never decoded.
    {
      import graft.sources.VersionedTable
      val sv = silverOf(events)
        .select(col("event_id"), col("user_id").cast("long").as("user_id"),
          col("zone_id").cast("long").as("zone_id"), col("value"))
        .filter(col("zone_id").isNotNull && col("user_id").isNotNull)
      val zroot = java.nio.file.Files.createTempDirectory("graft_zord").toString
      VersionedTable.commit(sv, zroot, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val bytes = VersionedTable.readVersion(spark, zroot).inputFiles.map { f =>
        new java.io.File(new java.net.URI(f)).length
      }.sum
      val target = math.max(1L, bytes / 16) // ~16 files both layouts
      VersionedTable.optimize(spark, zroot, targetFileBytes = target,
        ts = "2026-01-02T00:00:00Z") // v1: round-robin layout
      VersionedTable.optimize(spark, zroot, targetFileBytes = target,
        zorderBy = Some(("zone_id", "user_id")), ts = "2026-01-03T00:00:00Z") // v2
      val zb = sv.agg(min("zone_id"), max("zone_id"), min("user_id"), max("user_id")).head()
      val (zLo, zHi) = (zb.getLong(0), zb.getLong(1))
      val (uLo, uHi) = (zb.getLong(2), zb.getLong(3))
      // ~10% band on each axis → ~1% of the 2-D space
      def band(lo: Long, hi: Long) = (lo, lo + math.max(1L, (hi - lo) / 10))
      val (z1, z2) = band(zLo, zHi)
      val (u1, u2) = band(uLo, uHi)
      def scanned(version: Long): (Long, Long, Double) = {
        val q = VersionedTable.readVersion(spark, zroot, version)
          .filter(col("zone_id").between(z1, z2) && col("user_id").between(u1, u2))
        val t0 = System.nanoTime()
        // collect() executes THIS Dataset's plan, so its scan metrics
        // are the ones populated (a count() would build a separate QE)
        val hits = q.collect().length.toLong
        val s = (System.nanoTime() - t0) / 1e9
        val finalPlan = q.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan
          case p => p
        }
        val scan = finalPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value
        }.getOrElse(-1L)
        (hits, scan, s)
      }
      val (hits1, scan1, s1) = scanned(1L)
      val (hits2, scan2, s2) = scanned(2L)
      require(hits1 == hits2, s"layouts must agree on results: $hits1 vs $hits2")
      val ratio = scan1.toDouble / math.max(1L, scan2)
      println(f"STRESS zorder_scan_rr         $s1%8.2f s  ($scan1 rows decoded, $hits1 hits)")
      println(f"STRESS zorder_scan_z          $s2%8.2f s  ($scan2 rows decoded, skip ratio $ratio%.1fx)")
      // FILE-level skipping via manifest stats (readWhere): round-robin
      // files all span the full key space (nothing prunable); Z-ordered
      // files are (zone × user) rectangles, so most never open at all
      val cond = s"zone_id BETWEEN $z1 AND $z2 AND user_id BETWEEN $u1 AND $u2"
      val kept1 = VersionedTable.prunedFiles(spark, zroot, cond, 1L).size
      val kept2 = VersionedTable.prunedFiles(spark, zroot, cond, 2L).size
      val tot1 = VersionedTable.snapshotFiles(spark, zroot, 1L).size
      val tot2 = VersionedTable.snapshotFiles(spark, zroot, 2L).size
      val hitsW = VersionedTable.readWhere(spark, zroot, cond, 2L).count()
      require(hitsW == hits1, s"readWhere must agree: $hitsW vs $hits1")
      println(s"STRESS zorder_file_prune      rr $kept1/$tot1 files vs z $kept2/$tot2 files opened (identical $hitsW hits)")
    }

    // BLOOM point-lookup skipping: the measurement that justifies the
    // bloom file index. Same hash-laid frame (every file's [min, max]
    // spans the whole id domain — stats pruning structurally blind)
    // committed twice, with and without a bloom index on event_id; an
    // identical point probe runs against both. Honest metric: files the
    // probe opens, plus agreement of the row sets.
    {
      import graft.sources.VersionedTable
      val sv = silverOf(events).select("event_id", "event_type", "value")
        .repartition(16, col("event_id"))
      val plain = java.nio.file.Files.createTempDirectory("graft_bfp").toString
      val bloomed = java.nio.file.Files.createTempDirectory("graft_bfb").toString
      VersionedTable.commit(sv, plain, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val t0 = System.nanoTime()
      VersionedTable.commit(sv, bloomed, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", bloomIndex = Seq("event_id"))
      val buildS = (System.nanoTime() - t0) / 1e9
      val probe = "event_id = 777"
      def run(tbl: String): (Long, Int, Double) = {
        val s0 = System.nanoTime()
        val hits = VersionedTable.readWhere(spark, tbl, probe).count()
        ((hits, VersionedTable.prunedFiles(spark, tbl, probe).size,
          (System.nanoTime() - s0) / 1e9))
      }
      val (h1, k1, s1) = run(plain)
      val (h2, k2, s2) = run(bloomed)
      require(h1 == h2, s"bloom must not change results: $h1 vs $h2")
      println(f"STRESS bloom_point_prune      none $k1%d/16 files $s1%.2f s vs bloom $k2%d/16 files $s2%.2f s (identical $h1 hits; indexed commit $buildS%.2f s)")
    }

    // DELETION VECTORS vs COPY-ON-WRITE: the scattered-delete shape
    // (a few rows in EVERY file — GDPR erasure). COW rewrites all 16
    // files to drop them; merge-on-read writes a KB-sized position
    // vector and leaves the data alone. Honest metrics: wall time,
    // BYTES WRITTEN under files/ by the delete, and read-back equality.
    {
      import graft.sources.VersionedTable
      def bytesUnder(dir: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(dir, "files"))
      }
      val sv = silverOf(events).select("event_id", "event_type", "value")
        .repartition(16, col("event_id"))
      val cond = "event_id % 199 = 0"
      def build(): String = {
        val t = java.nio.file.Files.createTempDirectory("graft_dvc").toString
        VersionedTable.commit(sv, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
        t
      }
      val (cow, mor) = (build(), build())
      val b0c = bytesUnder(cow)
      val t0 = System.nanoTime()
      VersionedTable.delete(spark, cow, cond, ts = "2026-01-02T00:00:00Z")
      val cowS = (System.nanoTime() - t0) / 1e9
      val cowMb = (bytesUnder(cow) - b0c) / 1e6
      val b0m = bytesUnder(mor)
      val t1 = System.nanoTime()
      VersionedTable.deleteMergeOnRead(spark, mor, cond, ts = "2026-01-02T00:00:00Z")
      val morS = (System.nanoTime() - t1) / 1e9
      val morKb = (bytesUnder(mor) - b0m) / 1e3
      val t2 = System.nanoTime()
      val nM = VersionedTable.readVersion(spark, mor).count()
      val morRead = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val nC = VersionedTable.readVersion(spark, cow).count()
      val cowRead = (System.nanoTime() - t3) / 1e9
      require(nC == nM, s"dv and cow deletes must agree: $nC vs $nM")
      println(f"STRESS dv_vs_cow_delete       cow $cowS%.2f s/$cowMb%.1f MB written vs dv $morS%.2f s/$morKb%.1f KB written (identical $nC rows; read-back cow $cowRead%.2f s vs dv $morRead%.2f s)")

      // VECTORED-READ TAX vs vector size — the measurement behind the
      // "compact on a cadence" guidance: the anti-join's broadcast grows
      // with DELETED ROWS, so reads stay cheap for the sparse-delete
      // shape DVs exist for and optimize materializes the rest away.
      val taxed = build()
      def readS(): Double = {
        val s0 = System.nanoTime()
        VersionedTable.readVersion(spark, taxed).count()
        (System.nanoTime() - s0) / 1e9
      }
      val base0 = readS()
      val t10 = { VersionedTable.deleteMergeOnRead(spark, taxed,
        "event_id % 100 = 0", ts = "2026-01-02T00:00:00Z"); readS() } // ~1%
      val t25 = { VersionedTable.deleteMergeOnRead(spark, taxed,
        "event_id % 4 = 0", ts = "2026-01-03T00:00:00Z"); readS() }   // ~25%
      VersionedTable.optimize(spark, taxed, ts = "2026-01-04T00:00:00Z")
      val tOpt = readS()
      println(f"STRESS dv_read_tax            plain $base0%.2f s, 1%%-vector $t10%.2f s, 25%%-vector $t25%.2f s, post-optimize $tOpt%.2f s (vector materialized)")

      // AUTO-MATERIALIZATION bound (r12): a delete vectoring half of
      // every file crosses the default 0.5 threshold, so the SAME DML
      // folds the files COW-style — the head carries NO vector and the
      // read tax resets without anyone scheduling an optimize. This is
      // the cadence the round-11 dv_read_tax note said "exists" but
      // nothing enforced.
      // remaining ids are ≡ 1,2,3 (mod 4) after the %4 delete, so odd
      // ids are ~2/3 of every file — safely past the 0.5 threshold
      val vAuto = VersionedTable.deleteMergeOnRead(spark, taxed,
        "event_id % 2 = 1", ts = "2026-01-05T00:00:00Z")
      val tAuto = readS()
      val headManifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(taxed, "_manifests", f"v$vAuto%08d.manifest")), "UTF-8")
      require(!headManifest.contains("dv="),
        "a 50%-vectored delete must auto-fold, carrying no dv= entry")
      println(f"STRESS dv_auto_fold           50%%-delete auto-folded in-commit; post-fold read $tAuto%.2f s (no vector left)")

      // CONSTRAINT overhead per commit: each CHECK is one short-circuit
      // limit-1 pass over the batch before the write.
      val free = java.nio.file.Files.createTempDirectory("graft_ck0").toString
      val gated = java.nio.file.Files.createTempDirectory("graft_ck3").toString
      VersionedTable.commit(sv.limit(1), free, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.commit(sv.limit(1), gated, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.addConstraint(spark, gated, "id_nn", "event_id IS NOT NULL")
      VersionedTable.addConstraint(spark, gated, "t_dom",
        "event_type IN ('click','view','purchase','signup','error')")
      VersionedTable.addConstraint(spark, gated, "v_rng",
        "value >= 0 AND value < 1e9") // NULL passes, SQL CHECK
      val f0 = System.nanoTime()
      VersionedTable.commit(sv, free, mode = "append", ts = "2026-01-02T00:00:00Z")
      val freeS = (System.nanoTime() - f0) / 1e9
      val g0 = System.nanoTime()
      VersionedTable.commit(sv, gated, mode = "append", ts = "2026-01-02T00:00:00Z")
      val gatedS = (System.nanoTime() - g0) / 1e9
      println(f"STRESS constraint_commit      unconstrained $freeS%.2f s vs 3-CHECK gated $gatedS%.2f s per append (same batch)")
    }

    checkpointCostLine(spark)

    // LOG LIFECYCLE at the 1,000-commit regime — the gap between
    // "protocol correct" (checkpoint math spec-measured at 50 commits)
    // and "protocol lived-in": a thousand commitIfNew micro-batches
    // (~3 years of nightly loads, or a week of 10-minute triggers) with
    // maintain() every 100 as the nightly window. ASSERTED, not just
    // timed: (a) per-batch metadata opens at batch 900-1000 never
    // exceed the batch 0-100 maximum plus checkpoint slack — the
    // O(1+K) guarantee holds lived-in, not just at 50 commits;
    // (b) the metadata log itself stays BOUNDED (manifests ≈ retained
    // window + tail, checkpoints likewise) because each maintain()'s
    // expireLog cuts below the anchor; (c) content stays exact.
    {
      import graft.sources.VersionedTable
      val path = s"${java.nio.file.Files.createTempDirectory("graft_vtl")}/life"
      val one = spark.range(1).selectExpr("id", "id * 10 AS v").coalesce(1)
      var firstWin = 0.0; var lastWin = 0.0
      var opensEarly = 0L; var opensLate = 0L
      (0 until 1000).foreach { i =>
        val o0 = VersionedTable.metadataOpens.get()
        val t0 = System.nanoTime()
        VersionedTable.commitIfNew(one, path, "life", i.toLong,
          ts = java.time.Instant.EPOCH.plusSeconds(i.toLong).toString)
        val dt = (System.nanoTime() - t0) / 1e9
        val dOpens = VersionedTable.metadataOpens.get() - o0
        if (i < 100) { firstWin += dt; opensEarly = math.max(opensEarly, dOpens) }
        if (i >= 900) { lastWin += dt; opensLate = math.max(opensLate, dOpens) }
        if (i % 100 == 99)
          VersionedTable.maintain(spark, path, retainVersions = 30, graceMs = 0L,
            ts = java.time.Instant.EPOCH.plusSeconds(100000L + i).toString)
      }
      val nManifests = new java.io.File(s"$path/_manifests").list().length
      val nCheckpoints = new java.io.File(s"$path/_checkpoints").list().length
      require(opensLate <= opensEarly + VersionedTable.checkpointInterval,
        s"per-batch metadata opens crept over 1000 commits: early max " +
          s"$opensEarly, late max $opensLate")
      require(nManifests <= 60 && nCheckpoints <= 20,
        s"log unbounded after 1000 commits: $nManifests manifests, " +
          s"$nCheckpoints checkpoints")
      val rows = VersionedTable.readVersion(spark, path).count()
      require(rows == 1000L, s"lifecycle lost rows: $rows of 1000")
      require(VersionedTable.lastTxn(spark, path, "life").contains(999L),
        "txn marker must survive checkpoint aggregation across expired logs")
      println(f"STRESS vt_log_lifecycle       first100 $firstWin%.1f s vs last100 $lastWin%.1f s " +
        f"(${lastWin / firstWin}%.2fx); opens/batch max early $opensEarly late $opensLate; " +
        f"log bounded at $nManifests manifests + $nCheckpoints checkpoints; 1000 rows exact")
    }

    val deepLog = deepLog1k(spark)
    cdfDeepBackfillLine(spark, deepLog)
    streamUnpacedCatchupLine(spark, deepLog)
    checkpointMultipartLine(spark)
    deepCloneCostLine(spark)
    streamSoakLine(spark)

    spark.stop()
  }

  /** LONG-LIVED STREAM SOAK (`Trigger.ProcessingTime`) — the tail shape
    * the stream-source specs cover functionally but no epoch had
    * measured standing: a continuously-triggered reader drains a table
    * receiving concurrent appends. Gates: ZERO lost or duplicated rows
    * after the writer stops, and FLAT per-trigger execution cost
    * (last-third mean vs first-third mean of Spark's own
    * `triggerExecution` durations over data-carrying batches) — the
    * microbatch planning path must stay O(delta) as versions accumulate,
    * not grow with the log. */
  private def streamSoakLine(spark: SparkSession): Unit = {
    import graft.sources.VersionedTable
    val tbl = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_soak_ck").toString
    VersionedTable.commit(
      spark.range(1).select(col("id").as("k"), lit(0L).as("batch")),
      tbl, mode = "overwrite")
    // recentProgress is a ring buffer (default 100 entries); a 150 ms
    // trigger over a ~25 s soak overflows it and evicts the EARLY
    // batches — the exact ones the first-third-vs-last-third flat-cost
    // gate must sample. Widen it for this query.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft").load(tbl)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => rows.addAndGet(b.count()); () }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("150 milliseconds"))
      .start()
    val writes = 40
    val perBatch = 500L
    val t0 = System.nanoTime()
    (1 to writes).foreach { i =>
      VersionedTable.commit(
        spark.range(perBatch).select((col("id") + i * 100000L).as("k"),
          lit(i.toLong).as("batch")),
        tbl, mode = "append")
      Thread.sleep(100)
    }
    val want = 1L + writes * perBatch
    val deadline = System.nanoTime() + 180L * 1000000000L
    while (rows.get < want && System.nanoTime() < deadline) Thread.sleep(100)
    val progress = q.recentProgress.toSeq
    q.stop(); q.awaitTermination()
    val s = (System.nanoTime() - t0) / 1e9
    require(rows.get == want,
      s"stream soak lost or duplicated rows: ${rows.get} vs $want")
    val execMs = progress
      .filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
    val third = math.max(1, execMs.size / 3)
    val early = execMs.take(third).sum / third
    val late = execMs.takeRight(third).sum / third
    // generous bound: this is a single-box soak sharing the machine with
    // the writer loop — the gate catches super-linear planning growth,
    // not scheduler noise
    require(late <= math.max(4.0 * early, early + 250.0),
      f"per-trigger drain cost grew with the log: first-third $early%.0f ms " +
        f"vs last-third $late%.0f ms over ${execMs.size}%d data batches")
    println(f"STRESS stream_soak_pt         $s%.1f s, ${execMs.size}%d data " +
      f"batches, per-trigger first-third $early%.0f ms vs last-third " +
      f"$late%.0f ms, ${rows.get}%d rows exact")
  }

  /** DEEP vs SHALLOW clone cost on a 200-file snapshot — the declared
    * trade measured: shallow is O(metadata) whatever the size, deep
    * pays O(data) on the bounded ioPool (~files/threads wall-clock) and
    * buys source-independence. The gate is content equality on both. */
  private def deepCloneCostLine(spark: SparkSession): Unit = {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_dcl").toString
    val src = s"$root/src"
    VersionedTable.commit(
      spark.range(2000000L).selectExpr("id", "id * 10 AS v").repartition(200),
      src, mode = "overwrite")
    def bytesUnder(d: java.io.File): Long =
      Option(d.listFiles()).map(_.map(f =>
        if (f.isDirectory) bytesUnder(f) else f.length()).sum).getOrElse(0L)
    val t0 = System.nanoTime()
    VersionedTable.cloneTable(spark, src, s"$root/shallow")
    val sSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    VersionedTable.cloneTableDeep(spark, src, s"$root/deep")
    val dSec = (System.nanoTime() - t1) / 1e9
    require(VersionedTable.rowCount(spark, s"$root/deep") == 2000000L &&
      VersionedTable.rowCount(spark, s"$root/shallow") == 2000000L,
      "clone content mismatch")
    val mb = bytesUnder(new java.io.File(s"$root/deep/files")) / 1e6
    println(f"STRESS vt_clone_deep          shallow $sSec%.2f s (0 bytes) vs " +
      f"deep $dSec%.2f s ($mb%.0f MB copied, 200 files)")
  }

  /** A 1,000-commit log of single-row appends — the deep-backfill
    * fixture shared by the batch-CDF and unpaced-stream lines. */
  private def deepLog1k(spark: SparkSession): String = {
    import graft.sources.VersionedTable
    val path = s"${java.nio.file.Files.createTempDirectory("graft_cdf")}/deep"
    val one = spark.range(1).selectExpr("id", "id * 10 AS v").coalesce(1)
    (0 until 1000).foreach { i =>
      VersionedTable.commit(one, path,
        mode = if (i == 0) "overwrite" else "append",
        ts = java.time.Instant.EPOCH.plusSeconds(i.toLong).toString)
    }
    path
  }

  /** UNPACED stream catch-up over the same 1,000-version log:
    * `startingVersion=0` with neither `maxVersionsPerTrigger` nor
    * `maxFilesPerTrigger`, so the FIRST batch covers every commit at
    * once — 1,000 union legs in one plan. Gates the stream source's
    * balanced catch-up union (a left-leaning reduce chain there is
    * quadratic analyzer time, the shape the batch CDF already fixed). */
  private def streamUnpacedCatchupLine(spark: SparkSession, path: String): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s1k").toString
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0").load(path)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows.addAndGet(b.count()); batches.incrementAndGet(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val s = (System.nanoTime() - t0) / 1e9
    require(rows.get == 1000L,
      s"unpaced 1k-version drain lost commits: ${rows.get} rows")
    require(s < 240.0, f"unpaced 1k-version drain blew up: $s%.1f s")
    println(f"STRESS stream_unpaced_1k      drain $s%.2f s in ${batches.get}%d " +
      f"batch(es), ${rows.get}%d rows")
  }

  /** MULTI-PART CHECKPOINT at the ≥100k-file regime — the measurement
    * behind the split decision (BASELINE's checkpoint cost curve
    * documented a ~300 B/file single-string ceiling at multi-million-
    * file tables): the same ~110k-file snapshot checkpointed twice,
    * single-file vs 25k-entry parts. The gate is per-part FLATNESS —
    * each part write is a bounded string, so total cost stays linear
    * with no driver-memory cliff, and the parts-resolved read returns
    * the identical file list. */
  private def checkpointMultipartLine(spark: SparkSession): Unit = {
    import graft.sources.VersionedTable
    val p = s"${java.nio.file.Files.createTempDirectory("graft_ckm")}/t"
    VersionedTable.commit(
      spark.range(550000L).selectExpr("id", "id * 10 AS v").repartition(110000),
      p, mode = "overwrite")
    val actual = VersionedTable.snapshotFiles(spark, p).size
    val prev = sys.props.get("graft.checkpointPartLimit")
    try {
      sys.props("graft.checkpointPartLimit") = Int.MaxValue.toString
      val (w1, r1, f1) = VersionedTable.checkpointCost(spark, p)
      sys.props("graft.checkpointPartLimit") = "25000"
      val (w2, r2, f2) = VersionedTable.checkpointCost(spark, p)
      require(f1 == actual && f2 == actual,
        s"checkpoint lost files: single $f1 / parts $f2 of $actual")
      val nParts = math.ceil(actual / 25000.0).toInt
      println(f"STRESS vt_ck_multipart_100k   single w$w1%.2f/r$r1%.2f s vs " +
        f"$nParts%d-part w$w2%.2f/r$r2%.2f s ($actual%d files, " +
        f"${w2 / nParts}%.2f s per part)")
    } finally prev match {
      case Some(v) => sys.props("graft.checkpointPartLimit") = v
      case None => sys.props.remove("graft.checkpointPartLimit"); ()
    }
  }

  /** BATCH CDF over a 1,000-version log — the deep-backfill shape
    * (`startingVersion` far behind the head). Gates the balanced-union
    * plan: a left-leaning 1,000-leg union is O(legs) plan depth and
    * quadratic analysis; the balanced tree must keep ANALYSIS time in
    * seconds and leave execution linear in the per-commit diffs. */
  private def cdfDeepBackfillLine(spark: SparkSession, path: String): Unit = {
    val t0 = System.nanoTime()
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .option("keyColumns", "id")
      .load(path)
    feed.queryExecution.optimizedPlan // force analysis + optimization
    val planS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val n = feed.count()
    val execS = (System.nanoTime() - t1) / 1e9
    require(n == 1000L, s"1,000-version feed lost commits: $n rows")
    require(planS < 120.0,
      f"batch CDF analysis blew up at 1k versions: $planS%.1f s")
    println(f"STRESS cdf_batch_1kversions   plan $planS%.2f s + exec $execS%.2f s ($n change rows)")
  }
}
