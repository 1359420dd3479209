package graft

/** Sweeping plan audit over the full query inventory: no operator may
  * plan a CartesianProduct, ever — all pairwise operators must generate
  * candidates through blocked equi-joins (LSH bands, byte-bands, shared
  * shingles, label blocks). The brute-force ANN baseline intentionally
  * cross-joins, but against a BROADCAST query set (BroadcastNestedLoopJoin
  * — corpus streams, nothing shuffles), which the audit distinguishes
  * from an unbounded CartesianProduct.
  */
class PlanAuditSpec extends SparkSpec {

  // ml_* construct eagerly (pipeline fit) and need lag-14 history that
  // sf0.001 lacks; their plan shape is the prep+predict projection, audited
  // in ModelsSpec at sf0.01.
  private val planOnly = SparkEntry.queries.filterNot(_._1.startsWith("ml_"))

  // Built ONCE and shared by the two sweep tests: some builder closures
  // execute bounded driver-side actions (st_psi's baseline histogram,
  // dedup_sem's k-means fit), so planning the whole inventory twice would
  // run real Spark jobs twice for no audit value.
  private lazy val planStrings: Map[String, String] =
    planOnly.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString
    }.toMap

  test("no query in the inventory plans a CartesianProduct") {
    val offenders = planStrings.collect {
      case (name, plan) if plan.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("nested-loop joins appear only where the build side is bounded") {
    // sim_bf_topk: the declared-quadratic correctness baseline
    //   (broadcast query set, corpus streams);
    // text_tfidf / text_lm1 / text_pmi: scalar corpus stats (ONE
    //   row: N, avgdl / n_total / n_uni+n_bg) crossJoined into the
    //   scoring projection — a 1-row build side, not a pair explosion.
    // sim_rad: the exact radius-search baseline shares sim_bf_topk's
    // declared-quadratic broadcast-queries contract
    // feat_bin: the decile-cutpoint array (one 9-double row) crossJoined
    //   onto the scan for map-side bin assignment — 1-row build side
    // mon_cpd: the (tot, n) scalar totals crossJoined onto the |days|-row
    //   daily series — a 1-row build side over a calendar-bounded stream
    // sim_pq: ADC shares sim_bf's declared-quadratic broadcast-queries
    //   contract, but the streamed corpus side carries m CODES, not
    //   embeddings — scan width is the point, spec-asserted
    // dsir: the (tot_raw, tot_tgt) scalar totals crossJoined onto the
    //   dim-bounded (≤4096-row) feature table — a 1-row build side
    // m_pr: the per-iteration carried-mass scalar crossJoined onto the
    //   dimension-sized zone table — ten 1-row build sides
    // t_ppl: the (T, V) LM-total scalar crossJoined onto the doc-bigram
    //   stream — a 1-row build side (the text_tfidf corpus-stat pattern)
    // sc_km: the 1-row observation-end scalar crossJoined onto the
    //   user-dim lifetime table — same corpus-stat pattern
    // dc_em: embedding decontamination shares v_bf/v_rad's declared
    //   broadcast-bounded contract (benchmark suites are small by
    //   definition; a missed candidate is benchmark leakage, so the
    //   default path is exact — Dedup.embeddingDecontaminate scaladoc)
    // iv_ag: the 1-row max-date scalar crossJoined onto silver to split
    //   history/batch — the corpus-stat pattern (in production the batch
    //   boundary is a parameter, not a computed scalar)
    // dq_kh: the 1-row (n_keys, n_rows) totals scalar crossJoined onto
    //   the per-key count table — a 1-row build side
    // v_ev: the ANN recall QA row embeds the v_bf brute-force baseline as
    //   its truth side (same declared-quadratic broadcast-queries contract)
    // v_iqe: the IVF-PQ recall QA row — same shape as v_ev (brute-force
    //   truth side over the bounded query slice)
    // dd_sev: the blocking-recall QA row's truth side is the exact
    //   cosine-threshold pair set over the BOUNDED eval slice (plus the
    //   1-row n_cand scalar crossJoined onto the confusion row)
    // dq_s: the exact distinct ledger crossJoins TWO single-row
    //   aggregates (daily totals × merged distinct) — 1-row both sides
    val allowed = Set("v_bf", "v_rad", "t_tf", "t_lm1", "t_pmi",
      "f_bin", "mn_cp", "v_pq", "dsir", "m_pr", "t_ppl", "sc_km", "dc_em",
      "iv_ag", "dq_kh", "v_ev", "v_iqe", "dd_sev", "dq_s")
    val nlj = planStrings.collect {
      case (name, plan) if plan.contains("BroadcastNestedLoopJoin") => name
    }
    assert(nlj.toSet.subsetOf(allowed),
      s"unexpected nested-loop joins in: ${nlj.mkString(", ")}")
  }

  test("dec_bloom: the might_contain probe filters the corpus SCAN, before any join") {
    // the whole point of the bloom variant: the corpus never reaches a
    // join operator unfiltered — the probe must sit in the scan-side
    // Filter, not above the confirm join
    val plan = SparkEntry.queries("dc_bl")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    val probeIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    // plan strings list operators top-down; the probe Filter's first
    // appearance must be deeper (later offset) than the first join of the
    // chain, i.e. attached to the scan branch — a regression that lifts
    // the probe above the joins flips this ordering
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe (at $probeIdx) must sit under the join chain (first join at $joinIdx):\n$plan")
    // and the corpus side of the confirm join must be the FILTERED
    // branch (LeftSemi on survivors)
    assert(plan.contains("LeftSemi"), s"confirm semi-join missing:\n$plan")
  }

  test("q_gsets plans exactly one Expand (one pass for all three grouping sets)") {
    val plan = SparkEntry.queries("q_gs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Expand".r.findAllIn(plan).length === 1,
      s"expected a single Expand pass:\n$plan")
  }

  test("f_te (was feat_te): one category-window shuffle beyond silver's dedup, no join") {
    val plan = SparkEntry.queries("f_te")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"LOO encoding must not plan a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2,
      s"expected 2 exchanges (silver event_id dedup + event_type window), got $exchanges:\n$plan")
  }

  test("t_pmi: the corpus totals take no unpartitioned window, at most 20 exchanges") {
    // an unpartitioned window moves the whole bigram / unigram count
    // table through ONE task; the totals are one-row aggregates instead
    // (partial per partition), broadcast back onto the scoring rows
    val plan = SparkEntry.queries("t_pmi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"pmi totals must not plan a window:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 20, s"expected at most 20 exchanges, got $exchanges:\n$plan")
    // the totals come from the token arrays, so the bigram count table
    // is built once, for the scoring join
    val bigramExchanges = "Exchange hashpartitioning\\(bigram".r.findAllIn(plan).length
    assert(bigramExchanges === 1,
      s"expected one bigram count exchange, got $bigramExchanges:\n$plan")
  }

  test("f_rm: quintiles plan no single-partition window sort") {
    // the round-7 scale-killer: three bare Window.orderBy ntile windows
    // each moved the whole user dim through ONE task (Exchange
    // SinglePartition). globalNtile replaces them with range-shuffle +
    // partitioned row_number + broadcast offsets — same exact buckets,
    // no single-partition exchange anywhere in the plan.
    val plan = SparkEntry.queries("f_rm")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"rfm quintiles must not plan a single-partition exchange:\n$plan")
    assert(!plan.contains("ntile("),
      s"rfm quintiles must not plan a global ntile window:\n$plan")
  }

  test("dq_fr (was dq_fresh) scans the raw data exactly once (corpus max from the aggregated rows)") {
    val plan = SparkEntry.queries("dq_fr")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length === 1,
      s"freshness must not rescan the events for the corpus max:\n$plan")
  }

  test("dim_scd2 plans exactly one data shuffle beyond silver's dedup") {
    // the user_id exchange feeds BOTH windows and the run aggregation:
    // partitioning on user_id satisfies the (user_id, grp) clustering, so
    // Catalyst must not insert a second data exchange for the groupBy
    val plan = SparkEntry.queries("d_s2")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2,
      s"expected 2 exchanges (silver event_id dedup + one user_id shuffle), got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), s"missing user_id shuffle:\n$plan")
  }

  test("deletion-vector reads keep parquet pushdown under the anti-join") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.VersionedTable
    val t = java.nio.file.Files.createTempDirectory("plan_dv").toString
    import spark.implicits._
    val base = (1L to 2000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, t, "id % 100 = 0", ts = "2026-01-02T00:00:00Z")
    val plan = VersionedTable.readVersion(spark, t)
      .filter(col("id") > 1900).queryExecution.executedPlan.toString
    // the user filter reaches the parquet scan BELOW the DV anti-join —
    // data skipping and row-group pruning still engage on vectored files
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1900)"),
      s"expected pushed filter under the DV join in:\n$plan")
    // and the vector applies as a BROADCAST hash anti-join (no shuffle
    // of the data side), never a sort-merge
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"DV application must not shuffle the scan:\n$plan")
  }
}
