package graft.mobility

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mobility analytics over silver events — the domain the reference is
  * named for (reference src/transformation/gold_aggregates.py builds
  * zone-hour demand and zone-day revenue; these operators add the
  * trajectory-level view a mobility platform needs next: where users move
  * between zones, how long they dwell, how far they range, and how
  * predictable they are).
  *
  * Trajectory model: a user's events ordered by `(ts, event_id)` (a total
  * order — `event_id` breaks timestamp ties deterministically) with
  * `zone_id` as the location. A "transition" is a consecutive pair of
  * events in DIFFERENT zones; a "stay" is a maximal run of events in the
  * same zone.
  *
  * Scale design: every operator here shuffles exactly once on `user_id`
  * (the window partition key, whose cardinality grows with data — no
  * bottleneck partition), then reduces by low-cardinality keys
  * (zone/hour) that broadcast-sized results aggregate into. No operator
  * holds more than one user's ordered events in window state, and none
  * collects to the driver. The two join-bearing operators
  * ([[coLocation]], [[markovNextZoneEval]]) join on blocked/bounded keys
  * — (zone, hour-bucket) equi-join and a broadcast-sized model table —
  * never per-zone all-pairs. Transition math is integer counts divided at
  * the end — bit-identical across engines — and the only float folds
  * (entropy, radius of gyration) are rounded at 6 dp.
  */
object Mobility {

  /** Per-user consecutive zone pairs: the shared first stage of the
    * transition operators. One `user_id` shuffle; rows with NULL zones are
    * dropped BEFORE the lag so a trajectory skips unlocated events rather
    * than breaking at them. Same-zone pairs are dropped (they are stays,
    * not movements — [[stayEpisodes]] covers those). */
  private def transitions(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    silver
      .filter(col("zone_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("zone_id"))
      .withColumn("origin", lag("zone_id", 1).over(w))
      .filter(col("origin").isNotNull && col("origin") =!= col("zone_id"))
      .select(col("user_id"), col("ts"), col("origin"),
        col("zone_id").as("dest"))
  }

  /** Origin-destination matrix: transition counts and the conditional
    * probability of each destination given the origin. The mobility
    * platform's core planning artifact (zone-to-zone demand). Output is
    * at most |zones|² rows — broadcast-sized however big the input. */
  def odMatrix(silver: DataFrame): DataFrame = {
    val wOrigin = Window.partitionBy("origin")
    transitions(silver)
      .groupBy(col("origin"), col("dest"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_dest",
        col("n_trans").cast("double") / sum("n_trans").over(wOrigin))
  }

  /** Top-k next zones per origin, by transition count (ties broken by
    * dest asc — deterministic, unlike a bare max_by). The serving-side
    * "where will demand go next" lookup table. */
  def nextZoneTopK(silver: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("origin")
      .orderBy(col("n_trans").desc, col("dest").asc)
    odMatrix(silver)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("origin", "rank", "dest", "n_trans", "p_dest")
  }

  /** Stay episodes: maximal same-zone runs per user (gaps-and-islands via
    * the two-row_number difference), with enter/exit timestamps, event
    * count and dwell time in microseconds (exact integer math on both
    * engines). `minEvents` drops pass-through pings. Window state per
    * partition is one user's events; the groupBy key `(user, zone, run)`
    * grows with data, so no reducer hot-spots. */
  def stayEpisodes(silver: DataFrame, minEvents: Int = 2): DataFrame = {
    val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wZone = Window.partitionBy("user_id", "zone_id").orderBy("ts", "event_id")
    silver
      .filter(col("zone_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("zone_id"))
      .withColumn("run_id",
        row_number().over(wAll) - row_number().over(wZone))
      .groupBy(col("user_id"), col("zone_id"), col("run_id"))
      .agg(
        min(col("ts")).as("enter_ts"),
        max(col("ts")).as("exit_ts"),
        count(lit(1)).as("n_events"))
      .filter(col("n_events") >= minEvents)
      .withColumn("dwell_us",
        unix_micros(col("exit_ts")) - unix_micros(col("enter_ts")))
      .select("user_id", "zone_id", "enter_ts", "exit_ts", "n_events", "dwell_us")
  }

  /** Hourly zone net flow: arrivals minus departures per (hour, zone),
    * both stamped at the transition's (arrival-event) timestamp. The
    * rebalancing signal — a persistently negative zone drains vehicles.
    * One union of two projections of the shared transition stage, then
    * one aggregate on a bounded (hour × zone) key space. */
  def zoneNetFlow(silver: DataFrame): DataFrame = {
    val t = transitions(silver)
      .withColumn("hour", date_trunc("hour", col("ts")))
    val in = t.select(col("hour"), col("dest").as("zone_id"),
      lit(1L).as("n_in"), lit(0L).as("n_out"))
    val out = t.select(col("hour"), col("origin").as("zone_id"),
      lit(0L).as("n_in"), lit(1L).as("n_out"))
    in.unionByName(out)
      .groupBy(col("hour"), col("zone_id"))
      .agg(sum("n_in").as("n_in"), sum("n_out").as("n_out"))
      .withColumn("net_flow", col("n_in") - col("n_out"))
  }

  /** Radius of gyration per user (González/Hidalgo/Barabási, "Understanding
    * individual human mobility patterns", Nature 2008) — how far a user
    * ranges around their trajectory centroid. Zones embed on a 10×10 grid
    * (`zone % 10`, `zone / 10`), and the moment identity
    * rog² = E[x²+y²] − E[x]² − E[y]² makes it ONE aggregation pass:
    * integer sums (exact on both engines) divided and combined at the end,
    * rounded at 6 dp. */
  def radiusOfGyration(silver: DataFrame): DataFrame = {
    val located = silver
      .filter(col("zone_id").isNotNull)
      .withColumn("x", col("zone_id") % 10)
      .withColumn("y", floor(col("zone_id") / 10))
    located
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_visits"),
        (sum(col("x")).cast("double") / count(lit(1))).as("cx"),
        (sum(col("y")).cast("double") / count(lit(1))).as("cy"),
        (sum(col("x") * col("x") + col("y") * col("y")).cast("double")
          / count(lit(1))).as("m2"))
      .withColumn("rog",
        round(sqrt(greatest(
          col("m2") - col("cx") * col("cx") - col("cy") * col("cy"),
          lit(0.0))), 6))
      .select("user_id", "n_visits", "cx", "cy", "rog")
  }

  /** Location entropy per user: H = −Σ_z p_z ln p_z over the zone-visit
    * distribution, plus the modal-zone share (`max_p`, the Song-et-al
    * predictability proxy) and distinct-zone count. Two aggregations
    * ((user, zone) → user), both on data-growing keys. Each entropy term
    * is a bit-identical integer ratio; only the Σ is order-sensitive,
    * hence the 6 dp round. */
  def locationEntropy(silver: DataFrame): DataFrame = {
    val perZone = silver
      .filter(col("zone_id").isNotNull)
      .groupBy(col("user_id"), col("zone_id"))
      .agg(count(lit(1)).as("n_z"))
    val wUser = Window.partitionBy("user_id")
    perZone
      .withColumn("n_tot", sum("n_z").over(wUser))
      .withColumn("p", col("n_z").cast("double") / col("n_tot"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_zones"),
        round(-sum(col("p") * log(col("p"))), 6).as("entropy"),
        max(col("p")).as("max_p"))
  }

  /** Zone PageRank over the transition graph — which zones are central to
    * the city's flow, counting not just direct arrivals but arrivals from
    * other well-connected zones (Page/Brin/Motwani/Winograd 1999). Edges
    * are the [[odMatrix]] probabilities, so each origin's out-weights sum
    * to 1 and the walk is properly stochastic.
    *
    * Mass-conserving formulation: each iteration computes the edge-carried
    * mass contrib(z) = d·Σ_in p(o→z)·r(o), then spreads the residual
    * 1 − Σ contrib (teleport + dangling-zone mass) uniformly — so ranks
    * sum to exactly 1 every round with no separate dangling bookkeeping.
    *
    * Scale: the graph is DIMENSION-sized (|zones|² edges at most) however
    * big the event data — the one `user_id` shuffle that builds the OD
    * matrix is the only data-scale stage. Two execution paths behind the
    * `driverCutover` knob (the cutover rule): when |zones| ≤ cutover the
    * edge list is ≤ cutover² KB-sized rows, so the power iteration runs
    * DRIVER-SIDE on the collected edges (the `kmeansFit` bounded-collect
    * precedent) — ten dimension-sized joins cost ~10-15 scheduler
    * round-trips of pure job-launch overhead that a ≤200-node graph never
    * earns back (MEASURED round 8: 5-6 s → sub-second at sf0.1). Above
    * the cutover (unbounded zone vocabularies: H3 cells, geohashes) the
    * distributed loop runs: iterations are tiny-table joins, the residual
    * a 1-row broadcast, `localCheckpoint` per round keeps lineage flat.
    * Both paths emit identical results (spec-asserted), and the parity is
    * EXACT, not rounding-masked: the per-dest contribution sum — the only
    * order-sensitive float — follows the repo's scaled-integer policy
    * (`sum(round(term·10¹⁵))/10¹⁵`; each edge term ≤ 1, so per-dest and
    * carried sums stay < 2⁵³ and integer-valued doubles add exactly in
    * ANY partition/fold order). Every other op (÷, +) is a single
    * correctly-rounded IEEE step, so rank vectors are bit-identical by
    * induction across the two paths and across parallelism levels; ranks
    * round at 6 dp for output, `pos` ranks the ROUNDED value with a
    * zone-asc tiebreak. The driver fold replicates Spark's `round` via
    * BigDecimal.valueOf + HALF_UP — the same decimal-string semantics. */
  def zonePageRank(silver: DataFrame, iters: Int = 10,
      damping: Double = 0.85, driverCutover: Int = 512): DataFrame = {
    val spark = silver.sparkSession
    val edges = odMatrix(silver).select("origin", "dest", "p_dest")
      .persist()
    val zones = edges.select(col("origin").as("zone_id"))
      .union(edges.select(col("dest").as("zone_id")))
      .distinct()
      .persist()
    val n = zones.count() // dimension-sized; one bounded driver value
    if (n <= driverCutover) {
      // bounded-collect path: ≤ n² edge rows (KB at n ≤ 512)
      val zs = zones.collect().map(_.getLong(0)).sorted
      val es = edges.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)) // defined fold order
      edges.unpersist()
      zones.unpersist()
      val idx = zs.zipWithIndex.toMap
      var rank = Array.fill(zs.length)(1.0 / n)
      for (_ <- 1 to iters) {
        val contrib = new Array[Double](zs.length) // scaled-integer sums
        es.foreach { case (o, d, p) =>
          contrib(idx(d)) += BigDecimal.valueOf(p * rank(idx(o)) * damping * 1e15)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        var carried = 0.0
        contrib.foreach(carried += _)
        val resid = (1.0 - carried / 1e15) / n
        rank = contrib.map(_ / 1e15 + resid)
      }
      val rounded = zs.zip(rank).map { case (z, r) =>
        (z, BigDecimal.valueOf(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val rows = rounded.sortBy { case (z, pr) => (-pr, z) }.zipWithIndex
        .map { case ((z, pr), i) => (z, pr, i + 1) }
      import spark.implicits._
      return rows.toSeq.toDF("zone_id", "pr", "pos")
    }
    var ranks = zones.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("origin") === ranks("zone_id"))
        .groupBy(col("dest").as("zone_id"))
        .agg(sum(round(col("p_dest") * col("rank") * damping * 1e15, 0)).as("contrib"))
      val carried = contrib.agg(sum("contrib").as("s"))
      ranks = zones
        .join(contrib, Seq("zone_id"), "left")
        .crossJoin(broadcast(carried))
        .select(col("zone_id"),
          (coalesce(col("contrib"), lit(0.0)) / 1e15
            + (lit(1.0) - col("s") / 1e15) / n)
            .as("rank"))
      // eager checkpoint every round. MEASURED, not assumed (round 7):
      // the carried-mass scalar's double reference to contrib grows the
      // uncheckpointed plan 2^interval-fold, and that analyzer+tiny-work
      // growth costs MORE than the job launch it saves — cadence 1 beat
      // 2 beat 3 (best-of-2: 6.1 / 8.1 / 10.6 s at sf0.1).
      ranks = ranks.localCheckpoint()
    }
    edges.unpersist()
    zones.unpersist()
    val byRank = Window.orderBy(col("pr").desc, col("zone_id").asc)
    ranks
      .withColumn("pr", round(col("rank"), 6))
      .withColumn("pos", row_number().over(byRank))
      .select(col("zone_id"), col("pr"), col("pos"))
  }

  /** Co-location pairs: distinct user pairs whose [[stayEpisodes]] in the
    * SAME zone overlap in time (closed intervals — a shared instant
    * counts), with meeting count, total overlap time and distinct shared
    * zones. The contact-graph primitive (epidemiology, social-tie
    * inference from mobility — Crandall et al. PNAS 2010).
    *
    * Scale: the naive form self-joins on `zone_id` alone — quadratic per
    * zone, and zones are a BOUNDED key space, so per-zone stay counts grow
    * linearly with data and the join explodes (the q_fuzzy length-blocking
    * lesson). Instead each stay emits its spanned hour buckets and the
    * self-join keys on `(zone_id, bucket_hour)` — a time-blocked equi-join
    * whose candidate count tracks same-zone-same-HOUR density, which is
    * how real co-location scales. The blocking is LOSSLESS: two
    * overlapping intervals both contain max(enter), hence both span that
    * hour's bucket, so every true pair shares ≥ 1 bucket. Pairs sharing
    * several buckets are counted EXACTLY once — at the bucket holding
    * max(enter) — by a filter, not a distinct: no dedup shuffle, and each
    * surviving row IS one overlapping episode pair. Bucket fan-out per
    * stay is dwell-bounded; `maxSpanHours` caps the fan-out of
    * pathological never-moving stays (a stuck sensor parked in one zone
    * for months) — longer episodes are truncated, a documented
    * approximation knob. The cap is LOSSY when it fires: a pair whose
    * later arrival begins after the earlier stay's capped bucket range
    * is silently missed. [[coLocationTruncation]] is the companion
    * diagnostic — run it alongside to see how many episodes the cap
    * touched (0 = the co-location output is exact). The default exceeds
    * any test-corpus span, so sf outputs are exact; at 100 TB, tune the
    * cap (or coarsen the bucket) to the contact window the analysis
    * needs, and alert on a nonzero truncation count. */
  def coLocation(silver: DataFrame, minEvents: Int = 2,
      maxSpanHours: Int = 1440): DataFrame = {
    val stays = stayEpisodes(silver, minEvents)
      .withColumn("b_start", date_trunc("hour", col("enter_ts")))
      .withColumn("b_end",
        least(date_trunc("hour", col("exit_ts")),
          col("b_start") + expr(s"INTERVAL $maxSpanHours HOURS")))
    val buckets = stays.select(
      col("user_id"), col("zone_id"), col("enter_ts"), col("exit_ts"),
      explode(sequence(col("b_start"), col("b_end"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    val a = buckets.select(
      col("zone_id"), col("bucket"), col("user_id").as("user_a"),
      col("enter_ts").as("enter_a"), col("exit_ts").as("exit_a"))
    val b = buckets.select(
      col("zone_id"), col("bucket"), col("user_id").as("user_b"),
      col("enter_ts").as("enter_b"), col("exit_ts").as("exit_b"))
    a.join(b, Seq("zone_id", "bucket"))
      .filter(col("user_a") < col("user_b"))
      .filter(greatest(col("enter_a"), col("enter_b"))
        <= least(col("exit_a"), col("exit_b")))
      // exactly ONE of the shared buckets holds max(enter): keep the pair
      // there — dedup by construction, no distinct shuffle
      .filter(col("bucket") ===
        date_trunc("hour", greatest(col("enter_a"), col("enter_b"))))
      .withColumn("overlap_us",
        unix_micros(least(col("exit_a"), col("exit_b")))
          - unix_micros(greatest(col("enter_a"), col("enter_b"))))
      .groupBy(col("user_a"), col("user_b"))
      .agg(
        count(lit(1)).as("n_meetings"),
        sum(col("overlap_us")).as("overlap_us"),
        countDistinct(col("zone_id")).as("n_zones"))
  }

  /** Diagnostic for [[coLocation]]'s `maxSpanHours` cap: how many stay
    * episodes exceeded the cap (their bucket fan-out was truncated, so
    * co-location pairs whose partner arrived after the capped range are
    * MISSED), plus the worst exceedance in hours. One row; 0 truncated
    * means the co-location output at this cap is exact. The monitoring
    * job runs this next to the co-location build and alerts on nonzero —
    * the cap is a fan-out guard, not a silent semantics change. */
  def coLocationTruncation(silver: DataFrame, minEvents: Int = 2,
      maxSpanHours: Int = 1440): DataFrame =
    stayEpisodes(silver, minEvents)
      .select(((unix_micros(date_trunc("hour", col("exit_ts")))
        - unix_micros(date_trunc("hour", col("enter_ts")))) / 3600000000L)
        .cast("long").as("span_hours"))
      .agg(
        count(lit(1)).as("n_stays"),
        sum(when(col("span_hours") > maxSpanHours, 1L).otherwise(0L))
          .as("n_truncated"),
        coalesce(max(when(col("span_hours") > maxSpanHours,
          col("span_hours") - maxSpanHours)), lit(0L)).as("max_excess_hours"))

  /** Next-zone Markov evaluation: fit the first-order transition argmax on
    * transitions BEFORE `split`, score hit@1 on transitions on/after it —
    * the standard backtest of the [[nextZoneTopK]] serving table (does
    * yesterday's modal destination predict tomorrow's moves?). Output is
    * per-origin: the trained prediction, test volume, hits, and accuracy
    * as an exact integer ratio. Origins that appear only in the test
    * window keep a NULL prediction and zero hits — unseen-state coverage
    * is part of what the backtest measures.
    *
    * Scale: train and test are two filters of the shared one-shuffle
    * transition stage; the model is the |zones|-row argmax of a
    * |zones|²-bounded aggregate (broadcast-sized however big the data),
    * left-joined onto origin-grouped test counts. */
  def markovNextZoneEval(silver: DataFrame,
      split: String = "2024-01-15"): DataFrame = {
    val t = transitions(silver)
    val w = Window.partitionBy("origin")
      .orderBy(col("n_trans").desc, col("dest").asc)
    val model = t.filter(col("ts") < lit(split).cast("timestamp"))
      .groupBy(col("origin"), col("dest"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("origin"), col("dest").as("pred_dest"))
    t.filter(col("ts") >= lit(split).cast("timestamp"))
      .groupBy(col("origin"), col("dest"))
      .agg(count(lit(1)).as("n"))
      .join(model, Seq("origin"), "left")
      .groupBy(col("origin"))
      .agg(
        min(col("pred_dest")).as("pred_dest"), // constant per origin; min is order-safe
        sum(col("n")).as("n_test"),
        sum(when(col("dest") === col("pred_dest"), col("n"))
          .otherwise(lit(0L))).as("n_hits"))
      .withColumn("acc",
        round(col("n_hits").cast("double") / col("n_test"), 6))
  }

  /** Zone communities via label propagation (Raghavan et al., Phys. Rev.
    * E 2007) on the undirected transition graph — which zones form
    * organically connected districts (the zoning a rebalancing policy
    * should operate over, discovered from flows instead of drawn on a
    * map). Synchronous LPA made deterministic AND oscillation-free: every
    * round, each zone tallies its neighbors' labels by symmetrized
    * transition weight PLUS a self-vote for its own current label
    * weighted by its strongest incident edge, then adopts the heaviest
    * label (ties → smallest label). The self-anchor kills the classic
    * synchronous-LPA 2-cycle (two zones swapping labels forever) while
    * still letting any genuinely heavier neighborhood win; smallest-label
    * tiebreak makes rounds engine-exact (integer weights, no floats). A
    * FIXED `iters` rounds (no convergence test) keeps the operator a pure
    * function of its input — the oracle unrolls the same rounds as CTEs.
    *
    * Scale: the [[odMatrix]]-shaped edge build is the only data-scale
    * stage (one user_id shuffle); the label table and the per-round
    * argmax joins are dimension-sized, `localCheckpoint` per round keeps
    * lineage flat (the [[zonePageRank]] pattern and its MEASURED cadence
    * — `iters` is a job-count multiplier only). Integer weights make
    * every argmax engine-exact; no floats anywhere — which also makes
    * the `driverCutover` bounded-collect path (same rule as
    * [[zonePageRank]]: |zones| ≤ cutover → iterate on the ≤ cutover²
    * collected edge rows driver-side, skipping ~5 scheduler round-trips)
    * EXACTLY byte-identical to the distributed loop, not just
    * spec-observed so. */
  def zoneCommunities(silver: DataFrame, iters: Int = 5,
      driverCutover: Int = 512): DataFrame = {
    val spark = silver.sparkSession
    val dir = transitions(silver)
      .groupBy(col("origin"), col("dest"))
      .agg(count(lit(1)).as("w"))
    val edges = dir.select(col("origin").as("src"), col("dest").as("dst"), col("w"))
      .unionByName(dir.select(col("dest").as("src"), col("origin").as("dst"), col("w")))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
      .persist()
    val selfW = edges.groupBy(col("dst").as("zone_id"))
      .agg(max(col("w")).as("w_self"))
      .persist()
    val nZones = selfW.count()
    if (nZones <= driverCutover) {
      // bounded-collect path: ≤ n² integer edge rows, exact arithmetic
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val sw = selfW.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      edges.unpersist()
      selfW.unpersist()
      var labels: Map[Long, Long] = sw.keys.map(z => z -> z).toMap
      for (_ <- 1 to iters) {
        val votes = scala.collection.mutable.Map.empty[(Long, Long), Long]
        es.foreach { case (src, dst, w) =>
          val k = (dst, labels(src)); votes(k) = votes.getOrElse(k, 0L) + w
        }
        sw.foreach { case (z, wSelf) =>
          val k = (z, labels(z)); votes(k) = votes.getOrElse(k, 0L) + wSelf
        }
        labels = votes.toSeq
          .map { case ((dst, label), w) => (dst, label, w) }
          .groupBy(_._1)
          .map { case (dst, vs) =>
            dst -> vs.minBy { case (_, label, w) => (-w, label) }._2
          }
      }
      val sizes = labels.values.groupBy(identity).map { case (l, g) => l -> g.size.toLong }
      import spark.implicits._
      return labels.toSeq.sortBy(_._1)
        .map { case (z, l) => (z, l, sizes(l)) }
        .toDF("zone_id", "community", "community_size")
    }
    var labels = selfW.select(col("zone_id"), col("zone_id").as("label"))
    val byWeight = Window.partitionBy(col("dst"))
      .orderBy(col("w_sum").desc, col("label").asc)
    for (_ <- 1 to iters) {
      val neighborVotes = edges
        .join(labels, edges("src") === labels("zone_id"))
        .select(col("dst"), col("label"), col("w"))
      val selfVotes = labels.join(selfW, "zone_id")
        .select(col("zone_id").as("dst"), col("label"), col("w_self").as("w"))
      labels = neighborVotes.unionByName(selfVotes)
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("w_sum"))
        .withColumn("rn", row_number().over(byWeight))
        .filter(col("rn") === 1)
        .select(col("dst").as("zone_id"), col("label"))
      labels = labels.localCheckpoint()
    }
    edges.unpersist()
    selfW.unpersist()
    val bySize = Window.partitionBy(col("label"))
    labels
      .withColumn("community_size", count(lit(1)).over(bySize))
      .select(col("zone_id"), col("label").as("community"), col("community_size"))
  }

  /** Trip reconstruction — the reference domain's core entity (its raw
    * table IS trips), rebuilt from event trajectories: a trip connects
    * each [[stayEpisodes]] departure to the user's next stay — origin and
    * destination zones, departure/arrival timestamps, and exact travel
    * time. Consecutive surviving stays CAN share a zone (a round trip via
    * a stop too brief for `minEvents`); such trips are kept — dropping
    * them would hide real movement.
    *
    * One extra `user_id` window (lead over enter-ordered stays) on top of
    * the stay aggregate — same single-shuffle scale shape as the rest of
    * the module. Travel time is exact integer microseconds. */
  def trips(silver: DataFrame, minEvents: Int = 2): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("enter_ts", "zone_id")
    stayEpisodes(silver, minEvents)
      .withColumn("dest", lead("zone_id", 1).over(w))
      .withColumn("arrive_ts", lead("enter_ts", 1).over(w))
      .filter(col("dest").isNotNull)
      .select(
        col("user_id"), col("zone_id").as("origin"), col("dest"),
        col("exit_ts").as("depart_ts"), col("arrive_ts"),
        (unix_micros(col("arrive_ts")) - unix_micros(col("exit_ts")))
          .as("travel_us"))
  }

  /** Per-zone dwell-time distribution over [[stayEpisodes]]: stay count,
    * exact interpolated median and p90 dwell, and the exact-integer mean
    * — how long people actually stay once they arrive, the companion to
    * demand counts for zone capacity planning. One bounded-key aggregate
    * over the stay table; percentile parity with the oracle is the
    * `a_pc` precedent (exact interpolation, 6 dp round). */
  def dwellStats(silver: DataFrame, minEvents: Int = 2): DataFrame =
    stayEpisodes(silver, minEvents)
      .groupBy(col("zone_id"))
      .agg(
        count(lit(1)).as("n_stays"),
        round(percentile(col("dwell_us"), lit(0.5)), 6).as("p50_us"),
        round(percentile(col("dwell_us"), lit(0.9)), 6).as("p90_us"),
        round(sum(col("dwell_us")).cast("double") / count(lit(1)), 6)
          .as("mean_us"))

  /** Home zone per user: the modal zone over night-hour events (22:00–05:59,
    * when people are usually home — the standard home-detection heuristic
    * in mobility literature), ties broken by zone asc. Users with no night
    * events are absent (their home is unobserved, not zone NULL). */
  def homeZone(silver: DataFrame): DataFrame = {
    val night = silver
      .filter(col("zone_id").isNotNull)
      .filter(hour(col("ts")) >= 22 || hour(col("ts")) <= 5)
      .groupBy(col("user_id"), col("zone_id"))
      .agg(count(lit(1)).as("n_night"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("n_night").desc, col("zone_id").asc)
    night
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("zone_id").as("home_zone"), col("n_night"))
  }
}
