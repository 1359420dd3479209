package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming pipelines (SURVEY.md §2.6).
  *
  * The windowed transforms are written against a plain DataFrame, so the
  * SAME function runs in batch (oracle-checkable) and as a streaming
  * stage (`readStream → transform → writeStream`): Spark's unified
  * Dataset API guarantees identical semantics; watermarking only bounds
  * state, it does not change the (eventual) results.
  *
  * Scale notes: both aggregations key their state by (window, type) /
  * (user, session) — state per key is O(1) and keys expire with the
  * watermark, so a 100 TB/day stream holds only the open windows.
  */
object Streams {

  /** Tumbling 1-hour event counts by type — the slide == width special
    * case of [[slidingCounts]] (one implementation, so the two can't
    * drift). Works on static and streaming frames alike. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    slidingCounts(events, width, width)

  /** Sliding-window event counts: `width`-wide windows advancing every
    * `slide` (each event lands in width/slide overlapping windows). Same
    * batch/stream duality as [[tumblingCounts]]; streaming state is one
    * count per open (window, type) — the overlap factor multiplies rows
    * into the aggregate, not state size, and windows expire with the
    * watermark. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("event_type"), col("event_count"))

  /** Per-user session windows with a 30-minute inactivity gap. A session
    * spans [first_ts, last_ts + gap]; an event exactly `gap` after the
    * previous one MERGES into the session (Spark session_window treats
    * the end bound inclusively when merging). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("event_count"))
      .select(
        col("user_id"),
        col("s.start").as("session_start"),
        col("s.end").as("session_end"),
        col("event_count"))

  /** Click→purchase attribution join: every click matched to the same
    * user's purchases within `horizon` after it — the stream-stream
    * interval join (batch face carries the SQL oracle; the streaming spec
    * joins two watermarked streams with this same function).
    *
    * The equi key (user_id) carries the shuffle; the time bounds ride
    * along as join filters. In streaming, the two-sided time constraint
    * plus watermarks is exactly what lets Spark bound both join buffers —
    * state per side is one horizon of events, not the stream's history. */
  def attributionJoin(events: DataFrame, horizon: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      joinType)
      .select("click_id", "user_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value")
  }

  /** Left-outer face of [[attributionJoin]]: unconverted clicks survive
    * with null purchase columns. On a stream this is the watermarked
    * outer stream-stream join — Spark holds a click in state until the
    * watermark proves no in-horizon purchase can still arrive, THEN
    * emits the null-padded row; the conversion-rate input where
    * non-events matter as much as events. */
  def attributionJoinOuter(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    attributionJoin(events, horizon, "left_outer")

  /** Event-level sessionization: every event tagged with its session
    * ordinal per user (gaps-and-islands — a cumulative count of
    * is-new-session flags over the per-user timeline). Unlike
    * [[sessionCounts]] (one row per session), this keeps the event grain,
    * which is what feature pipelines join against. One shuffle+sort on
    * user_id; per-partition state is one user's events. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = gapMinutes * 60L
    val isNew = when(
      col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long") > gapSec, 1)
      .otherwise(0)
    events
      .withColumn("session_seq",
        sum(isNew).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)) + 1)
  }

  /** Stream-static enrichment: events joined to a (bounded) dimension.
    * On a streaming `events` this is Spark's stream-static join — the
    * static side is re-broadcast per micro-batch, no state store at all
    * (unlike stream-stream joins); on a batch frame the identical call is
    * a plain broadcast join, which carries the SQL oracle. The left join
    * keeps dimension gaps visible instead of silently dropping events. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String = "zone_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming dedup: first event wins per key. In batch this is the
    * min-ts row per key (oracle-checkable); on a stream the same call
    * becomes `dropDuplicatesWithinWatermark` state — see
    * [[dedupedStream]]. Used for exactly-once-ish ingest where upstream
    * retries duplicate events. */
  def firstEventPerKey(events: DataFrame, keyCol: String = "event_id"): DataFrame = {
    // lexicographic full-row tie-break: two retries sharing (key, ts) but
    // differing in a payload column must pick the SAME survivor on every
    // run — ts alone would rank ties in partition-arrival order. Column
    // order (not a content hash) so any SQL engine can mirror the rule
    // exactly (ORDER BY every column, NULLS FIRST); rows identical on all
    // columns are interchangeable, so the output is fully deterministic.
    val tieBreak = events.columns.filter(c => c != keyCol && c != "ts").sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy((col("ts") +: tieBreak.map(col)): _*)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Streaming side of [[firstEventPerKey]]: watermarked
    * dropDuplicatesWithinWatermark — state holds one entry per key seen
    * within the watermark horizon, then expires. At 100 TB/day the state
    * is bounded by keys-per-horizon, not stream history. */
  def dedupedStream(spark: SparkSession, sourceDir: String,
      keyCol: String = "event_id", watermark: String = "2 hours"): DataFrame = {
    val schema = spark.read.parquet(sourceDir).schema
    spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCol)
  }

  /** Streaming entry: parquet source dir → watermarked tumbling counts.
    * The watermark bounds aggregation state; late rows beyond it drop. */
  def tumblingCountsStream(spark: SparkSession, sourceDir: String, watermark: String = "2 hours"): DataFrame = {
    val schema = spark.read.parquet(sourceDir).schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    tumblingCounts(stream.withWatermark("ts", watermark))
  }

  /** Continuous drift monitoring: per-window PSI of a value column
    * against a frozen baseline histogram, as ONE streaming aggregation.
    *
    * The trick that keeps it append-mode legal: PSI needs per-bin counts
    * AND a per-window reduction over bins — two aggregations, which
    * Structured Streaming forbids. But the bin count is fixed and small,
    * so the histogram becomes `bins` conditional sums inside the single
    * windowed aggregate, and the PSI reduction Σ(c%−b%)·ln(c%/b%) is then
    * a plain PROJECTION over those columns with the baseline fractions
    * folded in as literals (via [[graft.monitoring.Monitoring
    * .baselineHistogram]] — the baseline is model metadata, computed once
    * at query build). Watermark-final append output: one row per sealed
    * window with its event count, PSI, and a threshold alert flag.
    * Industry alert convention: PSI < 0.1 stable, 0.1–0.2 moderate,
    * ≥ 0.2 significant (the default threshold).
    *
    * Works identically on a batch frame (windowed groupBy is the same
    * declarative op), which is what the equivalence spec exercises. */
  def psiAlertStream(events: DataFrame, lo: Double, hi: Double, pcts: Array[Double],
      valueCol: String = "value", windowLen: String = "1 hour",
      watermark: String = "2 hours", threshold: Double = 0.2): DataFrame = {
    val bins = pcts.length
    val width = (hi - lo) / bins
    val binCol =
      if (hi == lo) lit(0)
      else least(greatest(floor((col(valueCol) - lit(lo)) / lit(width)), lit(0)), lit(bins - 1))
        .cast("int")
    val isStreaming = events.isStreaming
    val base = if (isStreaming) events.withWatermark("ts", watermark) else events
    val binCounts = (0 until bins).map(i =>
      sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"c$i"))
    val counted = base
      .filter(col(valueCol).isNotNull)
      .withColumn("bin", binCol)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n"), binCounts: _*)
    val psiExpr = (0 until bins).map { i =>
      val cPct = greatest(col(s"c$i") / col("n"), lit(1e-6))
      (cPct - lit(pcts(i))) * log(cPct / lit(pcts(i)))
    }.reduce(_ + _)
    counted.select(
      col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("n"),
      round(psiExpr, 6).as("psi"))
      .withColumn("drift_alert", (col("psi") >= threshold).cast("int"))
  }

  /** Custom streaming state: running per-user event counts via
    * mapGroupsWithState (the arbitrary-state API; the built-in windowed
    * aggs above cover everything expressible declaratively). */
  case class UserCount(user_id: Long, events: Long)
  case class SessionAgg(start: Long, last: Long, count: Long)
  /** State wrapper: every session of one user still inside the watermark
    * horizon (encodable product — a bare Seq has no top-level encoder). */
  case class SessionList(sessions: Seq[SessionAgg])
  case class FinalSession(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, event_count: Long)

  def runningUserCounts(spark: SparkSession, events: Dataset[(Long, java.sql.Timestamp)]): Dataset[UserCount] = {
    import spark.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          UserCount(user, next)
      }
  }

  /** Per-user sessions FINALIZED by the event-time watermark — the
    * flatMapGroupsWithState tier of the streaming API: arbitrary state
    * (ALL of a user's sessions still inside the watermark horizon) plus
    * an event-time TIMEOUT. The built-in `session_window` aggregation can
    * only aggregate; this shape is for when session CLOSURE itself is the
    * event a downstream consumer needs (billing a completed ride,
    * expiring a cart) and arbitrary per-key state must ride along.
    *
    * A session emits exactly when the watermark passes `gap` beyond its
    * last event — never before. That makes emission WATERMARK-FINAL: a
    * late-but-above-watermark event always finds its session still in
    * state (extending it backward, bridging two held sessions, or
    * founding a detached earlier one), so the emitted sessions are
    * identical to a batch gap-sessionization of the same data, and no
    * two emitted sessions of one user are ever closer than the gap. The
    * timeout clock is event time, so reprocessing old data replays
    * identically. State per user is bounded by watermark-horizon/gap
    * sessions, not stream history. */
  def finalizedSessions(spark: SparkSession,
      events: Dataset[(Long, java.sql.Timestamp)],
      gapMinutes: Int = 30, watermark: String = "0 seconds"): Dataset[FinalSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.toDF("user_id", "ts").withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionList, FinalSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionList]) =>
          // One code path for both data and timeout invocations: standard
          // interval gap-merge over {held sessions} ∪ {batch events}
          // (NOT a monotone fold — late events may precede held bounds;
          // within the gap they extend a session backward, bridging
          // included, and detached by more than the gap they found their
          // own), then split on the watermark: sessions whose gap-timeout
          // the watermark has passed are final (no event that could still
          // merge is admissible), the rest stay in state.
          val wm = state.getCurrentWatermarkMs()
          val intervals =
            state.getOption.map(_.sessions).getOrElse(Seq.empty)
              .map(s => (s.start, s.last, s.count)) ++
              rows.map(_._2.getTime).toSeq.map(t => (t, t, 1L))
          val merged = intervals.sortBy(x => (x._1, x._2))
            .foldLeft(List.empty[(Long, Long, Long)]) {
              case ((s, l, c) :: tail, (s2, l2, c2)) if s2 - l <= gapMs =>
                (s, math.max(l, l2), c + c2) :: tail
              case (acc, x) => x :: acc
            }.reverse
          val (expired, live) = merged.partition { case (_, l, _) => l + gapMs <= wm }
          if (live.nonEmpty) {
            state.update(SessionList(live.map { case (s, l, c) => SessionAgg(s, l, c) }))
            // live sessions all have last + gap > wm, satisfying the
            // timeout-beyond-watermark requirement; the earliest one
            // schedules the next finalization check
            state.setTimeoutTimestamp(live.map(_._2).min + gapMs)
          } else state.remove()
          expired.iterator.map { case (s, l, c) =>
            FinalSession(user, new java.sql.Timestamp(s), new java.sql.Timestamp(l), c)
          }
      }
  }

  /** CDC apply, batch face: a keyed change feed (`op` ∈ upsert/delete,
    * ordered by ts with event_id tiebreak) reduced to the final table
    * state — latest op per key wins and a terminal delete removes the
    * key. Debezium/Delta "APPLY CHANGES" semantics as ONE key-window
    * pass: no iterative merge, no driver loop; the shuffle key is the
    * CDC key, so at 100 TB the cost is one hash exchange of the feed
    * (and on a pre-bucketed feed, none).
    *
    * Output: surviving keys with change count, last change time and last
    * value. The streaming face is [[cdcStates]] — same reduction as
    * per-key mapGroupsWithState (state = one (ts, event_id, op, value)
    * per key, O(keys) not O(history)); CdcStreamSpec asserts the two
    * faces agree on the final snapshot. */
  def cdcApply(changes: DataFrame, keyCol: String = "user_id"): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val w = byKey.orderBy(col("ts").desc, col("event_id").desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(byKey))
      .filter(col("__rn") === 1 && col("op") =!= "delete")
      .select(col(keyCol), col("n_changes"),
        col("ts").as("last_ts"), col("value").as("last_value"))
  }

  case class CdcChange(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
    op: String, value: Option[Double])
  case class CdcState(ts: Long, event_id: Long, op: String,
    value: Option[Double], n: Long)
  case class CdcSnapshot(user_id: Long, n_changes: Long,
    last_ts: java.sql.Timestamp, last_value: Option[Double], deleted: Boolean)

  /** Streaming face of [[cdcApply]]: mapGroupsWithState folds each key's
    * changes into the latest-wins state (ts, event_id tiebreak — the SAME
    * total order as the batch window, so out-of-order delivery across
    * micro-batches converges to the identical snapshot) and emits the
    * key's current row each batch (Update mode). Deleted keys emit with
    * `deleted = true` so a downstream sink can retract; filter them for
    * the batch-face comparison. */
  def cdcStates(spark: SparkSession, changes: Dataset[CdcChange]): Dataset[CdcSnapshot] = {
    import spark.implicits._
    changes
      .groupByKey(_.user_id)
      .mapGroupsWithState[CdcState, CdcSnapshot](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[CdcChange], state: GroupState[CdcState]) =>
          val next = rows.foldLeft(state.getOption.orNull) { (acc, r) =>
            val n = if (acc == null) 1L else acc.n + 1L
            val newer = acc == null || r.ts.getTime > acc.ts ||
              (r.ts.getTime == acc.ts && r.event_id > acc.event_id)
            if (newer) CdcState(r.ts.getTime, r.event_id, r.op, r.value, n)
            else acc.copy(n = n)
          }
          state.update(next)
          CdcSnapshot(user, next.n, new java.sql.Timestamp(next.ts), next.value,
            deleted = next.op == "delete")
      }
  }

  /** One micro-batch of the streaming incremental near-dup pipeline —
    * the LLM-data operator a daily 100 TB ingest actually runs. The
    * batch's text is SIGNED EXACTLY ONCE (`Dedup.minhashIndex`, persisted
    * for the two consumers); the signatures band-join against the stored
    * corpus index (batch×corpus plus batch×batch candidates — the `dd_mi`
    * batch face, which carries the semantics spec and whose equality with
    * full-corpus `minhashLsh` is already asserted); then BOTH outputs
    * land idempotently as `batch_id=<id>` partitions via
    * dynamic-partition overwrite:
    *   - `pairsPath`  — the near-dup pairs this batch introduced,
    *   - `indexPath`  — the batch's signatures, appended to the corpus
    *     index so future batches join against them (corpus text is never
    *     re-read or re-shingled).
    * Replaying a batch (at-least-once delivery, failure recovery)
    * rewrites the same partitions to the same bytes: the md5 signature
    * family is deterministic, and the stored index is read EXCLUDING this
    * batch's own partition so a half-written previous attempt can't feed
    * the join. Exactly-once OUTPUT from at-least-once delivery, the
    * [[toPartitionedSink]] contract.
    *
    * Scale: per micro-batch work is batch-sized (shingle+sign) plus one
    * band equi-join against the index — the index table is
    * signatures-only (KB per thousand docs), and the join never touches
    * corpus text. Union of all pairs partitions over any batch split of
    * the corpus equals the full batch `minhashLsh` (spec-asserted over a
    * two-batch stream plus replay). */
  def incrementalDedupBatch(batch: DataFrame, batchId: Long,
      indexPath: String, pairsPath: String, k: Int = 16): Unit = {
    val spark = batch.sparkSession
    val sig = graft.dedup.Dedup.minhashIndex(batch, k).persist()
    try {
      sig.count() // fill before the two consumers race
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stored =
        if (fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
          spark.read.parquet(indexPath)
            .where(col("batch_id") =!= batchId).drop("batch_id")
        else sig.limit(0)
      val pairs = graft.dedup.Dedup.minhashLshIncrementalFromIndex(sig, stored, k)
      graft.sources.Sinks.overwritePartitions(
        pairs.withColumn("batch_id", lit(batchId)), pairsPath, Seq("batch_id"))
      graft.sources.Sinks.overwritePartitions(
        sig.withColumn("batch_id", lit(batchId)), indexPath, Seq("batch_id"))
    } finally {
      sig.unpersist()
      ()
    }
  }

  /** Streaming driver for [[incrementalDedupBatch]]: parquet-dir source →
    * foreachBatch over the incremental-dedup step. `AvailableNow` drains
    * whatever is in the source and stops — the scheduled-daily-run shape;
    * a production deployment points this at the landing zone and a real
    * checkpoint dir and re-triggers per ingest cycle. */
  def incrementalDedupStream(spark: SparkSession, sourceDir: String,
      indexPath: String, pairsPath: String, checkpoint: String,
      maxFilesPerTrigger: Int = 1, k: Int = 16): Unit = {
    val schema = spark.read.parquet(sourceDir).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        incrementalDedupBatch(b, id, indexPath, pairsPath, k)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    ()
  }

  /** Idempotent partitioned parquet sink via foreachBatch: every
    * micro-batch dynamic-overwrites exactly the date partitions it
    * carries. Replaying a batch after a failure rewrites the same
    * partitions to the same bytes instead of appending duplicates —
    * exactly-once OUTPUT from at-least-once delivery, provided each
    * partition's rows arrive within one batch (the contract for
    * replay/backfill feeds; for cross-batch keys use
    * [[dedupedStream]] upstream). This is the streaming face of
    * `Sinks.overwritePartitions` / the reference's Delta MERGE sink. */
  def toPartitionedSink(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq("event_date")): Unit = {
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.overwritePartitions(batch, path, partitionCols)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    ()
  }

  /** Exactly-once streaming sink into a [[graft.sources.VersionedTable]]:
    * each micro-batch commits as one table snapshot carrying a
    * (`appId`, batchId) transaction marker, and a REPLAYED batch
    * (at-least-once delivery, failure recovery) is skipped before any
    * data is written — `commitIfNew` sees its batch id already in the
    * log. This is Delta's foreachBatch `txn` idempotent-sink pattern;
    * unlike [[toPartitionedSink]] it needs no partition-alignment
    * contract (any row mix per batch is safe) and every batch boundary
    * is a time-travelable snapshot. `tsOf` maps batch id → commit
    * timestamp; the default stamps each commit with the wall clock
    * ([[graft.sources.VersionedTable.TsNow]] — age-based retention must
    * see sink commits as current), and specs wanting byte-identical
    * replay pass a deterministic lambda (e.g. epoch+id) or the ingest
    * batch time. */
  def toVersionedSink(df: DataFrame, path: String,
      appId: String = "graft-stream",
      tsOf: Long => String = _ => graft.sources.VersionedTable.TsNow,
      autoCompactEvery: Int = 0,
      smallBytes: Long = 8L * 1024 * 1024,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    df.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val committed = graft.sources.VersionedTable
          .commitIfNew(batch, path, appId, id, tsOf(id),
            partitionBy = partitionBy)
        // auto-compaction (Delta autoCompact): every Nth COMMITTED batch
        // folds the accumulated small files into target-sized ones — a
        // delta manifest rewriting O(small bytes), never the table.
        // Replayed (skipped) batches never trigger it, and the compaction
        // version carries no txn marker, so exactly-once replay
        // accounting is untouched.
        if (autoCompactEvery > 0 && committed.isDefined &&
            id % autoCompactEvery == (autoCompactEvery - 1))
          graft.sources.VersionedTable.compactSmall(
            batch.sparkSession, path, smallBytes, ts = tsOf(id))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    ()
  }

  /** Streaming face of the versioned table's change data feed — Delta's
    * `readChangeFeed` as a source. The stream is Spark's FILE SOURCE
    * pointed at the table's manifest LOG: each commit publishes exactly
    * one new immutable manifest file (atomic claim), so file discovery
    * IS the commit sequence, and the file source's checkpoint records
    * which versions this consumer has processed — restart resumes after
    * the last processed commit with no bookkeeping of our own. Each
    * discovered version `v` is handed to `process` as its row-level CDF
    * batch (`changes(v-1, v)` — manifest-diff files only; v0 arrives as
    * a pure insert feed of the initial snapshot). Versions ≤
    * `fromVersion` are skipped (the consumer's state already reflects
    * them). `trigger` picks the lifecycle: the default AvailableNow
    * drains all committed versions then stops (the scheduled-run shape);
    * pass `Trigger.ProcessingTime(...)` for a long-lived continuous tail
    * that picks up commits as they land (spec-covered via
    * [[changesStreamQuery]], the non-blocking face that returns the
    * query handle for stop/monitoring).
    *
    * Scale: the streamed FILES are manifests (KBs of metadata); all data
    * movement happens inside `process`'s plan, which reads only each
    * version's manifest-diff files. At-least-once delivery at the
    * foreachBatch boundary — make `process` idempotent (e.g. commit its
    * output with [[graft.sources.VersionedTable.commitIfNew]] keyed by
    * version, as [[maintainView]] does).
    *
    * CAVEAT, same as the batch [[graft.sources.VersionedTable.changes]]
    * face: a [[graft.sources.VersionedTable.updateMergeOnRead]] commit
    * reaches the feed as a row-level DELETE (pre-image) + INSERT
    * (post-image) pair, never `update_preimage`/`update_postimage` —
    * the manifest records the file/vector diff, not update intent.
    * Consumers must fold delete+insert compositionally (as
    * [[graft.pipeline.Aggregates.applyRevenueChanges]] does,
    * spec-asserted); a consumer that special-cases only the update pair
    * types would silently misfold MoR updates.
    *
    * A fresh consumer (default `fromVersion = -1`) of a table whose log
    * was bounded by expireLog/maintain() bootstraps at the anchor: the
    * first retained version arrives as a pure insert feed of its
    * resolved snapshot (its predecessor no longer resolves), and
    * everything after flows as normal diffs. */
  def changesStream(spark: SparkSession, tablePath: String, keyCols: Seq[String],
      checkpoint: String, fromVersion: Long = -1L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 0)
      (process: (DataFrame, Long) => Unit): Unit = {
    changesStreamQuery(spark, tablePath, keyCols, checkpoint, fromVersion,
      trigger, maxFilesPerTrigger)(process).awaitTermination()
    ()
  }

  /** Continuous CROSS-TABLE REPLICATION — the CDC-replication pattern
    * (Delta's readChangeFeed → MERGE apply), composed from this
    * module's [[changesStream]] source and the versioned table's
    * full-clause merge: each source commit arrives as its row-level
    * change batch and folds into the target as ONE atomic
    * `mergeClauses` commit (delete rows whose net change is a delete,
    * upsert the rest). Exactly the machinery a 100 TB platform uses to
    * maintain a reporting replica or a region copy — only each
    * version's DIFF moves, never the table.
    *
    * Semantics notes, both spec-pinned:
    *   - a version's feed can carry one key TWICE (a MoR update is a
    *     delete+insert pair; a COW update is a pre/post pair) — the
    *     per-version net effect is collapsed BEFORE the merge (post
    *     state wins over delete, pre-images drop), so the ambiguity
    *     guard never trips and the fold is order-free;
    *   - replay is idempotent: deletes re-delete nothing, upserts
    *     re-apply the same values, inserts of existing keys become
    *     updates — so the at-least-once foreachBatch boundary is safe;
    *   - a fresh replica bootstraps from the source's v0 (or anchor)
    *     insert feed into an overwrite commit. */
  def replicateStream(spark: SparkSession, sourceTable: String,
      targetTable: String, keyCols: Seq[String], checkpoint: String,
      fromVersion: Long = -1L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 0): Unit =
    changesStream(spark, sourceTable, keyCols, checkpoint, fromVersion,
      trigger, maxFilesPerTrigger)(replicateBatch(spark, targetTable, keyCols))

  /** One version's fold of [[replicateStream]] — named so specs (and
    * custom pipelines) can drive the identical apply logic through
    * [[changesStreamQuery]]'s query handle. */
  private[graft] def replicateBatch(spark: SparkSession, targetTable: String,
      keyCols: Seq[String]): (DataFrame, Long) => Unit = { (feed, v) =>
    import graft.sources.VersionedTable
    import graft.sources.VersionedTable.MergeAction.{Delete, Insert, Update}
    // net per-key effect within the version: any post-state row
    // ('u') beats a delete; update pre-images are not state
    val ops = feed
      .filter(col("_change_type") =!= "update_preimage")
      .withColumn("__op",
        when(col("_change_type") === "delete", lit("d")).otherwise(lit("u")))
      .drop("_change_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__op").desc)
    val net = ops.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    if (VersionedTable.latestVersion(spark, targetTable) < 0)
      // bootstrap: the v0/anchor insert feed IS the initial state
      VersionedTable.commit(
        net.filter(col("__op") =!= "d").drop("__op"), targetTable,
        mode = "overwrite",
        ts = java.time.Instant.EPOCH.plusSeconds(v).toString)
    else
      VersionedTable.mergeClauses(net, targetTable, keyCols,
        matched = Seq(
          Delete(Some("s.__op = 'd'")),
          Update()),
        notMatched = Seq(Insert(Some("s.__op <> 'd'"))),
        ts = java.time.Instant.EPOCH.plusSeconds(v).toString)
    ()
  }

  /** [[changesStream]] without the blocking wait: returns the running
    * [[org.apache.spark.sql.streaming.StreamingQuery]] so a long-lived
    * ProcessingTime tail can be monitored and stopped by the caller. */
  def changesStreamQuery(spark: SparkSession, tablePath: String, keyCols: Seq[String],
      checkpoint: String, fromVersion: Long = -1L,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 0)
      (process: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.VersionedTable
    // BOUNDED CATCH-UP (Delta's maxFilesPerTrigger-style backpressure
    // on its CDF reader): a replica resuming after long downtime would
    // otherwise fold EVERY missed version in one unbounded micro-batch.
    // The streamed files are manifests — one per commit — so a cap of N
    // files is a cap of N versions per micro-batch; AvailableNow honors
    // it and drains the backlog as a sequence of bounded batches, each
    // checkpointed, so a crash mid-catch-up loses at most one batch of
    // progress instead of the whole drain. 0 = unbounded (the default,
    // the pre-existing behavior).
    val rdr =
      if (maxFilesPerTrigger > 0)
        spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else spark.readStream
    rdr.text(VersionedTable.manifestLogDir(tablePath))
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // the versions of the manifests in the batch —
        // manifest-count-bounded driver collect (metadata, not data)
        val vs = VersionedTable.manifestVersions(b).filter(_ > fromVersion).sorted
        vs.foreach { v =>
          val feed =
            if (v == 0L || !VersionedTable.hasVersion(spark, tablePath, v - 1))
              // v0 bootstrap — OR v-1 expired by expireLog/maintain():
              // a FRESH consumer of a log-bounded table starts at the
              // anchor, whose predecessor no longer resolves, so its
              // snapshot arrives as a pure insert feed (the same shape
              // as v0) instead of the stream dying on FileNotFound
              VersionedTable.readVersion(spark, tablePath, v)
                .withColumn("_change_type", lit("insert"))
            else VersionedTable.changes(spark, tablePath, keyCols, v - 1, v)
          process(feed, v)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger).start()
  }

  /** Continuously maintained materialized view: streams the fact table's
    * change data feed ([[changesStream]]) and folds every commit into
    * the zone×hour revenue state with
    * [[graft.pipeline.Aggregates.applyRevenueChanges]] — the Delta
    * `readChangeFeed` → `MERGE` pattern, composing the CDF source with
    * the `iv_ag` incremental-view operator. The state lives in its own
    * versioned table at `viewPath`; each fold commits via `commitIfNew`
    * keyed by the SOURCE version, so a replayed fold (at-least-once
    * delivery, crash between fold and checkpoint) is skipped before any
    * write — exactly-once view contents, and every fold is itself a
    * time-travelable state snapshot. Bit-exact vs a from-scratch
    * recompute of the view at the head version (spec-asserted). */
  def maintainView(spark: SparkSession, tablePath: String, viewPath: String,
      checkpoint: String, keyCols: Seq[String] = Seq("event_id"),
      appId: String = "graft-view",
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): Unit = {
    import graft.sources.VersionedTable
    import graft.pipeline.Aggregates
    changesStream(spark, tablePath, keyCols, checkpoint, trigger = trigger) { (feed, v) =>
      val snapshot = VersionedTable.readVersion(spark, tablePath, v)
      val state =
        if (VersionedTable.latestVersion(spark, viewPath) >= 0)
          VersionedTable.readVersion(spark, viewPath)
        else Aggregates.revenueStateByZoneHour(snapshot.limit(0))
      val next = Aggregates.applyRevenueChanges(state, feed, snapshot)
      VersionedTable.commitIfNew(next, viewPath, appId, v,
        ts = java.time.Instant.EPOCH.plusSeconds(v).toString, mode = "overwrite")
      ()
    }
  }

  /** Convenience writer used by specs and examples: stream → memory sink. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode): Unit = {
    df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    ()
  }
}
