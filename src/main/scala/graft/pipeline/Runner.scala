package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Fanout
import org.apache.spark.storage.StorageLevel

import graft.sources.Sinks

/** Config-driven pipeline execution — the ops entry point a user of the
  * reference's `python -m src...` module mains lands on (reference: every
  * module's `if __name__ == "__main__"` block reads config.yaml and runs
  * one stage; graft runs the requested stages off ONE shared silver
  * lineage instead of one JVM/session per stage).
  *
  * Stage outputs land under `outputDir/<stage>/<table>` as parquet —
  * frames carrying `event_date` are written date-partitioned (the
  * reference's layout, bronze_loader.py:33-37), everything else plain.
  * The monitoring stage CLASSIFIES from the configured thresholds: PSI
  * severity (ok/warn/critical at psi_warn/psi_crit), missing-rate shift
  * alert, volume-drop alert at 1 − volume_drop_ratio — the reference's
  * monitoring: block (config.yaml:27-31) driving real columns.
  *
  * Scale: one session, and silver is computed ONCE per [[run]]. Every
  * stage table is a different column-pruned branch of silver, and
  * Catalyst never reuses an exchange across branches pruned to different
  * columns, so without a cache each write would re-run the bronze scan
  * and the silver dedup shuffle. `run` therefore persists silver before
  * any stage frame is built and drops it when the pass ends. Each write
  * is then a single pass over its frame, and its row count comes from an
  * [[Observation]] on that pass, not from re-reading the table. The
  * writes are independent queries, mostly of one or two tasks each, so
  * once silver's cache is filled they run concurrently on a bounded pool
  * (2 × `defaultParallelism` writers) and the driver's planning and
  * commits of one table overlap the tasks of another. A failed pass may
  * leave any subset of its tables written; every write is an overwrite,
  * so re-running the pass is idempotent. At 100 TB the only knob that
  * matters here is `spark.shuffle_partitions`, which the config owns —
  * everything else is per-operator design (see the operator scaladocs). */
object Runner {

  /** Run the configured stages; returns (qualified table name → rows
    * written), in [[stageFrames]] order. Silver is persisted before the
    * stage frames are built because some builders run actions while
    * building (`Mobility.zonePageRank` counts and collects its edges),
    * and those must read the cache too.
    *
    * The writes are independent queries over the cache, so they run
    * concurrently on a pool owned by this call (see [[Fanout]]), under
    * the caller's job group and other local properties. The pool starts
    * only once silver's cache is filled: until then writes run one at a
    * time, since two concurrent first readers would each compute the same
    * silver partitions. When a write fails, no further write starts, the
    * running ones finish, the first failure in frame order is thrown
    * (naming its table; later ones are suppressed) and silver is
    * unpersisted. A failed pass may leave any subset of its tables
    * written; every table is an overwrite, so a re-run is idempotent. */
  def run(spark: SparkSession, cfg: GraftConfig): Seq[(String, Long)] = {
    val medallion = Pipeline.runMedallion(spark, cfg.inputDir)
    val silver = medallion("silver")
    persistKeepingLayout(silver)
    try {
      val writes = frames(cfg, medallion).map { case (name, df) =>
        () => name -> write(df, s"${cfg.outputDir}/$name", name)
      }
      val serial = Vector.newBuilder[(String, Long)]
      var started = 0
      while (started < writes.size && !cacheFilled(silver)) {
        serial += writes(started)()
        started += 1
      }
      serial.result() ++ Fanout.run(spark, "graft-runner-write", writes.drop(started))
    } finally silver.unpersist()
  }

  /** Overwrite `path` with `df` (date-partitioned when it has
    * `event_date`); the row count comes from an [[Observation]] on the
    * write itself. A failure is rethrown naming `table`. */
  private def write(df: DataFrame, path: String, table: String): Long =
    try {
      val rows = Observation()
      val observed = df.observe(rows, count(lit(1)).as("rows"))
      if (df.columns.contains("event_date"))
        Sinks.writePartitioned(observed, path, Seq("event_date"))
      else
        observed.write.mode("overwrite").parquet(path)
      rows.get("rows").asInstanceOf[Long]
    } catch {
      case e: Exception => throw new RuntimeException(s"writing table $table failed: ${e.getMessage}", e)
    }

  /** Whether every partition of `df`'s cache has been built. */
  private def cacheFilled(df: DataFrame): Boolean =
    df.sparkSession.sharedState.cacheManager.lookupCachedData(df.asInstanceOf[ClassicDataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** The lazy frame DAG for the configured stages (no writes, nothing
    * persisted) — what `run` materializes, exposed for tests and
    * notebook use. */
  def stageFrames(spark: SparkSession, cfg: GraftConfig): Seq[(String, DataFrame)] =
    frames(cfg, Pipeline.runMedallion(spark, cfg.inputDir))

  /** Persist `df` so that its cached plan keeps the partitioning the
    * uncached plan would have. The cached plan is planned with AQE only
    * while `canChangeCachedPlanOutputPartitioning` is on; without AQE the
    * dedup shuffle's partitions are not coalesced, and every table
    * written from the cache comes out with more files per date. */
  private def persistKeepingLayout(df: DataFrame): Unit = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val spark = df.sparkSession
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try df.persist(StorageLevel.MEMORY_AND_DISK)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The stage frames over one medallion map, shared by [[run]] (which
    * persists its silver first) and [[stageFrames]]. */
  private def frames(cfg: GraftConfig, medallion: Map[String, DataFrame]): Seq[(String, DataFrame)] = {
    val silver = medallion("silver")
    cfg.stages.flatMap {
      case "medallion" =>
        medallion.toSeq.sortBy(_._1).map { case (n, df) => s"medallion/$n" -> df }
      case "scoring" =>
        Pipeline.runScoring(silver).toSeq.sortBy(_._1)
          .map { case (n, df) => s"scoring/$n" -> df }
      case "mobility" =>
        Pipeline.runMobility(silver).toSeq.sortBy(_._1)
          .map { case (n, df) => s"mobility/$n" -> df }
      case "monitoring" =>
        val mon = Pipeline.runMonitoring(silver, cfg.splitDate)
        val classified = mon.map {
          case ("monitor_psi", df) =>
            "monitor_psi" -> df.withColumn("severity",
              when(col("psi") >= cfg.psiCrit, lit("critical"))
                .when(col("psi") >= cfg.psiWarn, lit("warn"))
                .otherwise(lit("ok")))
          case ("monitor_missing", df) =>
            "monitor_missing" -> df.withColumn("shift_alert",
              (col("shift") > cfg.missingShiftWarn).cast("int"))
          case ("monitor_volume", _) =>
            // rebuild with the configured alert threshold
            "monitor_volume" -> graft.monitoring.Monitoring.volume(
              silver, cfg.splitDate, alertBelow = 1.0 - cfg.volumeDropRatio)
          case other => other
        }
        classified.toSeq.sortBy(_._1).map { case (n, df) => s"monitoring/$n" -> df }
      case other =>
        // unreachable: GraftConfig validates stage names at load
        throw new IllegalArgumentException(s"unknown stage: $other")
    }
  }
}
