package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The reference's batch-scoring loop (`batch_scoring.py`) on a
  * `VersionedTable`: the serving table of `scoreDemand` output that the
  * nightly pipeline publishes to. The table starts as one commit of a
  * base window, one file per day; then each simulated day MERGEs its batch on
  * (trip_date, hour, zone_id) (that day's scores plus a re-score of the
  * previous evening), applies an UPDATE correction and a retention
  * DELETE, and reads the table four ways: a head aggregate, `readWhere`
  * on one day, `readVersion` time travel and `history`. Every second day
  * ends with OPTIMIZE.
  *
  * Every read is checked against an in-memory replay of the same
  * operations, and so are the final and one time-travel snapshot.
  *
  * `scored` is read once, here: the loop itself runs no pipeline work. */
final class ServingTable(ctx: Ctx, scored: DataFrame) {
  import ServingTable._

  private val spark = ctx.spark
  private val scoredSchema = scored.schema
  private val predIdx = scoredSchema.fieldIndex("predicted_demand")
  private val byDay: Map[LocalDate, Array[Row]] =
    scored.collect().groupBy(r => r.getDate(0).toLocalDate)
  private val days: Seq[LocalDate] = byDay.keys.toSeq.sortBy(_.toEpochDay)

  def inputs: Seq[(String, Long)] = Seq(
    "score_rows" -> byDay.values.map(_.length.toLong).sum, "score_days" -> days.size.toLong,
    "table_base_days" -> BaseDays.toLong)

  /** Writes the merge batches of `n` simulated days. */
  def prepare(n: Int): Unit =
    for (d <- days.slice(BaseDays, BaseDays + n)) writeBatch(d)

  /** Commits the base window (set-up), then runs `n` timed days against
    * the fresh table. */
  def run(n: Int): Unit = loop(ctx.dir("table"), n)

  private def batchPath(d: LocalDate) = ctx.dir("batches", d.toString)

  /** A day's merge batch: its scores plus a re-score of the evening
    * before (hours 18-23, prediction +5%), which MERGE must update. */
  private def batchRows(d: LocalDate): Array[Row] = {
    val prev = byDay.getOrElse(d.minusDays(1), Array.empty[Row]).filter(_.getInt(1) >= 18)
      .map(r => withPred(r, pred(r).map(_ * 1.05)))
    byDay.getOrElse(d, Array.empty[Row]) ++ prev
  }

  private def writeBatch(d: LocalDate): Unit = {
    frame(batchRows(d)).write.mode("overwrite").parquet(batchPath(d))
  }

  private def frame(rows: Array[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), scoredSchema)

  private def pred(r: Row): Option[Double] = if (r.isNullAt(predIdx)) None else Some(r.getDouble(predIdx))
  private def withPred(r: Row, p: Option[Double]): Row = {
    val v = r.toSeq.toArray
    v(predIdx) = p.map(Double.box).orNull
    Row.fromSeq(v.toSeq)
  }
  private def key(r: Row): Key = (r.getDate(0).toLocalDate, r.getInt(1), r.getLong(2))

  private def loop(path: String, n: Int): Unit = {
    val t0 = System.nanoTime()
    ctx.deleteDir(path)
    // in-memory replay: version -> snapshot
    var state = Map.empty[Key, Row]
    val versions = scala.collection.mutable.HashMap.empty[Long, Map[Key, Row]]
    def commitState(v: Long, s: Map[Key, Row]): Unit = { state = s; versions(v) = s }

    // the base window: one commit, one file per day
    val base = days.take(BaseDays).map(byDay)
    val v0 = VersionedTable.commit(spark.createDataFrame(
      spark.sparkContext.parallelize(base, base.size).flatMap(_.iterator), scoredSchema), path)
    commitState(v0, base.flatten.map(r => key(r) -> r).toMap)
    var latest = VersionedTable.latestVersion(spark, path)
    ctx.extraSetupSeconds += (System.nanoTime() - t0) / 1e9
    for ((d, i) <- days.drop(BaseDays).take(n).zipWithIndex if i == 0 || !Main.pastDeadline) {
      // MERGE the day's batch
      val batch = batchRows(d)
      val mergeSrc = spark.read.parquet(batchPath(d))
      dml("merge", path, sourceBytes = Ctx.bytesUnder(Paths.get(batchPath(d))))(
        VersionedTable.merge(mergeSrc, path, KeyCols)
      ).foreach(v => commitState(v, state ++ batch.map(r => key(r) -> r)))
      // UPDATE: correct yesterday's predictions for every fifth zone
      val y = d.minusDays(1)
      val cond = s"trip_date = DATE'$y' AND zone_id % 5 = 0"
      dml("update", path)(
        VersionedTable.update(spark, path, cond, Map("predicted_demand" -> "predicted_demand * 1.01"))
      ).foreach(v => commitState(v, state.map { case (k, r) =>
        if (k._1 == y && k._3 % 5 == 0) k -> withPred(r, pred(r).map(_ * 1.01)) else k -> r
      }))
      // retention DELETE
      val cutoff = d.minusDays(RetentionDays)
      dml("delete", path)(
        VersionedTable.delete(spark, path, s"trip_date < DATE'$cutoff'")
      ).foreach(v => commitState(v, state.filter { case (k, _) => !k._1.isBefore(cutoff) }))
      if (i % OptimizeEvery == OptimizeEvery - 1)
        dml("optimize", path)(VersionedTable.optimize(spark, path))
          .foreach(v => commitState(v, state))
      latest = VersionedTable.latestVersion(spark, path)
      reads(path, d, latest, state, versions.toMap)
    }
    // final and time-travel snapshots against the replay
    val tt = math.max(0L, latest - TimeTravelBack)
    for ((v, label) <- Seq(latest -> "final", tt -> "time-travel")) {
      ctx.attempted += 1
      snapshotDiff(VersionedTable.readVersion(spark, path, v).collect(), versions(v))
        .foreach(msg => ctx.fail(s"$label snapshot v$v: $msg"))
    }
    if (ctx.trace.isDefined) {
      val live = VersionedTable.snapshotFiles(spark, path)
        .map(f => Files.size(Paths.get(path, f))).sum
      ctx.gauges("sources.space_amp") = Ctx.bytesUnder(Paths.get(path)).toDouble / math.max(1L, live)
    }
  }

  /** One DML op; returns the committed version. In a traced run the
    * files it removed from the snapshot are counted on its span. */
  private def dml(op: String, path: String, sourceBytes: Long = 0L)(body: => Long): Option[Long] = {
    val before = if (ctx.trace.isDefined) VersionedTable.snapshotFiles(spark, path).toSet else Set.empty[String]
    val res = ctx.op("dml", s"sources.$op")(body)(_ => None)
    if (ctx.trace.isDefined) {
      val after = VersionedTable.snapshotFiles(spark, path).toSet
      ctx.countOn(s"sources.$op", "files_removed", (before -- after).size)
      if (sourceBytes > 0) ctx.countOn(s"sources.$op", "source_bytes", sourceBytes.toDouble)
    }
    res
  }

  private def reads(path: String, d: LocalDate, latest: Long, state: Map[Key, Row],
      versions: Map[Long, Map[Key, Row]]): Unit = {
    def agg(df: DataFrame): (Long, Option[Double]) = {
      val r = df.agg(count(lit(1)), sum(col("predicted_demand"))).head()
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    def aggCheck(got: (Long, Option[Double]), want: Map[Key, Row]): Option[String] = {
      val wantN = want.size.toLong
      val wantSum = want.values.flatMap(pred).sum
      if (got._1 != wantN) Some(s"count ${got._1} != replay $wantN")
      else if (math.abs(got._2.getOrElse(0.0) - wantSum) > 1e-9 * math.max(1.0, math.abs(wantSum)))
        Some(s"sum ${got._2} != replay $wantSum")
      else None
    }
    val traced = ctx.trace.isDefined
    ctx.op("read", "sources.read_head")(agg(VersionedTable.readVersion(spark, path)))(aggCheck(_, state))
    if (traced) ctx.countOn("sources.read_head", "files_scanned",
      VersionedTable.snapshotFiles(spark, path).size)

    val day = d.minusDays(2)
    val cond = s"trip_date = DATE'$day'"
    ctx.op("read", "sources.read_where")(VersionedTable.readWhere(spark, path, cond).collect()) { rows =>
      snapshotDiff(rows, state.filter(_._1._1 == day))
    }
    if (traced) {
      ctx.countOn("sources.read_where", "files_scanned", VersionedTable.prunedFiles(spark, path, cond).size)
      ctx.countOn("sources.read_where", "snapshot_files", VersionedTable.snapshotFiles(spark, path).size)
    }

    val back = math.max(0L, latest - TimeTravelBack)
    ctx.op("read", "sources.read_version")(agg(VersionedTable.readVersion(spark, path, back)))(
      aggCheck(_, versions(back)))
    if (traced) ctx.countOn("sources.read_version", "files_scanned",
      VersionedTable.snapshotFiles(spark, path, back).size)

    ctx.op("read", "sources.history")(VersionedTable.history(spark, path).collect()) { h =>
      if (h.length != latest + 1) Some(s"history has ${h.length} rows, want ${latest + 1}")
      else None
    }
  }

  /** Rows vs replay: same keys, same event counts and predictions. */
  private def snapshotDiff(rows: Array[Row], want: Map[Key, Row]): Option[String] = {
    val got = rows.map(r => key(r) -> r).toMap
    if (got.size != rows.length) Some(s"${rows.length - got.size} duplicate keys")
    else if (got.keySet != want.keySet)
      Some(s"keys differ: ${(got.keySet -- want.keySet).size} extra, ${(want.keySet -- got.keySet).size} missing")
    else want.collectFirst {
      case (k, w) if pred(got(k)) != pred(w) || got(k).getLong(3) != w.getLong(3) =>
        s"row $k: got ${got(k)} want $w"
    }
  }
}

object ServingTable {
  type Key = (LocalDate, Int, Long)
  val KeyCols: Seq[String] = Seq("trip_date", "hour", "zone_id")
  val BaseDays = 7
  val RetentionDays = 7
  val OptimizeEvery = 2
  val TimeTravelBack = 3L
}
