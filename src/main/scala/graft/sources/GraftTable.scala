package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Fluent handle over a versioned table — the DeltaTable-shaped API
  * (reference: batch_scoring.py:169-185 drives Delta through
  * `DeltaTable.isDeltaTable` / `forPath` / `.merge(...)
  * .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()`; a
  * reference user ports that call chain verbatim). Every method is a
  * thin delegate to [[VersionedTable]] — one implementation, two
  * faces — so the fluent surface can never drift from the functional
  * one. */
final class GraftTable private (spark: SparkSession, path: String) {

  def toDF: DataFrame = VersionedTable.readVersion(spark, path)
  def asOf(version: Long): DataFrame = VersionedTable.readVersion(spark, path, version)
  def asOfTimestamp(ts: String): DataFrame = VersionedTable.readAsOf(spark, path, ts)
  def history(): DataFrame = VersionedTable.history(spark, path)
  def version: Long = VersionedTable.latestVersion(spark, path)

  def delete(condition: String, ts: String = VersionedTable.TsNow): Long =
    VersionedTable.delete(spark, path, condition, ts)
  def update(condition: String, set: Map[String, String],
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.update(spark, path, condition, set, ts)
  def optimize(zorderBy: Seq[String] = Seq.empty,
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.optimize(spark, path, zorderCols = zorderBy, ts = ts)
  def optimizeWhere(condition: String, zorderBy: Seq[String] = Seq.empty,
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.optimizeWhere(spark, path, condition,
      zorderCols = zorderBy, ts = ts)
  /** Delta's `REORG TABLE ... APPLY (PURGE)`: rewrite only the files
    * carrying a deletion vector so the soft-deleted bytes actually
    * leave disk once [[vacuum]] runs. */
  def reorgPurge(condition: Option[String] = None,
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.reorgPurge(spark, path, condition, ts = ts)
  /** Delta's `FSCK REPAIR TABLE`: drop references to physically-missing
    * data files so the snapshot scans again; returns the dropped paths. */
  def fsck(dryRun: Boolean = false, ts: String = VersionedTable.TsNow): Seq[String] =
    VersionedTable.fsck(spark, path, dryRun, ts = ts)
  def vacuum(retainVersions: Int = -1): Int =
    VersionedTable.vacuum(spark, path, retainVersions)
  def restoreToVersion(v: Long, ts: String = VersionedTable.TsNow): Long =
    VersionedTable.rollback(spark, path, v, ts)

  /** RESTORE to the latest version at or before `asOf` (Delta's
    * `RESTORE ... TO TIMESTAMP AS OF`): resolved from the commit
    * timestamps ([[VersionedTable.versionAt]]: parsed instants), then a
    * zero-copy [[restoreToVersion]]. An `asOf` earlier than every commit
    * is a descriptive error. */
  def restoreToTimestamp(asOf: String, ts: String = VersionedTable.TsNow): Long =
    VersionedTable.rollback(spark, path, versionAtOrBefore(asOf), ts)

  /** Latest version committed at or before `asOf` — the timestamp →
    * version resolution RESTORE and SHALLOW CLONE share. */
  def versionAtOrBefore(asOf: String): Long =
    VersionedTable.versionAt(spark, path, asOf, atOrBefore = true)

  /** Earliest version committed at or after `asOf` — the timestamp →
    * version resolution the CDF/stream `startingTimestamp` option uses
    * (Delta's semantics: the first commit the timestamp does not
    * postdate; an `asOf` later than every commit is a descriptive
    * error). */
  def versionAtOrAfter(asOf: String): Long =
    VersionedTable.versionAt(spark, path, asOf, atOrBefore = false)

  /** Reclaimable-file count WITHOUT deleting anything (Delta's
    * `VACUUM ... DRY RUN`): exactly the files a real vacuum with the
    * same `retainVersions`/`graceMs` would delete — live files of the
    * retained versions and clone-pinned files excluded, and the grace
    * window applied (a fresh table reports 0, like the `VACUUM` it
    * previews). Pass `graceMs = 0` to ask "what is dead" regardless of
    * age. */
  def vacuumDryRun(retainVersions: Int = -1,
      graceMs: Long = -1L): Int =
    VersionedTable.vacuumReclaimable(spark, path, retainVersions, graceMs)

  /** One-row table summary (Delta's DESCRIBE DETAIL): version, commit
    * ts/op, file count, total bytes, manifest-recorded row count,
    * partition columns (logical names), constraint/generated-column
    * names, bloom index columns, deletion-vectored file count. */
  def detail(): DataFrame = VersionedTable.describeDetail(spark, path)

  /** Persisted table properties at head (`SHOW TBLPROPERTIES`). */
  def properties: Map[String, String] = VersionedTable.propertiesOf(spark, path)

  /** Set (merge in) table properties — metadata-only commit. */
  def setProperties(props: Map[String, String],
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.setProperties(spark, path, props, ts)

  /** Unset table properties — metadata-only commit. */
  def unsetProperties(keys: Seq[String], ifExists: Boolean = false,
      ts: String = VersionedTable.TsNow): Long =
    VersionedTable.unsetProperties(spark, path, keys, ifExists, ts)

  /** Declare an identity column (Delta `GENERATED ALWAYS AS IDENTITY
    * (START WITH start INCREMENT BY step)`; `always = false` is
    * `GENERATED BY DEFAULT`). Creation-time only — see
    * [[VersionedTable.addIdentityColumn]]. */
  def addIdentityColumn(name: String, start: Long = 1L, step: Long = 1L,
      always: Boolean = true, ts: String = VersionedTable.TsNow): Long =
    VersionedTable.addIdentityColumn(spark, path, name, start, step, always, ts)

  /** Identity columns at head (name → spec with high-water mark). */
  def identityColumns: Map[String, VersionedTable.IdentitySpec] =
    VersionedTable.identityColumnsOf(spark, path)

  /** Start a fluent MERGE keyed on `keyCols` — terminal call is
    * [[GraftMergeBuilder.execute]]. Clause conditions/assignments are
    * SQL over the `t`/`s` struct aliases ([[VersionedTable.MergeAction]]).
    * `extraOn` is the non-key remainder of the ON condition (same
    * dialect, e.g. `Some("s.ts > t.ts")`): it joins into the FULL match
    * condition, so a pair that key-matches but fails it is NOT MATCHED
    * on both sides — Delta's classification, see
    * [[VersionedTable.mergeClauses]]. */
  def merge(source: DataFrame, keyCols: Seq[String],
      extraOn: Option[String] = None): GraftMergeBuilder =
    new GraftMergeBuilder(source, path, keyCols, extraOn, Nil, Nil, Nil)
}

/** Accumulates MERGE clauses in call order (order IS evaluation order,
  * first-true-wins) and executes via [[VersionedTable.mergeClauses]]. */
final class GraftMergeBuilder private[sources] (
    source: DataFrame, path: String, keyCols: Seq[String],
    extraOn: Option[String],
    matched: Seq[VersionedTable.MergeAction],
    notMatched: Seq[VersionedTable.MergeAction],
    bySource: Seq[VersionedTable.MergeAction]) {
  import VersionedTable.MergeAction._

  def whenMatchedUpdateAll(condition: Option[String] = None): GraftMergeBuilder =
    copy(matched = matched :+ Update(condition))
  def whenMatchedUpdate(set: Map[String, String],
      condition: Option[String] = None): GraftMergeBuilder =
    copy(matched = matched :+ Update(condition, set))
  def whenMatchedDelete(condition: Option[String] = None): GraftMergeBuilder =
    copy(matched = matched :+ Delete(condition))
  def whenNotMatchedInsertAll(condition: Option[String] = None): GraftMergeBuilder =
    copy(notMatched = notMatched :+ Insert(condition))
  def whenNotMatchedInsert(values: Map[String, String],
      condition: Option[String] = None): GraftMergeBuilder =
    copy(notMatched = notMatched :+ Insert(condition, values))
  def whenNotMatchedBySourceUpdate(set: Map[String, String],
      condition: Option[String] = None): GraftMergeBuilder =
    copy(bySource = bySource :+ Update(condition, set))
  def whenNotMatchedBySourceDelete(condition: Option[String] = None): GraftMergeBuilder =
    copy(bySource = bySource :+ Delete(condition))

  def execute(ts: String = VersionedTable.TsNow): Long =
    VersionedTable.mergeClauses(source, path, keyCols,
      matched, notMatched, bySource, ts, extraOn)

  private def copy(
      matched: Seq[VersionedTable.MergeAction] = matched,
      notMatched: Seq[VersionedTable.MergeAction] = notMatched,
      bySource: Seq[VersionedTable.MergeAction] = bySource): GraftMergeBuilder =
    new GraftMergeBuilder(source, path, keyCols, extraOn,
      matched, notMatched, bySource)
}

object GraftTable {
  /** The `DeltaTable.forPath` analog. Throws on a path with no log. */
  def forPath(spark: SparkSession, path: String): GraftTable = {
    require(isGraftTable(spark, path), s"no versioned table at $path")
    new GraftTable(spark, path)
  }

  /** The `DeltaTable.forName` analog: a session-catalog `USING graft`
    * table by name (`t`, `db.t`), resolved to its storage path. */
  def forName(spark: SparkSession, name: String): GraftTable = {
    val ti = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val meta = spark.sessionState.catalog.getTableMetadata(ti)
    require(meta.provider.exists(_.equalsIgnoreCase("graft")),
      s"$name is not a USING graft table (provider: " +
        s"${meta.provider.getOrElse("none")})")
    forPath(spark, meta.location.toString)
  }

  /** The `DeltaTable.isDeltaTable` analog — the reference's
    * create-or-merge branch (batch_scoring.py:169) ports directly. */
  def isGraftTable(spark: SparkSession, path: String): Boolean =
    VersionedTable.latestVersion(spark, path) >= 0
}
