package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` — the data-source face of
  * [[VersionedTable]] (the reference's primary read idiom:
  * delta_utils.py:22 / batch_scoring.py:48 are
  * `spark.read.format("delta").load(path)`; with this class that call
  * ports verbatim with `"graft"` for `"delta"`). Registered under the
  * short name `graft` via the `DataSourceRegister` service file, so the
  * same tables also open from pure SQL — `CREATE TABLE t USING graft
  * LOCATION '...'` — with no Scala imports anywhere: the face every
  * non-Scala consumer (notebook, BI tool, the reference's own PySpark
  * style) needs.
  *
  * Read options:
  *   - `versionAsOf`   — exact snapshot version (Delta's option)
  *   - `timestampAsOf` — latest snapshot committed at or before this
  *     timestamp (Delta's option)
  *
  * Design: DataSource V1 `RelationProvider`, deliberately. The v1
  * interface is the one public seam where a format can hand Spark an
  * ALREADY-PLANNED Catalyst scan: [[GraftRelation.buildScan]] builds
  * the library's own [[VersionedTable.readVersion]] DataFrame — the
  * DV-aware, column-mapped, manifest-schema, partition-recovering scan
  * EVERY other reader routes through — pushes the scan-level filters
  * and column pruning into it, and returns its `InternalRow` RDD with
  * `needConversion = false`, so the inner parquet scan keeps
  * whole-stage codegen, pushed filters and pruned read schema (the
  * `.explain` shows the same `PushedFilters`/`ReadSchema` as a direct
  * `readVersion(...).filter(...)`). A DataSourceV2 `TableProvider`
  * would force re-implementing that scan row-by-row in a
  * `PartitionReader` — duplicating the DV/column-mapping logic in a
  * slower, non-codegen'd form. Delta's own batch-read face made the
  * same v1 choice for the same reason.
  *
  * Write face (`df.write.format("graft")`): `SaveMode.Append` →
  * [[VersionedTable.commit]] append, `Overwrite` → snapshot overwrite,
  * `ErrorIfExists`/`Ignore` honor existing-table semantics. Options
  * `partitionBy` (comma-separated logical columns, first commit only),
  * `mergeSchema`, and `ts` (commit timestamp) pass through.
  */
final class GraftDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** The LOG owns the schema. The session catalog stores a snapshot of
    * the schema at CREATE TABLE time and hands it back on every read;
    * honoring it would brick SELECT after any schema evolution that
    * happened through the library (rename/drop/widen write the manifest,
    * not the catalog) with "user-specified schema doesn't match". The
    * manifest schema is the source of truth — exactly Delta's contract —
    * so the stored (or user-supplied) schema is deliberately ignored and
    * the live snapshot schema served. SQL-initiated ALTERs keep the
    * catalog in sync besides (graft.plans.GraftSqlAlter commands). */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters)

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      """path is required: spark.read.format("graft").load(<table path>)"""))

  // ---- streaming face: spark.readStream.format("graft").load(path)
  // (Delta's readStream idiom; semantics in [[GraftStreamSource]])

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      VersionedTable.readVersion(sqlContext.sparkSession,
        pathOf(parameters)).schema))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters),
      parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v })

  // ---- streaming sink: df.writeStream.format("graft").start(path)
  // (exactly-once via the manifest log's txn watermark; semantics in
  // [[GraftStreamSink]])

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new GraftStreamSink(sqlContext.sparkSession, pathOf(parameters),
      parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v },
      partitionColumns, outputMode)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean)) {
      // Delta's CDF read idiom: spark.read.format("delta")
      //   .option("readChangeFeed", "true").option("startingVersion", X)
      // ports with one extra option — keyColumns — because this CDF
      // classifies update pre/post pairs by merge key (the manifest
      // records file diffs, not row intent)
      val keys = parameters.get("keyColumns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires keyColumns (comma-separated merge keys: " +
            "update pre/post pairs classify by key)"))
      // Delta's four range spellings: starting/endingVersion exact,
      // starting/endingTimestamp resolved against commit timestamps
      // (start = first commit at-or-after, end = last at-or-before).
      // Conflicting spellings of the same bound are an ERROR (Delta's
      // rule) — a silently ignored startingTimestamp would widen or
      // narrow the change range without warning.
      require(parameters.get("startingVersion").isEmpty ||
        parameters.get("startingTimestamp").isEmpty,
        "specify at most one of startingVersion / startingTimestamp")
      require(parameters.get("endingVersion").isEmpty ||
        parameters.get("endingTimestamp").isEmpty,
        "specify at most one of endingVersion / endingTimestamp")
      val start = parameters.get("startingVersion").map(_.trim.toLong)
        .orElse(parameters.get("startingTimestamp").map(ts =>
          GraftTable.forPath(spark, path).versionAtOrAfter(ts.trim)))
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed requires startingVersion or startingTimestamp"))
      // pin the range NOW: a relation is a consistent snapshot — a
      // commit landing between analysis and execution must not widen it
      val end = parameters.get("endingVersion").map(_.trim.toLong)
        .orElse(parameters.get("endingTimestamp").map(ts =>
          GraftTable.forPath(spark, path).versionAtOrBefore(ts.trim)))
        .getOrElse(VersionedTable.latestVersion(spark, path))
      new GraftRelation(spark,
        () => GraftDataSource.changeFeed(spark, path, keys, start, Some(end)))
    } else {
      val vOpt = parameters.get("versionAsOf").map(_.trim.toLong)
      val tsOpt = parameters.get("timestampAsOf")
      require(vOpt.isEmpty || tsOpt.isEmpty,
        "specify at most one of versionAsOf / timestampAsOf")
      // the PLAIN head read resolves "latest" AT SCAN TIME (the v1
      // norm — the catalog caches relation instances across statements,
      // so a construction-time pin would serve stale data to a SQL
      // SELECT after INSERT INTO; a scan itself reads ONE manifest, so
      // each query execution is still a consistent snapshot). Pinned
      // reads are exactly the versionAsOf/timestampAsOf options. Only
      // the plain head read is insertable — time travel is a read-only
      // view of history.
      val insertable = vOpt.isEmpty && tsOpt.isEmpty
      new GraftRelation(spark,
        () => GraftDataSource.snapshotDf(spark, path, vOpt, tsOpt),
        insertPath = if (insertable) Some(path) else None)
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val exists = VersionedTable.latestVersion(spark, path) >= 0
    // wall clock unless the caller pins one: this face (and the SQL
    // CTAS riding it) is user-facing, so DESCRIBE HISTORY must read
    // current and age-based retention must see fresh commits; pass the
    // `ts` option for deterministic logs (fixtures, replay)
    val ts = parameters.getOrElse("ts", VersionedTable.TsNow)
    val mergeSchema = parameters.get("mergeSchema").exists(_.trim.toBoolean)
    // Delta's predicate-scoped overwrite as a WRITE option (the
    // idempotent-backfill idiom: .mode("overwrite")
    // .option("replaceWhere", "date = '...'")): rows of the batch
    // replace exactly the condition's scope, out-of-scope files carry
    // by reference
    val replaceWhere = parameters.get("replaceWhere").map(_.trim).filter(_.nonEmpty)
    require(replaceWhere.isEmpty || mode == SaveMode.Overwrite,
      "replaceWhere requires SaveMode.Overwrite")
    // dynamic partition overwrite: the writer option wins, Spark's
    // session conf is the fallback (Delta's precedence). Composes with
    // nothing — replaceWhere already IS a scoped overwrite. The fallback
    // is softer than the option: a session-wide
    // spark.sql.sources.partitionOverwriteMode=dynamic on an
    // UNPARTITIONED table degrades to a plain static overwrite (Delta's
    // and the INSERT OVERWRITE path's behavior — there are no partitions
    // to scope to); only the explicit writer option makes that an error.
    val dynamicExplicit = mode == SaveMode.Overwrite && exists &&
      parameters.get("partitionOverwriteMode")
        .exists(_.trim.equalsIgnoreCase("dynamic"))
    val dynamicPO = dynamicExplicit || (
      mode == SaveMode.Overwrite && exists &&
        !parameters.contains("partitionOverwriteMode") &&
        spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          .exists(_.trim.equalsIgnoreCase("dynamic")) &&
        VersionedTable.partitionColumnsOf(spark, path).nonEmpty)
    require(!dynamicPO || replaceWhere.isEmpty,
      "partitionOverwriteMode=dynamic and replaceWhere are both scoped " +
        "overwrites — use one")
    val pcols = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // Delta's idempotent-writer options (txnAppId + txnVersion, the
    // foreachBatch manual-checkpoint idiom): the write commits with the
    // transaction marker and a REPLAY — same appId, version at or below
    // the recorded watermark — is a silent no-op, never duplicate rows
    val txnAppId = parameters.get("txnAppId").map(_.trim).filter(_.nonEmpty)
    val txnVersion = parameters.get("txnVersion").map(_.trim.toLong)
    require(txnAppId.isDefined == txnVersion.isDefined,
      "txnAppId and txnVersion must be set together")
    require(txnAppId.isEmpty || (replaceWhere.isEmpty && !dynamicPO),
      "txnAppId/txnVersion compose with plain append/overwrite writes, " +
        "not scoped overwrites")
    require(txnAppId.isEmpty ||
      mode == SaveMode.Append || mode == SaveMode.Overwrite,
      "txnAppId/txnVersion require SaveMode.Append or Overwrite")
    // Delta's overwriteSchema guard (delta_utils.py:29 passes the
    // option explicitly): an overwrite whose batch SCHEMA differs from
    // the table's refuses unless `overwriteSchema=true` — the library
    // `commit` itself keeps its documented replace-the-snapshot
    // semantics; this face adds the accidental-clobber protection a
    // writer-facing API owes its users. Changed = the case-insensitive
    // column-name → type map differs (order and nullability are not
    // schema changes).
    if (mode == SaveMode.Overwrite && exists && replaceWhere.isEmpty &&
        !dynamicPO && // a dynamic overwrite rides replaceWhere's own
                      // strict schema-equality check
        !parameters.get("overwriteSchema").exists(_.trim.toBoolean)) {
      def typeMap(s: StructType): Map[String, org.apache.spark.sql.types.DataType] =
        s.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap
      val cur = VersionedTable.readVersion(spark, path).schema
      if (typeMap(cur) != typeMap(data.schema))
        throw new VersionedTable.SchemaMismatchException(
          s"overwrite batch schema ${data.schema.simpleString} does not match " +
            s"table schema ${cur.simpleString} at $path; pass " +
            """.option("overwriteSchema", "true") to replace the schema with the data""")
    }
    def write(m: String): Unit = {
      (txnAppId, txnVersion) match {
        case (Some(a), Some(v)) =>
          VersionedTable.commitIfNew(data, path, a, v, ts, mode = m,
            partitionBy = pcols, mergeSchema = mergeSchema)
        case _ =>
          VersionedTable.commit(data, path, m, ts, mergeSchema = mergeSchema,
            partitionBy = pcols)
      }
      ()
    }
    mode match {
      case SaveMode.Overwrite if dynamicPO =>
        val pcols2 = VersionedTable.partitionColumnsOf(spark, path)
        require(pcols2.nonEmpty,
          s"partitionOverwriteMode=dynamic on the unpartitioned table at " +
            s"$path — there are no partitions to scope the overwrite to")
        GraftDataSource.dynamicOverwrite(data, path, pcols2, ts)
        ()
      case SaveMode.Overwrite if replaceWhere.isDefined && exists =>
        VersionedTable.replaceWhere(data, path, replaceWhere.get, ts = ts)
        ()
      case SaveMode.Overwrite if replaceWhere.isDefined =>
        // bootstrap run on a fresh path: the scope contract still holds
        // (Delta validates the predicate on new tables too) — an
        // out-of-scope row silently landing here would be carried BY
        // REFERENCE into every later scoped replace
        import org.apache.spark.sql.functions.{coalesce, expr, not}
        if (!data.filter(not(coalesce(expr(replaceWhere.get), lit(false)))).isEmpty)
          throw new IllegalArgumentException(
            s"replaceWhere batch contains rows outside its scope " +
              s"[${replaceWhere.get}] at $path (new table)")
        write("overwrite")
      case SaveMode.Append => write("append")
      case SaveMode.Overwrite => write("overwrite")
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"versioned table already exists at $path (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists => write("overwrite")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Ignore => write("overwrite")
    }
    // table-declared auto-compaction (Delta's
    // delta.autoOptimize.autoCompact): fold accumulated small files
    // after the commit — a no-op commit-free pass when fewer than two
    // small files exist. Cheap to consult: the property state is cached
    // per (table, version) by the commit that just published it.
    if (VersionedTable.autoCompactEnabled(spark, path))
      VersionedTable.compactSmall(spark, path, ts = ts)
    new GraftRelation(spark,
      () => GraftDataSource.snapshotDf(spark, path, None, None),
      insertPath = Some(path))
  }
}

object GraftDataSource {
  import graft.sources.{VersionedTable => VT}

  /** DYNAMIC PARTITION OVERWRITE (Delta's `partitionOverwriteMode =
    * dynamic`, honoring the writer option first and Spark's session
    * conf `spark.sql.sources.partitionOverwriteMode` as the fallback —
    * Delta's own precedence): an overwrite replaces ONLY the partitions
    * the batch carries, expressed as a [[VersionedTable.replaceWhere]]
    * over the batch's distinct partition tuples — so untouched
    * partitions carry by reference, the idempotent daily-re-ingest
    * shape without hand-writing the predicate. The distinct-tuple
    * collect is bounded by the number of partitions TOUCHED (the
    * writer's own output partition count), never row count. */
  private[sources] def dynamicOverwrite(data: DataFrame, path: String,
      pcols: Seq[String], ts: String): Long = {
    def lit(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case d: java.sql.Date => s"DATE '$d'"
      case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
      case x => x.toString
    }
    val tuples = data.select(pcols.map(org.apache.spark.sql.functions.col): _*)
      .distinct().collect()
    // an empty batch names no partitions — a NO-OP, exactly Spark's own
    // dynamic-overwrite semantics (a static overwrite would truncate)
    if (tuples.isEmpty) return VT.latestVersion(data.sparkSession, path)
    val cond = tuples.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) s"$c IS NULL" else s"$c = ${lit(v)}"
      }.mkString("(", " AND ", ")")
    }.mkString(" OR ")
    VT.replaceWhere(data, path, cond, ts = ts)
  }

  private[sources] def snapshotDf(spark: SparkSession, path: String,
      versionAsOf: Option[Long], timestampAsOf: Option[String]): DataFrame =
    timestampAsOf match {
      case Some(ts) => VT.readAsOf(spark, path, ts)
      case None => VT.readVersion(spark, path, versionAsOf.getOrElse(-1L))
    }

  /** Per-commit change feed `startingVersion..endingVersion` INCLUSIVE
    * (Delta's CDF read semantics): each version contributes its
    * row-level diff vs its predecessor, stamped with `_commit_version`
    * and `_commit_timestamp` (the manifest's caller-supplied commit ts,
    * as a string — this log stores timestamps verbatim). Version 0 —
    * or an anchor whose predecessor was expireLog'd away — contributes
    * its resolved snapshot as a pure insert feed, exactly like the
    * streaming face's bootstrap. Cost: one manifest-diff scan per
    * version in the range, never a table scan. */
  private[graft] def changeFeed(spark: SparkSession, path: String,
      keys: Seq[String], start: Long, endOpt: Option[Long]): DataFrame = {
    val end = endOpt.getOrElse(VT.latestVersion(spark, path))
    require(start >= 0 && end >= start,
      s"readChangeFeed range invalid: startingVersion=$start endingVersion=$end")
    val tsOf = VT.history(spark, path).select("version", "ts").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val legs = (start to end).map { v =>
      val f =
        if (v == 0L || !VT.hasVersion(spark, path, v - 1))
          VT.readVersion(spark, path, v)
            .withColumn("_change_type", lit("insert"))
        else VT.changes(spark, path, keys, v - 1, v)
      f.withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(tsOf.getOrElse(v, null)))
    }
    // BALANCED union, not reduce — see [[balancedUnion]]; per-commit
    // manifest resolution stays the linear part, exactly like Delta's
    // per-commit CDF file index.
    balancedUnion(legs)
  }

  /** Union many per-commit legs as a BALANCED tree, not a left-leaning
    * `reduce` chain: a chain over a deep version range (1,000+ commits)
    * is O(legs) plan DEPTH — analysis re-walks each Union spine per
    * rule, quadratic driver time, and eventually a StackOverflow. The
    * balanced tree is O(log legs) deep. Shared by the batch CDF read
    * and the stream source's catch-up batch (the same shape appears
    * wherever one batch covers many commits). */
  private[sources] def balancedUnion(ls: IndexedSeq[DataFrame]): DataFrame =
    if (ls.size == 1) ls.head
    else {
      val (a, b) = ls.splitAt(ls.size / 2)
      balancedUnion(a).unionByName(balancedUnion(b), allowMissingColumns = true)
    }
}

/** One snapshot of a versioned table as a Spark relation. Scan-level
  * filters and column pruning are REPLAYED into the inner
  * [[VersionedTable.readVersion]] plan before execution, so parquet
  * pushdown/pruning happen exactly as on a direct library read;
  * `unhandledFilters` keeps the default (report all unhandled), so
  * Spark re-evaluates every predicate above the scan — pushing is
  * purely an optimization and can never change results. */
final class GraftRelation(spark: SparkSession, mkDf: () => DataFrame,
    private[graft] val insertPath: Option[String] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def snapshot: DataFrame = mkDf()

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a `USING graft` table —
    * a plain commit (append or snapshot overwrite). Time-travel and
    * CDF relations are read-only views of history and refuse. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    val path = insertPath.getOrElse(throw new UnsupportedOperationException(
      "INSERT into a time-travel/CDF read is not supported — these are " +
        "read-only views of table history; insert into the plain table"))
    // the overwriteSchema guard, SQL face: Spark aligns INSERT data to
    // the relation schema by position, so a name drift here means the
    // statement bypassed that alignment — refuse rather than clobber
    // (SQL has no option to pass; use the format writer to re-school)
    if (overwrite) {
      val cur = VersionedTable.readVersion(spark, path).schema
      if (cur.fieldNames.map(_.toLowerCase).toSeq !=
          data.schema.fieldNames.map(_.toLowerCase).toSeq)
        throw new VersionedTable.SchemaMismatchException(
          s"INSERT OVERWRITE schema ${data.schema.simpleString} does not match " +
            s"table schema ${cur.simpleString} at $path; use " +
            """df.write.format("graft").option("overwriteSchema", "true") """ +
            "to replace the schema")
    }
    // Spark's dynamic-partition-overwrite session conf applies to
    // INSERT OVERWRITE of a PARTITIONED graft table (Delta honors it
    // the same way): only the batch's partitions replace
    val pcols = if (overwrite) VersionedTable.partitionColumnsOf(spark, path)
      else Seq.empty
    if (overwrite && pcols.nonEmpty &&
        spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          .exists(_.trim.equalsIgnoreCase("dynamic")))
      GraftDataSource.dynamicOverwrite(data, path, pcols, VersionedTable.TsNow)
    else
      VersionedTable.commit(data, path,
        if (overwrite) "overwrite" else "append", ts = VersionedTable.TsNow)
    if (VersionedTable.autoCompactEnabled(spark, path))
      VersionedTable.compactSmall(spark, path, ts = VersionedTable.TsNow)
    ()
  }

  override val sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = snapshot.schema

  /** The rows handed back are the inner plan's `InternalRow`s already —
    * no Row round-trip at the source boundary. */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val base = snapshot
    val filtered = filters.flatMap(GraftRelation.toColumn)
      .foldLeft(base)(_ filter _)
    // empty requiredColumns is the COUNT(*) shape: a zero-column
    // projection still carries the right row count
    val pruned = filtered.select(requiredColumns.map(n => filtered(n)).toIndexedSeq: _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {
  /** Attribute names pass through [[org.apache.spark.sql.functions.col]]
    * only when unambiguous (a dotted name would parse as nested access);
    * anything else skips the push — Spark re-applies all filters above
    * the scan, so skipping costs pushdown, never correctness. */
  private def simple(name: String): Boolean =
    name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_')

  /** A translated predicate plus whether the translation is EXACT.
    * Non-exact means WIDER than the source filter (it may keep extra
    * rows) — sound to apply in positive polarity only, because Spark
    * re-evaluates the original predicate above the scan. The one
    * widening source is the one-sided `And` push below. */
  private final case class Translated(column: Column, exact: Boolean)

  private def translate(f: Filter): Option[Translated] = {
    def exactly(c: Column): Option[Translated] = Some(Translated(c, exact = true))
    f match {
      case EqualTo(a, v) if simple(a) => exactly(col(a) === lit(v))
      case EqualNullSafe(a, v) if simple(a) => exactly(col(a) <=> lit(v))
      case GreaterThan(a, v) if simple(a) => exactly(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) if simple(a) => exactly(col(a) >= lit(v))
      case LessThan(a, v) if simple(a) => exactly(col(a) < lit(v))
      case LessThanOrEqual(a, v) if simple(a) => exactly(col(a) <= lit(v))
      case In(a, vs) if simple(a) => exactly(col(a).isInCollection(vs.toSeq))
      case IsNull(a) if simple(a) => exactly(col(a).isNull)
      case IsNotNull(a) if simple(a) => exactly(col(a).isNotNull)
      case StringStartsWith(a, v) if simple(a) => exactly(col(a).startsWith(v))
      case StringEndsWith(a, v) if simple(a) => exactly(col(a).endsWith(v))
      case StringContains(a, v) if simple(a) => exactly(col(a).contains(v))
      case And(l, r) => (translate(l), translate(r)) match {
        case (Some(lc), Some(rc)) =>
          Some(Translated(lc.column && rc.column, lc.exact && rc.exact))
        // a one-sided AND push is sound in positive polarity (it only
        // widens) — but it is NOT exact, so it must never flow under Not
        case (one, other) =>
          one.orElse(other).map(t => Translated(t.column, exact = false))
      }
      // OR of widened children is still (only) widened: l'⊇l, r'⊇r ⇒
      // l'∨r' ⊇ l∨r. Exact only when both children are exact.
      case Or(l, r) =>
        for { lc <- translate(l); rc <- translate(r) }
          yield Translated(lc.column || rc.column, lc.exact && rc.exact)
      // Not FLIPS polarity: ¬(widened) is NARROWER than ¬(original) and
      // would silently drop rows at the scan — push only over an EXACT
      // child.
      case Not(c) => translate(c).collect {
        case Translated(cc, true) => Translated(!cc, exact = true)
      }
      case _ => None
    }
  }

  private[graft] def toColumn(f: Filter): Option[Column] =
    translate(f).map(_.column)
}
