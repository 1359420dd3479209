package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, monotonically_increasing_id, when}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

/** Table schema and metadata: schema evolution checks, CHECK constraints,
  * generated and identity columns, column mapping, partition and bloom
  * configuration, and table properties. */
private[sources] trait TableSchema { self: VersionedTable.type =>

  /** Widened common type for a column across an evolution, or None when
    * the two can't co-exist in one table. Only the SAFE upcasts the
    * parquet vectorized reader performs per file (Spark 4's widening
    * type promotions; Delta's type-widening feature): the integral
    * chain byte→short→int→long and float→double. */
  private[sources] def widen(a: DataType, b: DataType): Option[DataType] = {
    if (a == b) return Some(a)
    def rank(d: DataType): Option[Int] = d match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    (rank(a), rank(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ => (a, b) match {
        case (org.apache.spark.sql.types.FloatType,
              org.apache.spark.sql.types.DoubleType) => Some(b)
        case (org.apache.spark.sql.types.DoubleType,
              org.apache.spark.sql.types.FloatType) => Some(a)
        case _ => None
      }
    }
  }

  /** Union of a snapshot schema with an incoming batch's: new columns
    * append; columns in BOTH take the WIDENED type ([[widen]]) — a
    * co-existence-impossible pair (string vs long) throws rather than
    * committing files a later scan cannot reconcile. */
  private[sources] def unionSchema(prev: StructType, next: StructType): StructType =
    StructType(prev.fields.map { f =>
      next.fields.find(_.name == f.name).fold(f) { nf =>
        widen(f.dataType, nf.dataType).map(t => f.copy(dataType = t)).getOrElse(
          throw new SchemaMismatchException(
            s"column ${f.name}: batch type ${nf.dataType.simpleString} is " +
              s"incompatible with table type ${f.dataType.simpleString} " +
              "(only integral-chain and float->double widening supported)"))
      }
    } ++ next.fields.filterNot(f => prev.fieldNames.contains(f.name)))

  /** Cast batch columns UP to the snapshot schema's types (a narrow
    * batch into a widened table; identity when types already agree) so
    * every NEW file carries the snapshot types. */
  private[sources] def alignTypes(df: DataFrame, snap: StructType): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      snap.fields.exists(sf => sf.name == f.name && sf.dataType != f.dataType))
    if (!needs) df
    else df.select(df.columns.map { c =>
      snap.fields.find(_.name == c)
        .filter(_.dataType != df.schema(c).dataType)
        .fold(col(c))(sf => col(c).cast(sf.dataType).as(c))
    }.toIndexedSeq: _*)
  }

  /** SQL CHECK semantics: a row violates only when the expression IS
    * FALSE — NULL passes (the standard, and Delta's). ONE pass
    * evaluates EVERY constraint (each becomes a when(violated, name)
    * branch coalesced left-to-right in name order, so the reported
    * violation is deterministic), short-circuited by a limit-1 plan —
    * N constraints cost one batch scan, not N (BASELINE.md "10× scale
    * stress", Corpus 11, `constraint_commit`). `df`
    * must already be aligned to the snapshot schema so constraints on
    * columns the batch omits see NULL, not an analysis error. */
  private[sources] def enforceConstraints(df: DataFrame, cks: Map[String, String],
      path: String): Unit = {
    if (cks.isEmpty) return
    val ordered = cks.toSeq.sortBy(_._1)
    val firstViolated = ordered.map { case (n, e) =>
      when(coalesce(expr(e), lit(true)) === false, lit(n))
    }.reduce(coalesce(_, _))
    df.select(firstViolated.as("__violated"))
      .filter(col("__violated").isNotNull)
      .limit(1).collect().headOption.foreach { r =>
        val n = r.getString(0)
        throw new ConstraintViolationException(n, cks(n), path)
      }
  }

  /** Compute every GENERATED column the batch omits (name order, so a
    * generated column may reference an earlier one). Batches that carry
    * a generated column explicitly pass through untouched — the paired
    * `gen_<name>` CHECK constraint validates them instead. */
  private[sources] def applyGens(df: DataFrame, gens: Map[String, String]): DataFrame =
    gens.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, expr(e))
    }

  private[sources] def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(quoted(f.name))
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** `name` as one SQL identifier: a column name may hold a dot, a space
    * or a backtick, and `col`/`expr` would otherwise parse it. */
  private[sources] def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** The table's CHECK constraints (name → SQL expression) at head. */
  def constraintsOf(spark: SparkSession, path: String): Map[String, String] =
    openSnapshot(spark, path).fold(Map.empty[String, String])(_.m.constraints)

  /** Add a CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`): a
    * metadata-only commit after which EVERY write path — commit (append
    * and overwrite), merge, update (both flavors), replaceWhere, the
    * streaming sink — rejects a batch containing a row where
    * `expression` IS FALSE, before any data lands. NULL evaluations
    * pass (SQL CHECK semantics), so `NOT NULL` is spelled explicitly:
    * `addConstraint(t, "v_nn", "v IS NOT NULL")`. Existing data is
    * validated first (one short-circuit scan), exactly Delta's
    * behavior — a constraint the current snapshot already violates is
    * rejected rather than recorded as a lie; pass `validate = false`
    * only when the snapshot is known clean (e.g. restoring metadata). */
  def addConstraint(spark: SparkSession, path: String, name: String,
      expression: String, ts: String = "1970-01-01T00:00:00Z",
      validate: Boolean = true): Long = {
    require(name.nonEmpty && !name.contains('|') && !name.contains('='),
      s"bad constraint name: $name")
    val h = openHead(spark, path, "addConstraint on")
    if (validate && h.m.files.nonEmpty)
      enforceConstraints(alignTo(h.scan(h.m.files), h.schema),
        Map(name -> expression), path)
    h.commitMeta(ts, s"add_constraint($name)")(
      _.copy(addConstraints = Map(name -> expression)))
  }

  // ------------------------------------------------- identity columns
  //
  // Delta's `GENERATED ALWAYS AS IDENTITY` (re-derived for the manifest
  // format): a BIGINT column the ENGINE fills on write with unique,
  // step-aligned, strictly-advancing values. The spec and the per-table
  // HIGH-WATER MARK ride table properties (`graft.identity.<col>` =
  // "start|step|always|hwm"), so the counter is transactional for free:
  // the data commit that assigns values carries the advanced hwm in the
  // SAME manifest (propsState is the full authoritative map), and a
  // concurrent-writer race loses the manifest claim before any
  // duplicate value becomes visible. Values are assigned per row as
  // `hwm + step * (monotonically_increasing_id() + 1)` — unique and
  // beyond every previously assigned value, with GAPS between
  // partitions, exactly the contract Delta documents (identity promises
  // uniqueness and direction, never density). The new hwm is read back
  // from the freshly written files' FOOTER STATS (already collected for
  // pruning), so assignment costs zero extra passes over the batch.
  //
  // Scope (documented, loud): assignment runs on the commit faces —
  // append / overwrite / the streaming sink / commitIfNew. MERGE with
  // NOT MATCHED INSERT clauses, replaceWhere and dynamic-partition
  // overwrites refuse on GENERATED ALWAYS identity tables rather than
  // silently landing NULLs.

  private[sources] val IdentityPropPrefix = "graft.identity."

  /** Parse identity specs out of table properties — loudly (the propInt
    * policy): a malformed spec silently ignored would hand out
    * duplicate values. */
  private[sources] def identitySpecs(props: Map[String, String])
      : Map[String, IdentitySpec] =
    props.collect { case (k, v) if k.startsWith(IdentityPropPrefix) =>
      val col = k.stripPrefix(IdentityPropPrefix)
      // -1 limit: an empty hwm (nothing assigned yet) keeps its slot
      v.split("\\|", -1) match {
        case Array(s, st, a, h) =>
          col -> IdentitySpec(s.toLong, st.toLong, a.toBoolean,
            if (h.isEmpty) None else Some(h.toLong))
        case _ => throw new IllegalStateException(
          s"malformed identity property $k=$v (want start|step|always|hwm)")
      }
    }

  private[sources] def identityProp(col: String, s: IdentitySpec): (String, String) =
    s"$IdentityPropPrefix$col" ->
      s"${s.start}|${s.step}|${s.always}|${s.highWaterMark.fold("")(_.toString)}"

  /** The table's identity columns at head (name → spec). */
  def identityColumnsOf(spark: SparkSession, path: String): Map[String, IdentitySpec] =
    identitySpecs(propertiesOf(spark, path))

  /** Declare `name` as an identity column (Delta `GENERATED ALWAYS AS
    * IDENTITY (START WITH start INCREMENT BY step)`; `always = false`
    * is `GENERATED BY DEFAULT` — explicit values pass through and the
    * hwm advances past them). Like Delta, the declaration is a
    * creation-time property: it is only accepted while the table holds
    * ZERO live data files, and it widens the schema with a BIGINT
    * column in the same metadata-only commit. */
  def addIdentityColumn(spark: SparkSession, path: String, name: String,
      start: Long = 1L, step: Long = 1L, always: Boolean = true,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    require(step != 0L, "identity step must be nonzero")
    require(name.nonEmpty && !name.contains('|') && !name.contains('='),
      s"bad identity column name: $name")
    val h = openHead(spark, path, "addIdentityColumn on")
    val m = h.m
    // "creation time" = zero live rows: an empty-batch bootstrap commit
    // may have written a rowless part file, which is still creation
    // (manifest row counts are authoritative and present on every file
    // this library ever wrote)
    val hasRows = m.files.exists(f => m.rowCounts.get(f).forall(_ > 0L))
    require(!hasRows,
      s"identity columns are declared at table creation (Delta's rule): " +
        s"$path already holds data")
    val cur = m.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(StructType(Nil))
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists at $path")
    require(!m.props.contains(s"$IdentityPropPrefix$name"),
      s"column $name is already an identity column at $path")
    val widened = StructType(cur.fields :+ StructField(name, LongType))
    h.commitMeta(ts, s"add_identity($name)")(_.copy(schemaJson = Some(widened.json),
      propsState = Some(m.props +
        identityProp(name, IdentitySpec(start, step, always, None)))))
  }

  /** Assign identity values to a batch (commit faces call this before
    * the schema check, like [[applyGens]]): columns the batch omits get
    * engine values from each spec's base; a batch CARRYING a
    * `GENERATED ALWAYS` column refuses (Delta's error), while a
    * BY-DEFAULT column passes explicit values through. Returns the
    * assigned frame plus the set of engine-assigned columns (whose new
    * hwm must be read from the written files' stats). */
  private[sources] def assignIdentity(df: DataFrame,
      specs: Map[String, IdentitySpec], path: String)
      : (DataFrame, Set[String]) = {
    if (specs.isEmpty) return (df, Set.empty)
    val present = df.columns.toSet
    specs.foreach { case (c, s) =>
      if (s.always && present.contains(c)) throw new SchemaMismatchException(
        s"$c is GENERATED ALWAYS AS IDENTITY at $path; the engine assigns " +
          "it — remove the column from the batch (or declare BY DEFAULT)")
    }
    val toAssign = specs.filterNot { case (c, _) => present.contains(c) }
    val out = toAssign.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, s)) =>
      d.withColumn(c,
        lit(s.base) + lit(s.step) * (monotonically_increasing_id() + lit(1L)))
    }
    (out, toAssign.keySet)
  }

  /** Advance each assigned (or explicitly written BY-DEFAULT) identity
    * column's hwm from the new files' footer stats — strictly forward,
    * never backward (an explicit BY-DEFAULT value below the mark leaves
    * it untouched). INT64 parquet footers always carry min/max, so a
    * missing stat is a broken write, not a soft case. */
  private[sources] def advanceIdentity(props: Map[String, String],
      specs: Map[String, IdentitySpec], written: Set[String],
      cmap: Map[String, String],
      newStats: Map[String, Map[String, (String, String)]],
      path: String): Map[String, String] =
    written.foldLeft(props) { case (p, c) =>
      val s = specs(c)
      val phys = physOf(cmap, c)
      integralRange(newStats, phys).fold(p) { case (lo, hi) => // None: zero rows
        val extreme = if (s.step > 0) hi else lo
        val advanced =
          if (s.highWaterMark.forall(h =>
            if (s.step > 0) extreme > h else extreme < h))
            s.copy(highWaterMark = Some(extreme))
          else s
        p + identityProp(c, advanced)
      }
    }

  /** An identity column may not be a partition column: the hive layout
    * renders it as directory values, so the written parquet footers
    * carry no stats for it and [[advanceIdentity]] would silently skip
    * the high-water advance — the next batch would re-assign the same
    * values. Refuse loudly instead (partitioning by a unique counter is
    * one directory per row anyway). */
  private[sources] def requireIdentityNotPartition(specs: Map[String, IdentitySpec],
      pcols: Seq[String], cmap: Map[String, String], path: String): Unit = {
    val hit = specs.keySet.map(physOf(cmap, _)) intersect pcols.toSet
    if (hit.nonEmpty) throw new UnsupportedOperationException(
      s"identity column(s) ${hit.toSeq.sorted.mkString(", ")} cannot be " +
        s"partition columns at $path — partition directories carry no " +
        "footer stats, so the identity high-water mark could not advance")
  }

  /** Refuse DML shapes that cannot maintain the identity counter:
    * row-INSERTING paths outside the commit faces (they would land
    * NULLs or stale-hwm values), and assignments to GENERATED ALWAYS
    * columns (Delta's error). */
  private[sources] def requireNoIdentityConflict(props: Map[String, String],
      path: String, op: String, inserts: Boolean = false,
      assignedCols: Iterable[String] = Nil): Unit = {
    val specs = identitySpecs(props)
    if (specs.isEmpty) return
    if (inserts) throw new UnsupportedOperationException(
      s"$op inserts rows on the identity table at $path; the engine only " +
        "assigns identity values on the append/overwrite commit faces — " +
        "route inserts through append")
    val hit = assignedCols.filter(c => specs.get(c).exists(_.always)).toSeq.sorted
    if (hit.nonEmpty) throw new UnsupportedOperationException(
      s"$op assigns GENERATED ALWAYS AS IDENTITY column(s) " +
        s"${hit.mkString(", ")} at $path — the engine owns their values")
  }

  /** The table's generated columns (name → SQL expression) at head. */
  def generatedColumnsOf(spark: SparkSession, path: String): Map[String, String] =
    openSnapshot(spark, path).fold(Map.empty[String, String])(_.m.gens)

  /** Declare an EXISTING column GENERATED (Delta `GENERATED ALWAYS AS`,
    * re-derived): a metadata-only commit after which every commit face
    * (append, overwrite, commitWithRetry, the streaming sink, merge,
    * replaceWhere) COMPUTES the column when the batch omits it — the
    * intended write shape: ingest the raw columns, let the table derive
    * `event_date` from `ts` — and VALIDATES it when the batch carries
    * it, via an automatically managed CHECK constraint
    * `gen_<name>: name <=> (expression)` (null-safe equality: a batch
    * lying about the derivation is rejected before any data lands, on
    * every write path the constraint machinery already gates, including
    * UPDATE post-images — an update that changes a source column
    * without fixing the generated one fails loudly rather than
    * corrupting the derivation, Delta's behavior). Existing data is
    * validated first unless `validate = false`. The derived column's
    * file stats then make `readWhere` prune on it — the generated-
    * partition-column pattern (date from timestamp) at 100 TB.
    * Rename/drop of the generated OR any referenced column is blocked
    * while declared (the constraint-dependency guard); drop the
    * declaration first ([[dropGeneratedColumn]]). */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
      expression: String, ts: String = "1970-01-01T00:00:00Z",
      validate: Boolean = true): Long = {
    require(name.nonEmpty && !name.contains('|') && !name.contains('=') &&
      !name.contains('\n'), s"bad generated column name: $name")
    val h = openHead(spark, path, "addGeneratedColumn on")
    val m = h.m
    require(h.schema.fieldNames.contains(name),
      s"no column $name at $path — generated columns are declared over existing columns")
    require(!m.gens.contains(name), s"$name is already generated at $path")
    val ckName = s"gen_$name"
    require(!m.constraints.contains(ckName), s"constraint $ckName already exists at $path")
    val ckExpr = s"$name <=> ($expression)"
    if (validate && m.files.nonEmpty)
      enforceConstraints(alignTo(h.scan(m.files), h.schema),
        Map(ckName -> ckExpr), path)
    h.commitMeta(ts, s"add_generated($name)")(_.copy(
      addConstraints = Map(ckName -> ckExpr), addGens = Map(name -> expression)))
  }

  /** Un-declare a generated column (metadata-only): the column stays in
    * the schema and the data; batches must carry it explicitly again. */
  def dropGeneratedColumn(spark: SparkSession, path: String, name: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, path, "dropGeneratedColumn on")
    require(h.m.gens.contains(name), s"no generated column $name at $path")
    h.commitMeta(ts, s"drop_generated($name)")(_.copy(
      dropConstraints = Set(s"gen_$name"), dropGens = Set(name)))
  }

  /** Drop a CHECK constraint — metadata-only commit; time travel before
    * it still sees (and CDF replay re-derives) the constrained epochs. */
  def dropConstraint(spark: SparkSession, path: String, name: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, path, "dropConstraint on")
    require(h.m.constraints.contains(name), s"no constraint $name at $path")
    h.commitMeta(ts, s"drop_constraint($name)")(_.copy(dropConstraints = Set(name)))
  }

  /** The table's partition columns at head, in LOGICAL names (the
    * manifest stores physical — rename-proof; this maps them back). */
  def partitionColumnsOf(spark: SparkSession, path: String): Seq[String] =
    openSnapshot(spark, path).fold(Seq.empty[String])(_.m.logicalPcols)

  /** The table's persisted bloom index config (columns, bits) at head. */
  def bloomConfigOf(spark: SparkSession, path: String): Option[(Seq[String], Int)] =
    openSnapshot(spark, path).flatMap(_.m.bloomCfg)

  /** Record (or change) the bloom index config on an existing table — a
    * metadata-only commit, after which EVERY path that writes data files
    * (append, COW rewrites, MoR post-images, optimize, compactSmall)
    * rebuilds sidecars for the files it writes. With `backfill` (the
    * default) the current head's layout-local files are indexed in one
    * pass too, so point lookups accelerate immediately; clone-referenced
    * absolute entries are skipped (their sidecars ride with the source)
    * and gain sidecars when first rewritten locally. */
  def setBloomIndex(spark: SparkSession, path: String, cols: Seq[String],
      bloomBits: Int = 1 << 17, ts: String = "1970-01-01T00:00:00Z",
      backfill: Boolean = true): Long = {
    require(cols.nonEmpty && cols.forall(c =>
      !c.contains(",") && !c.contains("|") && !c.contains("=") && !c.contains("\n")),
      s"bad bloom index columns: $cols")
    val h = openHead(spark, path, "setBloomIndex on")
    if (backfill) {
      val local = h.m.files.filter(f => relLayoutName(f) == f)
      // the backfill batch is a RAW (physical-name) read — map the
      // logical config columns to their physical storage names
      if (local.nonEmpty)
        writeBloomSidecars(h.hfs, h.root,
          spark.read.option("mergeSchema", "true")
            .parquet(local.map(f => new Path(h.root, f).toString): _*),
          cols.map(physOf(h.m.colMap, _)), bloomBits)
    }
    h.commitMeta(ts, "set_bloom_index")(_.copy(bloomCfg = Some((cols, bloomBits))))
  }

  /** The table's persisted properties at head (Delta `TBLPROPERTIES`).
    * Policy properties this library reads itself:
    *   - `graft.checkpointInterval`     checkpoint cadence (commits)
    *   - `graft.retainVersions`         [[vacuum]] default retention
    *   - `graft.vacuumGraceHours`       [[vacuum]] default grace window
    *   - `graft.logRetainVersions`      [[expireLog]] default retention
    *   - `graft.autoOptimize.autoCompact`  "true" → the write faces
    *     fold small files after each commit
    * Anything else is carried verbatim (user metadata). */
  def propertiesOf(spark: SparkSession, path: String): Map[String, String] = {
    val (hfs, root) = fs(spark, path)
    versions(hfs, root).lastOption.map(propsAt(hfs, root, _)).getOrElse(Map.empty)
  }

  /** Set (merge in) table properties — a metadata-only commit; the new
    * full property state rides the manifest, so every later writer in
    * ANY session/JVM sees the same table-declared policy (Delta
    * `ALTER TABLE ... SET TBLPROPERTIES`). */
  def setProperties(spark: SparkSession, path: String,
      props: Map[String, String], ts: String = "1970-01-01T00:00:00Z"): Long = {
    props.keys.foreach(k => require(k.nonEmpty &&
      !Seq("|", "=", "\n").exists(k.contains) && !k.exists(_.isWhitespace),
      s"bad property key: '$k'"))
    props.values.foreach(v => require(v != null, "property value may not be null"))
    requireNotEngineProps(props.keys, path, "SET TBLPROPERTIES")
    val h = openHead(spark, path, "setProperties on")
    h.commitMeta(ts, s"set_properties(${props.keys.toSeq.sorted.mkString(",")})")(
      _.copy(propsState = Some(h.m.props ++ props)))
  }

  /** Unset table properties (Delta `UNSET TBLPROPERTIES`). Unknown keys
    * are an error unless `ifExists`. */
  def unsetProperties(spark: SparkSession, path: String, keys: Seq[String],
      ifExists: Boolean = false, ts: String = "1970-01-01T00:00:00Z"): Long = {
    requireNotEngineProps(keys, path, "UNSET TBLPROPERTIES")
    val h = openHead(spark, path, "unsetProperties on")
    val missing = keys.filterNot(h.m.props.contains)
    if (!ifExists && missing.nonEmpty) throw new IllegalArgumentException(
      s"no such table propert${if (missing.size == 1) "y" else "ies"} at $path: " +
        s"${missing.mkString(", ")} (IF EXISTS to ignore)")
    h.commitMeta(ts, s"unset_properties(${keys.sorted.mkString(",")})")(
      _.copy(propsState = Some(h.m.props -- keys)))
  }

  /** The identity counter lives in `graft.identity.*` properties but is
    * ENGINE state, not user policy: a user SET would corrupt or brick
    * the counter (malformed value → every append throws) and an UNSET
    * would erase the high-water mark (re-declaring restarts at start →
    * duplicate values). Both property faces refuse the namespace;
    * [[addIdentityColumn]] is the only writer. */
  private[sources] def requireNotEngineProps(keys: Iterable[String], path: String,
      op: String): Unit = {
    val hit = keys.filter(_.startsWith(IdentityPropPrefix)).toSeq.sorted
    if (hit.nonEmpty) throw new UnsupportedOperationException(
      s"$op may not touch engine-managed propert" +
        s"${if (hit.size == 1) "y" else "ies"} ${hit.mkString(", ")} at " +
        s"$path — the identity counter is maintained by the commit faces " +
        "(declare identity columns via addIdentityColumn)")
  }

  /** `graft.appendOnly=true` (Delta's `delta.appendOnly`): the table
    * accepts APPENDS ONLY — every operation that deletes or updates
    * existing rows (COW/MoR delete and update, merges with matched or
    * by-source clauses, replaceWhere, overwrite of a non-empty table)
    * refuses with the property named. Insert-only merges, appends,
    * optimize/compact (no row change) and history surgery
    * (rollback/expireLog/vacuum — admin ops) stay allowed. */
  private[sources] def requireNotAppendOnly(props: Map[String, String], path: String,
      op: String): Unit =
    if (props.get("graft.appendOnly").exists(_.trim.equalsIgnoreCase("true")))
      throw new UnsupportedOperationException(
        s"$op on $path is blocked: table property graft.appendOnly=true " +
          "permits appends only (Delta's delta.appendOnly); UNSET it to " +
          "delete or update existing rows")

  /** Parse a policy property as Int/Long/Double/Boolean, loudly: a
    * mistyped policy value must fail the operation that consults it,
    * never silently fall back to the default. */
  private[sources] def propInt(props: Map[String, String], k: String): Option[Int] =
    props.get(k).map(v => scala.util.Try(v.trim.toInt).getOrElse(
      throw new IllegalArgumentException(s"table property $k is not an integer: '$v'")))
  private[sources] def propHoursMs(props: Map[String, String], k: String): Option[Long] =
    props.get(k).map(v => scala.util.Try((v.trim.toDouble * 3600 * 1000).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"table property $k is not a number of hours: '$v'")))
  private[graft] def autoCompactEnabled(spark: SparkSession, path: String): Boolean =
    propertiesOf(spark, path).get("graft.autoOptimize.autoCompact")
      .exists(_.trim.equalsIgnoreCase("true"))

  // ---------------------------------------------------- column mapping
  //
  // Physical names live in parquet files and NEVER change; logical
  // names live in the manifest schema and rename freely. The whole
  // feature is two renames at the engine's boundaries: scans alias
  // physical → logical immediately after the parquet read (so every
  // predicate, join and constraint of the table sees logical names),
  // and writers alias logical → physical immediately before the
  // parquet write. An unmapped table (colMap empty) takes neither
  // branch — byte-identical to pre-mapping behavior.

  /** Physical name of a logical column (identity when unmapped). */
  private[sources] def physOf(colMap: Map[String, String], c: String): String =
    colMap.getOrElse(c, c)

  /** Alias a freshly read PHYSICAL frame to logical names, dropping
    * retired physicals (columns a [[dropColumn]] removed — still in old
    * files, invisible to every reader). */
  private[sources] def toLogical(df: DataFrame, colMap: Map[String, String],
      retired: Set[String]): DataFrame =
    if (colMap.isEmpty && retired.isEmpty) df
    else {
      val phys2log = colMap.collect { case (l, p) if l != p => p -> l }
      df.select(df.columns.collect {
        case c if !retired.contains(c) => col(c).as(phys2log.getOrElse(c, c))
      }.toIndexedSeq: _*)
    }

  /** Alias a LOGICAL frame to physical names for a data-file write. */
  private[sources] def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.forall { case (l, p) => l == p }) df
    else df.select(df.columns.map { c =>
      col(c).as(colMap.getOrElse(c, c))
    }.toIndexedSeq: _*)

  /** Whether any CHECK constraint's SQL references column `c` — rename
    * and drop refuse when one does (Delta's dependency rule): the
    * constraint would throw unresolved-attribute on every later write
    * instead of enforcing anything. Drop or rewrite the constraint
    * first. */
  private[sources] def constraintReferences(spark: SparkSession,
      cks: Map[String, String], c: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    cks.collect {
      case (n, e) if spark.sessionState.sqlParser.parseExpression(e)
        .collect { case u: UnresolvedAttribute => u.name }
        .exists(_.equalsIgnoreCase(c)) => n
    }.toSeq.sorted
  }

  /** The table's column-mapping state at head: (logical → physical map,
    * retired physical names). Empty maps = unmapped. */
  def columnMappingOf(spark: SparkSession, path: String)
      : (Map[String, String], Set[String]) =
    openSnapshot(spark, path).fold((Map.empty[String, String], Set.empty[String]))(
      h => (h.m.colMap, h.m.retired))

  /** ZERO-REWRITE column rename (Delta column mapping, name mode): a
    * metadata-only commit — the parquet files keep the column under its
    * PHYSICAL name forever; only the manifest's logical schema and the
    * logical→physical map change. Readers alias at scan time, writers
    * alias at write time, stats/bloom pruning consult the map — every
    * face of the table (readWhere, merge/delete/update, CDF, clones)
    * sees the new name immediately, at zero data cost on a 100 TB
    * table. Time travel to pre-rename versions sees the OLD name (the
    * schema is versioned with everything else). Refused while a CHECK
    * constraint references the column (Delta's rule — drop it first).
    * CDF across the rename commit treats the column as drop+add (the
    * keyed compare aligns by logical name); don't rename a CDF key
    * column mid-stream. */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
      newName: String, ts: String = "1970-01-01T00:00:00Z"): Long = {
    require(newName.nonEmpty && !Seq("|", ",", "=", "\n").exists(newName.contains),
      s"bad column name: $newName")
    val h = openHead(spark, path, "renameColumn on")
    val (m, schema) = (h.m, h.schema)
    require(schema.fieldNames.contains(oldName), s"no column $oldName at $path")
    if (schema.fieldNames.contains(newName)) throw new SchemaMismatchException(
      s"column $newName already exists at $path")
    if (m.retired.contains(newName) ||
        m.colMap.exists { case (l, p) => p == newName && l != oldName })
      throw new SchemaMismatchException(
        s"$newName collides with a physical name in use or retired at $path")
    val dependent = constraintReferences(spark, m.constraints, oldName)
    require(dependent.isEmpty,
      s"constraints ${dependent.mkString(",")} reference $oldName; drop them first")
    val phys = physOf(m.colMap, oldName)
    val newMap = (m.colMap - oldName) + (newName -> phys)
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // a bloom index on the renamed column follows the logical name —
    // its sidecars are keyed physical and stay valid as-is
    val newCfg = m.bloomCfg.collect {
      case (cs, b) if cs.contains(oldName) =>
        (cs.map(c => if (c == oldName) newName else c), b)
    }
    h.commitMeta(ts, s"rename_column($oldName->$newName)")(_.copy(
      schemaJson = Some(newSchema.json), bloomCfg = newCfg,
      mapState = Some((newMap, m.retired))))
  }

  /** ZERO-REWRITE column drop: metadata-only — the column's data stays
    * in the files under its physical name, invisible to every reader of
    * this and later versions (scans drop retired physicals); time
    * travel before the drop still sees it. The physical name is RETIRED
    * forever: a later evolved append may not introduce a column with
    * that name (it would alias unrelated data across file generations —
    * the guard rejects it loudly). Refused while a CHECK constraint
    * references the column. */
  def dropColumn(spark: SparkSession, path: String, colName: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, path, "dropColumn on")
    val (m, schema) = (h.m, h.schema)
    require(schema.fieldNames.contains(colName), s"no column $colName at $path")
    require(schema.fields.length >= 2, s"cannot drop the only column at $path")
    val dependent = constraintReferences(spark, m.constraints, colName)
    require(dependent.isEmpty,
      s"constraints ${dependent.mkString(",")} reference $colName; drop them first")
    // a partition column's values ARE the table's directory layout;
    // dropping it would leave every rewrite path unable to place rows
    // (renameColumn stays free — the layout keys on PHYSICAL names)
    require(!m.pcols.contains(physOf(m.colMap, colName)),
      s"$colName is a partition column at $path; overwrite to relayout first")
    val newSchema = StructType(schema.fields.filterNot(_.name == colName))
    val newMap = m.colMap - colName
    val newRetired = m.retired + physOf(m.colMap, colName)
    val newCfg = m.bloomCfg.collect {
      case (cs, b) if cs.contains(colName) && cs.exists(_ != colName) =>
        (cs.filterNot(_ == colName), b)
    }
    h.commitMeta(ts, s"drop_column($colName)")(_.copy(
      schemaJson = Some(newSchema.json), bloomCfg = newCfg,
      mapState = Some((newMap, newRetired))))
  }
}
