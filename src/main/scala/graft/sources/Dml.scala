package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, struct, when}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, DateType, IntegerType, MapType, NumericType, StringType, StructField, StructType, TimestampType}

/** Writes that change a table's rows: the append faces (one sequence,
  * [[commitInternal]]), the data-file write every face shares
  * ([[writeBatch]]), and the DML faces — copy-on-write and merge-on-read
  * DELETE and UPDATE, MERGE, replaceWhere. */
private[sources] trait Dml { self: VersionedTable.type =>

  /** Commit `df` as the next snapshot. `mode` is `"overwrite"` (snapshot =
    * this batch only) or `"append"` (snapshot = previous file list + this
    * batch's files). Returns the committed version. Thread-safe across
    * writers per [[VersionedTable]]'s commit protocol: a lost race throws
    * `ConcurrentCommitException`; re-read and retry.
    *
    * `partitionBy`: hive-style partition columns (LOGICAL names). Set
    * on the first commit (or an overwrite, which replaces the layout
    * with the data); appends inherit the table's partitioning and may
    * only restate it — partition columns are immutable table metadata,
    * like Delta's. */
  def commit(df: DataFrame, path: String, mode: String = "append",
      ts: String = "1970-01-01T00:00:00Z", mergeSchema: Boolean = false,
      bloomIndex: Seq[String] = Seq.empty, bloomBits: Int = 1 << 17,
      partitionBy: Seq[String] = Seq.empty): Long =
    commitInternal(df, path, mode, ts, None, mergeSchema, bloomIndex,
      bloomBits, partitionBy)

  /** Idempotent streaming commit: commits `df` as a new snapshot UNLESS a
    * snapshot for (`appId`, a batch id ≥ `batchId`) is already in the log,
    * in which case the replay is skipped BEFORE any data is written.
    * Returns the committed version, or None for a skipped replay. With
    * foreachBatch's at-least-once delivery this yields exactly-once table
    * contents — the Delta `txn`/`FOREACHBATCH` idempotent-sink pattern.
    * `mode = "append"` is the event-sink shape; `"overwrite"` the
    * maintained-state shape (each batch replaces the whole state table,
    * as [[graft.streaming.Streams.maintainView]] does). */
  def commitIfNew(df: DataFrame, path: String, appId: String, batchId: Long,
      ts: String = "1970-01-01T00:00:00Z", mode: String = "append",
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false): Option[Long] = {
    require(!appId.contains(":") && !appId.contains("\n"), s"bad appId: $appId")
    val spark = df.sparkSession
    if (lastTxn(spark, path, appId).exists(_ >= batchId)) None
    else Some(commitInternal(df, path, mode, ts, Some((appId, batchId)),
      mergeSchema = mergeSchema, partitionBy = partitionBy))
  }

  /** APPEND with automatic conflict resolution — Delta's commit-retry
    * loop for the one operation that never logically conflicts. The
    * batch is validated against the head it read BEFORE its data is
    * written (schema, widening, CHECK constraints, retired names,
    * partitioning — [[commit]]'s append checks), so a rejected batch
    * writes nothing. The data is then written ONCE to its attempt-unique
    * directory, and on a lost race only the delta manifest is recomputed
    * on top of the new head (version re-assigned, the batch re-validated
    * against the moved head) and re-claimed, up to `maxRetries` times.
    * A batch the moved head rejects (say a winner added a CHECK
    * constraint it violates) throws, and its already-written dir is left
    * for [[vacuum]] to reclaim. Gives multi-writer ingest without
    * external coordination; MERGE/DELETE retries would need read-set
    * conflict detection (their touched files may have been rewritten
    * underneath), so those surface the exception to the caller instead. */
  def commitWithRetry(df: DataFrame, path: String,
      ts: String = "1970-01-01T00:00:00Z", mergeSchema: Boolean = false,
      maxRetries: Int = 5, partitionBy: Seq[String] = Seq.empty): Long =
    commitWithRetryImpl(df, path, ts, mergeSchema, maxRetries, _ => (),
      partitionBy)

  /** Optimistic concurrency for DML (Delta's retry-on-conflict loop,
    * the sound-and-simple variant): run `op` — a [[merge]], [[delete]],
    * [[update]], [[replaceWhere]] or MoR call — and when it loses the
    * commit claim to a concurrent writer, RE-RUN IT FROM SCRATCH against
    * the new head, up to `maxRetries` times. Re-running is what makes
    * this unconditionally correct: every DML here reads its snapshot,
    * discovers touched files and rewrites INSIDE the call, so a retry
    * sees the winner's commit and recomputes against it — there is no
    * stale-read window to reconcile, which is exactly the hazard Delta's
    * file-level conflict analysis exists to detect. The common case
    * never reaches this loop: every COW DML publishes through
    * [[publishDml]], whose disjoint-conflict fast path (Delta's
    * conflict matrix) re-points the finished commit onto the new head
    * when the winners provably didn't interact — two partition-disjoint
    * merges both land first-try with zero re-execution. Only a REAL
    * conflict (winner removed/re-vectored a file this DML read, added a
    * file its predicate/keys may reach, or changed table metadata)
    * surfaces here and re-runs. The lost attempt's data directory is
    * orphaned (attempt-unique names — two racers never share one) and
    * vacuum-reclaimed past the grace window. */
  def dmlWithRetry(maxRetries: Int = 5)(op: => Long): Long = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** [[commitWithRetry]] with its test seam: `beforeClaim(next)` runs
    * after the version is computed and before the manifest claim — the
    * window a concurrent winner lands in. */
  private[graft] def commitWithRetryImpl(df: DataFrame, path: String,
      ts: String, mergeSchema: Boolean, maxRetries: Int,
      beforeClaim: Long => Unit,
      partitionBy: Seq[String] = Seq.empty): Long =
    commitInternal(df, path, "append", ts, None, mergeSchema,
      partitionBy = partitionBy, maxRetries = maxRetries, beforeClaim = beforeClaim)

  /** The one commit sequence of the append and overwrite faces
    * ([[commit]], [[commitIfNew]], [[commitWithRetry]]): validate the
    * batch against the head it read, write it ONCE, claim the next
    * version. A claim lost to a concurrent writer is retried up to
    * `maxRetries` times (0 for `commit` and `commitIfNew`): each retry
    * re-validates the same batch against the moved head and re-points
    * the manifest at the same files. `beforeClaim(next)` runs just
    * before every claim — the window a concurrent winner lands in. */
  private[sources] def commitInternal(df0: DataFrame, path: String, mode: String,
      ts: String, txn: Option[(String, Long)],
      mergeSchema: Boolean = false, bloomIndex: Seq[String] = Seq.empty,
      bloomBits: Int = 1 << 17, partitionBy: Seq[String] = Seq.empty,
      maxRetries: Int = 0, beforeClaim: Long => Unit = _ => ()): Long = {
    require(mode == "append" || mode == "overwrite", s"bad mode: $mode")
    val append = mode == "append"
    val spark = df0.sparkSession
    val (hfs, root) = fs(spark, path)
    val first = openSnapshot(spark, path)
    // an overwrite of a NON-EMPTY table replaces its rows
    if (!append) first.foreach(h => requireNotAppendOnly(h.m.props, path, "overwrite"))
    // GENERATED columns compute-if-absent BEFORE the schema check: a
    // batch omitting a generated column is the intended write shape
    // (the paired gen_<name> CHECK constraint validates batches that
    // carry it explicitly). IDENTITY columns assign the same way (and a
    // batch CARRYING a GENERATED ALWAYS identity column refuses), against
    // the FIRST head's high-water mark: the data is written once.
    val idSpecs = first.fold(Map.empty[String, IdentitySpec])(h => identitySpecs(h.m.props))
    val (df, _) = assignIdentity(
      applyGens(df0, first.fold(Map.empty[String, String])(_.m.gens)), idSpecs, path)

    // The batch's checks against head `h` — the snapshot schema, column
    // mapping and partition columns it lands under, or the rejection.
    def validate(h: Option[Head]): (StructType, Map[String, String], Seq[String]) = {
      val hm = h.map(_.m)
      val prevSchema = if (append) h.map(_.schema) else None
      // Schema-on-write (append only — an overwrite REPLACES the
      // snapshot, new schema and all): the batch's column names must
      // equal the current SNAPSHOT schema — the recorded/union schema,
      // not one file's footer, which after an earlier evolution
      // under-reports the table — or the table would silently fork. With
      // `mergeSchema = true` the append is allowed and readers see the
      // union schema (old files read the new columns as null) — Delta's
      // autoMerge evolution.
      if (append && !mergeSchema) prevSchema
        .filter(_.fieldNames.toSet != df.schema.fieldNames.toSet)
        .foreach { ps =>
          throw new SchemaMismatchException(
            s"append schema ${df.schema.fieldNames.mkString("[", ",", "]")} does not " +
              s"match table schema ${ps.fieldNames.mkString("[", ",", "]")} at $path; " +
              "pass mergeSchema = true to evolve")
        }
      val snapSchema = prevSchema.fold(df.schema)(unionSchema(_, df.schema))
      // TYPE evolution is gated like column evolution: a batch that
      // WIDENS an existing column (int table, long batch) is schema
      // drift unless mergeSchema = true; incompatible pairs threw in
      // unionSchema above. A batch NARROWER than the table always
      // upcasts silently (no drift — the table's contract absorbs it).
      if (append && !mergeSchema) prevSchema.foreach { ps =>
        val widenedCols = ps.fields.filter(f =>
          snapSchema.fields.exists(sf => sf.name == f.name && sf.dataType != f.dataType))
          .map(_.name)
        if (widenedCols.nonEmpty) throw new SchemaMismatchException(
          s"append widens columns ${widenedCols.mkString("[", ",", "]")} at $path; " +
            "pass mergeSchema = true to evolve the type")
      }
      // CHECK constraints gate the batch BEFORE any data lands — table
      // metadata, so they apply to appends AND overwrites (an overwrite
      // replaces the data, not the table's contract). Evaluation always
      // sees union(head schema, batch): an overwrite batch omitting a
      // constrained column must read NULL there (NULL passes — SQL
      // CHECK), not fail with an unresolved-attribute error; the RECORDED
      // snapshot schema for an overwrite stays df.schema
      val cks = hm.fold(Map.empty[String, String])(_.constraints)
      if (cks.nonEmpty)
        enforceConstraints(alignTo(df,
          if (append) snapSchema
          else h.fold(df.schema)(x => unionSchema(x.schema, df.schema))), cks, path)
      // column-mapping state: appends inherit it (batches arrive in
      // LOGICAL names, land in physical); an overwrite replaces schema,
      // data and mapping together — a fresh identity world
      val inherited = hm.filter(_ => append)
      val cmap = inherited.fold(Map.empty[String, String])(_.colMap)
      val retired = inherited.fold(Set.empty[String])(_.retired)
      // retirement guard: an evolved append may not introduce a logical
      // column whose name collides with a physical name already in use
      // (another column's storage name) or retired (a dropped column's —
      // its data still lives in old files); allowing it would make two
      // unrelated columns share one physical name across file generations
      val prior = prevSchema.fold(Set.empty[String])(_.fieldNames.toSet)
      val blocked = df.schema.fieldNames.filterNot(prior).filter(c =>
        retired.contains(c) || cmap.exists { case (l, p) => p == c && l != c })
      if (blocked.nonEmpty) throw new SchemaMismatchException(
        s"new columns ${blocked.mkString("[", ",", "]")} collide with " +
          s"physical names in use or retired by rename/drop at $path")
      // partitioning is immutable table metadata (PHYSICAL names in the
      // manifest, so renameColumn never touches it): appends inherit —
      // an explicit partitionBy on an append may only RESTATE the
      // table's; an overwrite replaces layout, data and schema together
      val declaredP = partitionBy.map(physOf(cmap, _))
      val pcols = inherited.fold(declaredP) { pm =>
        if (partitionBy.nonEmpty && declaredP != pm.pcols)
          throw new IllegalArgumentException(
            s"append partitionBy ${declaredP.mkString("[", ",", "]")} does not " +
              s"match table partitioning ${pm.pcols.mkString("[", ",", "]")} at $path; " +
              "partition columns are fixed at table creation (overwrite to relayout)")
        pm.pcols
      }
      (snapSchema, cmap, pcols)
    }

    val (snap0, cmap, pcols) = validate(first)
    validatePcols(pcols, toPhysical(df, cmap).schema, path)
    requireIdentityNotPartition(idSpecs, pcols, cmap, path)
    // bloom index config is TABLE metadata: an explicit `bloomIndex` arg
    // sets/updates it; otherwise the persisted config applies, so a
    // plain append to an indexed table keeps its sidecars without the
    // caller restating the columns (Delta persists the config as a
    // table property for exactly this reason); an overwrite without an
    // explicit index drops the config with the data it described
    val cfg =
      if (bloomIndex.nonEmpty) Some((bloomIndex, bloomBits))
      else if (append) first.flatMap(_.m.bloomCfg)
      else None
    // Data only after every check: a crash after this leaves an orphaned
    // directory that vacuum reclaims; the table is unchanged until the
    // manifest claims. Narrow batch columns upcast to the snapshot types
    // so every NEW file carries the table's current (possibly widened)
    // types. The dir is named for the FIRST attempted version — the name
    // is a label; a retry re-points the manifest at the same files.
    val w = writeBatch(spark, hfs, root, first.fold(0L)(_.next),
      alignTypes(df, snap0), cmap, pcols, cfg)
    var head = first
    var snapSchema = snap0
    var attempt = 0
    while (true) {
      val hm = head.map(_.m)
      val next = head.fold(0L)(_.next)
      // append = DELTA manifest against the head (O(batch) log write —
      // the previous file list is never re-serialized); overwrite/first =
      // FULL manifest, which must CARRY the constraints, generated
      // columns, partitioning and bloom config (delta manifests inherit
      // them through base — the cfg line is only written when this
      // commit CHANGES it). Table PROPERTIES survive an overwrite
      // (policy, not data); a commit that assigned identity values
      // carries the ADVANCED high-water mark in the same manifest
      // (transactional counter).
      val base = if (append) head.map(_.prev) else None
      val full = base.isEmpty
      val props = hm.fold(Map.empty[String, String])(_.props)
      val manifest = RawManifest(next, ts, mode, base, w.files, txn = txn,
        schemaJson = Some(snapSchema.json), addStats = w.stats, addRows = w.rows,
        addConstraints = if (full) hm.fold(Map.empty[String, String])(_.constraints)
          else Map.empty,
        bloomCfg =
          if (full || (bloomIndex.nonEmpty && cfg != hm.flatMap(_.bloomCfg))) cfg
          else None,
        addGens = if (full) hm.fold(Map.empty[String, String])(_.gens) else Map.empty,
        pcolsLine = Some(pcols).filter(_.nonEmpty && full),
        propsState =
          if (idSpecs.nonEmpty)
            Some(advanceIdentity(props, idSpecs, idSpecs.keySet, cmap, w.stats, path))
          else Some(props).filter(_.nonEmpty && full))
      try {
        beforeClaim(next)
        publish(hfs, root, manifest)
        return next
      } catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          head = openSnapshot(spark, path)
          val (s, c, _) = validate(head)
          // the written files must still fit the moved head: a concurrent
          // RENAME/DROP (physical names), a first-commit winner declaring
          // DIFFERENT partitioning (layout) or a winner that moved the
          // identity counter (those values could duplicate the winner's)
          // aborts loudly — the caller re-runs the whole commit
          if (c != cmap) throw new SchemaMismatchException(
            s"column mapping changed concurrently during commitWithRetry at $path; re-run")
          if (head.exists(_.m.pcols != pcols)) throw new SchemaMismatchException(
            s"table partitioning changed concurrently during commitWithRetry at $path; re-run")
          if (head.fold(Map.empty[String, IdentitySpec])(h => identitySpecs(h.m.props)) !=
              idSpecs) throw new SchemaMismatchException(
            s"identity counter changed concurrently during commitWithRetry at $path; re-run")
          snapSchema = s
      }
    }
    -1L // unreachable
  }

  /** Partition columns must exist in the batch (physical names — the
    * frame at the write boundary) with directory-encodable atomic
    * types; a complex or binary partition value has no dir rendering. */
  private[sources] def validatePcols(pcols: Seq[String], physSchema: StructType,
      path: String): Unit = pcols.foreach { c =>
    val f = physSchema.fields.find(_.name == c).getOrElse(
      throw new SchemaMismatchException(
        s"partition column $c absent from the batch at $path"))
    f.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType =>
        throw new IllegalArgumentException(
          s"partition column $c has non-partitionable type " +
            s"${f.dataType.simpleString} at $path")
      case _ => ()
    }
  }

  /** Version-prefixed but ATTEMPT-unique data directory: two writers
    * racing for the same version land their data in DISJOINT dirs (the
    * loser's is vacuum-reclaimed or re-pointed by [[commitWithRetry]]) —
    * a shared version-named dir would let the loser's overwrite corrupt
    * the winner's committed files. */
  private[sources] def newDataDir(next: Long): String =
    f"files/c$next%08d-${java.util.UUID.randomUUID.toString.take(8)}"

  // -------------------------------------------------- partitioned layout
  //
  // Hive-style partitioning (Delta's `partitionBy`, re-derived — the
  // reference writes every medallion table partitioned, e.g.
  // bronze_loader.py:56 `partition_by=["requested_date"]` and
  // batch_scoring.py:173 `.partitionBy("event_date", "city")`). The
  // design collapses partition pruning into the stats machinery this
  // table already has: the partition DIRECTORY column is a
  // `p__`-prefixed DUPLICATE of the data column (partitionBy drops the
  // dir column from file content; duplicating keeps the real column IN
  // the files), so every footer carries exact min = max stats for the
  // partition columns and [[mayMatch]] pruning is EXACT on partition
  // predicates — partition pruning is file pruning over
  // value-homogeneous files (Iceberg's hidden-partitioning
  // observation), with zero data I/O (manifest-only). Everything
  // downstream — DV row identity, merge/delete discovery, CDF, column
  // mapping, bloom sidecars — works on partitioned tables UNCHANGED,
  // because partition columns are ordinary data columns everywhere
  // except the directory layout. The dir prefix avoids `_`/`.` (Spark
  // treats those paths as hidden).

  private[graft] val PartDirPrefix = "p__"

  /** Every data-file write of [[VersionedTable]] routes through here. On a
    * partitioned table the frame is split into hive-style value
    * directories; rewrite paths (COW delete/update/merge, optimize,
    * compactSmall, MoR post-images, DV folds) preserve per-file value
    * homogeneity automatically because the partition values ride in the
    * data — an UPDATE that moves a row across partitions lands it in
    * the right directory with no special casing. `pcols` are PHYSICAL
    * names ([[Manifest.pcols]]); `df` arrives in logical names. */
  private[sources] def writeDataFiles(df: DataFrame, cmap: Map[String, String],
      pcols: Seq[String], root: Path, dataDir: String): Unit = {
    val phys = toPhysical(df, cmap)
    if (pcols.isEmpty)
      phys.write.mode("overwrite").parquet(new Path(root, dataDir).toString)
    else {
      val dirCols = pcols.map(PartDirPrefix + _)
      dirCols.filter(phys.columns.contains).foreach { c =>
        throw new SchemaMismatchException(
          s"column $c collides with the partition-directory name space " +
            s"($PartDirPrefix<partition column>) at $root")
      }
      val dup = pcols.zip(dirCols).foldLeft(phys) { case (d, (c, dc)) =>
        d.withColumn(dc, col(c)) }
      dup.write.mode("overwrite").partitionBy(dirCols: _*)
        .parquet(new Path(root, dataDir).toString)
    }
  }

  /** The data files under a commit dir, as manifest-relative names —
    * recursive, because a partitioned write ([[writeDataFiles]]) lands
    * them under hive-style `name=value` subdirectories. Dot-dirs and
    * Spark's `_temporary`/`_SUCCESS` markers are skipped; partition
    * dirs (prefix [[PartDirPrefix]], never `_`/`.`) are walked. */
  private[sources] def listDataFiles(hfs: FileSystem, root: Path,
      dataDir: String): Seq[String] = {
    def walk(dir: Path, rel: String): Seq[String] =
      hfs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_"))
          walk(s.getPath, s"$rel/$n")
        else if (s.isFile && n.endsWith(".parquet")) Seq(s"$rel/$n")
        else Seq.empty
      }
    walk(new Path(root, dataDir), dataDir).sorted
  }

  /** `files` with their footer stats and row counts — the footers
    * opened on the shared bounded [[ioPool]], so a wide commit landing
    * hundreds of files pays ~files/threads metadata round-trips. */
  private[sources] def withFooters(hfs: FileSystem, root: Path, files: Seq[String]): Written = {
    val opened = files.zip(onIoPool(files)(footerStats(hfs, root, _)))
    Written(files, opened.collect { case (f, (st, _)) if st.nonEmpty => f -> st }.toMap,
      opened.map { case (f, (_, n)) => f -> n }.toMap)
  }

  /** The files of one freshly written data dir with their footer stats
    * and row counts — what a commit's `adds`/`fstat=`/`fr=` lines carry. */
  private[sources] case class Written(files: Seq[String],
      stats: Map[String, Map[String, (String, String)]], rows: Map[String, Long]) {
    def ++(o: Written): Written = Written(files ++ o.files, stats ++ o.stats, rows ++ o.rows)
  }
  private[sources] val NothingWritten = Written(Seq.empty, Map.empty, Map.empty)

  /** The write step every data-writing path shares: `df` (logical names)
    * lands as version `next`'s new data dir in PHYSICAL names and the
    * table's partition layout, is listed with footer stats, and gets
    * bloom sidecars for `bloomCfg`'s columns under their PHYSICAL names
    * (the names the files store — a logical name would find no column
    * after a rename and silently index nothing). The append faces call
    * it with their own mapping/layout/config, every rewrite face through
    * [[Head.rewrite]]. */
  private[sources] def writeBatch(spark: SparkSession, hfs: FileSystem, root: Path,
      next: Long, df: DataFrame, cmap: Map[String, String], pcols: Seq[String],
      bloomCfg: Option[(Seq[String], Int)]): Written = {
    val dataDir = newDataDir(next)
    writeDataFiles(df, cmap, pcols, root, dataDir)
    val written = withFooters(hfs, root, listDataFiles(hfs, root, dataDir))
    bloomCfg.foreach { case (cs, b) =>
      writeBlooms(spark, hfs, root, dataDir, cs.map(physOf(cmap, _)), b) }
    written
  }

  /** Upsert MERGE (Delta's `whenMatchedUpdateAll` + `whenNotMatchedInsertAll`,
    * the publish step of the reference's `batch_scoring.py`): the preset of
    * [[mergeClauses]] that replaces whole rows, committed as op `merge`.
    * Every table row sharing a row of `updates`' `keyCols` values is
    * replaced by that row, and a row matching none inserts. A table column
    * `updates` lacks reads NULL on replaced and inserted rows (a
    * post-evolution merge with an old-schema batch); untouched rows keep
    * their values. `updates` may not introduce new columns (schema drift,
    * rejected like a drifted append) nor carry a type wider than the
    * table's (widen the table first with a mergeSchema append); narrower
    * types upcast. Generated columns compute on `updates` first. An update
    * key that appears twice and matches a table row is ambiguous: the merge
    * fails with the "duplicate keys" error and commits nothing; duplicated
    * keys that match nothing insert every copy. */
  def merge(updates0: DataFrame, path: String, keyCols: Seq[String],
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(updates0.sparkSession, path, "merge into")
    val updates = applyGens(updates0, h.m.gens)
    val snapSchema = h.schema
    val drift = updates0.schema.fieldNames.filterNot(snapSchema.fieldNames.contains)
    if (drift.nonEmpty) throw new SchemaMismatchException(
      s"merge updates carry columns ${drift.mkString("[", ",", "]")} not in the " +
        s"table schema at $path")
    // a WIDER-typed update would smuggle widened files behind the
    // recorded schema (the explicit-schema read would then narrow-cast
    // and fail) — widen the table first with a mergeSchema append;
    // narrower updates upcast to the table's types in the rewrite
    snapSchema.fields.foreach { f =>
      updates.schema.fields.find(_.name == f.name).foreach { uf =>
        if (!widen(f.dataType, uf.dataType).contains(f.dataType))
          throw new SchemaMismatchException(
            s"merge updates column ${f.name} has type ${uf.dataType.simpleString}, " +
              s"wider than or incompatible with table type ${f.dataType.simpleString} at $path")
      }
    }
    val wholeRow = snapSchema.fieldNames.map(c => c ->
      (if (updates.columns.contains(c)) s"s.${quoted(c)}" else "NULL")).toMap
    mergeInto(h, updates, path, keyCols, Seq(MergeAction.Update(set = wholeRow)),
      Seq(MergeAction.Insert()), Seq.empty, ts, None, "merge")
  }

  /** Copy-on-write MERGE (Delta's `MERGE INTO` with its
    * `whenMatched` / `whenNotMatched` / `whenNotMatchedBySource` builder),
    * the one MERGE of this table: SQL `MERGE INTO`, [[GraftTable]]'s
    * builder, CDC apply ([[graft.streaming.Streams]]) and the [[merge]]
    * upsert all run it. One atomic commit folds a change batch of
    * updates, deletes and inserts into the table. Clauses within a group
    * evaluate in order and the first true one wins; rows matching no
    * clause keep Delta's defaults (matched and by-source rows survive
    * unchanged, unmatched source rows drop). A source row matches a target
    * row when their `keyCols` are equal and `extraOn` (the non-key rest of
    * the ON condition, SQL over `t`/`s`, e.g. `"s.ts > t.ts"`) holds. A
    * pair that key-matches but fails `extraOn` is NOT MATCHED on both
    * sides, so a `notMatched` INSERT fires for its source row (possibly a
    * second row per key — Delta's documented gotcha) and the
    * `notMatchedBySource` clauses see its target row.
    *
    * Phases, Delta's:
    *  1. Discovery. Manifest stats prune the candidate files on EVERY
    *     bounded key column's range ([[keyRange]]); with
    *     `notMatchedBySource` clauses, files whose stats may satisfy those
    *     clauses' t-only conditions stay candidates too (an s-referencing
    *     or absent condition keeps every file: NOT MATCHED BY SOURCE is a
    *     full-table predicate). One scan of the candidates' live rows
    *     (deletion vectors applied: a deleted row never matches) joined to
    *     the source yields, per file, the most source rows matching one of
    *     its rows: the touched files, and the multi-match verdict. A source
    *     with two rows matching one target row fails when MATCHED clauses
    *     exist (Delta's ambiguity error), before anything is written. An
    *     INSERT-only merge skips discovery and rewrites nothing (Delta's
    *     insert-only optimization): its commit is append-shaped.
    *  2. Rewrite, from two joins over the touched files only (untouched
    *     files carry by reference): touched rows matching no source row
    *     take the NOT MATCHED BY SOURCE clauses in place, and every source
    *     row joined to its matching touched rows takes the MATCHED clauses
    *     (one output row per matched target row) or, unmatched, the INSERT
    *     clauses. Inserted rows compute generated columns; the changed rows
    *     gate on the table's CHECK constraints. No broadcast hints: AQE
    *     broadcasts a small side from its actual size, and a source that is
    *     half the table (a backfill) must not go through the driver.
    *  3. Commit a delta manifest removing the touched files. A concurrently
    *     added file conflicts when its stats may hold a source key, or
    *     always when `notMatchedBySource` clauses exist. */
  def mergeClauses(source: DataFrame, path: String, keyCols: Seq[String],
      matched: Seq[MergeAction] = Seq(MergeAction.Update()),
      notMatched: Seq[MergeAction] = Seq(MergeAction.Insert()),
      notMatchedBySource: Seq[MergeAction] = Seq.empty,
      ts: String = "1970-01-01T00:00:00Z",
      extraOn: Option[String] = None): Long =
    mergeInto(openHead(source.sparkSession, path, "merge into"), source, path, keyCols,
      matched, notMatched, notMatchedBySource, ts, extraOn, "merge_clauses")

  /** The MERGE core behind [[merge]] and [[mergeClauses]], committing op `op`. */
  private[sources] def mergeInto(h: Head, source: DataFrame, path: String, keyCols: Seq[String],
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      notMatchedBySource: Seq[MergeAction], ts: String, extraOn: Option[String],
      op: String): Long = {
    import VersionedTable.MergeAction._
    val spark = source.sparkSession
    val m = h.m
    if (matched.isEmpty && notMatched.isEmpty && notMatchedBySource.isEmpty)
      throw new IllegalArgumentException("mergeClauses with no actions")
    // insert-only merges stay allowed on an append-only table (Delta's
    // rule: only existing rows are protected)
    if (matched.nonEmpty || notMatchedBySource.nonEmpty)
      requireNotAppendOnly(m.props, path, "merge (matched/bySource clauses)")
    requireNoIdentityConflict(m.props, path, "merge",
      inserts = notMatched.nonEmpty,
      assignedCols = (matched ++ notMatchedBySource).flatMap {
        case Update(_, set) => set.keys
        case _ => Nil
      })
    val snapSchema = h.schema
    require(keyCols.nonEmpty && keyCols.forall(snapSchema.fieldNames.contains) &&
      keyCols.forall(source.columns.contains),
      s"merge keys ${keyCols.mkString(",")} must exist in table and source at $path")
    matched.foreach {
      case _: Insert => throw new IllegalArgumentException(
        "INSERT is not a MATCHED action")
      case _ => ()
    }
    notMatchedBySource.foreach {
      case _: Insert => throw new IllegalArgumentException(
        "INSERT is not a NOT MATCHED BY SOURCE action")
      case _ => ()
    }
    notMatched.foreach {
      case _: Insert => ()
      case _ => throw new IllegalArgumentException(
        "only INSERT is a NOT MATCHED action")
    }
    // Delta's clause rule: within a group only the LAST clause may omit
    // its condition (an earlier unconditional clause would shadow the
    // rest — always a user error)
    Seq(matched, notMatched, notMatchedBySource).foreach { g =>
      g.dropRight(1).zipWithIndex.foreach { case (c, i) =>
        require(condOf(c).nonEmpty,
          s"clause $i of a ${g.size}-clause group has no condition; " +
            "only the last clause of a group may be unconditional")
      }
    }
    // unknown assignment targets are analysis errors (Delta raises
    // one), never silent: newRow/insertRow look keys up per SCHEMA
    // field, so a typo'd SET/INSERT key would otherwise make the
    // clause a partial no-op
    (matched ++ notMatchedBySource ++ notMatched).foreach { a =>
      val (kind, keys) = a match {
        case Update(_, set) => ("UPDATE SET", set.keys)
        case Insert(_, values) => ("INSERT values", values.keys)
        case _ => ("", Iterable.empty[String])
      }
      val bad = keys.filterNot(snapSchema.fieldNames.contains).toSeq.sorted
      if (bad.nonEmpty) throw new SchemaMismatchException(
        s"$kind assignment targets name no table column at $path: " +
          s"${bad.mkString(", ")} (table columns: " +
          s"${snapSchema.fieldNames.mkString(", ")})")
    }
    val sType = source.schema
    // every clause yields the output row plus `__ins`, the index of the
    // INSERT clause that made it (-1 otherwise); a NULL row is dropped
    val outType = StructType(snapSchema.fields.map(f => StructField(f.name, f.dataType)) :+
      StructField("__ins", IntegerType))
    val drop = lit(null).cast(outType)
    def out(row: Seq[Column], ins: Int): Column =
      struct((row :+ lit(ins).as("__ins")).toIndexedSeq: _*)
    val keepT = out(snapSchema.fields.toIndexedSeq.map(f =>
      col(s"t.${quoted(f.name)}").cast(f.dataType).as(f.name)), -1)
    // UPDATE SET * never assigns identity columns (Delta's rule: the
    // engine owns the counter; an explicit SET on a BY DEFAULT column
    // stays allowed, an explicit SET on ALWAYS is refused above)
    val idCols = identitySpecs(m.props).keySet
    def updateAllSet: Map[String, String] = snapSchema.fieldNames
      .filter(source.columns.contains).filterNot(idCols.contains)
      .map(c => c -> s"s.${quoted(c)}").toMap
    def newRow(set: Map[String, String]): Seq[Column] =
      snapSchema.fields.toIndexedSeq.map(f =>
        expr(set.getOrElse(f.name, s"t.${quoted(f.name)}")).cast(f.dataType).as(f.name))
    // INSERT values: explicit, or INSERT ALL (every column the source carries)
    def insertVals(values: Map[String, String]): Map[String, String] =
      if (values.nonEmpty) values
      else snapSchema.fieldNames.filter(source.columns.contains)
        .map(c => c -> s"s.${quoted(c)}").toMap
    def insertRow(values: Map[String, String]): Seq[Column] = {
      val vals = insertVals(values)
      snapSchema.fields.toIndexedSeq.map(f =>
        expr(vals.getOrElse(f.name, "NULL")).cast(f.dataType).as(f.name))
    }
    // a clause group as one chained CASE: the first clause whose condition
    // holds decides the row; `none` when no clause fires
    def fold(clauses: Seq[MergeAction], none: Column)(res: (MergeAction, Int) => Column)
        : Column =
      clauses.zipWithIndex.foldRight(none) { case ((c, i), els) =>
        condOf(c).fold(res(c, i))(x =>
          when(coalesce(expr(x), lit(false)), res(c, i)).otherwise(els))
      }
    // MATCHED and NOT MATCHED BY SOURCE groups: UPDATE, DELETE, or keep
    def targetFold(clauses: Seq[MergeAction]): Column = fold(clauses, keepT) {
      case (Update(_, set), _) => out(newRow(if (set.isEmpty) updateAllSet else set), -1)
      case _ => drop // DELETE (an INSERT was refused above)
    }
    def rows(df: DataFrame, r: Column): DataFrame =
      df.select(r.as("r")).filter(col("r").isNotNull).select("r.*")
    val insertOnly = matched.isEmpty && notMatchedBySource.isEmpty
    // source rows carried as keys + the `s` struct
    val srcS = source.select((keyCols.map(col) :+
      struct(source.columns.map(c => col(quoted(c))).toIndexedSeq: _*).as("s"))
      .toIndexedSeq: _*)
    val srcKeys = source.select(keyCols.map(col): _*)
    // FULL join condition (key equality AND `extraOn`) between a plan
    // carrying top-level key columns + a `t` struct and [[srcS]]; the
    // extra conjunct resolves against the two struct aliases
    def fullCond(left: DataFrame): Column =
      (keyCols.map(k => left(k) === srcS(k)) ++ extraOn.map(expr)).reduce(_ && _)
    def withT(df: DataFrame): DataFrame = df.select((df.columns.map(c => col(quoted(c))) :+
      struct(snapSchema.fieldNames.map(c => col(quoted(c))).toIndexedSeq: _*).as("t"))
      .toIndexedSeq: _*)
    // target rows (table columns on top) joined to the source under the ON
    // condition, carrying `t`. Key-only semi/anti joins run BEFORE the `t`
    // projection: pushed below it, they trip a Catalyst fixpoint loop over
    // the discovery scan's `__file` projection (PushDownLeftSemiAntiJoin /
    // ColumnPruning / CollapseProject, "Max iterations (100) reached").
    def onSource(tgt: DataFrame, how: String): DataFrame = extraOn match {
      case None => withT(tgt.join(srcKeys, keyCols, how))
      case Some(_) => val tt = withT(tgt); tt.join(srcS, fullCond(tt), how)
    }
    // ---- discovery: which files must rewrite
    val keyPred = keyRange(source, keyCols, snapSchema)
    val keyCand = h.candidates(keyPred)
    val bySrcCand =
      if (notMatchedBySource.isEmpty) Seq.empty[String]
      else scala.util.Try {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        // prune on clause conditions only when EVERY clause has one and
        // each references nothing but t-qualified columns (for a
        // bySource row s IS NULL, so an s-referencing or unqualified
        // attribute can't prune soundly from t-stats; an unconditional
        // clause fires on every not-matched row). Decided structurally
        // over the PARSED expression — a substring test would both
        // misread literals containing "s." and, worse, alias-stripping
        // by string replace would mangle literals containing "t."
        // ('st. petersburg' → 's petersburg'), silently dropping files
        // whose rows should receive bySource actions.
        val parsed = notMatchedBySource.map(condOf(_)
          .map(spark.sessionState.sqlParser.parseExpression))
        def targetOnly(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : Boolean =
          e.collect { case u: UnresolvedAttribute => u }.forall(u =>
            u.nameParts.length == 2 && u.nameParts.head.equalsIgnoreCase("t"))
        if (parsed.exists(c => c.isEmpty || !targetOnly(c.get))) m.files
        else {
          val stripped = parsed.flatten.map(_.transform {
            case u: UnresolvedAttribute if u.nameParts.length == 2 &&
                u.nameParts.head.equalsIgnoreCase("t") =>
              UnresolvedAttribute(Seq(u.nameParts(1)))
          })
          // keep a file if ANY clause may fire on some of its rows;
          // any parse/transform failure keeps every file (pruning is
          // only ever an optimization)
          h.candidates(stripped.reduce(
            org.apache.spark.sql.catalyst.expressions.Or(_, _)))
        }
      }.getOrElse(m.files)
    val candidates = (keyCand ++ bySrcCand).distinct
    // per file, the most source rows matching one of its live rows (0 for
    // a file touched only because a bySource clause fires on a row no
    // source row matches, its condition seeing s as NULL)
    val fileMatches: Map[String, Long] =
      if (insertOnly || candidates.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{max => fmax}
        val live = h.live(candidates)
        // one shuffle on the file: the (file, row) groups nest in it
        val hits = onSource(live, "inner").repartition(col("__file"))
          .groupBy("__file", "__pos").count()
          .groupBy("__file").agg(fmax("count").as("n"))
        val bySrcFire = notMatchedBySource.map(c =>
          condOf(c).fold(lit(true))(x => coalesce(expr(x), lit(false))))
          .foldLeft(lit(false))(_ || _)
        val perFile =
          if (notMatchedBySource.isEmpty) hits
          else hits.unionByName(onSource(live, "left_anti")
            .withColumn("s", lit(null).cast(sType)).filter(bySrcFire)
            .select(col("__file"), lit(0L).as("n")).distinct())
        perFile.collect().toSeq.groupMapReduce(_.getString(0))(_.getLong(1))(math.max)
      }
    if (matched.nonEmpty && fileMatches.values.exists(_ > 1))
      throw new IllegalArgumentException(extraOn match {
        case None => s"merge source has duplicate keys matching target rows at $path " +
          "(ambiguous MATCHED action; de-duplicate the source)"
        case Some(_) => "merge source has multiple rows matching one target row under " +
          s"the ON condition at $path (ambiguous MATCHED action; de-duplicate the source)"
      })
    val touchedFiles = resolveTouched(m.files, fileMatches.keySet)
    // ---- rewrite. The target rows read: the touched files, or for an
    // insert-only merge the candidates (read only to exclude their keys)
    val tgtFiles = if (insertOnly) candidates else touchedFiles.toSeq.sorted
    val tgt = if (tgtFiles.isEmpty) None else Some(h.scan(tgtFiles))
    // touched rows no source row matches take the bySource clauses in
    // place; with no MATCHED clause a matched row stays as it is, once
    val targetSide = if (insertOnly) None else tgt.map { t =>
      val bySource = rows(onSource(t, "left_anti").withColumn("s", lit(null).cast(sType)),
        targetFold(notMatchedBySource))
      if (matched.nonEmpty) bySource
      else bySource.unionByName(rows(onSource(t, "left_semi"), keepT))
    }
    // every source row joined to its matching target rows (one output row
    // per matched target row, the ambiguity check above keeps it one per
    // target row) takes the MATCHED clauses, or unmatched the INSERTs
    val sourceSide =
      if (matched.isEmpty && notMatched.isEmpty) None
      else Some {
        // `__hit` marks a matched pair, so a plan whose clauses never read
        // `t` (the upsert preset) prunes the target side to its keys
        val unpaired = srcS.withColumn("t", lit(null).cast(snapSchema))
          .withColumn("__hit", lit(null).cast(BooleanType))
        val paired = tgt.fold(unpaired) { t =>
          val tt = withT(t).select((keyCols.map(col) :+ col("t") :+ lit(true).as("__hit"))
            .toIndexedSeq: _*)
          val how = if (matched.isEmpty) "left_anti" else "left_outer"
          val j = extraOn.fold(srcS.join(tt, keyCols, how))(_ => srcS.join(tt, fullCond(tt), how))
          if (matched.isEmpty) j.withColumn("t", lit(null).cast(snapSchema)) else j
        }
        val inserts = fold(notMatched, drop) {
          case (Insert(_, values), i) => out(insertRow(values), i)
          case _ => drop
        }
        val out0 = rows(paired,
          if (matched.isEmpty) inserts
          else when(col("__hit").isNotNull, targetFold(matched)).otherwise(inserts))
        // generated columns an INSERT's values omit compute on its rows
        // (name order, so one may reference an earlier one) — Delta
        // computes generated columns on merge inserts too
        m.gens.toSeq.sortBy(_._1).foldLeft(out0) { case (d, (g, e)) =>
          val omit = notMatched.zipWithIndex.collect {
            case (Insert(_, values), i) if !insertVals(values).contains(g) => i
          }
          if (omit.isEmpty) d
          else d.withColumn(g, when(col("__ins").isin(omit: _*), expr(e))
            .otherwise(col(quoted(g))).cast(snapSchema(g).dataType))
        }
      }
    def aligned(pieces: Seq[DataFrame]): Option[DataFrame] =
      pieces.map(alignTo(_, snapSchema)).reduceOption(_ unionByName _)
    // the changed rows gate on CHECK (untouched survivors already passed)
    if (m.constraints.nonEmpty)
      aligned(sourceSide.toSeq ++ targetSide.filter(_ => notMatchedBySource.nonEmpty))
        .foreach(enforceConstraints(_, m.constraints, path))
    val written = aligned(targetSide.toSeq ++ sourceSide.toSeq).fold(NothingWritten)(h.rewrite)
    // a winner-added file conflicts when its stats may hold a source
    // key — or unconditionally when bySource clauses exist (its rows
    // could be owed NOT MATCHED BY SOURCE actions this commit computed
    // without them)
    h.commitDml(ts, op, written, touchedFiles, candidates,
      st => notMatchedBySource.nonEmpty || mayMatch(st, keyPred))
  }

  /** The key range of a merge source as ONE predicate over the table:
    * `k >= min AND k <= max` per key column, the bounds from one
    * aggregate pass over the source. [[Head.candidates]] prunes the
    * discovery scan with it, so a composite key whose head column is
    * low-selectivity (a constant tenant id) still prunes on the later
    * columns, and [[mayMatch]] over it is the commit's conflict test. A
    * key column adds no conjunct when its bounds prove nothing: all NULL,
    * a NaN or infinite float bound (Spark's max takes NaN as largest), a
    * type without recorded stats, or a string key against a non-string
    * table column (or the reverse). No conjunct is `true`: every file
    * stays a candidate. */
  private def keyRange(source: DataFrame, keyCols: Seq[String], table: StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, unix_date, unix_micros}
    // temporal keys aggregate in their internal unit (epoch micros / days)
    val keys: Seq[(String, Column, DataType)] = keyCols.flatMap { k =>
      val dt = source.schema(k).dataType
      if ((dt == StringType) != (table(k).dataType == StringType)) None
      else dt match {
        case _: NumericType | StringType => Some((k, col(k), dt))
        case TimestampType => Some((k, unix_micros(col(k)), dt))
        case DateType => Some((k, unix_date(col(k)), dt))
        case _ => None
      }
    }
    if (keys.isEmpty) return Literal.TrueLiteral
    val aggs = keys.flatMap { case (_, c, _) => Seq(fmin(c), fmax(c)) }
    val r = source.agg(aggs.head, aggs.tail: _*).head()
    def bound(i: Int, dt: DataType): Option[Literal] = r.get(i) match {
      case null => None
      case d: Double if d.isNaN || d.isInfinite => None
      case f: Float if f.isNaN || f.isInfinite => None
      case v: java.lang.Long if dt == TimestampType => Some(Literal(v, dt))
      case v: java.lang.Integer if dt == DateType => Some(Literal(v, dt))
      case v => Some(Literal.create(v, dt))
    }
    keys.zipWithIndex.flatMap { case ((k, _, dt), i) =>
      val c = UnresolvedAttribute(Seq(k))
      for (lo <- bound(2 * i, dt); hi <- bound(2 * i + 1, dt))
        yield And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
    }.reduceOption[org.apache.spark.sql.catalyst.expressions.Expression](And(_, _))
      .getOrElse(Literal.TrueLiteral)
  }

  /** The files a merge keyed on `keyCols` would scan in discovery. */
  private[graft] def mergeCandidates(updates: DataFrame, path: String,
      keyCols: Seq[String]): Seq[String] = {
    val h = openSnapshot(updates.sparkSession, path).get
    h.candidates(keyRange(updates, keyCols, h.schema))
  }

  /** Copy-on-write DELETE: rows matching `condition` leave the snapshot;
    * only files containing a match are rewritten, the rest carry by
    * reference (manifest stats prune the discovery candidates via
    * [[mayMatch]], including typed DATE/TIMESTAMP ranges). A file whose
    * live rows ALL match is dropped outright with ZERO rewrite (Delta's
    * file-level delete) — the shape of a retention sweep: `DELETE WHERE
    * ts < cutoff` on time-laid data removes whole files from the
    * manifest and rewrites only the single boundary file, so the cost
    * is O(boundary), not O(deleted bytes). `condition` is a SQL boolean
    * expression over the table's columns. */
  def delete(spark: SparkSession, path: String, condition: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, path, "delete from")
    requireNotAppendOnly(h.m.props, path, "delete")
    // stats-pruned discovery: files whose manifest [min,max] ranges prove
    // the predicate false contain no deletable row and are never opened.
    // ONE pass counts matching vs total live rows per candidate file —
    // the same shuffle the old distinct-touched scan paid, now also
    // proving which files are FULLY deleted (dropped, never rewritten)
    val condExpr = spark.sessionState.sqlParser.parseExpression(condition)
    val candidates = h.candidates(condExpr)
    val perFile =
      if (candidates.isEmpty) Array.empty[(String, Long, Long)]
      else h.live(candidates)
        .groupBy("__file")
        .agg(count(lit(1)).as("n_live"),
          count(when(coalesce(expr(condition), lit(false)), 1)).as("n_match"))
        .filter(col("n_match") > 0)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val touched = perFile.map(_._1).toSet
    val fullyGone = perFile.collect { case (f, n, nm) if nm == n => f }.toSet
    val touchedFiles = resolveTouched(h.m.files, touched)
    val rewriteFiles = resolveTouched(h.m.files, touched -- fullyGone)
    // the rewrite reads ONLY the partially-covered files (the plan's scan
    // is boundary-sized); keep rows where the predicate is false OR NULL
    // (three-valued logic: only cond-IS-TRUE rows are deleted, Delta's
    // semantics — a bare !cond would silently drop NULL-evaluating rows)
    val written =
      if (rewriteFiles.isEmpty) NothingWritten
      else h.rewrite(h.scan(rewriteFiles.toSeq.sorted)
        .filter(!coalesce(expr(condition), lit(false))))
    h.commitDml(ts, "delete", written, touchedFiles, candidates, mayMatch(_, condExpr))
  }

  /** An UPDATE's SET clause may only target snapshot columns (the
    * assignments are cast to the column's existing type — Delta casts
    * rather than evolves). */
  private[sources] def requireKnownSet(snapSchema: StructType, set: Map[String, String],
      path: String): Unit = {
    val unknown = set.keys.filterNot(snapSchema.fieldNames.contains)
    if (unknown.nonEmpty) throw new SchemaMismatchException(
      s"update SET targets columns ${unknown.mkString("[", ",", "]")} not in the " +
        s"table schema at $path")
  }

  /** The SET clause applied to every cond-IS-TRUE row of `df`; other
    * rows (including NULL-evaluating — three-valued logic, Delta's
    * semantics) pass through unchanged. Assignments see the PRE-update
    * row (standard UPDATE: `SET a = b, b = a` swaps). */
  private[sources] def applySet(df: DataFrame, snapSchema: StructType,
      condition: String, set: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.when
    val hit = coalesce(expr(condition), lit(false))
    df.select(df.columns.map { c =>
      set.get(c) match {
        case Some(e) =>
          when(hit, expr(e).cast(snapSchema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
  }

  /** Copy-on-write UPDATE (Delta `UPDATE table SET ... WHERE ...`):
    * rows where `condition` IS TRUE get each SET column replaced by its
    * expression (evaluated against the pre-update row, cast to the
    * column's existing type); everything else carries unchanged. Only
    * files CONTAINING a matched row are rewritten — stats-pruned
    * discovery then a touched-files-only rewrite, so an update touching
    * one day of a date-laid 100 TB table rewrites that day's files, not
    * the table. `set` maps column name → SQL expression string. */
  def update(spark: SparkSession, path: String, condition: String,
      set: Map[String, String], ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, path, "update of")
    val m = h.m
    val snapSchema = h.schema
    requireNotAppendOnly(m.props, path, "update")
    requireNoIdentityConflict(m.props, path, "update", assignedCols = set.keys)
    requireKnownSet(snapSchema, set, path)
    val condExpr = spark.sessionState.sqlParser.parseExpression(condition)
    val candidates = h.candidates(condExpr)
    val touchedFiles = h.touched(candidates)(_.filter(expr(condition)))
    val written =
      if (touchedFiles.isEmpty) NothingWritten
      else {
        val pre = h.scan(touchedFiles.toSeq.sorted)
        // constraints gate the POST-IMAGES (cond evaluated on pre-values:
        // applySet over the matched slice) before the rewrite lands
        if (m.constraints.nonEmpty)
          enforceConstraints(
            applySet(pre.filter(coalesce(expr(condition), lit(false))),
              snapSchema, condition, set), m.constraints, path)
        h.rewrite(applySet(pre, snapSchema, condition, set))
      }
    h.commitDml(ts, "update", written, touchedFiles, candidates, mayMatch(_, condExpr))
  }

  /** Merge-on-read UPDATE (Delta's DV-backed UPDATE): ONE commit that
    * (a) vectors the matched rows out of their files and (b) appends
    * their post-images as new files — the touched files' UNMATCHED rows
    * are never read or rewritten. Where COW update rewrites every
    * touched file in full, this writes O(matched rows): the sparse
    * scattered update (repricing one SKU across a year of date-laid
    * files) costs the matched slice, not the year. Trade, same as
    * [[deleteMergeOnRead]]: reads of vectored files pay the broadcast
    * anti-join until [[optimize]] materializes. CDF reports the change
    * as row-level delete (pre-image) + insert (post-image) rather than
    * an update pair — the file diff and the vector diff are what the
    * manifest knows; documented, not hidden. */
  def updateMergeOnRead(spark: SparkSession, path: String, condition: String,
      set: Map[String, String], ts: String = "1970-01-01T00:00:00Z",
      maxVectoredFraction: Double = 0.5): Long = {
    val h = openHead(spark, path, "update of")
    val m = h.m
    val snapSchema = h.schema
    requireNotAppendOnly(m.props, path, "updateMergeOnRead")
    requireNoIdentityConflict(m.props, path, "updateMergeOnRead",
      assignedCols = set.keys)
    val condExpr = spark.sessionState.sqlParser.parseExpression(condition)
    requireKnownSet(snapSchema, set, path)
    val candidates = h.candidates(condExpr)
    if (candidates.isEmpty) return h.commitDml(ts, "update_mor", NothingWritten,
      Set.empty, Seq.empty, mayMatch(_, condExpr))
    // the matched slice feeds TWO writes (the vector and the
    // post-images) — persist it so the candidate files are scanned
    // once, not once per write
    val matched = h.live(candidates).filter(coalesce(expr(condition), lit(false)))
      .persist()
    try commitVectors(h, ts, "update_mor", condExpr, candidates,
      matched.select(col("__file").as("file"), col("__pos").as("pos")),
      maxVectoredFraction) {
      // post-images: the matched rows with SET applied, appended as fresh
      // files (cond is TRUE on every row here, but applySet re-evaluates
      // it so assignments see the pre-update row exactly as COW does)
      val post = applySet(matched.drop("__file", "__pos")
        .select(snapSchema.fieldNames.map(col).toIndexedSeq: _*),
        snapSchema, condition, set)
      if (m.constraints.nonEmpty) enforceConstraints(post, m.constraints, path)
      h.rewrite(post)
    } finally matched.unpersist()
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere` write option):
    * ONE atomic commit in which `df`'s rows replace exactly the snapshot
    * rows where `condition` IS TRUE. The idempotent daily re-ingest
    * primitive at 100 TB: re-running a day's load with
    * `condition = "ts >= day AND ts < day+1"` replaces that day's rows
    * and nothing else, however many times it retries — a plain
    * overwrite would drop the other 36 499 days, and delete-then-append
    * would expose a rows-missing intermediate version.
    *
    * Scope constraint (Delta's): every row of `df` must itself satisfy
    * `condition` — a batch that leaks rows outside its declared scope
    * would silently corrupt the non-replaced region, so it is rejected
    * before any data lands. Only files that CONTAIN a matching row are
    * rewritten (their cond-false-or-NULL rows survive — three-valued
    * logic, same as [[delete]]); files whose manifest stats disprove
    * the predicate carry by reference without being opened, so a
    * date-ordered table pays one day's rewrite, not a snapshot scan.
    * `df`'s columns must match the snapshot schema (no evolution here:
    * a scoped replace that also changed the schema would fork the
    * table's unreplaced region). */
  def replaceWhere(df0: DataFrame, path: String, condition: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val spark = df0.sparkSession
    val h = openHead(spark, path, "replaceWhere on")
    val m = h.m
    requireNotAppendOnly(m.props, path, "replaceWhere")
    requireNoIdentityConflict(m.props, path, "replaceWhere", inserts = true)
    val df = applyGens(df0, m.gens)
    val snapSchema = h.schema
    if (snapSchema.fieldNames.toSet != df.schema.fieldNames.toSet)
      throw new SchemaMismatchException(
        s"replaceWhere batch schema ${df.schema.fieldNames.mkString("[", ",", "]")} " +
          s"does not match table schema ${snapSchema.fieldNames.mkString("[", ",", "]")} at $path")
    // scope check BEFORE any write: one pass over the batch, stops at
    // the first violating row
    if (!df.filter(!coalesce(expr(condition), lit(false))).isEmpty)
      throw new IllegalArgumentException(
        s"replaceWhere batch contains rows outside its scope [$condition] at $path")
    val condExpr = spark.sessionState.sqlParser.parseExpression(condition)
    val candidates = h.candidates(condExpr)
    val touchedFiles = h.touched(candidates)(_.filter(expr(condition)))
    val aligned = df.select(snapSchema.fieldNames.map(col).toSeq: _*)
    if (m.constraints.nonEmpty)
      enforceConstraints(aligned, m.constraints, path)
    val out =
      if (touchedFiles.isEmpty) aligned
      else h.scan(touchedFiles.toSeq.sorted)
        .filter(!coalesce(expr(condition), lit(false)))
        .unionByName(aligned)
    h.commitDml(ts, "replace", h.rewrite(out), touchedFiles, candidates,
      mayMatch(_, condExpr))
  }

  /** DV AUTO-MATERIALIZATION (Delta's DV rewrite policy, re-derived): a
    * user who keeps calling [[deleteMergeOnRead]]/[[updateMergeOnRead]]
    * and never compacts accumulates an unbounded vector that every read
    * re-broadcasts — the read tax grows without a bound anything
    * enforces. So at MoR-DML commit time, any touched file whose
    * vectored fraction (positions / footer row count) reaches
    * `threshold` is COW-FOLDED IN THE SAME COMMIT: its survivors are
    * rewritten through the new vector, the file is removed, and it
    * carries no `dv=` entry — the vector stays small by construction.
    * Folding at ≥ half-deleted also bounds WASTED READ: a file more
    * than half vectored ships more dead rows through the scan than
    * live ones. Returns (folded files, their rewrite); the footer
    * counts are read on the shared [[ioPool]]. */
  private[sources] def foldHeavyVectored(h: Head, touchedFiles: Set[String],
      dvDir: String, posCounts: Map[String, Long], threshold: Double)
      : (Set[String], Written) = {
    if (threshold >= 1.0 || touchedFiles.isEmpty) return (Set.empty, NothingWritten)
    val heavy = onIoPool(touchedFiles.toSeq.sorted) { f =>
      val pos = posCounts.getOrElse(relLayoutName(f), 0L)
      val rows = if (pos == 0) 1L else fileRowCount(h.hfs, h.root, f)
      (f, rows > 0 && pos.toDouble / rows >= threshold)
    }.collect { case (f, true) => f }
    if (heavy.isEmpty) return (Set.empty, NothingWritten)
    // survivors = the heavy files read through the NEW (superset)
    // vector — content-identical materialization, optimize's semantics,
    // scoped to exactly the files past threshold
    (heavy.toSet, h.rewrite(h.scan(heavy, heavy.map(_ -> dvDir).toMap)))
  }

  /** The merge-on-read commit [[deleteMergeOnRead]] and
    * [[updateMergeOnRead]] share. `deleted` holds the (file, pos) of the
    * live rows leaving their files; together with the candidates'
    * EXISTING positions it is written as ONE vector dataset — a
    * replacing entry must be a superset, and re-pointing an
    * untouched-but-vectored candidate at the new dataset is sound (its
    * position set is carried verbatim). The dataset's per-file counts
    * name the touched files (nothing matched: a no-op commit). Then
    * `postImages` writes the face's new files, files vectored past
    * `threshold` fold in this same commit ([[foldHeavyVectored]]), and
    * every other touched file gets a `dv=` entry. The disjoint-conflict
    * fast path holds for MoR too: every vectored and folded file is
    * inside `candidates` = the read set, so a winner that removed or
    * re-vectored one of them (which would make this entry clobber
    * theirs or dangle) fails the read-set checks and re-runs. */
  private[sources] def commitVectors(h: Head, ts: String, op: String,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[String], deleted: DataFrame, threshold: Double)
      (postImages: => Written): Long = {
    val dvDir = newDataDir(h.next)
    val dvPath = new Path(h.root, dvDir)
    // distinct: the folded old positions may carry duplicates (a file's
    // stale rows survive in dirs other files still point at) — the new
    // dataset is a SET so downstream folds and CDF diffs stay exact
    h.vectors(candidates).fold(deleted)(deleted.unionByName(_))
      .distinct().write.mode("overwrite").parquet(dvPath.toString)
    // touched file names + per-file position counts: one |files|-bounded
    // driver read of the tiny vector feeds both the manifest entries and
    // the materialization threshold
    val posCounts = h.spark.read.parquet(dvPath.toString)
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (posCounts.isEmpty) {
      h.hfs.delete(dvPath, true)
      return h.commitDml(ts, op, NothingWritten, Set.empty, candidates, mayMatch(_, cond))
    }
    val touchedFiles = resolveTouched(h.m.files, posCounts.keySet)
    val adds = postImages
    val (folded, foldAdds) = foldHeavyVectored(h, touchedFiles, dvDir, posCounts, threshold)
    val dvEntries = (touchedFiles -- folded).map(_ -> dvDir).toMap
    if (dvEntries.isEmpty) h.hfs.delete(dvPath, true)
    h.commitDml(ts, op, adds ++ foldAdds, folded, candidates, mayMatch(_, cond),
      dvEntries,
      dvEntries.keys.flatMap(f => posCounts.get(relLayoutName(f)).map(f -> _)).toMap)
  }

  /** Merge-on-read DELETE: rows where `condition` IS TRUE leave the
    * snapshot WITHOUT rewriting any data file — one Spark job writes
    * their (file, row position) set as a parquet deletion vector and the
    * manifest points each touched file at it. The 100 TB shape this
    * exists for: small scattered deletes (GDPR user erasure) where COW
    * would rewrite nearly every file to drop a few rows each. Trade,
    * exactly Delta's: reads of a vectored file pay a broadcast anti-join
    * until the vector materializes away — by [[optimize]], or
    * AUTOMATICALLY at DML time once a file's vectored fraction reaches
    * `maxVectoredFraction` ([[foldHeavyVectored]]; pass 1.0 to disable),
    * so repeated deletes can never grow an unbounded broadcast. A
    * re-delete of a file
    * replaces its entry with a SUPERSET vector (old positions fold into
    * the new dataset); already-deleted rows never re-match (the
    * discovery scan reads through existing vectors). Time travel, CDF,
    * rollback and clones all see vectors versioned like files. */
  def deleteMergeOnRead(spark: SparkSession, path: String, condition: String,
      ts: String = "1970-01-01T00:00:00Z",
      maxVectoredFraction: Double = 0.5): Long = {
    val h = openHead(spark, path, "delete from")
    val condExpr = spark.sessionState.sqlParser.parseExpression(condition)
    requireNotAppendOnly(h.m.props, path, "deleteMergeOnRead")
    val candidates = h.candidates(condExpr)
    if (candidates.isEmpty) return h.commitDml(ts, "delete_mor", NothingWritten,
      Set.empty, Seq.empty, mayMatch(_, condExpr))
    // the live rows (existing vectors applied) where cond IS TRUE
    commitVectors(h, ts, "delete_mor", condExpr, candidates,
      h.live(candidates).filter(coalesce(expr(condition), lit(false)))
        .select(col("__file").as("file"), col("__pos").as("pos")),
      maxVectoredFraction)(NothingWritten)
  }
}
