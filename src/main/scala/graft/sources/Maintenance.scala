package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table maintenance: layout rewrites with identical content (OPTIMIZE,
  * compaction, REORG PURGE), rollback, convert, clones, FSCK, and the
  * retention of data files ([[vacuum]]) and of the log ([[expireLog]]). */
private[sources] trait Maintenance { self: VersionedTable.type =>

  /** Delta OPTIMIZE for a snapshot: rewrite the latest version's content
    * as ⌈bytes / targetFileBytes⌉ files — optionally Z-ORDERed on the
    * 2 or 3 `zorderCols` for multi-dimensional row-group skipping
    * ([[graft.analytics.ZOrder]]) —
    * and commit it as a new `optimize` version with identical logical
    * content (spec-asserted). Bytes come from the manifest's file list
    * (driver metadata); older versions keep the small files until
    * [[vacuum]] reclaims them. The maintenance companion to
    * [[Sinks.compactPartitions]], but transactional: readers of the
    * current version are never disturbed, and a crashed optimize leaves
    * only an orphaned data dir. */
  def optimize(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      ts: String = "1970-01-01T00:00:00Z",
      zorderCols: Seq[String] = Seq.empty): Long = {
    val h = openHead(spark, path, "optimize of")
    val m = h.m
    // mergeSchema, like readVersion: a plain read takes ONE footer, so a
    // post-evolution optimize would silently ERASE the evolved column
    // from the whole table — breaking the identical-content contract.
    // Deletion vectors apply here too, which makes optimize the DV
    // MATERIALIZATION path: the rewritten snapshot carries no entries.
    val laid = h.compacted(m.files, h.bytes(m.files), targetFileBytes, zorderCols)
    // the persisted index config survives maintenance: the compacted
    // head is re-indexed, so optimize never silently degrades the point
    // lookups the user paid an indexing pass for
    val w = h.rewrite(laid)
    publish(h.hfs, h.root, fullManifest(h.next, ts, "optimize", m).copy(adds = w.files,
      schemaJson = Some(laid.schema.json), addStats = w.stats, addRows = w.rows))
    h.next
  }

  /** Predicate-scoped OPTIMIZE (Delta's `OPTIMIZE ... WHERE`): rewrite
    * ONLY the files whose manifest stats may hold rows matching
    * `condition` — everything else carries by reference in a delta
    * manifest. At 100 TB this is the only affordable compaction shape:
    * the nightly job optimizes yesterday's partition, never the table
    * (on a partitioned table a partition-aligned predicate scopes to
    * exactly that value directory's files — value-homogeneous, so the
    * scope is exact). Content-identical like [[optimize]], including
    * DV materialization: a scoped file's vector applies during the
    * rewrite and its entry drops with the file. `zorderCols` lays the
    * SCOPE out Z-ordered (cluster-one-partition, Delta's
    * `OPTIMIZE ... WHERE ... ZORDER BY`). No commit when the scope
    * holds < 2 files (nothing to fold). */
  def optimizeWhere(spark: SparkSession, path: String, condition: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      ts: String = "1970-01-01T00:00:00Z",
      zorderCols: Seq[String] = Seq.empty): Long = {
    val h = openHead(spark, path, "optimize of")
    val scoped = h.candidates(spark.sessionState.sqlParser.parseExpression(condition))
    if (scoped.size < 2) return h.prev
    h.commitRewrite(ts, "optimize_where", h.rewrite(
      h.compacted(scoped, h.bytes(scoped), targetFileBytes, zorderCols)), scoped)
  }

  /** Delta's `REORG TABLE ... APPLY (PURGE)`: materialize deletion
    * vectors by rewriting ONLY the files that carry one — the
    * hard-delete completion step behind GDPR erasure: a merge-on-read
    * DELETE soft-deletes rows into a vector while the original bytes
    * stay on disk; PURGE rewrites exactly those files without the
    * deleted rows, so [[vacuum]] can reclaim the originals and the
    * bytes are actually gone. Everything vector-free carries by
    * reference in a delta manifest — at 100 TB the cost is O(vectored
    * files), never O(table). `condition` optionally narrows the scope
    * (stats pruning over the vectored set — e.g. purge one partition).
    * Content-identical by construction (the rewrite IS the DV-applied
    * scan); returns the current version untouched when nothing in
    * scope carries a vector. Dropped-column data purge is [[optimize]]
    * (schema surgery needs the full rewrite). */
  def reorgPurge(spark: SparkSession, path: String,
      condition: Option[String] = None,
      targetFileBytes: Long = 128L * 1024 * 1024,
      ts: String = "1970-01-01T00:00:00Z"): Long =
    reorgPurgeCounted(spark, path, condition, targetFileBytes, ts)._1

  /** [[reorgPurge]] plus how many vectored files it rewrote — the SQL
    * command's report row, without re-resolving the snapshot before and
    * after just to diff vector counts. */
  private[graft] def reorgPurgeCounted(spark: SparkSession, path: String,
      condition: Option[String] = None,
      targetFileBytes: Long = 128L * 1024 * 1024,
      ts: String = "1970-01-01T00:00:00Z"): (Long, Int) = {
    val h = openHead(spark, path, "reorg of")
    val m = h.m
    val vectored = condition.fold(m.dvs.keySet.toSeq)(c =>
      h.candidates(spark.sessionState.sqlParser.parseExpression(c))
        .filter(m.dvs.contains)).sorted
    if (vectored.isEmpty) return (h.prev, 0)
    (h.commitRewrite(ts, "reorg_purge", h.rewrite(
      h.compacted(vectored, h.bytes(vectored), targetFileBytes, Seq.empty)), vectored),
      vectored.size)
  }

  /** Delta's `FSCK REPAIR TABLE`: drop snapshot references to data
    * files that no longer exist in storage (the recovery path after a
    * cloud-storage incident, an over-eager lifecycle policy, or a
    * foreign process deleting under the table) — without it every scan
    * of the snapshot fails on the first missing file. Existence checks
    * are one metadata HEAD per file on the bounded [[ioPool]] — at
    * 100 TB the cost is O(files) cheap RPCs, zero data reads. Returns
    * the missing (dropped) entries, sorted; empty = snapshot intact,
    * nothing committed. `dryRun` reports without repairing. The repair
    * commit removes the entries (their stats / row counts / deletion
    * vectors fall away with them via base application). The vanished
    * rows are UNRECOVERABLE — the bytes are gone — so a change-feed
    * range crossing the repair version refuses loudly ([[changes]])
    * rather than failing mid-scan or silently under-reporting. */
  def fsck(spark: SparkSession, path: String, dryRun: Boolean = false,
      ts: String = "1970-01-01T00:00:00Z"): Seq[String] = {
    val h = openHead(spark, path, "fsck of")
    val missing = onIoPool(h.m.files.sorted)(f =>
      if (h.hfs.exists(new Path(h.root, f))) None else Some(f)).flatten
    if (missing.nonEmpty && !dryRun)
      h.commitMeta(ts, "fsck_repair")(_.copy(removes = missing))
    missing
  }

  /** Incremental compaction (Delta auto-compaction / the real shape of
    * `OPTIMIZE`): rewrite ONLY the files smaller than `smallBytes` into
    * ~`targetFileBytes` files, carrying everything else by reference —
    * a delta manifest (rm = the small files, adds = their compaction),
    * so the cost is O(small bytes) however large the table. This is the
    * maintenance step a streaming sink needs: each micro-batch lands a
    * file, and WITHOUT bounded compaction a long-lived stream's snapshot
    * degenerates into thousands of KB-files whose per-file open cost
    * dominates every scan ([[optimize]] would fix that too, but at
    * O(table) per call — quadratic over the stream's life; this stays
    * O(new files) per cadence). Deletion vectors on compacted files are
    * applied and dropped (content-identical, like optimize); returns the
    * new version, or the CURRENT version untouched when fewer than two
    * small files exist (no commit — nothing to gain). */
  def compactSmall(spark: SparkSession, path: String,
      smallBytes: Long = 8L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      ts: String = "1970-01-01T00:00:00Z",
      zorderCols: Seq[String] = Seq.empty): Long = {
    val h = openHead(spark, path, "compact of")
    val sized = h.m.files.map(f =>
      f -> h.hfs.getFileStatus(new Path(h.root, f)).getLen)
    val small = sized.filter(_._2 < smallBytes).map(_._1).sorted
    if (small.size < 2) return h.prev
    // set lookup: the small-file backlog this operator exists for is 10⁴+
    // files, where a Seq.contains inside the fold is O(n²) driver work
    val smallSet = small.toSet
    val bytes = sized.collect { case (f, n) if smallSet(f) => n }.sum
    // optional Z-ORDER layout on the folded output (liquid-clustering
    // flavored maintenance): a streaming sink's micro-batches arrive in
    // time order, so without this the nightly fold preserves no key
    // locality and range queries on the folded head prune nothing —
    // clustering the SMALL-FILE fold costs O(small bytes), same as the
    // fold itself, and each night's output lands query-prunable
    h.commitRewrite(ts, "compact", h.rewrite(
      h.compacted(small, bytes, targetFileBytes, zorderCols)), small)
  }

  /** The nightly maintenance window in one call — what a production
    * table schedules after ingest quiesces: (1) [[compactSmall]] folds
    * the day's micro-batch files (O(small bytes)); (2) [[expireLog]]
    * bounds the manifest/checkpoint log at the newest anchor checkpoint
    * under the retention horizon; (3) [[vacuum]] reclaims data files
    * (and orphaned deletion-vector datasets) referenced only by expired
    * versions, past the grace window. Order matters: compaction FIRST so
    * the pre-compaction small files age out of the retained window and
    * the next night's vacuum reclaims them. Returns
    * (compacted to version, log files expired, data files vacuumed). */
  def maintain(spark: SparkSession, path: String,
      smallBytes: Long = 8L * 1024 * 1024,
      retainVersions: Int = 30,
      graceMs: Long = 7L * 24 * 3600 * 1000,
      ts: String = "1970-01-01T00:00:00Z",
      zorderCols: Seq[String] = Seq.empty): (Long, Int, Int) = {
    val v = compactSmall(spark, path, smallBytes, ts = ts, zorderCols = zorderCols)
    val expired = expireLog(spark, path, retainVersions)
    val vacuumed = vacuum(spark, path, retainVersions, graceMs)
    (v, expired, vacuumed)
  }

  /** Roll the table back to `toVersion` by committing a NEW version whose
    * snapshot is the old one's — Delta RESTORE semantics: history is
    * preserved (the bad versions stay queryable until vacuumed) and no
    * data is copied. The manifest is written FULL (resolved file list +
    * stats), not as a base pointer at `toVersion`: rollback is the one
    * op whose base could jump arbitrarily far back, and a self-contained
    * manifest keeps every delta chain CONTIGUOUS (base = version − 1),
    * which is what licenses [[expireLog]] deleting everything below an
    * anchor checkpoint. Rollback is rare; the O(files) manifest write is
    * the right trade for an expirable log. */
  def rollback(spark: SparkSession, path: String, toVersion: Long,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val (hfs, root) = fs(spark, path)
    val target = readManifest(hfs, root, toVersion)
    val next = versions(hfs, root).last + 1
    publish(hfs, root, fullManifest(next, ts, s"rollback($toVersion)", target).copy(
      adds = target.files, addStats = target.stats, addDvs = target.dvs,
      addRows = target.rowCounts, addDvCounts = target.dvCounts))
    next
  }

  /** CONVERT a plain parquet directory into a versioned table IN PLACE
    * (Delta's `CONVERT TO DELTA`, re-derived): a v0 manifest is written
    * referencing the existing files BY NAME — zero bytes rewritten at
    * any size, which is the whole point of converting a 100 TB
    * directory. Stats and row counts come from one pooled footer pass,
    * so pruning, `readWhere`, `rowCount` and time travel work from the
    * first read. Every subsequent write lands in the native
    * `files/cNNN` layout; DML discovery resolves foreign names through
    * the root-relative `__file` fallback, so COW/MoR rewrites migrate
    * touched foreign files natively as a side effect, and [[optimize]]
    * migrates everything at once. The ORIGINAL files are never
    * vacuumed (they live outside `files/`; reclaiming them after an
    * optimize is the caller's call — Delta leaves converted originals
    * in place too). Hive-partitioned source directories (bare
    * `col=value` subdirs, values not in the files) are rejected: their
    * partition columns exist only in dir names, which this table
    * stores IN data — rewrite through a partitioned [[commit]]
    * instead. */
  def convert(spark: SparkSession, path: String,
      ts: String = "1970-01-01T00:00:00Z"): Long = {
    val (hfs, root) = fs(spark, path)
    require(versions(hfs, root).isEmpty, s"already a versioned table at $path")
    require(!hfs.exists(new Path(root, "files")),
      s"source at $path has a 'files/' subdirectory — the native data " +
        "layout's reserved name; convert refuses rather than mix foreign " +
        "files into it")
    // recursive: parquet in non-hive subdirectories converts too (its
    // manifest name keeps the relative path — every reader resolves
    // names against the root, so nested originals read/prune/rewrite
    // exactly like top-level ones). Hive `col=value` dirs at ANY depth
    // still reject loudly — their partition values exist only in dir
    // names, which this table stores IN data — instead of silently
    // converting a subset of the directory.
    def walk(dir: Path, rel: String): Seq[String] =
      hfs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.contains("=")) throw new IllegalArgumentException(
          s"hive-partitioned source at $path (${if (rel.isEmpty) n else s"$rel/$n"}); " +
            "partition values live only in directory names there — re-ingest " +
            "through commit(partitionBy) instead")
        else if (s.isDirectory && !n.startsWith(".") && !n.startsWith("_"))
          walk(s.getPath, if (rel.isEmpty) n else s"$rel/$n")
        else if (s.isFile && n.endsWith(".parquet"))
          Seq(if (rel.isEmpty) n else s"$rel/$n")
        else Seq.empty
      }
    val files = walk(root, "").sorted
    require(files.nonEmpty, s"no parquet files to convert at $path")
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(files.map(f => new Path(root, f).toString): _*).schema
    val w = withFooters(hfs, root, files)
    publish(hfs, root, RawManifest(0L, ts, "convert", adds = files,
      schemaJson = Some(schema.json), addStats = w.stats, addRows = w.rows))
    0L
  }

  /** Shallow clone (Delta `CLONE ... SHALLOW`): create a NEW table at
    * `target` whose v0 manifest references the source snapshot's data
    * files BY ABSOLUTE PATH — zero data copied, O(metadata) however
    * large the source. The clone then evolves independently: appends,
    * merges, deletes, replaceWhere and optimize on it write their own
    * local files and never touch the source (copy-on-write rewrites of
    * source-referenced files land locally; the source file is merely
    * dropped from the CLONE's manifest). The 100 TB use cases are
    * Delta's own: a writable dev/test fork of a production table, or a
    * frozen experiment snapshot, at metadata cost.
    *
    * Stats and schema carry with the references, so data skipping and
    * schema-on-write work on the clone from v0. Where Delta merely
    * DOCUMENTS that vacuuming the source can break clones, cloning here
    * also records the referenced files in the source's `_clones/`
    * registry ([[writeCloneRecord]]), and [[vacuum]] on the source keeps
    * them (warning when the guard pinned something) until
    * [[releaseCloneRef]] drops the record — e.g. after [[optimize]] on
    * the clone rewrites it self-contained. */
  def cloneTable(spark: SparkSession, source: String, target: String,
      version: Long = -1L, ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, source, "clone of", version)
    val Head(_, shfs, sroot, v, m) = h
    val (thfs, troot) = fs(spark, target)
    require(versions(thfs, troot).isEmpty, s"clone target $target is not empty")
    val abs = m.files.map(f => shfs.makeQualified(new Path(sroot, f)).toString)
    val absStats = m.files.zip(abs)
      .flatMap { case (f, a) => m.stats.get(f).map(a -> _) }.toMap
    // DV entries absolutize on BOTH sides: the data-file key (matching
    // the cloned file list) and the DV dataset dir (it stays in the
    // source layout — shallow semantics, like the data files)
    val absDvs = m.files.zip(abs).flatMap { case (f, a) =>
      m.dvs.get(f).map(d =>
        a -> shfs.makeQualified(new Path(sroot, d)).toString)
    }.toMap
    val absRows = m.files.zip(abs)
      .flatMap { case (f, a) => m.rowCounts.get(f).map(a -> _) }.toMap
    val absDvCounts = m.files.zip(abs)
      .flatMap { case (f, a) => m.dvCounts.get(f).map(a -> _) }.toMap
    // constraints are TABLE metadata — they carry verbatim (Delta clones
    // carry table properties) and bind the clone's own future writes
    publish(thfs, troot, fullManifest(0L, ts, s"clone(v$v)", m).copy(adds = abs,
      schemaJson = Some(m.schemaJson.getOrElse(h.schema.json)), addStats = absStats,
      addDvs = absDvs, addRows = absRows, addDvCounts = absDvCounts))
    // the source's `_clones/` registry records what the clone references:
    // [[vacuum]] on the source keeps those files until [[releaseCloneRef]]
    // drops the record (the clone deleted, or optimized self-contained)
    writeCloneRecord(shfs, sroot, CloneRecord(target, v, m.dvs.values.toSet, m.files))
    0L
  }

  /** DEEP clone (Delta's default `CLONE`, no SHALLOW): a NEW table at
    * `target` whose v0 manifest references LOCAL COPIES of the source
    * snapshot's data files (and deletion-vector datasets and bloom
    * sidecars) — self-contained from birth: vacuuming or deleting the
    * source can never break it, so no `_clones/` registry record is
    * needed. History is truncated to the fresh v0 (Delta's deep-clone
    * contract); schema, stats, row counts, constraints, generated
    * columns, bloom config, column mapping, partitioning and table
    * PROPERTIES all carry. Copies run on the bounded [[ioPool]] —
    * wall-clock ~files/threads, cost O(data) by definition (this is
    * the backup/promote-to-prod shape; [[cloneTable]] stays the
    * zero-copy dev-fork shape). Deep-cloning a SHALLOW clone re-homes
    * its absolute references under their layout-relative names, so
    * the copy is normal-form regardless of the source's own shape. */
  def cloneTableDeep(spark: SparkSession, source: String, target: String,
      version: Long = -1L, ts: String = "1970-01-01T00:00:00Z"): Long = {
    val h = openHead(spark, source, "clone of", version)
    val Head(_, shfs, sroot, v, m) = h
    val (thfs, troot) = fs(spark, target)
    require(versions(thfs, troot).isEmpty, s"clone target $target is not empty")
    // target-relative name per entry: layout-local entries keep their
    // relative path, absolute entries (the source is itself a shallow
    // clone) re-home under their layout-relative suffix
    val fileMap: Seq[(String, String)] = m.files.map(f => f -> relLayoutName(f))
    require(fileMap.map(_._2).distinct.size == fileMap.size,
      s"deep clone of $source: two source references share a layout name; " +
        "optimize the source self-contained first")
    val dvMap: Map[String, String] =
      m.dvs.values.toSeq.distinct.map(d => d -> relLayoutName(d)).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    def copy(from: Path, to: Path): Unit =
      org.apache.hadoop.fs.FileUtil.copy(shfs, from, thfs, to, false, conf)
    onIoPool(fileMap ++ dvMap) { case (from, to) =>
      copy(new Path(sroot, from), new Path(troot, to))
      // a data file's bloom sidecar, if any, rides along
      val bloom = new Path(sroot, s"$from.bloom")
      if (!dvMap.contains(from) && shfs.exists(bloom)) copy(bloom, new Path(troot, s"$to.bloom"))
    }
    def rekey[A](src: Map[String, A]): Map[String, A] =
      fileMap.flatMap { case (f, r) => src.get(f).map(r -> _) }.toMap
    publish(thfs, troot, fullManifest(0L, ts, s"clone_deep(v$v)", m).copy(
      adds = fileMap.map(_._2), schemaJson = Some(m.schemaJson.getOrElse(h.schema.json)),
      addStats = rekey(m.stats),
      addDvs = rekey(m.dvs).map { case (f, d) => f -> dvMap.getOrElse(d, d) },
      addRows = rekey(m.rowCounts), addDvCounts = rekey(m.dvCounts)))
    0L
  }

  /** Shallow clones recorded against this source: (target, version). */
  def cloneRefs(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val (hfs, root) = fs(spark, path)
    cloneRecords(hfs, root).map { case (_, r) => (r.target, r.version) }
  }

  /** Drop the clone-registry records naming `target` (the clone was
    * deleted, or optimized self-contained), releasing the files it
    * pinned to the next [[vacuum]]. Returns records removed. */
  def releaseCloneRef(spark: SparkSession, path: String, target: String): Int = {
    val (hfs, root) = fs(spark, path)
    cloneRecords(hfs, root).count { case (p, r) => r.target == target && hfs.delete(p, false) }
  }

  /** Bound the MANIFEST LOG itself (Delta's log retention): delete
    * manifests and checkpoints below the newest checkpoint at or under
    * `head − retainVersions + 1` (the ANCHOR). Everything at or above
    * the anchor stays; the anchor's checkpoint carries the resolved
    * state plus the aggregated per-appId txn map, so the retained tail
    * resolves, `lastTxn` stays exact across the cut, and history simply
    * starts at the anchor. Sound because every delta chain is CONTIGUOUS
    * (append/merge/delete base = version − 1; [[rollback]] writes full
    * manifests precisely so no base pointer can jump below the anchor).
    * No checkpoint at or under the cut → no-op (returns 0): the log is
    * never cut where the tail couldn't re-resolve. Complements [[vacuum]]
    * (which bounds DATA files but keeps the log); together they bound a
    * long-lived streaming table's storage AND metadata. Reading an
    * expired version throws (file-not-found), as in Delta after log
    * cleanup. Returns the number of metadata files deleted. */
  def expireLog(spark: SparkSession, path: String, retainVersions: Int = -1): Int = {
    val (hfs, root) = fs(spark, path)
    val vs = versions(hfs, root)
    if (vs.isEmpty) return 0
    // table-declared default (Delta's delta.logRetentionDuration idea):
    // graft.logRetainVersions, else 30; an explicit argument overrides
    val retain =
      if (retainVersions >= 0) retainVersions
      else propInt(propsAt(hfs, root, vs.last), "graft.logRetainVersions")
        .getOrElse(30)
    require(retain >= 1, "must retain at least the latest version")
    val cut = vs.last - retain + 1
    val anchor = checkpoints(hfs, root).filter(_ <= cut).lastOption.getOrElse(return 0)
    var deleted = 0
    vs.filter(_ < anchor).foreach { v =>
      if (hfs.delete(manifestPath(root, v), false)) deleted += 1
    }
    val expired = checkpoints(hfs, root).filter(_ < anchor)
    if (expired.nonEmpty) {
      val dirEntries = hfs.listStatus(new Path(root, CheckpointDir))
        .map(_.getPath)
      expired.foreach { v =>
        val base = checkpointPath(root, v).getName
        // multipart siblings (<base>.pNNNNN) die with their pointer
        dirEntries.filter(p => p.getName == base ||
            p.getName.startsWith(base + ".p"))
          .foreach(p => if (hfs.delete(p, false)) deleted += 1)
      }
    }
    deleted
  }

  /** Delete data files referenced ONLY by versions older than the last
    * `retainVersions` snapshots (plus any orphaned commit directories from
    * crashed/lost-race writers). Manifests are bounded separately by
    * [[expireLog]]; a vacuumed-but-unexpired version stays listable in
    * history, and reading it fails at scan time, as in Delta.
    *
    * `graceMs` is Delta's retention check: a data directory younger than
    * the grace window is NEVER reclaimed even when unreferenced, because
    * "unreferenced" might mean "claim pending" — a [[commitWithRetry]]
    * writer's attempt-unique dir sits unreferenced while its loop
    * re-claims, and an ungated concurrent vacuum would delete the files
    * its eventual manifest points at (silent data loss at read). Pass
    * `graceMs = 0` only when no writer can be in flight (tests,
    * single-writer maintenance windows).
    *
    * CLONE GUARD: files and DV dirs named by the `_clones/` registry
    * ([[cloneTable]] records them) are treated as referenced and never
    * reclaimed, with one stderr warning when the guard actually pinned
    * something — Delta merely DOCUMENTS "vacuuming the source breaks
    * clones"; this matches the documentation with a mechanism. Pass
    * `ignoreClones = true` (or [[releaseCloneRef]] first) to reclaim
    * anyway when the clones are known dead.
    *
    * Driver-side metadata diff; returns the deleted file count.
    *
    * Defaults read FROM THE TABLE: `retainVersions < 0` (the default)
    * resolves the table's `graft.retainVersions` property (else 2), and
    * `graceMs < 0` resolves `graft.vacuumGraceHours` (else 7 days) — so
    * two sessions with different JVM configs apply the SAME
    * table-declared retention; explicit arguments override. */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = -1,
      graceMs: Long = -1L,
      ignoreClones: Boolean = false): Int =
    vacuumImpl(spark, path, retainVersions, graceMs, ignoreClones,
      dryRun = false)

  /** Shared walk behind [[vacuum]] and [[vacuumReclaimable]]: one
    * reference/grace decision, so DRY RUN can never report a different
    * file set than the deletion it previews. */
  private[sources] def vacuumImpl(spark: SparkSession, path: String,
      retainVersions0: Int, graceMs0: Long, ignoreClones: Boolean,
      dryRun: Boolean): Int = {
    val (hfs, root) = fs(spark, path)
    val vs = versions(hfs, root)
    if (vs.isEmpty) return 0
    // table-declared policy fills unspecified arguments (Delta reads
    // deletedFileRetentionDuration from table properties the same way)
    val props = propsAt(hfs, root, vs.last)
    val retainVersions =
      if (retainVersions0 >= 0) retainVersions0
      else propInt(props, "graft.retainVersions").getOrElse(2)
    val graceMs =
      if (graceMs0 >= 0) graceMs0
      else propHoursMs(props, "graft.vacuumGraceHours")
        .getOrElse(7L * 24 * 3600 * 1000)
    require(retainVersions >= 1, "must retain at least the latest version")
    val retained = vs.takeRight(retainVersions).map(readManifest(hfs, root, _))
    val (cloneFiles, cloneDvDirs) =
      if (ignoreClones) (Set.empty[String], Set.empty[String])
      else {
        val records = cloneRecords(hfs, root).map(_._2)
        (records.flatMap(_.files).toSet, records.flatMap(_.dvDirs).toSet)
      }
    val mReferenced = retained.flatMap(_.files).toSet
    val cloneOnly = cloneFiles -- mReferenced
    if (cloneOnly.nonEmpty)
      System.err.println(s"[vacuum] $path: keeping ${cloneOnly.size} file(s) " +
        "referenced only by recorded shallow clones (releaseCloneRef or " +
        "ignoreClones = true to reclaim)")
    val referenced = mReferenced ++ cloneFiles
    // deletion-vector datasets referenced by retained versions survive
    // whole (their parquet files are position data, not table data)
    val refDvDirs = retained.flatMap(_.dvs.values).toSet ++ cloneDvDirs
    val filesDir = new Path(root, "files")
    if (!hfs.exists(filesDir)) return 0
    val cutoff = System.currentTimeMillis() - graceMs
    // entries are walked RECURSIVELY: a partitioned commit dir nests its
    // parquet files under `p__col=value` subdirectories, and a flat
    // one-level listing would see only unreferenced directory names —
    // misreading a live commit dir as reclaimable
    def walkFiles(dir: Path, rel: String): Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      hfs.listStatus(dir).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (s.isDirectory) walkFiles(s.getPath, s"$rel/$n")
        else Seq((s, s"$rel/$n"))
      }
    // the reference/grace DECISION is driver-side metadata; the DELETE
    // round-trips run on the bounded [[ioPool]] — a vacuum reclaiming
    // thousands of files costs ~files/threads wall-clock, not a serial
    // filesystem call per file (Delta runs its vacuum deletes as a
    // parallel job for the same reason)
    val deleteTasks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    var deleted = 0
    hfs.listStatus(filesDir).filter { cdir =>
      !refDvDirs.contains(s"files/${cdir.getPath.getName}")
    }.foreach { cdir =>
      val rel = s"files/${cdir.getPath.getName}"
      val entries = walkFiles(cdir.getPath, rel)
      val keep = entries.filter { case (_, r) => referenced.contains(r) }
      if (keep.isEmpty) {
        // whole commit dir unreferenced (vacuumed version, orphaned or
        // in-flight write) — reclaim only past the retention window
        if (cdir.getModificationTime < cutoff &&
            entries.forall(_._1.getModificationTime < cutoff)) {
          deleted += entries
            .count { case (f, _) => f.isFile && f.getPath.getName.endsWith(".parquet") }
          if (!dryRun) deleteTasks += (() => { hfs.delete(cdir.getPath, true); () })
        }
      } else {
        entries.foreach { case (f, r) =>
          if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
              !referenced.contains(r) &&
              f.getModificationTime < cutoff) {
            deleted += 1
            if (!dryRun) deleteTasks += (() => {
              hfs.delete(f.getPath, false)
              // its bloom sidecar, if any, dies with it
              hfs.delete(new Path(f.getPath.toString + ".bloom"), false)
              ()
            })
          }
        }
      }
    }
    onIoPool(deleteTasks.toSeq)(_())
    deleted
  }

  /** Count of data files [[vacuum]] WOULD reclaim (Delta's
    * `VACUUM ... DRY RUN`) — exactly the files a real vacuum with the
    * SAME `retainVersions`/`graceMs` deletes, via the shared
    * [[vacuumImpl]] walk (the grace window applies: a fresh table's
    * dead files are NOT reported reclaimable until they age past it,
    * matching what `VACUUM` would actually do today — Delta's DRY RUN
    * contract). Pass `graceMs = 0` to ask "what is dead" regardless of
    * age. */
  def vacuumReclaimable(spark: SparkSession, path: String,
      retainVersions: Int = -1,
      graceMs: Long = -1L): Int =
    vacuumImpl(spark, path, retainVersions, graceMs, ignoreClones = false,
      dryRun = true)
}
