package graft.sources

/** Snapshot-versioned parquet table: the Delta-lake surface the reference
  * actually relies on (delta_utils.py:14-50 uses read + overwrite only)
  * PLUS the history / time-travel / rollback / vacuum operations its
  * Delta storage would offer — re-expressed storage-agnostically over
  * plain parquet with a manifest log, so [[Sinks]]' "out of scope" gap is
  * closed instead of documented away.
  *
  * Layout:
  * {{{
  *   table/
  *     _manifests/v00000000.manifest     # one per committed snapshot
  *     _checkpoints/v00000010.checkpoint # full state every K commits
  *     files/c00000000-xxxx/part-*.parquet  # data files, NEVER rewritten
  * }}}
  *
  * A manifest is a plain text file — `key=value` header lines then one
  * relative data-file path per line (no JSON library needed, greppable
  * on the cluster). Manifests come in two shapes:
  *
  *   - FULL (overwrite/optimize): the body lists the whole snapshot.
  *   - DELTA (`base=<version>` header — append/merge/delete/rollback):
  *     the body lists only ADDED files, `rm=<path>` header lines list
  *     removals, and the snapshot is base's state with those applied.
  *     An append manifest is therefore O(batch files) no matter how
  *     large the table — per-commit log cost is flat in commit count
  *     (Delta's incremental add/remove actions).
  *
  * {{{
  *   version=3
  *   ts=2026-08-14T00:00:00Z
  *   op=merge
  *   base=2
  *   rm=files/c00000001-ab12cd34/part-0000.parquet
  *   fstat=files/c00000003-9f00aa11/part-0000.parquet|id:1:50
  *   files/c00000003-9f00aa11/part-0000.parquet
  * }}}
  *
  * CHECKPOINTS (Delta's `_last_checkpoint` design): resolving a delta
  * manifest walks its `base` chain, so after every `checkpointInterval`
  * commits the committer also writes `_checkpoints/vNNNNNNNN.checkpoint`
  * — the fully resolved state (file list + stats + schema) plus the
  * aggregated per-appId max streaming batch id (`txnmax=` lines). Chain
  * walks stop at the nearest checkpoint, so [[readVersion]] and
  * [[lastTxn]] open at most 1 + K metadata files regardless of how many
  * commits the table has seen (spec-asserted via [[metadataOpens]]) —
  * without this, a long-lived [[graft.streaming.Streams.toVersionedSink]]
  * stream would pay O(#versions) manifest reads per micro-batch.
  * Checkpoints are derived data: a missing one (crash between commit and
  * checkpoint) only lengthens the walk to the previous checkpoint.
  *
  * COMMIT PROTOCOL (optimistic concurrency, the Delta log trick): data
  * files land first under a version-owned directory, then the manifest
  * is written to a temp name and atomically CLAIMED as
  * `v<next>.manifest`. The claim primitive is per-filesystem, chosen
  * from the RESOLVED FileSystem class (not the raw path scheme, which
  * is empty for scheme-less paths whatever fs.defaultFS says): on HDFS,
  * `rename` onto an existing destination fails, so rename-if-absent is
  * the guard; on LOCAL filesystems Hadoop's rename delegates to POSIX
  * rename(2), which OVERWRITES an existing destination — there the
  * claim is a hard link (`link(2)` fails with EEXIST atomically), so
  * the guarantee holds on both. Either way, of two racing writers
  * targeting the same version exactly one commits; the loser's
  * exception tells it to re-read the log and retry on top of the winner
  * (its orphaned data directory is reclaimed by [[vacuum]]). On S3
  * (no atomic rename OR link) this needs a coordination layer, exactly
  * as Delta-on-S3 needs LogStore — documented, not hidden.
  *
  * REWRITES ([[Snapshots]], `Snapshots.scala`; the faces in [[Dml]] and
  * [[Maintenance]]): every face that replaces data files — the
  * copy-on-write DML faces (`delete`, `update`, `merge`, `mergeClauses`,
  * `replaceWhere`), the maintenance faces (`optimize`, `optimizeWhere`,
  * `compactSmall`, `reorgPurge`) and the merge-on-read faces' post-images
  * and folds — runs ONE skeleton. The head snapshot is opened once per
  * operation ([[Head]]: the resolved manifest and its schema, never
  * re-resolved mid-operation); the rewrite frame is written as one new
  * data dir by [[Head.rewrite]] (physical column names, the partition
  * layout, footer stats, row counts, bloom sidecars). A face supplies
  * only what differs: its stats candidate filter ([[Head.candidates]],
  * the one file-skipping evaluator of [[FileSkipping]]), its touched-file
  * discovery scan ([[Head.touched]]), its rewrite frame, and its commit —
  * [[Head.commitDml]] with the face's [[publishDml]] conflict predicate,
  * or [[Head.commitRewrite]] for maintenance. The two merge-on-read faces
  * also share the deletion-vector write / fold / commit
  * ([[commitVectors]]).
  *
  * APPENDS ([[Dml]], `Dml.scala`): the three append faces — `commit` in append mode (its
  * overwrite arm shares the same prelude), `commitIfNew` and
  * `commitWithRetry` — run ONE sequence ([[commitInternal]]): generated
  * and identity columns fill in against the head the batch read, the
  * batch is validated against that head (schema-on-write, type
  * widening, CHECK constraints, retired physical names, partitioning)
  * BEFORE any data lands, written once ([[writeBatch]]) and claimed as
  * the next version. `commit` and `commitIfNew` claim once; a
  * `commitWithRetry` claim lost to a concurrent writer re-validates the
  * same batch against the moved head and re-claims the same files. A
  * rejected batch therefore fails with the same exception on every face
  * and writes nothing. Every face opens its snapshot once
  * ([[openSnapshot]]); metadata-only commits (constraints, generated and
  * identity columns, properties, bloom config, rename/drop, fsck) go
  * through [[Head.commitMeta]].
  *
  * The object is one name over six files, one per concern: the log and
  * its line format ([[TableLog]]), the stats encoding and file skipping
  * ([[FileSkipping]]), snapshot reads ([[Snapshots]]), appends and DML
  * ([[Dml]]), maintenance ([[Maintenance]]), and schema and table
  * metadata ([[TableSchema]]).
  *
  * Scale notes: every operation here is DRIVER-SIDE METADATA except the
  * data write itself — `history` folds manifest headers (never data),
  * `readVersion` hands Spark an explicit file list (footer-pruned,
  * pushdown intact — the scan plans exactly like a plain parquet read),
  * `rollback` writes one delta manifest re-pointing at the old snapshot
  * (zero data copied, Delta RESTORE semantics), `vacuum` diffs the
  * referenced set against a directory listing. Commit-time stats come
  * from parquet FOOTERS read on a local thread pool (bounded
  * parallelism, no data pages), so a wide commit's stats cost is
  * ~files/threads, not files, round-trips.
  *
  * Timestamps are caller-supplied (`ts`), not wall-clock, at THIS
  * library layer: replaying a pipeline reproduces the log
  * byte-for-byte, and `readAsOf` is deterministic in tests. Pass
  * ingestion batch time in production — or [[TsNow]], the wall-clock
  * sentinel every USER-FACING face (format writer, SQL commands,
  * [[GraftTable]], the streaming sink) defaults to, so tables built
  * through those faces always carry current, strictly-ordered commit
  * timestamps.
  */
object VersionedTable extends TableLog with FileSkipping with Snapshots with Dml
    with Maintenance with TableSchema {

  /** Signals a lost optimistic-concurrency race: another writer committed
    * the same version first. Re-read the log and retry on top. */
  final class ConcurrentCommitException(v: Long) extends RuntimeException(
    s"version $v was committed by a concurrent writer; re-read and retry")

  /** Appending a frame whose columns don't match the current snapshot is
    * schema drift: rejected (Delta's schema-on-write) unless the caller
    * opts into evolution with `mergeSchema = true`. */
  final class SchemaMismatchException(msg: String) extends RuntimeException(msg)

  final class ConstraintViolationException(name: String, expression: String,
      path: String) extends RuntimeException(
    s"CHECK constraint $name ($expression) violated by incoming rows at $path")

  /** An identity column's declaration and high-water mark, kept in the
    * `graft.identity.<col>` table property ([[addIdentityColumn]]). */
  final case class IdentitySpec(start: Long, step: Long, always: Boolean,
      highWaterMark: Option[Long]) {
    /** Next value floor: one step past the last assigned (or start). */
    private[sources] def base: Long =
      highWaterMark.fold(start - step)(identity)
  }

  /** One WHEN clause of a full MERGE ([[mergeClauses]]). Conditions and
    * assignment expressions are SQL over two struct aliases: `t` (the
    * current target row) and `s` (the matching source row) — e.g.
    * `"s.ts > t.ts"`, `set = Map("value" -> "t.value + s.delta")`. */
  sealed trait MergeAction
  object MergeAction {
    /** WHEN [NOT] MATCHED [AND cond] THEN UPDATE SET ...; an empty
      * `set` is UPDATE ALL — every target column the source carries
      * takes `s.<col>`, the rest keep `t.<col>`. */
    final case class Update(condition: Option[String] = None,
        set: Map[String, String] = Map.empty) extends MergeAction
    /** WHEN [NOT] MATCHED [AND cond] THEN DELETE. */
    final case class Delete(condition: Option[String] = None) extends MergeAction
    /** WHEN NOT MATCHED [AND cond] THEN INSERT (...); empty `values` is
      * INSERT ALL — schema columns the source carries take `s.<col>`,
      * generated columns compute, the rest read NULL. */
    final case class Insert(condition: Option[String] = None,
        values: Map[String, String] = Map.empty) extends MergeAction

    private[sources] def condOf(a: MergeAction): Option[String] = a match {
      case Update(c, _) => c
      case Delete(c) => c
      case Insert(c, _) => c
    }
  }
}
