package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, collect_set, concat, count, explode, expr, input_file_name, lit, monotonically_increasing_id, pmod, regexp_extract, struct, when, xxhash64}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, ByteType, DataType, DateType, IntegerType, LongType, MapType, NumericType, ShortType, StringType, StructField, StructType, TimestampType}

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
  * REWRITES: every face that replaces data files — the copy-on-write
  * DML faces (`delete`, `update`, `merge`, `mergeClauses`,
  * `replaceWhere`), the maintenance faces (`optimize`, `optimizeWhere`,
  * `compactSmall`, `reorgPurge`) and the merge-on-read faces' post-images
  * and folds — runs ONE skeleton. The head snapshot is opened once per
  * operation ([[Head]]: the resolved manifest and its schema, never
  * re-resolved mid-operation); the rewrite frame is written as one new
  * data dir by [[Head.rewrite]] (physical column names, the partition
  * layout, footer stats, row counts, bloom sidecars). A face supplies
  * only what differs: its stats candidate filter, its touched-file
  * discovery scan ([[Head.touched]]), its rewrite frame, and its commit —
  * [[Head.commitDml]] with the face's [[publishDml]] conflict predicate,
  * or [[Head.commitRewrite]] for maintenance. The two merge-on-read faces
  * also share the deletion-vector write / fold / commit
  * ([[commitVectors]]).
  *
  * APPENDS: the three append faces — `commit` in append mode (its
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
object VersionedTable {

  private val ManifestDir = "_manifests"
  private val CheckpointDir = "_checkpoints"

  /** Sentinel commit timestamp: resolve to the WALL CLOCK at
    * manifest-write time, nudged 1 ms past the previous commit when the
    * clock reads at-or-before it — `DESCRIBE HISTORY` stays strictly
    * ordered across rapid commits and `TIMESTAMP AS OF` / `RESTORE TO
    * TIMESTAMP AS OF` resolve between them (Delta's in-commit-timestamp
    * monotonicity). This is the DEFAULT on every user-facing write
    * face (the `format("graft")` batch writer, SQL INSERT/CTAS/DML/
    * maintenance commands, [[GraftTable]]'s fluent API, the streaming
    * sink): an epoch-anchored default there would make every commit
    * look 56 years stale, vacuously passing every age-based retention
    * cutoff. The library-core methods keep their deterministic epoch
    * default (the replay-a-pipeline contract documented above) —
    * fixtures and tests pass explicit timestamps either way. */
  val TsNow: String = "now"

  /** Fixed-width (millisecond) ISO instant, so wall-clock stamps also
    * order lexicographically among themselves. */
  private val TsNowFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Resolve a [[TsNow]] sentinel against the table head — called at
    * the single manifest-write choke point ([[commitManifest]]), so a
    * retried/re-pointed commit re-stamps with a fresh clock read. */
  private def resolveTsNow(hfs: FileSystem, root: Path, m: RawManifest): RawManifest =
    if (m.ts != TsNow) m
    else {
      val prevTs = versions(hfs, root).lastOption
        .flatMap(v => scala.util.Try(readRaw(hfs, root, v).ts).toOption)
        .flatMap(GraftTable.parseTs)
      val now = java.time.Instant.now()
      val stamped = prevTs.map(_.plusMillis(1)).filter(_.isAfter(now)).getOrElse(now)
      m.copy(ts = TsNowFmt.format(stamped))
    }

  /** Checkpoint cadence: a full-state checkpoint lands every K commits,
    * bounding every chain walk (and [[lastTxn]]'s tail scan) at K. */
  private[graft] val checkpointInterval = 10

  /** Count of manifest/checkpoint files opened — the spec-visible meter
    * for the O(1 + K) metadata-read guarantee. */
  private[graft] val metadataOpens = new AtomicLong(0L)

  /** The table's manifest-log directory — the CDF streaming source
    * ([[graft.streaming.Streams.changesStream]]) points Spark's file
    * stream at it: each committed version is exactly one new immutable
    * file there (atomic publish; checkpoints live in a SEPARATE
    * directory so the invariant holds), so the file source's discovery
    * sequence IS the commit sequence and its checkpoint tracks which
    * versions a consumer has processed. */
  private[graft] def manifestLogDir(path: String): String =
    s"$path/$ManifestDir"

  private def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%08d.manifest")

  private def checkpointPath(root: Path, v: Long): Path =
    new Path(new Path(root, CheckpointDir), f"v$v%08d.checkpoint")

  /** Max file entries per checkpoint PART file. A snapshot larger than
    * this splits into ceil(files / limit) part files, each carrying its
    * chunk's stat/row/path lines, with the claimed main checkpoint
    * holding only the global header plus a `parts=N` pointer — so the
    * per-write string the driver builds is bounded by the PART size, not
    * the table size (the single-file design's measured ~300 B/file
    * ceiling at multi-million-file tables; Delta's multi-part checkpoint
    * motivation). Snapshots at or under the limit keep the one-file
    * layout byte-compatible with older logs. Sysprop seam
    * `graft.checkpointPartLimit` lets specs/stress force tiny parts. */
  private[graft] def checkpointPartLimit: Int =
    sys.props.get("graft.checkpointPartLimit").map(_.trim.toInt)
      .getOrElse(50000)

  private def checkpointPartPath(target: Path, i: Int): Path =
    new Path(target.getParent, f"${target.getName}.p$i%05d")

  /** Resolved snapshot state: (version, ts, op, the FULL relative
    * data-file list, an optional streaming transaction marker
    * `appId -> batchId`, the snapshot's logical schema as Spark DataType
    * JSON — recorded so an EMPTY snapshot (delete-all, empty-batch
    * commit) stays readable and the append schema check never depends on
    * one file's footer — and per-file column min/max STATS (Delta's
    * add-file stats) in the manifest encoding (see [[footerStats]]). */
  /** `colMap` (logical → PHYSICAL column name) and `retired` (physical
    * names permanently blocked for reuse) are the COLUMN MAPPING state
    * (Delta's column mapping in name mode, re-derived): physical names
    * are what parquet files store and never change once assigned, so
    * [[renameColumn]]/[[dropColumn]] are metadata-only commits — zero
    * files rewritten. Empty maps = unmapped table (every name is its
    * own physical; the fast path all pre-mapping tables stay on). */
  private case class Manifest(version: Long, ts: String, op: String,
      files: Seq[String], txn: Option[(String, Long)] = None,
      schemaJson: Option[String] = None,
      stats: Map[String, Map[String, (String, String)]] = Map.empty,
      dvs: Map[String, String] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      bloomCfg: Option[(Seq[String], Int)] = None,
      colMap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      gens: Map[String, String] = Map.empty,
      pcols: Seq[String] = Seq.empty,
      rowCounts: Map[String, Long] = Map.empty,
      dvCounts: Map[String, Long] = Map.empty,
      props: Map[String, String] = Map.empty) {
    /** The partition columns in LOGICAL names (`pcols` are physical —
      * rename-proof; this maps them back). */
    def logicalPcols: Seq[String] = {
      val rev = colMap.map(_.swap)
      pcols.map(p => rev.getOrElse(p, p))
    }
  }

  /** One manifest FILE as written: full (base = None, adds = the whole
    * snapshot) or delta (adds/removes applied to base's state).
    * `addDvs` — deletion-vector entries SET at this version (data file →
    * DV dataset dir, `dv=` lines): an entry REPLACES the file's previous
    * one (the new DV is a superset by construction — Delta's DV
    * semantics), and a removed file's entry drops with the file. Every
    * field past `op` defaults to "nothing": a commit names only what it
    * records. */
  private case class RawManifest(version: Long, ts: String, op: String,
      base: Option[Long] = None, adds: Seq[String] = Seq.empty,
      removes: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None, schemaJson: Option[String] = None,
      addStats: Map[String, Map[String, (String, String)]] = Map.empty,
      addDvs: Map[String, String] = Map.empty,
      addConstraints: Map[String, String] = Map.empty,
      dropConstraints: Set[String] = Set.empty,
      bloomCfg: Option[(Seq[String], Int)] = None,
      mapState: Option[(Map[String, String], Set[String])] = None,
      addGens: Map[String, String] = Map.empty,
      dropGens: Set[String] = Set.empty,
      pcolsLine: Option[Seq[String]] = None,
      addRows: Map[String, Long] = Map.empty,
      addDvCounts: Map[String, Long] = Map.empty,
      propsState: Option[Map[String, String]] = None)

  private def parseGenLines(headerLines: Seq[String]): Map[String, String] =
    // one `gen=<col>|<hex of the SQL expression>` line per generated
    // column — the ck= encoding applied to Delta's GENERATED ALWAYS AS
    headerLines.filter(_.startsWith("gen=")).flatMap { l =>
      l.stripPrefix("gen=").split('|') match {
        case Array(n, e) => Some(n -> new String(hexDecode(e), "UTF-8"))
        case _ => None
      }
    }.toMap

  private def genLines(gens: Map[String, String]): Seq[String] =
    gens.toSeq.sortBy(_._1).map { case (n, e) =>
      s"gen=$n|${hexEncode(e.getBytes("UTF-8"))}" }

  /** Column-mapping lines: a `cmv=1` marker makes this manifest's
    * `cm=<logical>|<physical>` and `cmrt=<physical>` lines the FULL
    * authoritative state (rename/drop commits and full manifests write
    * it); absence means a delta manifest inherits its base's state. The
    * marker disambiguates "no lines = inherit" from "no lines = the map
    * became empty again" (a rename back to the original name). */
  private def parseMapState(headerLines: Seq[String])
      : Option[(Map[String, String], Set[String])] =
    if (!headerLines.contains("cmv=1")) None
    else Some((
      headerLines.filter(_.startsWith("cm=")).flatMap { l =>
        l.stripPrefix("cm=").split('|') match {
          case Array(lg, ph) => Some(lg -> ph)
          case _ => None
        }
      }.toMap,
      headerLines.filter(_.startsWith("cmrt="))
        .map(_.stripPrefix("cmrt=")).toSet))

  private def mapStateLines(st: Option[(Map[String, String], Set[String])])
      : Seq[String] = st match {
    case Some((cm, rt)) =>
      Seq("cmv=1") ++
        cm.toSeq.sortBy(_._1).map { case (l, p) => s"cm=$l|$p" } ++
        rt.toSeq.sorted.map(p => s"cmrt=$p")
    case None => Seq.empty
  }

  /** TABLE PROPERTIES (Delta's `TBLPROPERTIES`, re-derived for the
    * line format): a `prv=1` marker makes this manifest's
    * `prop=<key>|<hex of value>` lines the FULL authoritative property
    * state (SET/UNSET commits and full manifests write it); absence
    * means a delta manifest inherits its base's state — exactly the
    * column-mapping `cmv=` pattern. Properties are TABLE metadata: the
    * table's own policy (retention, vacuum grace, checkpoint cadence,
    * auto-compaction) travels IN the manifest, so two writers with
    * different JVM configs apply the same policy, and checkpoints,
    * clones and rollbacks carry it. */
  private def parsePropsState(headerLines: Seq[String])
      : Option[Map[String, String]] =
    if (!headerLines.contains("prv=1")) None
    else Some(headerLines.filter(_.startsWith("prop=")).flatMap { l =>
      l.stripPrefix("prop=").split('|') match {
        case Array(k, v) => Some(k -> new String(hexDecode(v), "UTF-8"))
        case Array(k) => Some(k -> "") // empty value hex-encodes to ""
        case _ => None
      }
    }.toMap)

  private def propsLines(st: Option[Map[String, String]]): Seq[String] = st match {
    case Some(ps) => Seq("prv=1") ++ ps.toSeq.sortBy(_._1).map { case (k, v) =>
      s"prop=$k|${hexEncode(v.getBytes("UTF-8"))}" }
    case None => Seq.empty
  }

  /** Parse the `bloomcfg=<cols csv>|<mBits>` table-metadata line — the
    * persisted bloom index config ([[setBloomIndex]]). Like `ck=`
    * constraints, the config is TABLE metadata: delta manifests inherit
    * it through `base`, so every write path knows which columns to
    * sidecar-index without the caller restating them. */
  private def parseBloomCfgLine(headerLines: Seq[String])
      : Option[(Seq[String], Int)] =
    headerLines.find(_.startsWith("bloomcfg=")).flatMap { l =>
      l.stripPrefix("bloomcfg=").split('|') match {
        case Array(cols, m) =>
          val cs = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          if (cs.isEmpty) None else scala.util.Try(cs -> m.toInt).toOption
        case _ => None
      }
    }

  private def bloomCfgLine(cfg: Option[(Seq[String], Int)]): Seq[String] =
    cfg.map { case (cols, m) => s"bloomcfg=${cols.mkString(",")}|$m" }.toSeq

  /** `pcols=<csv>` — the table's partition columns (hive-style value
    * directories under each commit's data dir), in PHYSICAL names:
    * directory names are as immutable as the files under them, so
    * column mapping renames a partition column freely while the layout
    * stands. Table metadata like `ck=`/`bloomcfg=`: full manifests
    * carry the line, delta manifests inherit it through `base`. */
  private def splitPcols(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def pcolsLines(p: Seq[String]): Seq[String] =
    if (p.isEmpty) Seq.empty else Seq(s"pcols=${p.mkString(",")}")

  private def parseStatsLines(headerLines: Seq[String])
      : Map[String, Map[String, (String, String)]] =
    // one `fstat=<path>|col:min:max|col2:min:max` line per stats-bearing
    // file — line-oriented and greppable, like the rest of the format
    headerLines.filter(_.startsWith("fstat=")).map { l =>
      val parts = l.stripPrefix("fstat=").split('|')
      parts.head -> parts.tail.flatMap { t =>
        t.split(':') match {
          case Array(c, mn, mx) => Some(c -> (mn, mx))
          case _ => None
        }
      }.toMap
    }.toMap

  private def parseDvLines(headerLines: Seq[String]): Map[String, String] =
    // one `dv=<datafile>|<dvdir>[|<positions>]` line per
    // deletion-vectored file; the optional third field is the vector's
    // position count, recorded so [[rowCount]] subtracts it without
    // opening the vector dataset
    headerLines.filter(_.startsWith("dv=")).flatMap { l =>
      l.stripPrefix("dv=").split('|') match {
        case Array(f, d) => Some(f -> d)
        case Array(f, d, _) => Some(f -> d)
        case _ => None
      }
    }.toMap

  private def parseDvCountLines(headerLines: Seq[String]): Map[String, Long] =
    headerLines.filter(_.startsWith("dv=")).flatMap { l =>
      l.stripPrefix("dv=").split('|') match {
        case Array(f, _, n) => scala.util.Try(f -> n.toLong).toOption
        case _ => None
      }
    }.toMap

  /** `fr=<file>|<rows>` — per-file footer row count, recorded at write
    * time so COUNT(*)-class reads ([[rowCount]], [[countWhere]]) are
    * manifest-only at any table size. */
  private def parseRowLines(headerLines: Seq[String]): Map[String, Long] =
    headerLines.filter(_.startsWith("fr=")).flatMap { l =>
      l.stripPrefix("fr=").split('|') match {
        case Array(f, n) => scala.util.Try(f -> n.toLong).toOption
        case _ => None
      }
    }.toMap

  private def rowLines(files: Seq[String], rows: Map[String, Long]): Seq[String] =
    files.flatMap(f => rows.get(f).map(n => s"fr=$f|$n"))

  private def parseConstraintLines(headerLines: Seq[String]): Map[String, String] =
    // one `ck=<name>|<hex of the SQL expression>` line per constraint —
    // hex keeps arbitrary SQL text safe in the line format
    headerLines.filter(_.startsWith("ck=")).flatMap { l =>
      l.stripPrefix("ck=").split('|') match {
        case Array(n, e) => Some(n -> new String(hexDecode(e), "UTF-8"))
        case _ => None
      }
    }.toMap

  /** A manifest/checkpoint/clone-record HEADER line: `key=value` over
    * the format's CLOSED key set. Body lines are file paths, which on a
    * partitioned table contain `=` themselves (`p__col=value` directory
    * segments), so "contains '='" is NOT a valid header/body split. */
  private val HeaderLineRe = java.util.regex.Pattern.compile(
    "^(?:version|ts|op|base|txn|txnmax|schema|rm|fstat|dv|ck|ckrm|" +
      "bloomcfg|cmv|cm|cmrt|gen|genrm|pcols|target|dvref|fr|parts|nfiles|" +
      "reader|prv|prop)=")
  private def isHeaderLine(l: String): Boolean =
    HeaderLineRe.matcher(l).find()

  /** Highest `reader=` protocol version this library resolves — the
    * minimum-reader feature gate (Delta's reader protocol version,
    * re-derived for the line format): a metadata file written by a
    * LATER format generation carries `reader=N` with N above this, and
    * every read path rejects it with a clear upgrade error instead of
    * misparsing new header kinds as body file paths. Version 2 = the
    * multi-part checkpoint + TBLPROPERTIES generation: `parts=` pointer
    * files AND any manifest/checkpoint carrying `prv=`/`prop=` lines
    * write the marker. Metadata with neither feature stays unmarked and
    * byte-compatible with every reader ever shipped; property-bearing
    * tables are, by construction, unreadable by pre-gate jars (the
    * marker makes that a loud upgrade error, not a misparse, for every
    * jar that understands the gate). */
  private[graft] val SupportedReaderVersion = 2

  private def checkReaderVersion(hdr: Map[String, String], p: Path): Unit =
    hdr.get("reader").map(_.trim.toInt).filter(_ > SupportedReaderVersion)
      .foreach { r =>
        throw new IllegalStateException(
          s"$p was written by a newer format generation (reader=$r; this " +
            s"library reads up to $SupportedReaderVersion) — upgrade the " +
            "graft library to read this table")
      }

  private def readLines(hfs: FileSystem, p: Path): Seq[String] = {
    metadataOpens.incrementAndGet()
    val in = hfs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  private def readRaw(hfs: FileSystem, root: Path, v: Long): RawManifest = {
    val lines = readLines(hfs, manifestPath(root, v))
    val headerLines = lines.takeWhile(isHeaderLine)
    val hdr = headerLines
      .filterNot(l => l.startsWith("fstat=") || l.startsWith("rm=") ||
        l.startsWith("dv=") || l.startsWith("ck=") || l.startsWith("ckrm=") ||
        l.startsWith("bloomcfg=") || l.startsWith("cm") /* cm=/cmrt=/cmv= */ ||
        l.startsWith("gen=") || l.startsWith("genrm=") || l.startsWith("fr=") ||
        l.startsWith("prop=") || l.startsWith("prv="))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    checkReaderVersion(hdr, manifestPath(root, v))
    val txn = hdr.get("txn").map { t =>
      val i = t.lastIndexOf(':')
      (t.substring(0, i), t.substring(i + 1).toLong)
    }
    RawManifest(hdr("version").toLong, hdr("ts"), hdr("op"),
      hdr.get("base").map(_.toLong),
      lines.dropWhile(isHeaderLine),
      headerLines.filter(_.startsWith("rm=")).map(_.stripPrefix("rm=")),
      txn, hdr.get("schema"), parseStatsLines(headerLines),
      parseDvLines(headerLines), parseConstraintLines(headerLines),
      headerLines.filter(_.startsWith("ckrm="))
        .map(_.stripPrefix("ckrm=")).toSet,
      parseBloomCfgLine(headerLines),
      parseMapState(headerLines),
      parseGenLines(headerLines),
      headerLines.filter(_.startsWith("genrm="))
        .map(_.stripPrefix("genrm=")).toSet,
      hdr.get("pcols").map(splitPcols),
      parseRowLines(headerLines), parseDvCountLines(headerLines),
      parsePropsState(headerLines))
  }

  /** A checkpoint file, if one exists for exactly `v`: the resolved
    * snapshot plus the per-appId max batch id over versions ≤ v. */
  private def readCheckpoint(hfs: FileSystem, root: Path, v: Long)
      : Option[(Manifest, Map[String, Long])] = {
    val p = checkpointPath(root, v)
    if (!hfs.exists(p)) None
    else {
      val mainLines = readLines(hfs, p)
      // feature gate FIRST: a pointer from a newer format generation
      // must fail with the upgrade error before any line is interpreted
      checkReaderVersion(mainLines.collect {
        case l if l.startsWith("reader=") => "reader" -> l.stripPrefix("reader=")
      }.toMap, p)
      // a multi-part checkpoint's main file carries `parts=N` and no
      // file list; each part contributes its chunk's stat/row/path
      // lines, so classification is by prefix (filter), not position
      val lines = mainLines.collectFirst {
        case l if l.startsWith("parts=") => l.stripPrefix("parts=").toInt
      } match {
        case None => mainLines
        case Some(n) =>
          // order-preserving parallel read on the bounded ioPool: the
          // file-list order must stay deterministic across resolves
          implicit val ec: scala.concurrent.ExecutionContext = ioPool
          mainLines ++ scala.concurrent.Await.result(
            scala.concurrent.Future.sequence((0 until n).map(i =>
              scala.concurrent.Future(readLines(hfs, checkpointPartPath(p, i))))),
            ioWait).flatten
      }
      val headerLines = lines.filter(isHeaderLine)
      val hdr = headerLines
        .filterNot(l => l.startsWith("fstat=") || l.startsWith("txnmax=") ||
          l.startsWith("dv=") || l.startsWith("ck=") ||
          l.startsWith("bloomcfg=") || l.startsWith("cm") ||
          l.startsWith("gen=") || l.startsWith("fr=") ||
          l.startsWith("prop=") || l.startsWith("prv="))
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap
      val txnmax = headerLines.filter(_.startsWith("txnmax=")).map { l =>
        val t = l.stripPrefix("txnmax=")
        val i = t.lastIndexOf(':')
        t.substring(0, i) -> t.substring(i + 1).toLong
      }.toMap
      val (ckCm, ckRt) = parseMapState(headerLines)
        .getOrElse((Map.empty[String, String], Set.empty[String]))
      val body = lines.filterNot(isHeaderLine)
      // multi-part pointers record their expected file count: stale or
      // missing parts must fail loudly, never resolve a truncated list
      hdr.get("nfiles").map(_.toLong).foreach(n => require(body.size == n,
        s"checkpoint $p resolves ${body.size} files, expected $n — " +
          "stale or missing part files"))
      Some((Manifest(hdr("version").toLong, hdr("ts"), hdr("op"),
        body, None, hdr.get("schema"),
        parseStatsLines(headerLines), parseDvLines(headerLines),
        parseConstraintLines(headerLines),
        parseBloomCfgLine(headerLines), ckCm, ckRt,
        parseGenLines(headerLines),
        hdr.get("pcols").map(splitPcols).getOrElse(Seq.empty),
        parseRowLines(headerLines), parseDvCountLines(headerLines),
        parsePropsState(headerLines).getOrElse(Map.empty)), txnmax))
    }
  }

  /** Resolve version `v`'s full snapshot state: checkpoint fast path,
    * else apply the raw manifest to its recursively resolved base. The
    * walk is ≤ [[checkpointInterval]] reads — every append chain crosses
    * a checkpointed version within K steps. */
  private def readManifest(hfs: FileSystem, root: Path, v: Long): Manifest =
    readCheckpoint(hfs, root, v).map(_._1).getOrElse {
      val raw = readRaw(hfs, root, v)
      raw.base match {
        case None =>
          val (cm, rt) = raw.mapState
            .getOrElse((Map.empty[String, String], Set.empty[String]))
          Manifest(raw.version, raw.ts, raw.op, raw.adds, raw.txn,
            raw.schemaJson, raw.addStats, raw.addDvs, raw.addConstraints,
            raw.bloomCfg, cm, rt, raw.addGens,
            raw.pcolsLine.getOrElse(Seq.empty), raw.addRows, raw.addDvCounts,
            raw.propsState.getOrElse(Map.empty))
        case Some(b) =>
          require(b < v, s"manifest v$v has a non-ancestor base $b")
          val base = readManifest(hfs, root, b)
          val removed = raw.removes.toSet
          val (cm, rt) = raw.mapState.getOrElse((base.colMap, base.retired))
          Manifest(raw.version, raw.ts, raw.op,
            base.files.filterNot(removed) ++ raw.adds, raw.txn,
            raw.schemaJson.orElse(base.schemaJson),
            (base.stats -- removed) ++ raw.addStats,
            (base.dvs -- removed) ++ raw.addDvs,
            (base.constraints -- raw.dropConstraints) ++ raw.addConstraints,
            raw.bloomCfg.orElse(base.bloomCfg), cm, rt,
            (base.gens -- raw.dropGens) ++ raw.addGens,
            raw.pcolsLine.getOrElse(base.pcols),
            (base.rowCounts -- removed) ++ raw.addRows,
            (base.dvCounts -- removed) ++ raw.addDvCounts,
            raw.propsState.getOrElse(base.props))
      }
    }

  // ------------------------------------------------------ stat encoding
  //
  // Manifest stats are ENCODED strings comparable without the file's
  // schema in hand: numeric/temporal values as plain decimal strings
  // (never starting with a letter), strings as `s<hex of UTF-8 bytes>`
  // — the tag disambiguates, hex is safe in the `fstat=` line format,
  // and unsigned byte order (what [[statCompare]] uses) is exactly both
  // parquet's UTF8 stats ordering AND Spark's UTF8String / default
  // binary-collation comparison, so string pruning decisions agree with
  // the engine's own filter semantics.

  private val StringStatCap = 64

  private def hexEncode(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def hexDecode(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Ordering of two encoded stats of the SAME column (same encoding by
    * construction — a column's parquet type is fixed per file). */
  private def statCompare(a: String, b: String): Int =
    if (a.startsWith("s")) unsignedCompare(hexDecode(a.tail), hexDecode(b.tail))
    else BigDecimal(a).compare(BigDecimal(b))

  /** Compare an encoded stat against a Catalyst literal's internal
    * value; None when the pair isn't comparably typed (conservative —
    * the caller must keep the file). */
  private def statVsLiteral(stat: String, v: Any): Option[Int] =
    if (v == null) None
    else if (stat.startsWith("s")) v match {
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(unsignedCompare(hexDecode(stat.tail), u.getBytes))
      case s: String =>
        Some(unsignedCompare(hexDecode(stat.tail), s.getBytes("UTF-8")))
      case _ => None
    }
    else scala.util.Try(BigDecimal(stat).compare(BigDecimal(v.toString))).toOption

  /** Per-file column min/max from the parquet FOOTER — a driver-side
    * metadata read (O(row groups), no data pages touched), the same
    * source Delta's stats collection uses. Values are encoded in the
    * LOGICAL domain so [[mayMatch]] can compare them against Catalyst
    * literal internals directly:
    *
    *   - plain ints/floats/doubles: as-is;
    *   - DATE (INT32 date annotation): epoch days (= DateType literals);
    *   - TIMESTAMP (INT64, millis/micros/nanos): epoch MICROS (= Catalyst
    *     timestamp literals; nanos divide exactly to fractional micros);
    *   - DECIMAL over INT32/INT64: DESCALED by the annotation's scale —
    *     the raw footer value is unscaled (10.50 stored as 1050), and
    *     recording it raw would make every decimal comparison prune
    *     wrongly (silent merge/delete/readWhere corruption);
    *   - STRING (BINARY + UTF8 annotation): `s<hex>` of the UTF-8 bytes,
    *     capped at [[StringStatCap]] bytes by parquet's own truncation
    *     rule — min truncates to a prefix (a valid lower bound), max
    *     truncates then increments the last non-0xFF byte (a valid upper
    *     bound; an all-0xFF prefix drops the column instead). A footer
    *     already holding truncated binary stats stays sound for the same
    *     reason: parquet's BinaryTruncator preserves the bound direction.
    *     Long text columns therefore cost ≤ ~130 manifest bytes, while
    *     short keys (country codes, event types, id prefixes) — the
    *     realistic string pruning predicates — keep exact ranges;
    *   - any other logical annotation (time, enum, INT96): the column is
    *     simply never recorded — absence means "cannot prune".
    *
    * SOUNDNESS: a row group holding rows but lacking usable stats for a
    * recorded column (parquet-mr omits min/max when a double row group
    * contains NaN) POISONS that column for the whole file — unioning the
    * remaining row groups would narrow the recorded range below the
    * file's true one and prune files that DO contain matches. All-null
    * row groups contribute nothing and are safe (a NULL-evaluating
    * predicate is never TRUE). */
  private def footerStats(hfs: FileSystem, root: Path,
      relFile: String): (Map[String, (String, String)], Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(root, relFile), hfs.getConf))
    try {
      val acc = scala.collection.mutable.HashMap.empty[String, (String, String)]
      val poisoned = scala.collection.mutable.HashSet.empty[String]
      reader.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          val lineSafe = !name.contains(":") && !name.contains("|") &&
            !name.contains("=") && !name.contains("\n")
          statEncoder(cc.getPrimitiveType).foreach { enc =>
            if (!lineSafe) () // name would break the line format: never record
            else {
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                cc.getStatistics
              val allNull = st != null && st.isNumNullsSet &&
                st.getNumNulls == block.getRowCount
              if (st != null && st.hasNonNullValue) {
                (enc.encodeMin(st.genericGetMin), enc.encodeMax(st.genericGetMax)) match {
                  case (Some(mn), Some(mx)) =>
                    acc.get(name) match {
                      case Some((a, b)) => acc(name) = (
                        if (statCompare(mn, a) < 0) mn else a,
                        if (statCompare(mx, b) > 0) mx else b)
                      case None => acc(name) = (mn, mx)
                    }
                  case _ => poisoned += name // unencodable (NaN/Inf, 0xFF cap)
                }
              } else if (!allNull) poisoned += name // stats omitted, rows present
            }
          }
        }
      }
      // the row count rides along from the SAME footer open — the
      // manifest records it (`fr=` lines) so COUNT(*) at any scale is a
      // metadata read, never a data scan ([[rowCount]])
      val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      (acc.filterNot { case (c, _) => poisoned(c) }.toMap, rows)
    } finally reader.close()
  }

  /** Min/max encoders for one parquet column. Min and max differ only
    * for capped strings (prefix vs incremented prefix). */
  private case class StatEnc(encodeMin: Any => Option[String],
      encodeMax: Any => Option[String])

  private def numericEnc(f: BigDecimal => BigDecimal): StatEnc = {
    val enc = (v: Any) =>
      if (v == null) None
      else scala.util.Try(f(BigDecimal(v.toString)).toString).toOption
    StatEnc(enc, enc)
  }

  /** The logical-domain encoder for a parquet primitive column, or None
    * when the column's type can't be soundly encoded as an ordered
    * range (see [[footerStats]]). */
  private def statEncoder(pt: org.apache.parquet.schema.PrimitiveType)
      : Option[StatEnc] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def bytesOf(v: Any): Option[Array[Byte]] = v match {
      case b: org.apache.parquet.io.api.Binary => Some(b.getBytes)
      case _ => None
    }
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 | FLOAT | DOUBLE =>
        pt.getLogicalTypeAnnotation match {
          case null => Some(numericEnc(identity))
          case _: IntLogicalTypeAnnotation => Some(numericEnc(identity))
          case _: DateLogicalTypeAnnotation => Some(numericEnc(identity)) // days
          case t: TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(numericEnc(_ * 1000))
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(numericEnc(identity))
              case LogicalTypeAnnotation.TimeUnit.NANOS =>
                // exact rational micros — comparisons against integral
                // micro literals stay sound without rounding direction
                Some(numericEnc(_ / 1000))
              case _ => None
            }
          case d: DecimalLogicalTypeAnnotation =>
            val scale = BigDecimal(10).pow(d.getScale)
            Some(numericEnc(_ / scale))
          case _ => None
        }
      case BINARY if pt.getLogicalTypeAnnotation
          .isInstanceOf[StringLogicalTypeAnnotation] =>
        Some(StatEnc(
          encodeMin = v => bytesOf(v)
            .map(b => "s" + hexEncode(b.take(StringStatCap))),
          encodeMax = v => bytesOf(v).flatMap { b =>
            if (b.length <= StringStatCap) Some("s" + hexEncode(b))
            else {
              // parquet's BinaryTruncator rule: truncate then increment
              // the last non-0xFF byte so the prefix stays ≥ the value
              val t = b.take(StringStatCap)
              var i = t.length - 1
              while (i >= 0 && t(i) == 0xFF.toByte) i -= 1
              if (i < 0) None
              else {
                val r = java.util.Arrays.copyOf(t, i + 1)
                r(i) = (r(i) + 1).toByte
                Some("s" + hexEncode(r))
              }
            }
          }))
      case _ => None
    }
  }

  /** A snapshot's logical schema: the manifest-recorded one when present
    * (all manifests this code writes record it), else derived by a
    * mergeSchema footer pass over the file list — NEVER a single file's
    * footer, which after schema evolution under-reports the columns. */
  private def snapshotSchema(spark: SparkSession, root: Path, m: Manifest): StructType =
    m.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]).getOrElse {
      require(m.files.nonEmpty,
        s"version ${m.version} is an empty snapshot with no recorded schema")
      spark.read.option("mergeSchema", "true")
        .parquet(m.files.map(f => new Path(root, f).toString): _*).schema
    }

  /** Name-based union: `prev`'s fields (types authoritative) plus the
    * fields `next` adds — the schema an evolved append's readers see. */
  /** Widened common type for a column across an evolution, or None when
    * the two can't co-exist in one table. Only the SAFE upcasts the
    * parquet vectorized reader performs per file (Spark 4's widening
    * type promotions; Delta's type-widening feature): the integral
    * chain byte→short→int→long and float→double. */
  private def widen(a: DataType, b: DataType): Option[DataType] = {
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
  private def unionSchema(prev: StructType, next: StructType): StructType =
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
  private def alignTypes(df: DataFrame, snap: StructType): DataFrame = {
    val needs = df.schema.fields.exists(f =>
      snap.fields.exists(sf => sf.name == f.name && sf.dataType != f.dataType))
    if (!needs) df
    else df.select(df.columns.map { c =>
      snap.fields.find(_.name == c)
        .filter(_.dataType != df.schema(c).dataType)
        .fold(col(c))(sf => col(c).cast(sf.dataType).as(c))
    }.toIndexedSeq: _*)
  }

  /** The scan-time schema of a snapshot: the manifest-recorded logical
    * schema renamed to PHYSICAL storage names, nullable (file-source
    * semantics). Passing it to the parquet reader replaces the
    * mergeSchema footer-union — O(1) planning metadata instead of one
    * footer read per FILE per QUERY, the hidden mergeSchema cost at
    * 100 TB — and is what makes a WIDENED column readable: the
    * vectorized reader up-promotes each file's stored type to the
    * requested one. Retired physicals simply aren't requested. None
    * only for manifests predating schema recording (footer-merge
    * fallback). */
  private def physReadSchema(m: Manifest): Option[StructType] =
    m.schemaJson.map { j =>
      val logical = DataType.fromJson(j).asInstanceOf[StructType]
      StructType(logical.fields.map(f =>
        f.copy(name = physOf(m.colMap, f.name), nullable = true)))
    }

  /** All committed versions, ascending (driver-side listing, no data read). */
  private def versions(hfs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted
  }

  /** All checkpointed versions, ascending. */
  private def checkpoints(hfs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, CheckpointDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".checkpoint") =>
        n.stripPrefix("v").stripSuffix(".checkpoint").toLong }
      .sorted
  }

  /** Latest committed version, or -1 for an empty/new table. */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val (hfs, root) = fs(spark, path)
    versions(hfs, root).lastOption.getOrElse(-1L)
  }

  /** Whether version `v` still RESOLVES from the log — its manifest (or
    * full-state checkpoint) hasn't been removed by [[expireLog]].
    * Sound because expireLog only ever cuts BELOW an anchor checkpoint
    * and delta chains are contiguous: a surviving metadata file for `v`
    * implies its whole resolution chain survives. Lets a CDF consumer
    * distinguish "diff against v" from "v is gone — bootstrap". */
  def hasVersion(spark: SparkSession, path: String, v: Long): Boolean = {
    val (hfs, root) = fs(spark, path)
    v >= 0 && (hfs.exists(manifestPath(root, v)) ||
      hfs.exists(checkpointPath(root, v)))
  }

  /** Commit `df` as the next snapshot. `mode` is `"overwrite"` (snapshot =
    * this batch only) or `"append"` (snapshot = previous file list + this
    * batch's files). Returns the committed version. Thread-safe across
    * writers per the rename protocol above: a lost race throws
    * `ConcurrentCommitException`; re-read and retry. */
  /** `partitionBy`: hive-style partition columns (LOGICAL names). Set
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

  /** Appending a frame whose columns don't match the current snapshot is
    * schema drift: rejected (Delta's schema-on-write) unless the caller
    * opts into evolution with `mergeSchema = true`. */
  final class SchemaMismatchException(msg: String) extends RuntimeException(msg)

  final class ConstraintViolationException(name: String, expression: String,
      path: String) extends RuntimeException(
    s"CHECK constraint $name ($expression) violated by incoming rows at $path")

  /** SQL CHECK semantics: a row violates only when the expression IS
    * FALSE — NULL passes (the standard, and Delta's). ONE pass
    * evaluates EVERY constraint (each becomes a when(violated, name)
    * branch coalesced left-to-right in name order, so the reported
    * violation is deterministic), short-circuited by a limit-1 plan —
    * N constraints cost one batch scan, not N (Stress-measured). `df`
    * must already be aligned to the snapshot schema so constraints on
    * columns the batch omits see NULL, not an analysis error. */
  private def enforceConstraints(df: DataFrame, cks: Map[String, String],
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
  private def applyGens(df: DataFrame, gens: Map[String, String]): DataFrame =
    gens.toSeq.sortBy(_._1).foldLeft(df) { case (d, (n, e)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, expr(e))
    }

  private def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(quoted(f.name))
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  /** `name` as one SQL identifier: a column name may hold a dot, a space
    * or a backtick, and `col`/`expr` would otherwise parse it. */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

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

  final case class IdentitySpec(start: Long, step: Long, always: Boolean,
      highWaterMark: Option[Long]) {
    /** Next value floor: one step past the last assigned (or start). */
    private[VersionedTable] def base: Long =
      highWaterMark.fold(start - step)(identity)
  }

  private val IdentityPropPrefix = "graft.identity."

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

  private def identityProp(col: String, s: IdentitySpec): (String, String) =
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
  private def assignIdentity(df: DataFrame,
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
  private def advanceIdentity(props: Map[String, String],
      specs: Map[String, IdentitySpec], written: Set[String],
      cmap: Map[String, String],
      newStats: Map[String, Map[String, (String, String)]],
      path: String): Map[String, String] =
    written.foldLeft(props) { case (p, c) =>
      val s = specs(c)
      val phys = physOf(cmap, c)
      val maxes = newStats.valuesIterator
        .flatMap(_.get(phys))
        .map { case (mn, mx) => (if (s.step > 0) mx else mn).toLong }
        .toSeq
      if (maxes.isEmpty) p // zero-row batch: nothing assigned
      else {
        val extreme = if (s.step > 0) maxes.max else maxes.min
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
  private def requireIdentityNotPartition(specs: Map[String, IdentitySpec],
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
  private def requireNoIdentityConflict(props: Map[String, String],
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

  /** The one commit sequence of the append and overwrite faces
    * ([[commit]], [[commitIfNew]], [[commitWithRetry]]): validate the
    * batch against the head it read, write it ONCE, claim the next
    * version. A claim lost to a concurrent writer is retried up to
    * `maxRetries` times (0 for `commit` and `commitIfNew`): each retry
    * re-validates the same batch against the moved head and re-points
    * the manifest at the same files. `beforeClaim(next)` runs just
    * before every claim — the window a concurrent winner lands in. */
  private def commitInternal(df0: DataFrame, path: String, mode: String,
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
  private def validatePcols(pcols: Seq[String], physSchema: StructType,
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

  /** Version-prefixed but ATTEMPT-unique data directory: two writers
    * racing for the same version land their data in DISJOINT dirs (the
    * loser's is vacuum-reclaimed or re-pointed by [[commitWithRetry]]) —
    * a shared version-named dir would let the loser's overwrite corrupt
    * the winner's committed files. */
  private def newDataDir(next: Long): String =
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

  /** Every data-file write in this object routes through here. On a
    * partitioned table the frame is split into hive-style value
    * directories; rewrite paths (COW delete/update/merge, optimize,
    * compactSmall, MoR post-images, DV folds) preserve per-file value
    * homogeneity automatically because the partition values ride in the
    * data — an UPDATE that moves a row across partitions lands it in
    * the right directory with no special casing. `pcols` are PHYSICAL
    * names ([[Manifest.pcols]]); `df` arrives in logical names. */
  private def writeDataFiles(df: DataFrame, cmap: Map[String, String],
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

  /** Shared pool for driver-side footer/sidecar I/O ([[listWithStats]],
    * [[bloomPrune]]): 16 DAEMON threads created once — a per-call pool
    * would pay creation/teardown on every commit, and non-daemon threads
    * would pin a crashing driver JVM alive. Every wait on it is bounded
    * by [[ioWait]]: one hung metadata read (flaky HDFS datanode) fails
    * the operation cleanly instead of wedging the commit forever — a
    * failed commit's data dir is orphan-safe and vacuum-reclaimable. */
  private lazy val ioPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(16,
        (r: Runnable) => {
          val t = new Thread(r, "graft-vt-io")
          t.setDaemon(true)
          t
        }))

  /** Finite metadata-I/O wait (test seam; the default is generous — this
    * bounds a HUNG filesystem call, not a slow one). */
  private[graft] var ioWaitSeconds: Long = 600L

  private def ioWait: scala.concurrent.duration.Duration =
    scala.concurrent.duration.Duration(ioWaitSeconds, "s")

  /** List a freshly written data dir's parquet files plus their footer
    * stats. The footers are opened on the shared bounded [[ioPool]]: a
    * wide commit landing hundreds of files pays ~files/threads metadata
    * round-trips instead of a serial driver loop — the stats themselves
    * are byte-identical to the serial path (same footer source,
    * spec-covered by every pruning test). */
  /** The data files under a commit dir, as manifest-relative names —
    * recursive, because a partitioned write ([[writeDataFiles]]) lands
    * them under hive-style `name=value` subdirectories. Dot-dirs and
    * Spark's `_temporary`/`_SUCCESS` markers are skipped; partition
    * dirs (prefix [[PartDirPrefix]], never `_`/`.`) are walked. */
  private def listDataFiles(hfs: FileSystem, root: Path,
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

  private def listWithStats(hfs: FileSystem, root: Path, dataDir: String): Written = {
    val files = listDataFiles(hfs, root, dataDir)
    if (files.isEmpty) return NothingWritten
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    val opened = Await.result(
      Future.sequence(files.map(f => Future(f -> footerStats(hfs, root, f)))),
      ioWait).toMap
    Written(files, opened.map { case (f, (st, _)) => f -> st }.filter(_._2.nonEmpty),
      opened.map { case (f, (_, n)) => f -> n })
  }

  /** The files of one freshly written data dir with their footer stats
    * and row counts — what a commit's `adds`/`fstat=`/`fr=` lines carry. */
  private case class Written(files: Seq[String],
      stats: Map[String, Map[String, (String, String)]], rows: Map[String, Long]) {
    def ++(o: Written): Written = Written(files ++ o.files, stats ++ o.stats, rows ++ o.rows)
  }
  private val NothingWritten = Written(Seq.empty, Map.empty, Map.empty)

  /** The write step every data-writing path shares: `df` (logical names)
    * lands as version `next`'s new data dir in PHYSICAL names and the
    * table's partition layout, is listed with footer stats, and gets
    * bloom sidecars for `bloomCfg`'s columns under their PHYSICAL names
    * (the names the files store — a logical name would find no column
    * after a rename and silently index nothing). The append faces call
    * it with their own mapping/layout/config, every rewrite face through
    * [[Head.rewrite]]. */
  private def writeBatch(spark: SparkSession, hfs: FileSystem, root: Path,
      next: Long, df: DataFrame, cmap: Map[String, String], pcols: Seq[String],
      bloomCfg: Option[(Seq[String], Int)]): Written = {
    val dataDir = newDataDir(next)
    writeDataFiles(df, cmap, pcols, root, dataDir)
    val written = listWithStats(hfs, root, dataDir)
    bloomCfg.foreach { case (cs, b) =>
      writeBlooms(spark, hfs, root, dataDir, cs.map(physOf(cmap, _)), b) }
    written
  }

  // ------------------------------------------------- bloom file index
  //
  // Point-lookup file skipping (Delta's bloom filter index, re-derived):
  // min/max stats cannot prune equality probes on a UNIFORMLY
  // DISTRIBUTED high-cardinality column — every file's [min, max] spans
  // the whole domain, so `id = x` reads the entire 100 TB table. A
  // per-file Bloom filter answers "might this file contain x?" in one
  // tiny sidecar read. Design: each indexed data file gets a
  // `<file>.bloom` SIDECAR in its own immutable data directory (Delta
  // keeps its index beside the data for the same reason) — sidecars
  // ride along with carried and CLONED files for free because the path
  // is derived from the data path, and absence simply degrades to
  // stats-only pruning, so COW rewrites and un-indexed commits stay
  // correct. The filter is built in ONE extra Spark pass over the
  // freshly written batch (k=7 xxhash64 probes per row, map-side
  // collect_set of set bit positions per file), never over the table.
  // Size `bloomBits` ≈ 10× the expected rows per file (the default 128K
  // bits ≈ 1% FPP at 100k rows/file); an overfull filter saturates
  // toward "maybe" — useless but never wrong.

  private val BloomK = 7

  /** Hash i of a canonical value string: xxhash64 (seed 42, the engine's
    * own [[org.apache.spark.sql.functions.xxhash64]]) over
    * `value ++ NUL ++ i`, reduced mod m. The WRITE side computes the
    * identical expression per row in the indexing job, so driver-side
    * probes and executor-side builds agree bit-for-bit. */
  private def bloomPos(value: String, i: Int, mBits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    val h = XxHash64Function.hash(
      UTF8String.fromString(value + "\u0000" + i), StringType, 42L)
    (((h % mBits) + mBits) % mBits).toInt
  }

  /** The canonical string a column value hashes as: integral columns via
    * `cast(col as string)`, strings as-is. Only these types are
    * indexable — fractional/temporal renderings are not canonical across
    * engines, and equality probes on them are rare. */
  private def bloomCanon(v: Any, dt: DataType): Option[String] = (v, dt) match {
    case (null, _) => None
    case (x, ByteType | ShortType | IntegerType | LongType) => Some(x.toString)
    case (s: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(s.toString)
    case _ => None
  }

  /** Build + write `<file>.bloom` sidecars for every data file of a
    * freshly written batch dir: one Spark pass computes each row's k bit
    * positions per indexed column (map-side combined to ≤ m distinct
    * ints per file), the driver packs bitsets and writes one small
    * sidecar per file. */
  private def writeBlooms(spark: SparkSession, hfs: FileSystem, root: Path,
      dataDir: String, cols: Seq[String], mBits: Int): Unit = {
    if (cols.isEmpty) return
    writeBloomSidecars(hfs, root,
      spark.read.parquet(new Path(root, dataDir).toString), cols, mBits)
  }

  /** The sidecar builder over an explicit batch frame. An INHERITED
    * config column absent from this batch's schema is skipped (schema
    * evolution: pre-evolution rewrites have nothing to index; a missing
    * section degrades that file to stats-only pruning, never wrong) —
    * a PRESENT column of an unsupported type still fails loudly. */
  private def writeBloomSidecars(hfs: FileSystem, root: Path,
      batch0: DataFrame, cols0: Seq[String], mBits: Int): Unit = {
    require(Integer.bitCount(mBits) == 1 && mBits >= 1024,
      s"bloomBits must be a power of two >= 1024, got $mBits")
    val batch = batch0
    val cols = cols0.filter(batch.schema.fieldNames.contains)
    if (cols.isEmpty) return
    cols.foreach { c =>
      val ok = batch.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }
      require(ok, s"bloom index supports integral and string columns; " +
        s"$c is ${batch.schema(c).dataType.simpleString}")
    }
    val sections: Seq[(String, String, Array[Int])] = cols.flatMap { c =>
      val posCols = (0 until BloomK).map { i =>
        pmod(xxhash64(concat(col(c).cast("string"), lit("\u0000" + i))),
          lit(mBits.toLong)).cast("int")
      }
      batch.filter(col(c).isNotNull)
        .select(regexp_extract(input_file_name(), DataFileRe, 1).as("__file"),
          explode(array(posCols: _*)).as("pos"))
        .groupBy("__file").agg(collect_set(col("pos")).as("ps"))
        .collect()
        .map(r => (r.getString(0), c,
          r.getSeq[Int](1).toArray))
    }
    sections.groupBy(_._1).foreach { case (file, secs) =>
      val body = secs.sortBy(_._2).flatMap { case (_, c, ps) =>
        val bits = new Array[Byte](mBits / 8)
        ps.foreach(p => bits(p >>> 3) = (bits(p >>> 3) | (1 << (p & 7))).toByte)
        Seq(s"col=$c|k=$BloomK|m=$mBits", hexEncode(bits))
      }
      val out = hfs.create(new Path(root, file + ".bloom"), true)
      try out.write(body.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Per-column bloom sections of a data file's sidecar, or empty when
    * none exists. NOT counted in [[metadataOpens]] — sidecars are
    * data-adjacent index reads, not log reads. */
  private def readBloom(hfs: FileSystem, root: Path, file: String)
      : Map[String, (Int, Int, Array[Byte])] = {
    val p = new Path(root, file + ".bloom")
    if (!hfs.exists(p)) return Map.empty
    val in = hfs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.split("\n").filter(_.nonEmpty).grouped(2).flatMap {
      case Array(hdr, hex) if hdr.startsWith("col=") =>
        val kv = hdr.split('|').map { t =>
          val i = t.indexOf('='); t.substring(0, i) -> t.substring(i + 1)
        }.toMap
        Some(kv("col") -> (kv("k").toInt, kv("m").toInt, hexDecode(hex)))
      case _ => None
    }.toMap
  }

  /** Equality probes usable for bloom skipping: (column, candidate
    * canonical values) pairs from the predicate's AND-conjuncts —
    * `c = v` and `c IN (...)` (either operand order). A file may be
    * dropped only when EVERY candidate value of some conjunct misses its
    * bloom; anything under an OR, or a non-canonical literal, never
    * prunes.
    *
    * TYPE GUARD: a probe is generated only when the literal's type
    * FAMILY matches the table-schema column's (integral↔integral,
    * string↔string). Without it a CROSS-TYPED equality silently drops
    * matching files: `intCol = '05'` would probe the canonical '05'
    * while files store '5' — Spark's actual filter CASTS and matches
    * those rows, so the bloom pass would prune a file that contains
    * hits, violating the readWhere ≡ filter contract. (The stats path
    * is conservative by construction — statVsLiteral returns None on
    * incomparable encodings; this is the bloom path's equivalent.)
    * Same-family different widths stay probe-able: the canonical
    * decimal rendering of an integral value is width-invariant. */
  private def eqProbes(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def colName(ex: Expression): Option[String] = ex match {
      case u: UnresolvedAttribute => Some(u.name)
      case _ => None
    }
    def integral(d: DataType): Boolean = d match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def typeOk(c: String, litDt: DataType): Boolean =
      schema.fields.find(_.name == c)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(c)))
        .exists { f =>
          (integral(f.dataType) && integral(litDt)) ||
            (f.dataType == StringType && litDt == StringType)
        }
    def eq(a: Expression, b: Expression): Option[(String, Seq[String])] =
      (colName(a), b) match {
        case (Some(c), Literal(v, dt)) if typeOk(c, dt) =>
          bloomCanon(v, dt).map(s => c -> Seq(s))
        case _ => (colName(b), a) match {
          case (Some(c), Literal(v, dt)) if typeOk(c, dt) =>
            bloomCanon(v, dt).map(s => c -> Seq(s))
          case _ => None
        }
      }
    e match {
      case And(l, r) => eqProbes(l, schema) ++ eqProbes(r, schema)
      case EqualTo(a, b) => eq(a, b).toSeq
      case In(a, vals) if vals.forall(_.isInstanceOf[Literal]) =>
        colName(a).flatMap { c =>
          val canons = vals.map {
            case Literal(v, dt) if typeOk(c, dt) => bloomCanon(v, dt)
            case _ => None
          }
          // one non-canonical or cross-typed value makes the IN un-prunable
          if (canons.forall(_.isDefined)) Some(c -> canons.flatten)
          else None
        }.toSeq
      case _ => Seq.empty
    }
  }

  /** Drop files whose bloom sidecar PROVES every candidate value of some
    * equality conjunct absent. Sidecars are opened on a bounded local
    * thread pool (the [[listWithStats]] pattern); files without a
    * sidecar, or without the probed column's section, are kept. */
  private def bloomPrune(hfs: FileSystem, root: Path, files: Seq[String],
      probes: Seq[(String, Seq[String])]): Seq[String] = {
    if (probes.isEmpty || files.isEmpty) return files
    def mayContain(file: String): Boolean = {
      val secs = readBloom(hfs, root, file)
      if (secs.isEmpty) true
      else probes.forall { case (c, values) =>
        secs.get(c).forall { case (k, m, bits) =>
          values.exists { v =>
            (0 until k).forall { i =>
              val p = bloomPos(v, i, m)
              (bits(p >>> 3) & (1 << (p & 7))) != 0
            }
          }
        }
      }
    }
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    val flags = Await.result(
      Future.sequence(files.map(f => Future(mayContain(f)))), ioWait)
    files.zip(flags).collect { case (f, true) => f }
  }

  // ------------------------------------------------ the rewrite primitive
  //
  // The skeleton every rewrite face shares (see the header's REWRITES
  // note): one [[Head]] per operation, and each step a method on it.

  /** One operation's handle on a snapshot — usually the table head: the
    * version `prev` it reads or builds on and its resolved manifest `m`,
    * opened ONCE ([[openSnapshot]]): discovery, the rewrite read and the
    * commit all work from this manifest, never from a second listing and
    * chain walk of the log. */
  private case class Head(spark: SparkSession, hfs: FileSystem, root: Path,
      prev: Long, m: Manifest) {
    def next: Long = prev + 1

    /** The snapshot's logical schema, resolved where a face first needs
      * it (a schema-less legacy manifest pays a footer pass). */
    lazy val schema: StructType = snapshotSchema(spark, root, m)

    /** Files whose manifest stats may hold a row matching `cond`. */
    def candidates(cond: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[String] =
      m.files.filter(f => mayMatch(logicalStatsOf(m, f), cond))

    /** Live rows of `files` with `__file`/`__pos` — the discovery read. */
    def live(files: Seq[String]): DataFrame =
      scanLive(spark, root, files, m.dvs, m.colMap, m.retired, physReadSchema(m))

    /** Discovery: the manifest entries of the candidate files holding a
      * row of `hits(live rows)`; no scan at all when nothing is a
      * candidate. Only the touched file NAMES reach the driver. */
    def touched(candidates: Seq[String])(hits: DataFrame => DataFrame): Set[String] =
      if (candidates.isEmpty) Set.empty
      else resolveTouched(m.files, hits(live(candidates))
        .select("__file").distinct().collect().map(_.getString(0)).toSet)

    /** The rewrite-phase read: ONLY `files`, as their own parquet scan
      * (touched-set-sized by plan), through their deletion vectors — a
      * rewrite of a vectored file must not resurrect deleted rows, since
      * the commit drops the file AND its entry. mergeSchema, like
      * readVersion: post-evolution rewrites keep evolved columns. */
    def scan(files: Seq[String], dvs: Map[String, String] = m.dvs): DataFrame =
      scanFiles(spark, root, files, dvs, mergeSchema = true, m.colMap, m.retired,
        physReadSchema(m))

    def bytes(files: Seq[String]): Long =
      files.map(f => hfs.getFileStatus(new Path(root, f)).getLen).sum

    /** The maintenance layout of `files` (`bytes` in total):
      * ⌈bytes / targetFileBytes⌉ output files, Z-ordered on `zorderCols`
      * (2 or 3 dims; the helper `zval` column dropped — maintenance is
      * content-identical) or plainly repartitioned. Deletion vectors
      * apply in the read, so every maintenance rewrite materializes
      * them. */
    def compacted(files: Seq[String], bytes: Long, targetFileBytes: Long,
        zorderCols: Seq[String]): DataFrame = {
      val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      val cur = scan(files)
      if (zorderCols.nonEmpty)
        graft.analytics.ZOrder.zOrderLayoutN(cur, zorderCols, target).drop("zval")
      else cur.repartition(target)
    }

    /** The rewrite step: `df` as version `next`'s one new data dir, in
      * the table's column mapping, partition layout and bloom config. */
    def rewrite(df: DataFrame): Written =
      writeBatch(spark, hfs, root, next, df, m.colMap, m.pcols, m.bloomCfg)

    /** Commit a DML: a delta manifest adding `adds` and removing
      * `removes` (plus deletion-vector entries), published through
      * [[publishDml]] with the face's read set and conflict predicate. */
    def commitDml(ts: String, op: String, adds: Written, removes: Set[String],
        readSet: Seq[String], conflict: Map[String, (String, String)] => Boolean,
        dvs: Map[String, String] = Map.empty,
        dvCounts: Map[String, Long] = Map.empty): Long =
      publishDml(hfs, root, RawManifest(next, ts, op, Some(prev), adds.files,
        removes.toSeq.sorted, None, Some(schema.json), adds.stats, dvs,
        addRows = adds.rows, addDvCounts = dvCounts), readSet.toSet, conflict,
        m.colMap)

    /** Commit a content-identical maintenance rewrite: a delta manifest
      * replacing `removes` by `adds`; their vector entries drop with the
      * removed files. */
    def commitRewrite(ts: String, op: String, adds: Written,
        removes: Seq[String]): Long = {
      publish(hfs, root, RawManifest(next, ts, op, Some(prev), adds.files,
        removes, None, m.schemaJson, adds.stats, addRows = adds.rows))
      next
    }

    /** Commit a metadata-only change: a delta manifest that adds no
      * files and keeps the head's schema; `change` names (by field) what
      * the commit records — constraints, generated columns, bloom config,
      * column mapping, properties, a new schema or dropped entries. */
    def commitMeta(ts: String, op: String)(change: RawManifest => RawManifest): Long = {
      publish(hfs, root,
        change(RawManifest(next, ts, op, Some(prev), schemaJson = m.schemaJson)))
      next
    }
  }

  /** Open version `version` of the table at `path` — the head when
    * `version` < 0 — or None when the head is asked of an empty table. */
  private def openSnapshot(spark: SparkSession, path: String,
      version: Long = -1L): Option[Head] = {
    val (hfs, root) = fs(spark, path)
    (if (version >= 0) Some(version) else versions(hfs, root).lastOption)
      .map(v => Head(spark, hfs, root, v, readManifest(hfs, root, v)))
  }

  /** [[openSnapshot]] for a face that needs a table: an empty one fails
    * with `"<op> empty table at <path>"` (e.g. `op = "merge into"`). */
  private def openHead(spark: SparkSession, path: String, op: String,
      version: Long = -1L): Head =
    openSnapshot(spark, path, version).getOrElse(
      throw new IllegalArgumentException(s"$op empty table at $path"))

  /** [[openSnapshot]] for the read faces: an empty table fails with
    * `"no committed versions at <path>"`. */
  private def openRead(spark: SparkSession, path: String, version: Long): Head =
    openSnapshot(spark, path, version).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))

  /** A FULL manifest for version `v` that carries snapshot `m`'s table
    * metadata — constraints, bloom config, column mapping, generated
    * columns, partitioning, properties — so the version stands alone
    * (optimize, rollback, clones); the caller adds the file entries. */
  private def fullManifest(v: Long, ts: String, op: String, m: Manifest): RawManifest =
    RawManifest(v, ts, op, schemaJson = m.schemaJson, addConstraints = m.constraints,
      bloomCfg = m.bloomCfg,
      mapState = if (m.colMap.isEmpty && m.retired.isEmpty) None
        else Some((m.colMap, m.retired)),
      addGens = m.gens, pcolsLine = Some(m.pcols).filter(_.nonEmpty),
      propsState = Some(m.props).filter(_.nonEmpty))

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
    val vectored0 = m.dvs.keySet.toSeq.sorted
    val vectored = condition.fold(vectored0) { c =>
      val e = spark.sessionState.sqlParser.parseExpression(c)
      vectored0.filter(f => mayMatch(logicalStatsOf(m, f), e))
    }
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
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val missing = Await.result(
      Future.traverse(h.m.files.sorted)(f =>
        Future(if (h.hfs.exists(new Path(h.root, f))) None else Some(f))),
      Duration.Inf).flatten
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

  /** The highest micro-batch id committed for a streaming `appId`, or
    * None if that stream never wrote here — Delta's `txn` action for
    * exactly-once foreachBatch sinks. Resolves from the latest
    * CHECKPOINT's aggregated `txnmax` map plus the ≤ K manifest headers
    * after it — O(1 + K) metadata reads per call, so a long-lived
    * [[graft.streaming.Streams.toVersionedSink]] stream pays a flat
    * per-batch cost no matter how many thousands of batches it has
    * committed (spec-asserted via [[metadataOpens]]). */
  def lastTxn(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val (hfs, root) = fs(spark, path)
    val head = versions(hfs, root).lastOption.getOrElse(return None)
    val ck = checkpoints(hfs, root).filter(_ <= head).lastOption
    val fromCk: Option[Long] =
      ck.flatMap(v => readCheckpoint(hfs, root, v)).flatMap(_._2.get(appId))
    val tailIds = ((ck.getOrElse(-1L) + 1) to head).flatMap { v =>
      readRaw(hfs, root, v).txn.collect { case (a, b) if a == appId => b }
    }
    (fromCk.toSeq ++ tailIds).maxOption
  }

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

  /** Signals a lost optimistic-concurrency race: another writer committed
    * the same version first. Re-read the log and retry on top. */
  final class ConcurrentCommitException(v: Long) extends RuntimeException(
    s"version $v was committed by a concurrent writer; re-read and retry")

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

  /** Exposed for the race-guard spec: publish a FULL manifest for an
    * exact version, failing if that version already exists. */
  private[graft] def commitManifestAt(spark: SparkSession, path: String,
      version: Long, ts: String, op: String, files: Seq[String]): Unit = {
    val (hfs, root) = fs(spark, path)
    commitManifest(hfs, root, RawManifest(version, ts, op, adds = files))
  }

  /** Commit + best-effort checkpoint: every successful commit path goes
    * through here so checkpoints land on cadence no matter which
    * operation crossed the K boundary. The just-committed version's
    * PROPERTIES are derivable without a chain walk — the raw manifest's
    * own authoritative state, else its base's (cached) — so the
    * table-declared checkpoint cadence costs no extra metadata reads
    * per commit. */
  private def publish(hfs: FileSystem, root: Path, m: RawManifest): Unit = {
    commitManifest(hfs, root, m)
    val props = m.propsState.getOrElse(
      m.base.fold(Map.empty[String, String])(b => propsAt(hfs, root, b)))
    cacheProps(hfs, root, m.version, props)
    maybeCheckpoint(hfs, root, m.version, props)
  }

  /** Per-(table, version) property cache, salted with the version's raw
    * manifest file identity (mtime, length): a committed version's
    * content is immutable, but a table DELETED AND RECREATED at the same
    * path reuses version numbers — the salt makes the old table's
    * entries unreachable instead of served stale. The size guard only
    * bounds memory on very long sessions. */
  private val propsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, String]]()

  /** Stable identity of version `v`'s raw manifest file, or None when it
    * is absent (e.g. expired under a covering checkpoint) — then props
    * resolve uncached rather than under an ambiguous key. */
  private def manifestIdentity(hfs: FileSystem, root: Path, v: Long): Option[Long] =
    scala.util.Try(hfs.getFileStatus(manifestPath(root, v))).toOption
      .map(st => st.getModificationTime * 31L + st.getLen)

  private def cacheProps(hfs: FileSystem, root: Path, v: Long,
      p: Map[String, String]): Unit =
    manifestIdentity(hfs, root, v).foreach { id =>
      if (propsCache.size > 4096) propsCache.clear()
      propsCache.put((root.toString, v, id), p)
    }

  private def propsAt(hfs: FileSystem, root: Path, v: Long): Map[String, String] = {
    if (v < 0) return Map.empty
    manifestIdentity(hfs, root, v) match {
      case Some(id) =>
        val key = (root.toString, v, id)
        val cached = propsCache.get(key)
        if (cached != null) cached
        else {
          // read failures PROPAGATE (the parse-loudly policy propInt /
          // propHoursMs already follow): a transient IO error must never
          // silently revert a table-declared retention to the defaults,
          // and a failure result is never cached
          val p = readManifest(hfs, root, v).props
          if (propsCache.size > 4096) propsCache.clear()
          propsCache.put(key, p)
          p
        }
      case None => readManifest(hfs, root, v).props
    }
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
  private def requireNotEngineProps(keys: Iterable[String], path: String,
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
  private def requireNotAppendOnly(props: Map[String, String], path: String,
      op: String): Unit =
    if (props.get("graft.appendOnly").exists(_.trim.equalsIgnoreCase("true")))
      throw new UnsupportedOperationException(
        s"$op on $path is blocked: table property graft.appendOnly=true " +
          "permits appends only (Delta's delta.appendOnly); UNSET it to " +
          "delete or update existing rows")

  /** Parse a policy property as Int/Long/Double/Boolean, loudly: a
    * mistyped policy value must fail the operation that consults it,
    * never silently fall back to the default. */
  private def propInt(props: Map[String, String], k: String): Option[Int] =
    props.get(k).map(v => scala.util.Try(v.trim.toInt).getOrElse(
      throw new IllegalArgumentException(s"table property $k is not an integer: '$v'")))
  private def propHoursMs(props: Map[String, String], k: String): Option[Long] =
    props.get(k).map(v => scala.util.Try((v.trim.toDouble * 3600 * 1000).toLong)
      .getOrElse(throw new IllegalArgumentException(
        s"table property $k is not a number of hours: '$v'")))
  private[graft] def autoCompactEnabled(spark: SparkSession, path: String): Boolean =
    propertiesOf(spark, path).get("graft.autoOptimize.autoCompact")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Test seam for the disjoint-conflict fast path: a hook registered
    * under a table's root path is removed and fired ONCE by
    * [[publishDml]], after the DML computed its manifest and before its
    * first claim — the window a concurrent winner lands in. Keyed by
    * path so parallel suites never see each other's hooks. */
  private[graft] val dmlBeforeClaim =
    scala.collection.concurrent.TrieMap.empty[String, () => Unit]

  private val DmlClaimRetries = 5

  /** Publish a DML's delta manifest with Delta's DISJOINT-CONFLICT
    * fast path (the conflict matrix, re-derived): on a lost claim,
    * inspect every intervening winner; when each one is a plain delta
    * commit that (a) changed no table metadata (schema, column mapping,
    * partitioning, constraints, generated columns, bloom config),
    * (b) removed or re-vectored no file this DML read or removes, and
    * (c) added no file whose recorded stats could interact with this
    * DML's predicate or key bounds (`addConflict`), the already-written
    * commit is RE-POINTED onto the new head and claimed again — the
    * DML's scan/rewrite work is never re-executed, so two
    * partition-disjoint merges racing both land first-try (zero write
    * amplification per collision). Anything else rethrows
    * [[ConcurrentCommitException]], and [[dmlWithRetry]]'s
    * re-run-from-scratch remains the unconditionally sound fallback.
    *
    * `readSet` is the stats-pruned candidate set the discovery scan
    * consulted: files outside it were PROVEN free of interacting rows
    * by the same stats machinery, so a winner touching only those
    * cannot invalidate the computed rewrite. Winner file stats reach
    * `addConflict` re-keyed to LOGICAL names (they are recorded under
    * physical ones); a winner file without stats conservatively
    * conflicts through the callers' `addConflict` defaults. Up to
    * [[DmlClaimRetries]] re-points, then the loss surfaces. */
  private def publishDml(hfs: FileSystem, root: Path, first: RawManifest,
      readSet: Set[String],
      addConflict: Map[String, (String, String)] => Boolean,
      colMap: Map[String, String]): Long = {
    dmlBeforeClaim.remove(root.toUri.getPath).foreach(_())
    val phys2log = colMap.collect { case (l, p) if l != p => p -> l }
    var raw = first
    var attempt = 0
    while (true) {
      try { publish(hfs, root, raw); return raw.version }
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > DmlClaimRetries) throw e
          val head = versions(hfs, root).lastOption.getOrElse(throw e)
          if (head < raw.version) throw e
          // an expired/unreadable intervening manifest → sound fallback
          val intervening = scala.util.Try(
            (raw.version to head).map(readRaw(hfs, root, _))).getOrElse(throw e)
          val benign = intervening.forall { w =>
            w.base.contains(w.version - 1) &&
              w.schemaJson == raw.schemaJson &&
              w.mapState.isEmpty && w.pcolsLine.isEmpty &&
              w.addConstraints.isEmpty && w.dropConstraints.isEmpty &&
              w.addGens.isEmpty && w.dropGens.isEmpty && w.bloomCfg.isEmpty &&
              w.removes.forall(f =>
                !readSet.contains(f) && !raw.removes.contains(f)) &&
              w.addDvs.keysIterator.forall(f =>
                !readSet.contains(f) && !raw.removes.contains(f)) &&
              // a recorded-0-row add (empty part file) can't conflict;
              // otherwise its stats (logical names) must clear the
              // caller's predicate/key-bounds test — absent stats with
              // rows conservatively conflict through the callers'
              // defaults
              w.adds.forall(f => w.addRows.get(f).contains(0L) ||
                !addConflict(
                  w.addStats.getOrElse(f, Map.empty).map { case (c, v) =>
                    phys2log.getOrElse(c, c) -> v }))
          }
          if (!benign) throw e
          raw = raw.copy(version = head + 1, base = Some(head))
      }
    }
    -1L // unreachable
  }

  /** Write `_checkpoints/v<version>.checkpoint` when `version` is on the
    * cadence — the default [[checkpointInterval]], or the table's own
    * `graft.checkpointInterval` property when declared (`props` is the
    * just-committed version's property state, handed down by [[publish]]
    * at zero extra metadata reads): the resolved snapshot (≤ K-read
    * chain walk) plus the per-appId max batch id — previous checkpoint's
    * map folded with the ≤ K manifest headers since it. Idempotent: an
    * already-claimed checkpoint (concurrent writer, replay) is silently
    * kept. */
  private def maybeCheckpoint(hfs: FileSystem, root: Path, version: Long,
      props: Map[String, String]): Unit = {
    val interval = propInt(props, "graft.checkpointInterval")
      .filter(_ > 0).getOrElse(checkpointInterval)
    if (version <= 0 || version % interval != 0) return
    writeCheckpointAt(hfs, root, version)
  }

  /** Stress seam: checkpoint the HEAD version unconditionally (cadence
    * ignored, an existing checkpoint file deleted first) and time the
    * write and a cold read — the checkpoint cost-curve measurement
    * behind BASELINE's file-count scaling entry. Returns
    * (writeSec, readSec, fileCount). */
  private[graft] def checkpointCost(spark: SparkSession, path: String)
      : (Double, Double, Int) = {
    val (hfs, root) = fs(spark, path)
    val v = versions(hfs, root).last
    val target = checkpointPath(root, v)
    if (hfs.exists(target)) hfs.delete(target, false)
    val ckDir = new Path(root, CheckpointDir)
    if (hfs.exists(ckDir))
      hfs.listStatus(ckDir).map(_.getPath)
        .filter(_.getName.startsWith(target.getName + ".p"))
        .foreach(hfs.delete(_, false)) // stale parts from a prior measure
    val w0 = System.nanoTime()
    writeCheckpointAt(hfs, root, v)
    val wSec = (System.nanoTime() - w0) / 1e9
    val r0 = System.nanoTime()
    val files = readCheckpoint(hfs, root, v).map(_._1.files.size).getOrElse(0)
    val rSec = (System.nanoTime() - r0) / 1e9
    (wSec, rSec, files)
  }

  private def writeCheckpointAt(hfs: FileSystem, root: Path, version: Long): Unit = {
    val target = checkpointPath(root, version)
    if (hfs.exists(target)) return
    val snap = readManifest(hfs, root, version)
    val prevCk = checkpoints(hfs, root).filter(_ < version).lastOption
    val baseTxn = prevCk.flatMap(v => readCheckpoint(hfs, root, v))
      .map(_._2).getOrElse(Map.empty[String, Long])
    val txnmax = ((prevCk.getOrElse(-1L) + 1) to version)
      .flatMap(v => readRaw(hfs, root, v).txn)
      .foldLeft(baseTxn) { case (acc, (a, b)) =>
        acc.updated(a, math.max(acc.getOrElse(a, Long.MinValue), b))
      }
    val globalHdr = Seq(s"version=${snap.version}", s"ts=${snap.ts}", s"op=${snap.op}") ++
      snap.schemaJson.map(j => s"schema=$j") ++
      txnmax.toSeq.sortBy(_._1).map { case (a, b) => s"txnmax=$a:$b" } ++
      dvLines(snap.dvs, snap.dvCounts) ++
      constraintLines(snap.constraints) ++
      genLines(snap.gens) ++
      bloomCfgLine(snap.bloomCfg) ++
      pcolsLines(snap.pcols) ++
      mapStateLines(
        if (snap.colMap.isEmpty && snap.retired.isEmpty) None
        else Some((snap.colMap, snap.retired))) ++
      // same generation-2 marker as property-bearing manifests: a
      // single-file checkpoint carrying prv=/prop= must gate, not
      // misparse, under a pre-props reader
      (if (snap.props.nonEmpty) Seq(s"reader=$SupportedReaderVersion")
       else Seq.empty) ++
      propsLines(if (snap.props.isEmpty) None else Some(snap.props))
    def chunkLines(fs: Seq[String]): Seq[String] =
      statLines(fs, snap.stats) ++ rowLines(fs, snap.rowCounts) ++ fs
    val limit = checkpointPartLimit
    if (snap.files.size <= limit)
      writeClaimed(hfs, new Path(root, CheckpointDir), target,
        (globalHdr ++ chunkLines(snap.files)).mkString("", "\n", "\n"),
        onLost = () => ()) // lost checkpoint race: the other copy is identical
    else {
      // multi-part: each part carries one bounded chunk's stat/row/path
      // lines; parts land BEFORE the main pointer is claimed, so a
      // reader that sees `parts=N` always finds all N (a crashed writer
      // leaves only unclaimed orphan parts, which the next attempt
      // rewrites identically — content is deterministic)
      val chunks = snap.files.grouped(limit).toSeq
      // parts are independent files — write them on the shared bounded
      // [[ioPool]] (a 32-part checkpoint costs ~the slowest part, not
      // the serial sum); the main pointer is still claimed strictly
      // after ALL parts are durable AND verified. Verification matters:
      // a crashed writer running under a DIFFERENT part limit may have
      // left orphan parts with other chunking that win the claim —
      // "deterministic content" does not hold across config changes, so
      // a lost claim is read back and replaced on mismatch.
      implicit val ec: scala.concurrent.ExecutionContext = ioPool
      val writes = chunks.zipWithIndex.map { case (fsChunk, i) =>
        scala.concurrent.Future {
          val want = chunkLines(fsChunk)
          val content = want.mkString("", "\n", "\n")
          val pp = checkpointPartPath(target, i)
          writeClaimed(hfs, new Path(root, CheckpointDir), pp, content,
            onLost = () => ())
          if (readLines(hfs, pp) != want) {
            hfs.delete(pp, false)
            writeClaimed(hfs, new Path(root, CheckpointDir), pp, content,
              onLost = () => ())
            require(readLines(hfs, pp) == want,
              s"checkpoint part $pp could not be claimed with the current chunking")
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writes), ioWait)
      // nfiles lets the reader PROVE the parts it resolved are this
      // pointer's parts (stale/missing parts fail loudly, never a
      // silently truncated file list). The pointer carries the
      // minimum-reader marker `reader=2` ([[SupportedReaderVersion]]):
      // this library generation onward refuses later-generation
      // metadata with a clear upgrade error, the protocol-version gate
      // Delta applies to the same class of format change. (A jar
      // PREDATING the marker still misreads `parts=` as a body line —
      // unfixable retroactively; keep pre-feature readers off tables
      // whose snapshots exceed the part limit.)
      writeClaimed(hfs, new Path(root, CheckpointDir), target,
        (globalHdr ++ Seq(s"reader=$SupportedReaderVersion",
          s"nfiles=${snap.files.size}", s"parts=${chunks.size}"))
          .mkString("", "\n", "\n"),
        onLost = () => ())
    }
  }

  private def statLines(files: Seq[String],
      stats: Map[String, Map[String, (String, String)]]): Seq[String] =
    files.flatMap { f =>
      stats.get(f).filter(_.nonEmpty).map { cs =>
        s"fstat=$f|" + cs.toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => s"$c:$mn:$mx" }.mkString("|")
      }
    }

  private def dvLines(dvs: Map[String, String],
      counts: Map[String, Long] = Map.empty): Seq[String] =
    dvs.toSeq.sortBy(_._1).map { case (f, d) =>
      counts.get(f).fold(s"dv=$f|$d")(n => s"dv=$f|$d|$n") }

  private def constraintLines(cks: Map[String, String]): Seq[String] =
    cks.toSeq.sortBy(_._1).map { case (n, e) =>
      s"ck=$n|${hexEncode(e.getBytes("UTF-8"))}" }

  private def commitManifest(hfs: FileSystem, root: Path, m0: RawManifest): Unit = {
    val target = manifestPath(root, m0.version)
    if (hfs.exists(target)) throw new ConcurrentCommitException(m0.version)
    val m = resolveTsNow(hfs, root, m0)
    val hdr = Seq(s"version=${m.version}", s"ts=${m.ts}", s"op=${m.op}") ++
      m.base.map(b => s"base=$b") ++
      m.txn.map { case (a, b) => s"txn=$a:$b" } ++
      m.schemaJson.map(j => s"schema=$j") ++
      m.removes.map(r => s"rm=$r") ++
      statLines(m.adds, m.addStats) ++
      rowLines(m.adds, m.addRows) ++
      dvLines(m.addDvs, m.addDvCounts) ++
      constraintLines(m.addConstraints) ++
      m.dropConstraints.toSeq.sorted.map(n => s"ckrm=$n") ++
      genLines(m.addGens) ++
      m.dropGens.toSeq.sorted.map(n => s"genrm=$n") ++
      bloomCfgLine(m.bloomCfg) ++
      m.pcolsLine.map(p => pcolsLines(p)).getOrElse(Seq.empty) ++
      mapStateLines(m.mapState) ++
      // property-bearing metadata is generation-2 format: the marker
      // makes any reader that understands the gate but not prv=/prop=
      // fail with the upgrade error instead of misparsing prop= lines
      // as body data-file paths
      (if (m.propsState.isDefined) Seq(s"reader=$SupportedReaderVersion")
       else Seq.empty) ++
      propsLines(m.propsState)
    writeClaimed(hfs, new Path(root, ManifestDir), target,
      (hdr ++ m.adds).mkString("", "\n", "\n"),
      onLost = () => throw new ConcurrentCommitException(m.version))
  }

  /** Write `content` to a temp name in `dir`, then atomically claim
    * `target` — exactly one of N racers wins; losers run `onLost`.
    * The claim primitive is chosen from the RESOLVED FileSystem class
    * (a scheme-less path on a cluster whose fs.defaultFS is HDFS must
    * take the rename branch — the raw URI scheme is empty there): HDFS
    * rename fails on an existing destination; local POSIX rename(2)
    * OVERWRITES, so the claim is a hard link — link(2) fails with
    * EEXIST atomically. */
  private def writeClaimed(hfs: FileSystem, dir: Path, target: Path,
      content: String, onLost: () => Unit): Unit = {
    hfs.mkdirs(dir)
    val tmp = new Path(dir, s".${target.getName}.tmp-${java.util.UUID.randomUUID}")
    val out = hfs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val local = hfs.isInstanceOf[LocalFileSystem] || hfs.isInstanceOf[RawLocalFileSystem]
    if (local) {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(hfs.makeQualified(target).toUri.getPath),
        java.nio.file.Paths.get(hfs.makeQualified(tmp).toUri.getPath))
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        hfs.delete(tmp, false)
        onLost()
        return
      }
      hfs.delete(tmp, false)
    } else if (!hfs.rename(tmp, target)) {
      hfs.delete(tmp, false)
      onLost()
    }
  }

  // --------------------------------------------- deletion-vector scans
  //
  // Merge-on-read DELETE (Delta's deletion vectors, re-derived): a COW
  // delete rewrites every touched file, so erasing one user's 10⁶ rows
  // scattered across a 100 TB table rewrites ~the whole table. A
  // deletion vector instead records the deleted ROW POSITIONS per file
  // in a tiny side dataset and leaves the data files untouched; readers
  // anti-join (file, row position) against the broadcast vector. Write
  // cost becomes O(deleted rows) — KBs — and the read-side tax is one
  // broadcast hash anti-join (codegen'd) keyed on the parquet source's
  // own `_metadata.row_index`. The DV dataset is PARQUET WRITTEN BY A
  // SPARK JOB — positions are never collected to the driver, so a
  // delete matching 10⁹ rows still works; only touched FILE NAMES hit
  // the driver (the same |files| bound as COW discovery). [[optimize]]
  // reads through vectors like every other reader, so compaction IS the
  // materialization path (the rewritten snapshot carries no `dv=`
  // entries); [[delete]]/[[merge]] rewrites of a vectored file apply
  // its vector first and drop the entry with the file.

  /** The layout-relative form of a manifest file entry: identity on a
    * normal table, suffix extraction on a clone's absolute path — the
    * form `input_file_name()` extraction and DV `file` columns use. */
  private def relLayoutName(f: String): String = {
    val m = java.util.regex.Pattern.compile(DataFileRe).matcher(f)
    if (m.matches()) m.group(1) else f
  }

  // ---------------------------------------------------- column mapping
  //
  // Physical names live in parquet files and NEVER change; logical
  // names live in the manifest schema and rename freely. The whole
  // feature is two renames at the engine's boundaries: scans alias
  // physical → logical immediately after the parquet read (so every
  // predicate, join and constraint in this file sees logical names),
  // and writers alias logical → physical immediately before the
  // parquet write. An unmapped table (colMap empty) takes neither
  // branch — byte-identical to pre-mapping behavior.

  /** Physical name of a logical column (identity when unmapped). */
  private def physOf(colMap: Map[String, String], c: String): String =
    colMap.getOrElse(c, c)

  /** Alias a freshly read PHYSICAL frame to logical names, dropping
    * retired physicals (columns a [[dropColumn]] removed — still in old
    * files, invisible to every reader). */
  private def toLogical(df: DataFrame, colMap: Map[String, String],
      retired: Set[String]): DataFrame =
    if (colMap.isEmpty && retired.isEmpty) df
    else {
      val phys2log = colMap.collect { case (l, p) if l != p => p -> l }
      df.select(df.columns.collect {
        case c if !retired.contains(c) => col(c).as(phys2log.getOrElse(c, c))
      }.toIndexedSeq: _*)
    }

  /** Alias a LOGICAL frame to physical names for a data-file write. */
  private def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.forall { case (l, p) => l == p }) df
    else df.select(df.columns.map { c =>
      col(c).as(colMap.getOrElse(c, c))
    }.toIndexedSeq: _*)

  /** A file's manifest stats re-keyed to LOGICAL names — what every
    * predicate-driven pruning decision must consult on a mapped table
    * (stats are recorded under the parquet footer's physical names). */
  private def logicalStatsOf(m: Manifest, f: String): Map[String, (String, String)] = {
    val raw = m.stats.getOrElse(f, Map.empty)
    if (m.colMap.isEmpty) raw
    else {
      val phys2log = m.colMap.collect { case (l, p) if l != p => p -> l }
      raw.map { case (c, v) => phys2log.getOrElse(c, c) -> v }
    }
  }

  /** A scan of `files` carrying `__file` (layout-relative name) and
    * `__pos` (row position in its file) alongside the data columns.
    * Row identity comes from the `_metadata` columns, NOT
    * `input_file_name()`: the metadata struct is a deterministic
    * attribute, so user predicates still PUSH DOWN through this
    * projection to the parquet scan — `input_file_name()` is
    * non-deterministic in Catalyst and would fence every filter above
    * it out of the scan (plan-audit-asserted). */
  private def scanWithPos(spark: SparkSession, root: Path, files: Seq[String],
      mergeSchema: Boolean = true,
      colMap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      readSchema: Option[StructType] = None): DataFrame = {
    // row identity FIRST (the `_metadata` struct does not survive an
    // explicit projection), then the physical → logical alias pass;
    // `__file`/`__pos` ride through toLogical untouched (never mapped)
    val rdr = readSchema.fold(
      spark.read.option("mergeSchema", mergeSchema.toString))(spark.read.schema)
    // row identity: the native-layout extraction first (also resolves a
    // CLONE's source-absolute files); a CONVERTED table's foreign file
    // names fall back to root-relative extraction — immune to file:/ vs
    // file:/// qualification drift because only the PATH part anchors
    val rootRe = ".*" + java.util.regex.Pattern.quote(root.toUri.getPath) + "/(.+)$"
    toLogical(rdr
      .parquet(files.map(f => new Path(root, f).toString): _*)
      .withColumn("__file", {
        val native = regexp_extract(col("_metadata.file_path"), DataFileRe, 1)
        when(native =!= "", native)
          .otherwise(regexp_extract(col("_metadata.file_path"), rootRe, 1))
      })
      .withColumn("__pos", col("_metadata.row_index")), colMap, retired)
  }

  /** The deleted (file, pos) rows applying to `files` under `dvs`, or
    * None when no listed file carries a vector. Entries for OTHER files
    * are filtered out: a superseded vector dir may survive in older
    * versions (rollback re-points at it), so a file's positions must
    * come only from the dir its OWN entry names. */
  private def dvFrame(spark: SparkSession, root: Path, files: Seq[String],
      dvs: Map[String, String]): Option[DataFrame] = {
    val fset = files.toSet
    val relevant = dvs.filter { case (f, _) => fset(f) }
    if (relevant.isEmpty) None
    else {
      val names = relevant.keys.map(relLayoutName).toSeq
      Some(spark.read
        .parquet(relevant.values.toSeq.distinct
          .map(d => new Path(root, d).toString): _*)
        .filter(col("file").isin(names: _*)))
    }
  }

  /** The LIVE rows of `files` (vectors under `dvs` applied), carrying
    * `__file`/`__pos` for callers that need row identity (discovery
    * scans, the DV writer itself). */
  private def scanLive(spark: SparkSession, root: Path, files: Seq[String],
      dvs: Map[String, String],
      colMap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      readSchema: Option[StructType] = None): DataFrame = {
    val s = scanWithPos(spark, root, files, mergeSchema = true, colMap, retired,
      readSchema)
    dvFrame(spark, root, files, dvs).fold(s)(dv =>
      s.join(broadcast(dv.select(col("file").as("__file"),
        col("pos").as("__pos"))), Seq("__file", "__pos"), "left_anti"))
  }

  /** DV-aware snapshot scan: plain parquet read when none of `files`
    * carries a vector (the common case — zero overhead), else the scan
    * minus the broadcast anti-join on (file, row position). EVERY
    * reader of current-version data routes through here — readVersion,
    * readWhere, merge/delete discovery, COW rewrites, optimize, CDF —
    * so a vectored row is invisible everywhere at once. */
  private def scanFiles(spark: SparkSession, root: Path, files: Seq[String],
      dvs: Map[String, String], mergeSchema: Boolean = true,
      colMap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      readSchema: Option[StructType] = None): DataFrame =
    dvFrame(spark, root, files, dvs) match {
      case None =>
        val rdr = readSchema.fold(
          spark.read.option("mergeSchema", mergeSchema.toString))(spark.read.schema)
        toLogical(rdr
          .parquet(files.map(f => new Path(root, f).toString): _*),
          colMap, retired)
      case Some(_) =>
        scanLive(spark, root, files, dvs, colMap, retired, readSchema)
          .drop("__file", "__pos")
    }

  /** Total row count of one data file, from its parquet footer (no data
    * pages) — the denominator of the vectored-fraction threshold. */
  private def fileRowCount(hfs: FileSystem, root: Path, relFile: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(root, relFile), hfs.getConf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount.longValue).sum
    finally reader.close()
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
  private def foldHeavyVectored(h: Head, touchedFiles: Set[String],
      dvDir: String, posCounts: Map[String, Long], threshold: Double)
      : (Set[String], Written) = {
    if (threshold >= 1.0 || touchedFiles.isEmpty) return (Set.empty, NothingWritten)
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    val heavy = Await.result(
      Future.sequence(touchedFiles.toSeq.sorted.map { f =>
        Future {
          val pos = posCounts.getOrElse(relLayoutName(f), 0L)
          val rows = if (pos == 0) 1L else fileRowCount(h.hfs, h.root, f)
          (f, rows > 0 && pos.toDouble / rows >= threshold)
        }
      }), ioWait).collect { case (f, true) => f }
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
  private def commitVectors(h: Head, ts: String, op: String,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      candidates: Seq[String], deleted: DataFrame, threshold: Double)
      (postImages: => Written): Long = {
    val dvDir = newDataDir(h.next)
    val dvPath = new Path(h.root, dvDir)
    // distinct: the folded old positions may carry duplicates (a file's
    // stale rows survive in dirs other files still point at) — the new
    // dataset is a SET so downstream folds and CDF diffs stay exact
    dvFrame(h.spark, h.root, candidates, h.m.dvs).fold(deleted)(deleted.unionByName(_))
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
    import scala.concurrent.{Await, Future}
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    val opened = Await.result(
      Future.sequence(files.map(f => Future(f -> footerStats(hfs, root, f)))),
      ioWait).toMap
    publish(hfs, root, RawManifest(0L, ts, "convert", adds = files,
      schemaJson = Some(schema.json),
      addStats = opened.map { case (f, (st, _)) => f -> st }.filter(_._2.nonEmpty),
      addRows = opened.map { case (f, (_, n)) => f -> n }))
    0L
  }

  /** One-row table summary (Delta's DESCRIBE DETAIL, re-derived):
    * everything comes from the head manifest + a file-status pass —
    * no data read. Partition/bloom/constraint/generated metadata in
    * LOGICAL names. */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    val h = openRead(spark, path, -1L)
    val m = h.m
    import spark.implicits._
    Seq((h.prev, m.ts, m.op, m.files.size.toLong, h.bytes(m.files),
      rowCountOf(spark, h.hfs, h.root, m, m.files), m.logicalPcols,
      m.constraints.keys.toSeq.sorted,
      m.gens.keys.toSeq.sorted,
      m.bloomCfg.map(_._1).getOrElse(Seq.empty),
      m.dvs.size.toLong,
      m.props.toSeq.sortBy(_._1).map { case (k, pv) => s"$k=$pv" }))
      .toDF("version", "ts", "operation", "num_files", "size_bytes",
        "num_rows", "partition_columns", "constraints", "generated_columns",
        "bloom_index_columns", "num_vectored_files", "properties")
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

  /** Exact COUNT(*) of a snapshot from METADATA ALONE: per-file footer
    * row counts recorded at write time (`fr=` manifest lines) minus the
    * recorded deletion-vector position counts — zero data files opened.
    * At 100 TB this is the difference between an O(files) driver-side
    * log read and a full-table scan for the single most common query in
    * any pipeline's orchestration layer (row-count assertions, DQ
    * volume checks, progress monitoring). Files predating the count
    * record fall back to one footer read each (on the bounded
    * [[ioPool]]); DV entries lacking a recorded count fall back to
    * counting the tiny vector dataset. Delta answers SELECT COUNT(*)
    * from add-file stats the same way. */
  def rowCount(spark: SparkSession, path: String, version: Long = -1L): Long = {
    val h = openRead(spark, path, version)
    rowCountOf(spark, h.hfs, h.root, h.m, h.m.files)
  }

  private def rowCountOf(spark: SparkSession, hfs: FileSystem, root: Path,
      m: Manifest, files: Seq[String]): Long = {
    val missing = files.filterNot(m.rowCounts.contains)
    val fallback: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else {
        import scala.concurrent.{Await, Future}
        implicit val ec: scala.concurrent.ExecutionContext = ioPool
        Await.result(Future.sequence(missing.map(f =>
          Future(f -> fileRowCount(hfs, root, f)))), ioWait).toMap
      }
    val gross = files.iterator
      .map(f => m.rowCounts.getOrElse(f, fallback(f))).sum
    val fset = files.toSet
    val vectored = m.dvs.keysIterator.filter(fset).toSeq
    val recorded = vectored.flatMap(m.dvCounts.get).sum
    val unrecorded = vectored.filterNot(m.dvCounts.contains)
    val dvFallback =
      if (unrecorded.isEmpty) 0L
      else dvFrame(spark, root, unrecorded, m.dvs).map(_.count()).getOrElse(0L)
    gross - recorded - dvFallback
  }

  /** Exact COUNT(*) under `condition`, metadata-first. Three file
    * classes from the manifest:
    *   1. stats/bloom-pruned OUT (no row can match) → 0;
    *   2. proven fully IN — the file's PARTITION-PATH values decide the
    *      whole predicate: on a [[writeDataFiles]] layout each value
    *      directory's files are value-homogeneous and null-free in the
    *      partition columns, so a predicate referencing ONLY partition
    *      columns evaluates once per directory, not once per row →
    *      counted from the manifest ([[rowCountOf]], DV-adjusted);
    *   3. everything else (boundary) → scanned with the row-level
    *      filter.
    * A partition-aligned predicate therefore costs ZERO data I/O at any
    * table size; any other predicate degrades gracefully to exactly
    * `readWhere(condition).count()`. The per-directory evaluation uses
    * Spark itself (one local 1-row-per-directory plan), so predicate
    * semantics — casts, 3VL, collation — are the engine's own, and it
    * is only trusted for types whose directory rendering round-trips
    * exactly (string/integral/date/boolean); other partition types fall
    * to the boundary scan, trading speed, never correctness. */
  def countWhere(spark: SparkSession, path: String, condition: String,
      version: Long = -1L): Long = {
    val Head(_, hfs, root, _, m) = openRead(spark, path, version)
    val cond = spark.sessionState.sqlParser.parseExpression(condition)
    val statKept = m.files.filter(f => mayMatch(logicalStatsOf(m, f), cond))
    val snapSchema = snapshotSchema(spark, root, m)
    val kept = bloomPrune(hfs, root, statKept,
      eqProbes(cond, snapSchema).map { case (c, vs) => physOf(m.colMap, c) -> vs })
    if (kept.isEmpty) return 0L
    val proven = provenFullMatch(spark, m, snapSchema, kept, cond, condition)
    val boundary = kept.filterNot(proven)
    val head = rowCountOf(spark, hfs, root, m, kept.filter(proven))
    val tail =
      if (boundary.isEmpty) 0L
      else scanFiles(spark, root, boundary, m.dvs, mergeSchema = true,
        m.colMap, m.retired, physReadSchema(m))
        .filter(expr(condition)).count()
    head + tail
  }

  /** The subset of `files` whose partition-directory values PROVE every
    * live row satisfies `cond` (class 2 above), or an empty set when
    * the predicate references any non-partition column, any partition
    * value is the null directory, or a partition type's rendering
    * doesn't round-trip exactly. */
  private def provenFullMatch(spark: SparkSession, m: Manifest,
      snapSchema: StructType, files: Seq[String],
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      condition: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    if (m.pcols.isEmpty) return Set.empty
    val logicalP = m.logicalPcols
    // every referenced attribute must BE a partition column (resolved
    // case-insensitively, like the engine's own analysis)
    val refs = cond.collect { case u: UnresolvedAttribute => u.name }
    val canon = refs.map(r => logicalP.find(_.equalsIgnoreCase(r)))
    if (refs.isEmpty || canon.exists(_.isEmpty)) return Set.empty
    val roundTrips = logicalP.forall { c =>
      snapSchema.fields.find(_.name == c).map(_.dataType).exists {
        case StringType | ByteType | ShortType | IntegerType | LongType |
             DateType | org.apache.spark.sql.types.BooleanType => true
        case _ => false
      }
    }
    if (!roundTrips) return Set.empty
    val tuples: Map[String, Seq[String]] = files.flatMap { f =>
      partitionTupleOf(f, m.pcols).map(f -> _)
    }.toMap
    val distinctTuples = tuples.values.toSeq.distinct
    if (distinctTuples.isEmpty) return Set.empty
    // ONE local plan evaluates the predicate per directory tuple —
    // engine-native semantics, |directories|-bounded driver work
    val strSchema = StructType(StructField("__i", LongType, nullable = false) +:
      logicalP.map(c => StructField(c, StringType, nullable = true)))
    val rows = distinctTuples.zipWithIndex.map { case (t, i) =>
      Row.fromSeq(i.toLong +: t.map(v => v: Any)) }
    val typed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), strSchema)
      .select(col("__i") +: logicalP.map(c =>
        col(c).cast(snapSchema(c).dataType).as(c)): _*)
    val matched = typed.filter(expr(condition))
      .select("__i").collect().map(_.getLong(0)).toSet
    val ok = distinctTuples.zipWithIndex
      .collect { case (t, i) if matched(i) => t }.toSet
    tuples.collect { case (f, t) if ok(t) => f }.toSet
  }

  /** The `p__col=value` segments of a partitioned data-file path as the
    * table's partition tuple (physical column order), unescaped; None
    * when any partition column is missing from the path or holds the
    * null directory (those files are never proven, only scanned). */
  private def partitionTupleOf(f: String,
      pcols: Seq[String]): Option[Seq[String]] = {
    val segs = f.split('/').flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > PartDirPrefix.length && seg.startsWith(PartDirPrefix))
        Some(seg.substring(PartDirPrefix.length, i) -> seg.substring(i + 1))
      else None
    }.toMap
    val vals = pcols.map(segs.get)
    if (vals.exists(v => v.isEmpty || v.contains("__HIVE_DEFAULT_PARTITION__")))
      None
    else Some(vals.map(v => unescapePathName(v.get)))
  }

  /** Hive's %XX path escaping, decoded (the escaping Spark's partition
    * writer applies to special characters in directory values). */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val h = Integer.parseInt(s.substring(i + 1, i + 3), 16)
        sb.append(h.toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Read a snapshot: latest when `version` < 0, else that exact version.
    * The explicit file list goes straight to the parquet source — column
    * pruning and predicate pushdown apply as on any parquet scan.
    * `mergeSchema` (on by default) unions every file's footer schema so a
    * snapshot whose appends evolved the schema reads the union, with the
    * missing columns null on older files — a metadata-only pass, data
    * scans unchanged. */
  def readVersion(spark: SparkSession, path: String, version: Long = -1L,
      mergeSchema: Boolean = true): DataFrame = {
    val Head(_, _, root, _, m) = openRead(spark, path, version)
    if (m.files.isEmpty)
      // legal empty state (delete-all, empty-batch commit): the manifest
      // records the schema, so the head stays readable — Delta supports
      // empty table states and so does this
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        snapshotSchema(spark, root, m))
    else scanFiles(spark, root, m.files, m.dvs, mergeSchema, m.colMap, m.retired,
      if (mergeSchema) physReadSchema(m) else None)
  }

  /** A snapshot's manifest-relative data-file list (latest when
    * `version` < 0) — Delta DESCRIBE DETAIL's file inventory. Lets specs
    * and maintenance jobs verify carry-by-reference (merge/rollback must
    * NOT rewrite untouched files). */
  def snapshotFiles(spark: SparkSession, path: String, version: Long = -1L): Seq[String] =
    openRead(spark, path, version).m.files

  /** Time travel by timestamp: the latest snapshot with `ts` ≤ the given
    * ISO-8601 instant (string comparison — ISO-8601 sorts lexically).
    * Header-only reads to pick the version; one resolve to read it. */
  def readAsOf(spark: SparkSession, path: String, asOf: String): DataFrame = {
    val (hfs, root) = fs(spark, path)
    val v = versions(hfs, root).map(readRaw(hfs, root, _))
      .filter(_.ts <= asOf).map(_.version).lastOption
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at or before $asOf"))
    readVersion(spark, path, v)
  }

  /** The table's commit log as a DataFrame — one row per version with the
    * snapshot's file count (Delta DESCRIBE HISTORY's shape). One
    * ASCENDING fold over raw manifests (each read once, deltas applied
    * incrementally against a version→files memo) — never a per-version
    * chain walk. No data files are opened. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val (hfs, root) = fs(spark, path)
    import spark.implicits._
    val listed = versions(hfs, root)
    val present = listed.toSet
    val memo = scala.collection.mutable.HashMap.empty[Long, Seq[String]]
    listed.map { v =>
      val raw = readRaw(hfs, root, v)
      val files = raw.base match {
        case Some(b) if memo.contains(b) =>
          raw.removes.toSet match {
            case removed => memo(b).filterNot(removed) ++ raw.adds
          }
        case Some(b) if present.contains(b) =>
          readManifest(hfs, root, b).files.filterNot(raw.removes.toSet) ++ raw.adds
        case Some(_) =>
          // base expired ([[expireLog]]): this version is the anchor —
          // its checkpoint carries the resolved state
          readManifest(hfs, root, v).files
        case None => raw.adds
      }
      memo(v) = files
      // operation metrics (Delta's operationMetrics flavor), free from
      // the manifest's own counts: rows in this commit's new files and
      // row positions its deletion vectors removed
      (raw.version, raw.ts, raw.op, files.size,
        raw.addRows.values.sum, raw.addDvCounts.values.sum)
    }.toDF("version", "ts", "op", "n_files",
      "n_rows_added", "n_dv_rows_deleted")
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

  /** Extracts the manifest-relative data-file path from an
    * `input_file_name()` URI — keyed on the table's own
    * `files/c<8 digits>[-attempt]/<name>` layout rather than URI
    * relativization, which is sensitive to `file:/` vs `file:///`
    * qualification differences between Hadoop and Spark. Non-matching
    * inputs extract to "" (guarded at the collect sites). */
  // optional `name=value` segments between the commit dir and the file
  // are hive-style partition-value directories ([[writeDataFiles]])
  private val DataFileRe = ".*/(files/c\\d{8}[^/]*(?:/[^/]+=[^/]+)*/[^/]+)$"

  /** Map scan-extracted layout-relative names back to their manifest
    * entries: identity on a normal table; suffix match on a shallow
    * CLONE ([[cloneTable]]) whose manifest records absolute source
    * paths — `input_file_name()` extraction is layout-relative either
    * way, and a COW rewrite whose removes don't string-match the
    * manifest would ADD rewritten rows without REMOVING the originals.
    * Ambiguity (two entries sharing a relative suffix) fails loudly
    * rather than risk that corruption, and so does a name outside the
    * table layout (extracted as ""). */
  private def resolveTouched(files: Seq[String], touched: Set[String]): Set[String] = {
    require(!touched.contains(""), "scan returned a file outside the table layout")
    touched.map { e =>
      if (files.contains(e)) e
      else {
        val ms = files.filter(_.endsWith("/" + e))
        require(ms.size == 1,
          s"cannot resolve scanned file $e to a unique manifest entry (${ms.size} matches)")
        ms.head
      }
    }
  }

  /** The rewrite-phase read ([[Head.scan]]) of the given
    * manifest-relative files at the current head. The touched set is a
    * driver-side list after discovery, so handing it to the source
    * directly makes the rewrite scan touched-set-sized BY PLAN — the
    * FileSourceScan's location lists exactly these files (spec-asserted)
    * — where a full-snapshot read filtered on `input_file_name()` opens
    * every untouched file (Spark cannot file-prune on that expression).
    * The faces themselves read through the [[Head]] they already hold. */
  private[graft] def readTouched(spark: SparkSession, path: String,
      touched: Seq[String]): DataFrame =
    openSnapshot(spark, path).get.scan(touched)

  /** Per-key-column [lo, hi] bounds of the updates frame, in the STATS
    * ENCODING ([[footerStats]]'s logical domain: plain numerics as-is,
    * timestamps as epoch micros, dates as epoch days, decimals scaled,
    * strings hex-tagged). One aggregate pass computes every supported
    * column; a column whose bounds don't encode (float NaN/Infinity
    * keys — Spark's max treats NaN as largest, and "NaN" is not a
    * decimal) simply contributes no pruning instead of crashing the
    * merge. */
  private def updateKeyBounds(updates: DataFrame, keyCols: Seq[String])
      : Map[String, (String, String)] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, unix_date, unix_micros}
    import org.apache.spark.sql.types.StringType
    val encoded: Seq[(String, Column, String => Option[String])] = keyCols.flatMap { k =>
      val numeric = (s: String) =>
        scala.util.Try(BigDecimal(s).toString).toOption
      val hexed = (s: String) =>
        Some("s" + hexEncode(s.getBytes("UTF-8")))
      updates.schema(k).dataType match {
        case _: NumericType => Some((k, col(k), numeric))
        case TimestampType => Some((k, unix_micros(col(k)), numeric))
        case DateType => Some((k, unix_date(col(k)), numeric))
        case StringType => Some((k, col(k), hexed))
        case _ => None
      }
    }
    if (encoded.isEmpty) return Map.empty
    val aggs = encoded.flatMap { case (_, c, _) =>
      Seq(fmin(c).cast("string"), fmax(c).cast("string"))
    }
    val r = updates.agg(aggs.head, aggs.tail: _*).head()
    encoded.zipWithIndex.flatMap { case ((k, _, enc), i) =>
      if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) None
      else for {
        lo <- enc(r.getString(2 * i))
        hi <- enc(r.getString(2 * i + 1))
      } yield k -> (lo, hi)
    }.toMap
  }

  /** The files a merge keyed on `keyCols` must consider: stats pruning
    * intersects EVERY bounded key column's range (numeric, temporal and
    * string keys) — a composite key whose head column is low-selectivity
    * (constant tenant id) still prunes on the later columns. Files lacking stats for a column stay candidates
    * on that column (pruning is only ever an optimization). Exposed for
    * the composite-key pruning spec. */
  private[graft] def mergeCandidates(updates: DataFrame, path: String,
      keyCols: Seq[String]): Seq[String] =
    candidateFiles(openSnapshot(updates.sparkSession, path).get.m,
      updateKeyBounds(updates, keyCols))

  /** True when a file with `stats` may hold a row inside EVERY bound
    * (both sides in the stats encoding; a missing stat or a
    * differently-encoded pair — string bound vs numeric stats — is
    * conservatively `true`). Empty bounds (unencodable key types) are
    * `true`: nothing was proven about any file. */
  private def boundsMayOverlap(stats: Map[String, (String, String)],
      bounds: Map[String, (String, String)]): Boolean =
    bounds.isEmpty || bounds.forall { case (k, (lo, hi)) =>
      stats.get(k) match {
        case Some((mn, mx)) if mn.startsWith("s") == lo.startsWith("s") =>
          statCompare(mx, lo) >= 0 && statCompare(mn, hi) <= 0
        case _ => true
      }
    }

  /** Keep files whose recorded range intersects EVERY bound. */
  private def candidateFiles(m: Manifest,
      bounds: Map[String, (String, String)]): Seq[String] =
    if (bounds.isEmpty) m.files
    else m.files.filter(f => boundsMayOverlap(logicalStatsOf(m, f), bounds))

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

    private[VersionedTable] def condOf(a: MergeAction): Option[String] = a match {
      case Update(c, _) => c
      case Delete(c) => c
      case Insert(c, _) => c
    }
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
    *     bounded key column's range ([[mergeCandidates]]); with
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
  private def mergeInto(h: Head, source: DataFrame, path: String, keyCols: Seq[String],
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      notMatchedBySource: Seq[MergeAction], ts: String, extraOn: Option[String],
      op: String): Long = {
    import MergeAction._
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
    val keyBounds = updateKeyBounds(source, keyCols)
    val keyCand = candidateFiles(m, keyBounds)
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
          m.files.filter(f =>
            stripped.exists(e => mayMatch(logicalStatsOf(m, f), e)))
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
      st => notMatchedBySource.nonEmpty || boundsMayOverlap(st, keyBounds))
  }

  /** File-level data skipping from manifest stats: keep a file only if
    * `cond` MAY match some row of it — i.e. drop it only when the
    * predicate is provably false over the file's recorded [min, max]
    * ranges. Handles conjunctions/disjunctions of comparisons
    * (=, <=>, <, <=, >, >=, IN) with a column on one side and a literal
    * on the other. Literals compare in Catalyst's INTERNAL domain, which
    * is exactly the stats encoding: numerics as-is, `TIMESTAMP '...'`
    * literals as epoch micros, `DATE '...'` as epoch days, decimals
    * scaled — so typed temporal predicates prune files. Every
    * unrecognized shape, unparseable literal, or statless column
    * conservatively keeps the file. NULL semantics are safe by
    * construction: stats ranges cover non-null values and a
    * NULL-evaluating predicate is never TRUE, so a pruned file can't
    * contain a qualifying row (`<=> NULL` has no literal range and
    * keeps the file). */
  private def mayMatch(stats: Map[String, (String, String)],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def colName(ex: Expression): Option[String] = ex match {
      case u: UnresolvedAttribute => Some(u.name)
      case _ => None
    }
    // (compare(min, v), compare(max, v)) of the column's recorded range
    // against a literal — every comparison predicate derives from this
    // pair; None (statless column, incomparable types) must keep the file
    def rangeVs(c: String, v: Any): Option[(Int, Int)] =
      stats.get(c).flatMap { case (mn, mx) =>
        for {
          cMin <- statVsLiteral(mn, v)
          cMax <- statVsLiteral(mx, v)
        } yield (cMin, cMax)
      }
    def cmp(a: Expression, b: Expression,
        keep: (Int, Int) => Boolean,
        flippedKeep: (Int, Int) => Boolean): Boolean =
      (colName(a), b) match {
        case (Some(c), Literal(v, _)) =>
          rangeVs(c, v).forall { case (cMin, cMax) => keep(cMin, cMax) }
        case _ => (colName(b), a) match {
          case (Some(c), Literal(v, _)) =>
            rangeVs(c, v).forall { case (cMin, cMax) => flippedKeep(cMin, cMax) }
          case _ => true
        }
      }
    // v ∈ [min, max] ⇔ min ≤ v ∧ max ≥ v
    val within = (cMin: Int, cMax: Int) => cMin <= 0 && cMax >= 0
    e match {
      case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
      case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
      // the parser keeps `x BETWEEN a AND b` as 'between(x, a, b) — an
      // UnresolvedFunction only rewritten at analysis — so unfold it
      // here or the #1 range-predicate spelling never prunes (the
      // resolved Between node is matched too, for pre-analyzed trees)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("between") &&
            f.arguments.length == 3 =>
        mayMatch(stats, GreaterThanOrEqual(f.arguments(0), f.arguments(1))) &&
          mayMatch(stats, LessThanOrEqual(f.arguments(0), f.arguments(2)))
      case b: Between =>
        mayMatch(stats, GreaterThanOrEqual(b.input, b.lower)) &&
          mayMatch(stats, LessThanOrEqual(b.input, b.upper))
      case EqualTo(a, b) => cmp(a, b, within, within)
      case EqualNullSafe(a, b) => cmp(a, b, within, within) // null lit → kept
      case In(a, vals) if vals.forall(_.isInstanceOf[Literal]) =>
        colName(a) match {
          case Some(c) if stats.contains(c) =>
            vals.exists { case Literal(v, _) =>
              rangeVs(c, v).forall { case (cMin, cMax) => within(cMin, cMax) }
            }
          case _ => true
        }
      // col > v keeps iff max > v; flipped (v > col ⇔ col < v) iff min < v
      case GreaterThan(a, b) =>
        cmp(a, b, (_, cMax) => cMax > 0, (cMin, _) => cMin < 0)
      case GreaterThanOrEqual(a, b) =>
        cmp(a, b, (_, cMax) => cMax >= 0, (cMin, _) => cMin <= 0)
      case LessThan(a, b) =>
        cmp(a, b, (cMin, _) => cMin < 0, (_, cMax) => cMax > 0)
      case LessThanOrEqual(a, b) =>
        cmp(a, b, (cMin, _) => cMin <= 0, (_, cMax) => cMax >= 0)
      case _ => true
    }
  }

  /** Data-skipping snapshot read (Delta's stats-based file pruning as a
    * READ face): `readWhere(path, cond)` ≡ `readVersion(path).filter(cond)`
    * — same rows, spec-asserted — but files whose manifest stats prove
    * the predicate false are dropped from the scan BEFORE Spark opens a
    * footer. Prunes on numeric, DATE, TIMESTAMP and STRING columns (use
    * typed literals: `ts >= TIMESTAMP '2026-01-01 00:00:00'` — the #1
    * pruning predicate on a date-organized fact; string comparisons are
    * unsigned-byte, Spark's own default-collation order). On a Z-ORDERed table
    * ([[optimize]] with `zorderCols`) a 2-D range predicate prunes to the
    * files whose rectangle intersects the query box — file-level
    * skipping on top of the row-group skipping parquet already does
    * (both measured in the Stress harness). The predicate is
    * additionally applied as a normal filter, so pruning is pure
    * optimization — unsupported predicate shapes just read the full
    * list. Returns the pruned DataFrame; [[prunedFiles]] exposes the
    * file list for specs and EXPLAIN-style reporting. */
  def readWhere(spark: SparkSession, path: String, condition: String,
      version: Long = -1L): DataFrame =
    readFiltered(spark, path, condition, version)._1

  /** The manifest-relative files [[readWhere]] would scan. */
  def prunedFiles(spark: SparkSession, path: String, condition: String,
      version: Long = -1L): Seq[String] =
    readFiltered(spark, path, condition, version)._2

  private def readFiltered(spark: SparkSession, path: String, condition: String,
      version: Long): (DataFrame, Seq[String]) = {
    val Head(_, hfs, root, _, m) = openRead(spark, path, version)
    val cond = spark.sessionState.sqlParser.parseExpression(condition)
    val statKept = m.files.filter(f => mayMatch(logicalStatsOf(m, f), cond))
    val snapSchema = snapshotSchema(spark, root, m)
    // bloom sidecar pass AFTER stats: equality/IN conjuncts drop files
    // whose filter proves every candidate value absent — the pruning
    // min/max can never do on a uniformly distributed id column.
    // Probes derive from LOGICAL predicate names (typed against the
    // logical schema) and look up sidecar sections by PHYSICAL name.
    val kept = bloomPrune(hfs, root, statKept,
      eqProbes(cond, snapSchema).map { case (c, vs) => physOf(m.colMap, c) -> vs })
    val df =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], snapSchema)
      else {
        // align to the SNAPSHOT schema: pruning must not narrow the
        // result's columns when an evolved column lives only in pruned
        // files (their rows are excluded, the column is not)
        val base = scanFiles(spark, root, kept, m.dvs, mergeSchema = true,
          m.colMap, m.retired, physReadSchema(m))
        base.select(snapSchema.fields.map { f =>
          if (base.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    (df.filter(expr(condition)), kept)
  }

  /** The discovery-scan candidate list [[merge]] would read for updates
    * whose key column spans [lo, hi] — exposed so specs can assert
    * the stats pruning (a range-partitioned table's untouched files must
    * not even be candidates). */
  private[graft] def discoveryCandidates(spark: SparkSession, path: String,
      keyCol: String, lo: BigDecimal, hi: BigDecimal): Seq[String] =
    candidateFiles(openSnapshot(spark, path).get.m,
      Map(keyCol -> (lo.toString, hi.toString)))

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
  private def requireKnownSet(snapSchema: StructType, set: Map[String, String],
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
  private def applySet(df: DataFrame, snapSchema: StructType,
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
    * registry ([[recordCloneRef]]), and [[vacuum]] on the source keeps
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
    recordCloneRef(spark, shfs, sroot, target, v, m)
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
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    val copies = fileMap.map { case (from, to) =>
      scala.concurrent.Future {
        val src = new Path(sroot, from)
        org.apache.hadoop.fs.FileUtil.copy(shfs, src, thfs,
          new Path(troot, to), false, conf)
        val bloom = new Path(src.toString + ".bloom")
        if (shfs.exists(bloom))
          org.apache.hadoop.fs.FileUtil.copy(shfs, bloom, thfs,
            new Path(troot, to + ".bloom"), false, conf)
      }
    } ++ dvMap.map { case (from, to) =>
      scala.concurrent.Future {
        org.apache.hadoop.fs.FileUtil.copy(shfs, new Path(sroot, from), thfs,
          new Path(troot, to), false, conf)
        ()
      }
    }
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(copies), ioWait)
    def rekey[A](src: Map[String, A]): Map[String, A] =
      fileMap.flatMap { case (f, r) => src.get(f).map(r -> _) }.toMap
    publish(thfs, troot, fullManifest(0L, ts, s"clone_deep(v$v)", m).copy(
      adds = fileMap.map(_._2), schemaJson = Some(m.schemaJson.getOrElse(h.schema.json)),
      addStats = rekey(m.stats),
      addDvs = rekey(m.dvs).map { case (f, d) => f -> dvMap.getOrElse(d, d) },
      addRows = rekey(m.rowCounts), addDvCounts = rekey(m.dvCounts)))
    0L
  }

  /** Whether any CHECK constraint's SQL references column `c` — rename
    * and drop refuse when one does (Delta's dependency rule): the
    * constraint would throw unresolved-attribute on every later write
    * instead of enforcing anything. Drop or rewrite the constraint
    * first. */
  private def constraintReferences(spark: SparkSession,
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

  private val ClonesDir = "_clones"

  /** Record in the SOURCE's `_clones/` registry that `target` shallow-
    * cloned version `v`: one immutable file listing the source-relative
    * data files and DV dirs the clone references. [[vacuum]] on the
    * source treats these as referenced — closing the documented
    * Delta caveat where vacuuming the source breaks clones silently.
    * The record is metadata-sized (O(files) paths, same as the clone's
    * own manifest); [[releaseCloneRef]] drops it when the clone is
    * deleted or made self-contained ([[optimize]] on the clone). */
  private def recordCloneRef(spark: SparkSession, shfs: FileSystem,
      sroot: Path, target: String, v: Long, m: Manifest): Unit = {
    val dir = new Path(sroot, ClonesDir)
    val p = new Path(dir,
      f"v$v%08d-${java.util.UUID.randomUUID.toString.take(8)}.clone")
    val body = Seq(s"target=$target", s"version=$v") ++
      m.dvs.values.toSeq.distinct.sorted.map(d => s"dvref=$d") ++ m.files
    shfs.mkdirs(dir)
    val out = shfs.create(p, false)
    try out.write(body.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def cloneRecordPaths(hfs: FileSystem, root: Path): Seq[Path] = {
    val dir = new Path(root, ClonesDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".clone"))
      .map(_.getPath)
  }

  /** Shallow clones recorded against this source: (target, version). */
  def cloneRefs(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val (hfs, root) = fs(spark, path)
    cloneRecordPaths(hfs, root).map { p =>
      val hdr = readLines(hfs, p).takeWhile(isHeaderLine)
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap
      (hdr.getOrElse("target", ""), hdr.get("version").map(_.toLong).getOrElse(-1L))
    }
  }

  /** Drop the clone-registry records naming `target` (the clone was
    * deleted, or optimized self-contained), releasing the files it
    * pinned to the next [[vacuum]]. Returns records removed. */
  def releaseCloneRef(spark: SparkSession, path: String, target: String): Int = {
    val (hfs, root) = fs(spark, path)
    var n = 0
    cloneRecordPaths(hfs, root).foreach { p =>
      val hdr = readLines(hfs, p).takeWhile(isHeaderLine)
        .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
        .toMap
      if (hdr.get("target").contains(target) && hfs.delete(p, false)) n += 1
    }
    n
  }

  /** Change data feed between two snapshots (Delta CDF / `table_changes`):
    * row-level `insert` / `delete` / `update_preimage` / `update_postimage`
    * classification keyed on `keyCols`, computed from the MANIFEST DIFF —
    * only files added or removed between the versions are opened; files
    * carried by reference (the untouched bulk of a copy-on-write table)
    * contribute nothing and are never read. That is the property that
    * makes CDF viable at 100 TB: a merge touching one key reads two
    * files here, not two snapshots. Unchanged rows inside a rewritten
    * file cancel in the keyed full-outer compare (null-safe struct
    * equality), so copy-on-write rewrite artifacts never surface as
    * changes.
    *
    * Output: the table's columns plus `_change_type`; updates emit both
    * images (Delta's CDF shape). Precondition, same as [[merge]]:
    * `keyCols` unique per snapshot. Reads both sides with mergeSchema
    * and aligns columns by name (union schema) so the feed spans
    * schema-evolution commits; pre-evolution rows read the new columns
    * as null. */
  /** One commit's shape, for the streaming source's change
    * classification: (op, added files, removed files, files gaining a
    * deletion vector, is-delta-manifest). Header-only read. */
  private[sources] def commitSummary(spark: SparkSession, path: String,
      v: Long): (String, Seq[String], Seq[String], Set[String], Boolean) = {
    val (hfs, root) = fs(spark, path)
    val raw = readRaw(hfs, root, v)
    (raw.op, raw.adds, raw.removes, raw.addDvs.keySet,
      raw.base.contains(v - 1))
  }

  /** On-disk size of one manifest file entry (relative or
    * clone-absolute) — the stream source's byte-budget pacing unit.
    * 0 for an unstattable file (pacing is an optimization; the batch
    * read itself still fails loudly on a truly missing file). */
  private[graft] def dataFileSize(spark: SparkSession, path: String,
      file: String): Long = {
    val (hfs, root) = fs(spark, path)
    scala.util.Try(hfs.getFileStatus(new Path(root, file)).getLen).getOrElse(0L)
  }

  /** The rows a commit ADDED — its manifest's added data files, read
    * under that snapshot's column mapping and recorded schema. The
    * streaming source's per-version feed: added files carry no deletion
    * vector in the commit that adds them, so the read is a plain
    * mapped scan. */
  private[sources] def addedRows(spark: SparkSession, path: String,
      v: Long, fromIdx: Int = 0, untilIdx: Int = Int.MaxValue): Option[DataFrame] = {
    val (hfs, root) = fs(spark, path)
    val raw = readRaw(hfs, root, v)
    // manifest-recorded order is stable, so [fromIdx, untilIdx) slices
    // partition a commit's adds deterministically across rate-limited
    // micro-batches (maxFilesPerTrigger)
    val files = raw.adds.slice(fromIdx, math.min(untilIdx.toLong, raw.adds.size.toLong).toInt)
    if (files.isEmpty) None
    else {
      val m = readManifest(hfs, root, v)
      Some(scanFiles(spark, root, files, Map.empty, mergeSchema = true,
        m.colMap, m.retired, physReadSchema(m)))
    }
  }

  /** Added-file count of one commit — header-only, the streaming
    * source's file-pacing unit. */
  private[sources] def addedFileCount(spark: SparkSession, path: String,
      v: Long): Int = {
    val (hfs, root) = fs(spark, path)
    readRaw(hfs, root, v).adds.size
  }

  def changes(spark: SparkSession, path: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame = {
    val (hfs, root) = fs(spark, path)
    val fromM = readManifest(hfs, root, fromVersion)
    val toM = readManifest(hfs, root, toVersion)
    // an fsck_repair inside the range removed files that are PHYSICALLY
    // GONE — their rows cannot be reconstructed as deletes. Refuse
    // loudly up front (same class as replaying past a vacuum) instead
    // of failing mid-scan on the missing file.
    ((fromVersion + 1) to toVersion).foreach { v =>
      if (scala.util.Try(readRaw(hfs, root, v)).toOption.exists(_.op == "fsck_repair"))
        throw new UnsupportedOperationException(
          s"change feed range $fromVersion..$toVersion at $path crosses an " +
            s"fsck_repair commit (v$v): the repaired files are physically " +
            "missing, so their rows cannot be replayed as deletes — start " +
            s"the feed at or after v$v")
    }
    val from = fromM.files
    val to = toM.files
    val removed = from.filterNot(to.toSet)
    val added = to.filterNot(from.toSet)
    // each side reads through ITS version's deletion vectors: rows
    // vectored out before `from` are not re-reported when their file is
    // finally rewritten, and rows vectored out in `to` never appear as
    // inserts of an added file
    def readFiles(files: Seq[String], m: Manifest): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(scanFiles(spark, root, files, m.dvs, mergeSchema = true,
        m.colMap, m.retired, physReadSchema(m)))
    val main = (readFiles(removed, fromM), readFiles(added, toM)) match {
      case (None, None) =>
        // metadata-only commit (rollback to self, optimize no-op): no
        // data files differ, the feed is empty by construction
        readVersion(spark, path, toVersion).limit(0)
          .withColumn("_change_type", lit(""))
      case (None, Some(post)) =>
        post.withColumn("_change_type", lit("insert"))
      case (Some(pre), None) =>
        pre.withColumn("_change_type", lit("delete"))
      case (Some(pre0), Some(post0)) =>
        // align by name across schema evolution: each side selects the
        // union column set, missing names as typed nulls from the other
        val preCols = pre0.schema.fieldNames.toSeq
        val postCols = post0.schema.fieldNames.toSeq
        val all = preCols ++ postCols.filterNot(preCols.contains)
        def aligned(df: DataFrame, own: Seq[String], other: DataFrame) =
          df.select(all.map { c =>
            if (own.contains(c)) col(c)
            else lit(null).cast(other.schema(c).dataType).as(c)
          }: _*)
        val pre = aligned(pre0, preCols, post0)
        val post = aligned(post0, postCols, pre0)
        val dataCols = all.filterNot(keyCols.contains)
        val lhs = pre.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as("__pre"): _*)
        val rhs = post.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as("__post"): _*)
        val j = lhs.join(rhs, keyCols, "full_outer")
        def emit(img: String, tpe: String) = j
          .filter(tpe match {
            case "insert" => col("__pre").isNull
            case "delete" => col("__post").isNull
            case _ => col("__pre").isNotNull && col("__post").isNotNull &&
              !(col("__pre") <=> col("__post"))
          })
          .select(all.map { c =>
            if (keyCols.contains(c)) col(c) else col(s"$img.$c").as(c)
          } :+ lit(tpe).as("_change_type"): _*)
        emit("__post", "insert")
          .unionByName(emit("__pre", "delete"))
          .unionByName(emit("__pre", "update_preimage"))
          .unionByName(emit("__post", "update_postimage"))
    }
    // DV-only diffs: files present in BOTH versions whose vector entry
    // changed carry row-level deletes (positions added to the vector)
    // or inserts (positions dropped — a rollback across a MoR delete)
    // with no file-list diff at all. The rows are fetched by a semi-join
    // of the files' RAW scan against the tiny position diff.
    val dvChanged = to.filter(f =>
      from.contains(f) && fromM.dvs.get(f) != toM.dvs.get(f))
    if (dvChanged.isEmpty) main
    else {
      import spark.implicits._
      // distinct: a file's positions can appear in SEVERAL read dirs (a
      // later fold re-pointed ANOTHER file at a dir that still carries
      // this file's stale subset), and exceptAll is multiset — a
      // duplicated old position would survive the subtraction and emit
      // a PHANTOM delete for a row vectored out versions earlier
      def posOf(m: Manifest): DataFrame =
        dvFrame(spark, root, dvChanged, m.dvs)
          .map(_.select("file", "pos").distinct())
          .getOrElse(Seq.empty[(String, Long)].toDF("file", "pos"))
      val fromPos = posOf(fromM)
      val toPos = posOf(toM)
      val raw = scanWithPos(spark, root, dvChanged, mergeSchema = true,
        toM.colMap, toM.retired, physReadSchema(toM))
      def rows(p: DataFrame, tpe: String): DataFrame = raw
        .join(broadcast(p.select(col("file").as("__file"),
          col("pos").as("__pos"))), Seq("__file", "__pos"), "left_semi")
        .drop("__file", "__pos")
        .withColumn("_change_type", lit(tpe))
      main
        .unionByName(rows(toPos.exceptAll(fromPos), "delete"),
          allowMissingColumns = true)
        .unionByName(rows(fromPos.exceptAll(toPos), "insert"),
          allowMissingColumns = true)
    }
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
  private def vacuumImpl(spark: SparkSession, path: String,
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
        val bodies = cloneRecordPaths(hfs, root).map(readLines(hfs, _))
        (bodies.flatMap(_.filterNot(isHeaderLine)).toSet,
          bodies.flatMap(_.collect {
            case l if l.startsWith("dvref=") => l.stripPrefix("dvref=") }).toSet)
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
    if (deleteTasks.nonEmpty) {
      implicit val ec: scala.concurrent.ExecutionContext = ioPool
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          deleteTasks.toSeq.map(t => scala.concurrent.Future(t()))), ioWait)
      ()
    }
    deleted
  }
}
