package graft.sources

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The manifest log: the one module that knows the header-line format.
  * It writes and parses manifests, checkpoints and clone records, resolves
  * a version's snapshot state through its base chain and checkpoints,
  * claims versions atomically ([[publish]], [[publishDml]]) and answers the
  * log-only questions (versions, history, timestamps, streaming `txn`s). */
private[sources] trait TableLog { self: VersionedTable.type =>

  private[sources] val ManifestDir = "_manifests"
  private[sources] val CheckpointDir = "_checkpoints"

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
    * default (the replay-a-pipeline contract of [[VersionedTable]]) —
    * fixtures and tests pass explicit timestamps either way. */
  val TsNow: String = "now"

  /** Fixed-width (millisecond) ISO instant, so wall-clock stamps also
    * order lexicographically among themselves. */
  private[sources] val TsNowFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** Resolve a [[TsNow]] sentinel against the table head — called at
    * the single manifest-write choke point ([[commitManifest]]), so a
    * retried/re-pointed commit re-stamps with a fresh clock read. */
  private[sources] def resolveTsNow(hfs: FileSystem, root: Path, m: RawManifest): RawManifest =
    if (m.ts != TsNow) m
    else {
      val prevTs = versions(hfs, root).lastOption
        .flatMap(v => scala.util.Try(readRaw(hfs, root, v).ts).toOption)
        .flatMap(parseTs)
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

  private[sources] def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[sources] def manifestPath(root: Path, v: Long): Path =
    new Path(new Path(root, ManifestDir), f"v$v%08d.manifest")

  private[sources] def checkpointPath(root: Path, v: Long): Path =
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

  private[sources] def checkpointPartPath(target: Path, i: Int): Path =
    new Path(target.getParent, f"${target.getName}.p$i%05d")

  /** Resolved snapshot state: (version, ts, op, the FULL relative
    * data-file list, an optional streaming transaction marker
    * `appId -> batchId`, the snapshot's logical schema as Spark DataType
    * JSON — recorded so an EMPTY snapshot (delete-all, empty-batch
    * commit) stays readable and the append schema check never depends on
    * one file's footer — and per-file column min/max STATS (Delta's
    * add-file stats) in the manifest encoding (see [[footerStats]]).
    *
    * `colMap` (logical → PHYSICAL column name) and `retired` (physical
    * names permanently blocked for reuse) are the COLUMN MAPPING state
    * (Delta's column mapping in name mode, re-derived): physical names
    * are what parquet files store and never change once assigned, so
    * [[renameColumn]]/[[dropColumn]] are metadata-only commits — zero
    * files rewritten. Empty maps = unmapped table (every name is its
    * own physical; the fast path all pre-mapping tables stay on). */
  private[sources] case class Manifest(version: Long, ts: String, op: String,
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
  private[sources] case class RawManifest(version: Long, ts: String, op: String,
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

  // ------------------------------------------------------ the line codec
  //
  // Every metadata file — manifest, checkpoint (and its parts), clone
  // record — is `key=value` header lines over the closed key set of
  // [[HeaderLineRe]], then one data-file path per line. Multi-field values
  // split on `|`; free text (constraint and generated-column SQL, property
  // values) is hex-encoded UTF-8, so any text stays one line. This section
  // is the only code that renders or parses a header line.

  /** A manifest/checkpoint/clone-record HEADER line: `key=value` over
    * the format's CLOSED key set. Body lines are file paths, which on a
    * partitioned table contain `=` themselves (`p__col=value` directory
    * segments), so "contains '='" is NOT a valid header/body split. */
  private[graft] val HeaderLineRe = java.util.regex.Pattern.compile(
    "^(?:version|ts|op|base|txn|txnmax|schema|rm|fstat|dv|ck|ckrm|" +
      "bloomcfg|cmv|cm|cmrt|gen|genrm|pcols|target|dvref|fr|parts|nfiles|" +
      "reader|prv|prop)=")
  private[sources] def isHeaderLine(l: String): Boolean =
    HeaderLineRe.matcher(l).find()

  /** The keys a file states at most once; every other key repeats, one
    * line per entry. */
  private val SingleValued = Set("version", "ts", "op", "base", "txn", "schema",
    "bloomcfg", "cmv", "pcols", "prv", "target", "parts", "nfiles", "reader")

  /** The single-valued keys of `header` (a repeated one: the last wins). */
  private def singles(header: Seq[String]): Map[String, String] =
    header.iterator.map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .filter { case (k, _) => SingleValued(k) }.toMap

  /** The values of a repeating key, in line order. */
  private def all(header: Seq[String], key: String): Seq[String] = {
    val p = key + "="
    header.collect { case l if l.startsWith(p) => l.substring(p.length) }
  }

  /** `<appId>:<batchId>` (`txn=`, `txnmax=`); the app id may hold ':'. */
  private def parseTxn(t: String): (String, Long) = {
    val i = t.lastIndexOf(':')
    (t.substring(0, i), t.substring(i + 1).toLong)
  }

  /** `<key>=<name>|<hex of the UTF-8 text>` lines in name order — CHECK
    * constraints (`ck=`), generated columns (`gen=`), properties
    * (`prop=`). */
  private def hexLines(key: String, m: Map[String, String]): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (n, e) => s"$key=$n|${hexEncode(e.getBytes("UTF-8"))}" }

  /** One `fstat=<path>|col:min:max|col2:min:max` line per stats-bearing
    * file (the values in [[footerStats]]'s encoding). */
  private def statLines(files: Seq[String],
      stats: Map[String, Map[String, (String, String)]]): Seq[String] =
    files.flatMap { f =>
      stats.get(f).filter(_.nonEmpty).map { cs =>
        s"fstat=$f|" + cs.toSeq.sortBy(_._1)
          .map { case (c, (mn, mx)) => s"$c:$mn:$mx" }.mkString("|")
      }
    }

  /** `fr=<file>|<rows>` — per-file footer row count, recorded at write
    * time so COUNT(*)-class reads ([[rowCount]], [[countWhere]]) are
    * manifest-only at any table size. */
  private def rowLines(files: Seq[String], rows: Map[String, Long]): Seq[String] =
    files.flatMap(f => rows.get(f).map(n => s"fr=$f|$n"))

  /** One `dv=<datafile>|<dvdir>[|<positions>]` line per vectored file; the
    * optional position count lets [[rowCount]] subtract it without
    * opening the vector dataset. */
  private def dvLines(dvs: Map[String, String], counts: Map[String, Long]): Seq[String] =
    dvs.toSeq.sortBy(_._1).map { case (f, d) =>
      counts.get(f).fold(s"dv=$f|$d")(n => s"dv=$f|$d|$n") }

  /** `bloomcfg=<cols csv>|<mBits>` — the persisted bloom index config
    * ([[setBloomIndex]]). Like `ck=` constraints it is TABLE metadata:
    * delta manifests inherit it through `base`. */
  private def bloomCfgLine(cfg: Option[(Seq[String], Int)]): Seq[String] =
    cfg.map { case (cols, m) => s"bloomcfg=${cols.mkString(",")}|$m" }.toSeq

  /** `pcols=<csv>` — the table's partition columns in PHYSICAL names
    * (directory names are as immutable as the files under them); full
    * manifests carry the line, delta manifests inherit it. */
  private def pcolsLines(p: Seq[String]): Seq[String] =
    if (p.isEmpty) Seq.empty else Seq(s"pcols=${p.mkString(",")}")

  private def splitPcols(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Column-mapping lines: a `cmv=1` marker makes this file's
    * `cm=<logical>|<physical>` and `cmrt=<physical>` lines the FULL
    * authoritative state (rename/drop commits and full manifests write
    * it); absence means a delta manifest inherits its base's state. The
    * marker disambiguates "no lines = inherit" from "no lines = the map
    * became empty again" (a rename back to the original name). */
  private def mapStateLines(st: Option[(Map[String, String], Set[String])])
      : Seq[String] = st match {
    case Some((cm, rt)) =>
      Seq("cmv=1") ++
        cm.toSeq.sortBy(_._1).map { case (l, p) => s"cm=$l|$p" } ++
        rt.toSeq.sorted.map(p => s"cmrt=$p")
    case None => Seq.empty
  }

  /** TABLE PROPERTIES (Delta's `TBLPROPERTIES`, re-derived for the
    * line format): a `prv=1` marker makes this file's `prop=` lines the
    * FULL authoritative property state (SET/UNSET commits and full
    * manifests write it); absence means a delta manifest inherits its
    * base's state — exactly the column-mapping `cmv=` pattern.
    * Properties are TABLE metadata: the table's own policy (retention,
    * vacuum grace, checkpoint cadence, auto-compaction) travels IN the
    * manifest, so two writers with different JVM configs apply the same
    * policy, and checkpoints, clones and rollbacks carry it. Property
    * state is generation-2 format: the `reader=` marker makes any reader
    * that understands the gate but not `prv=`/`prop=` fail with the
    * upgrade error instead of misparsing `prop=` lines as data-file
    * paths. */
  private def propsLines(st: Option[Map[String, String]]): Seq[String] = st match {
    case Some(ps) => Seq(s"reader=$SupportedReaderVersion", "prv=1") ++ hexLines("prop", ps)
    case None => Seq.empty
  }

  /** A manifest file's lines: the header in this fixed order, then the
    * added files. */
  private def manifestLines(m: RawManifest): Seq[String] =
    Seq(s"version=${m.version}", s"ts=${m.ts}", s"op=${m.op}") ++
      m.base.map(b => s"base=$b") ++
      m.txn.map { case (a, b) => s"txn=$a:$b" } ++
      m.schemaJson.map(j => s"schema=$j") ++
      m.removes.map(r => s"rm=$r") ++
      statLines(m.adds, m.addStats) ++
      rowLines(m.adds, m.addRows) ++
      dvLines(m.addDvs, m.addDvCounts) ++
      hexLines("ck", m.addConstraints) ++
      m.dropConstraints.toSeq.sorted.map(n => s"ckrm=$n") ++
      hexLines("gen", m.addGens) ++
      m.dropGens.toSeq.sorted.map(n => s"genrm=$n") ++
      bloomCfgLine(m.bloomCfg) ++
      m.pcolsLine.map(p => pcolsLines(p)).getOrElse(Seq.empty) ++
      mapStateLines(m.mapState) ++
      propsLines(m.propsState) ++
      m.adds

  /** A checkpoint's global header: snapshot `snap` as a full manifest plus
    * the per-appId max batch ids (`txnmax=`). */
  private def checkpointHeader(snap: Manifest, txnmax: Map[String, Long]): Seq[String] =
    Seq(s"version=${snap.version}", s"ts=${snap.ts}", s"op=${snap.op}") ++
      snap.schemaJson.map(j => s"schema=$j") ++
      txnmax.toSeq.sortBy(_._1).map { case (a, b) => s"txnmax=$a:$b" } ++
      dvLines(snap.dvs, snap.dvCounts) ++
      hexLines("ck", snap.constraints) ++
      hexLines("gen", snap.gens) ++
      bloomCfgLine(snap.bloomCfg) ++
      pcolsLines(snap.pcols) ++
      mapStateLines(
        if (snap.colMap.isEmpty && snap.retired.isEmpty) None
        else Some((snap.colMap, snap.retired))) ++
      propsLines(if (snap.props.isEmpty) None else Some(snap.props))

  /** A checkpoint chunk: its files' stat and row lines, then the files. */
  private def checkpointChunk(snap: Manifest, files: Seq[String]): Seq[String] =
    statLines(files, snap.stats) ++ rowLines(files, snap.rowCounts) ++ files

  /** The pointer lines a multi-part checkpoint's main file adds to its
    * header `hdr`: the `reader=` marker unless [[propsLines]] already put
    * it there, then the file and part counts. */
  private def checkpointPointer(hdr: Seq[String], nFiles: Int, nParts: Int): Seq[String] =
    Seq(s"reader=$SupportedReaderVersion").filterNot(hdr.contains) ++
      Seq(s"nfiles=$nFiles", s"parts=$nParts")

  /** The one parser: a manifest's or checkpoint's header lines and body
    * (the data-file paths), read from `p`. */
  private def parseRaw(header: Seq[String], body: Seq[String], p: Path): RawManifest = {
    val one = singles(header)
    checkReaderVersion(one, p)
    def pairs(key: String): Seq[Array[String]] = all(header, key).map(_.split('|'))
    def hexPairs(key: String): Map[String, String] = pairs(key).collect {
      case Array(n, e) => n -> new String(hexDecode(e), "UTF-8")
      case Array(n) if key == "prop" => n -> "" // an empty value hex-encodes to ""
    }.toMap
    def counts(key: String, fields: Int): Map[String, Long] = pairs(key).flatMap { a =>
      if (a.length != fields) None else scala.util.Try(a.head -> a.last.toLong).toOption
    }.toMap
    RawManifest(one("version").toLong, one("ts"), one("op"),
      base = one.get("base").map(_.toLong),
      adds = body,
      removes = all(header, "rm"),
      txn = one.get("txn").map(parseTxn),
      schemaJson = one.get("schema"),
      addStats = all(header, "fstat").map { l =>
        val parts = l.split('|')
        parts.head -> parts.tail.flatMap { t =>
          t.split(':') match {
            case Array(c, mn, mx) => Some(c -> (mn, mx))
            case _ => None
          }
        }.toMap
      }.toMap,
      addDvs = pairs("dv").collect {
        case Array(f, d) => f -> d
        case Array(f, d, _) => f -> d
      }.toMap,
      addConstraints = hexPairs("ck"),
      dropConstraints = all(header, "ckrm").toSet,
      bloomCfg = one.get("bloomcfg").flatMap { l =>
        l.split('|') match {
          case Array(cols, m) =>
            val cs = cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq
            if (cs.isEmpty) None else scala.util.Try(cs -> m.toInt).toOption
          case _ => None
        }
      },
      mapState = if (!one.get("cmv").contains("1")) None else Some((
        pairs("cm").collect { case Array(lg, ph) => lg -> ph }.toMap,
        all(header, "cmrt").toSet)),
      addGens = hexPairs("gen"),
      dropGens = all(header, "genrm").toSet,
      pcolsLine = one.get("pcols").map(splitPcols),
      addRows = counts("fr", 2),
      addDvCounts = counts("dv", 3),
      propsState = if (!one.get("prv").contains("1")) None else Some(hexPairs("prop")))
  }

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

  private[sources] def readLines(hfs: FileSystem, p: Path): Seq[String] = {
    metadataOpens.incrementAndGet()
    val in = hfs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  private[sources] def readRaw(hfs: FileSystem, root: Path, v: Long): RawManifest = {
    val p = manifestPath(root, v)
    val lines = readLines(hfs, p)
    parseRaw(lines.takeWhile(isHeaderLine), lines.dropWhile(isHeaderLine), p)
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
      val main = singles(mainLines.filter(isHeaderLine))
      checkReaderVersion(main, p)
      // a multi-part checkpoint's main file carries `parts=N` and no
      // file list; each part contributes its chunk's stat/row/path
      // lines, so classification is by prefix (filter), not position
      val lines = main.get("parts").map(_.toInt) match {
        case None => mainLines
        case Some(n) =>
          // order-preserving parallel read on the bounded ioPool: the
          // file-list order must stay deterministic across resolves
          mainLines ++ onIoPool(0 until n)(i => readLines(hfs, checkpointPartPath(p, i))).flatten
      }
      val header = lines.filter(isHeaderLine)
      val body = lines.filterNot(isHeaderLine)
      // multi-part pointers record their expected file count: stale or
      // missing parts must fail loudly, never resolve a truncated list
      main.get("nfiles").map(_.toLong).foreach(n => require(body.size == n,
        s"checkpoint $p resolves ${body.size} files, expected $n — " +
          "stale or missing part files"))
      Some((fullState(parseRaw(header, body, p)),
        all(header, "txnmax").map(parseTxn).toMap))
    }
  }

  /** The snapshot a FULL manifest — or a checkpoint — states on its own. */
  private def fullState(raw: RawManifest): Manifest = {
    val (cm, rt) = raw.mapState.getOrElse((Map.empty[String, String], Set.empty[String]))
    Manifest(raw.version, raw.ts, raw.op, raw.adds, raw.txn,
      raw.schemaJson, raw.addStats, raw.addDvs, raw.addConstraints,
      raw.bloomCfg, cm, rt, raw.addGens,
      raw.pcolsLine.getOrElse(Seq.empty), raw.addRows, raw.addDvCounts,
      raw.propsState.getOrElse(Map.empty))
  }

  /** Resolve version `v`'s full snapshot state: checkpoint fast path,
    * else apply the raw manifest to its recursively resolved base. The
    * walk is ≤ [[checkpointInterval]] reads — every append chain crosses
    * a checkpointed version within K steps. */
  private[sources] def readManifest(hfs: FileSystem, root: Path, v: Long): Manifest =
    readCheckpoint(hfs, root, v).map(_._1).getOrElse {
      val raw = readRaw(hfs, root, v)
      raw.base match {
        case None => fullState(raw)
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

  private val ClonesDir = "_clones"

  /** One `_clones/` registry record: the shallow clone at `target` of
    * version `version` references `files` and the vector dirs `dvDirs`
    * (all source-relative). */
  private[sources] case class CloneRecord(target: String, version: Long,
      dvDirs: Set[String], files: Seq[String])

  /** Write `r` as one immutable record file in the table's `_clones/`. */
  private[sources] def writeCloneRecord(hfs: FileSystem, root: Path, r: CloneRecord): Unit = {
    val dir = new Path(root, ClonesDir)
    val p = new Path(dir,
      f"v${r.version}%08d-${java.util.UUID.randomUUID.toString.take(8)}.clone")
    val body = Seq(s"target=${r.target}", s"version=${r.version}") ++
      r.dvDirs.toSeq.sorted.map(d => s"dvref=$d") ++ r.files
    hfs.mkdirs(dir)
    val out = hfs.create(p, false)
    try out.write(body.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The table's clone records, each with its file. */
  private[sources] def cloneRecords(hfs: FileSystem, root: Path): Seq[(Path, CloneRecord)] = {
    val dir = new Path(root, ClonesDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".clone"))
      .map { s =>
        val lines = readLines(hfs, s.getPath)
        val one = singles(lines.takeWhile(isHeaderLine))
        s.getPath -> CloneRecord(one.getOrElse("target", ""),
          one.get("version").map(_.toLong).getOrElse(-1L),
          all(lines, "dvref").toSet, lines.filterNot(isHeaderLine))
      }
  }

  private[sources] def hexEncode(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private[sources] def hexDecode(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** All committed versions, ascending (driver-side listing, no data read). */
  private[sources] def versions(hfs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!hfs.exists(dir)) Seq.empty
    else hfs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
      .sorted
  }

  /** All checkpointed versions, ascending. */
  private[sources] def checkpoints(hfs: FileSystem, root: Path): Seq[Long] = {
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

  /** Shared pool for driver-side footer/sidecar I/O ([[withFooters]],
    * [[bloomPrune]]): 16 DAEMON threads created once — a per-call pool
    * would pay creation/teardown on every commit, and non-daemon threads
    * would pin a crashing driver JVM alive. Every wait on it is bounded
    * by [[ioWait]]: one hung metadata read (flaky HDFS datanode) fails
    * the operation cleanly instead of wedging the commit forever — a
    * failed commit's data dir is orphan-safe and vacuum-reclaimable. */
  private[sources] lazy val ioPool: scala.concurrent.ExecutionContext =
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

  private[sources] def ioWait: scala.concurrent.duration.Duration =
    scala.concurrent.duration.Duration(ioWaitSeconds, "s")

  /** `f` over `xs` on the [[ioPool]], results in `xs` order, the wait
    * bounded by [[ioWait]]. */
  private[sources] def onIoPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: scala.concurrent.ExecutionContext = ioPool
    scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(xs)(x => scala.concurrent.Future(f(x))), ioWait)
  }

  /** A FULL manifest for version `v` that carries snapshot `m`'s table
    * metadata — constraints, bloom config, column mapping, generated
    * columns, partitioning, properties — so the version stands alone
    * (optimize, rollback, clones); the caller adds the file entries. */
  private[sources] def fullManifest(v: Long, ts: String, op: String, m: Manifest): RawManifest =
    RawManifest(v, ts, op, schemaJson = m.schemaJson, addConstraints = m.constraints,
      bloomCfg = m.bloomCfg,
      mapState = if (m.colMap.isEmpty && m.retired.isEmpty) None
        else Some((m.colMap, m.retired)),
      addGens = m.gens, pcolsLine = Some(m.pcols).filter(_.nonEmpty),
      propsState = Some(m.props).filter(_.nonEmpty))

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
  private[sources] def publish(hfs: FileSystem, root: Path, m: RawManifest): Unit = {
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
  private[sources] val propsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Map[String, String]]()

  /** Stable identity of version `v`'s raw manifest file, or None when it
    * is absent (e.g. expired under a covering checkpoint) — then props
    * resolve uncached rather than under an ambiguous key. */
  private[sources] def manifestIdentity(hfs: FileSystem, root: Path, v: Long): Option[Long] =
    scala.util.Try(hfs.getFileStatus(manifestPath(root, v))).toOption
      .map(st => st.getModificationTime * 31L + st.getLen)

  private[sources] def cacheProps(hfs: FileSystem, root: Path, v: Long,
      p: Map[String, String]): Unit =
    manifestIdentity(hfs, root, v).foreach { id =>
      if (propsCache.size > 4096) propsCache.clear()
      propsCache.put((root.toString, v, id), p)
    }

  private[sources] def propsAt(hfs: FileSystem, root: Path, v: Long): Map[String, String] = {
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

  /** Test seam for the disjoint-conflict fast path: a hook registered
    * under a table's root path is removed and fired ONCE by
    * [[publishDml]], after the DML computed its manifest and before its
    * first claim — the window a concurrent winner lands in. Keyed by
    * path so parallel suites never see each other's hooks. */
  private[graft] val dmlBeforeClaim =
    scala.collection.concurrent.TrieMap.empty[String, () => Unit]

  private[sources] val DmlClaimRetries = 5

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
  private[sources] def publishDml(hfs: FileSystem, root: Path, first: RawManifest,
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
  private[sources] def maybeCheckpoint(hfs: FileSystem, root: Path, version: Long,
      props: Map[String, String]): Unit = {
    val interval = propInt(props, "graft.checkpointInterval")
      .filter(_ > 0).getOrElse(checkpointInterval)
    if (version <= 0 || version % interval != 0) return
    writeCheckpointAt(hfs, root, version)
  }

  private[sources] def writeCheckpointAt(hfs: FileSystem, root: Path, version: Long): Unit = {
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
    // a checkpoint carrying prv=/prop= has the same generation-2 marker
    // as property-bearing manifests ([[propsLines]])
    val globalHdr = checkpointHeader(snap, txnmax)
    val limit = checkpointPartLimit
    if (snap.files.size <= limit)
      writeClaimed(hfs, new Path(root, CheckpointDir), target,
        (globalHdr ++ checkpointChunk(snap, snap.files)).mkString("", "\n", "\n"),
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
      onIoPool(chunks.zipWithIndex) { case (fsChunk, i) =>
        val want = checkpointChunk(snap, fsChunk)
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
        (globalHdr ++ checkpointPointer(globalHdr, snap.files.size, chunks.size))
          .mkString("", "\n", "\n"),
        onLost = () => ())
    }
  }

  private[sources] def commitManifest(hfs: FileSystem, root: Path, m0: RawManifest): Unit = {
    val target = manifestPath(root, m0.version)
    if (hfs.exists(target)) throw new ConcurrentCommitException(m0.version)
    val m = resolveTsNow(hfs, root, m0)
    writeClaimed(hfs, new Path(root, ManifestDir), target,
      manifestLines(m).mkString("", "\n", "\n"),
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
  private[sources] def writeClaimed(hfs: FileSystem, dir: Path, target: Path,
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

  /** The versions whose manifests a text read of [[manifestLogDir]]
    * (one row per line, column `value`) holds — each manifest states
    * its version on one `version=` line. */
  private[graft] def manifestVersions(lines: DataFrame): Seq[Long] =
    lines.filter(col("value").rlike("^version=[0-9]+$"))
      .collect().map(_.getString(0).stripPrefix("version=").toLong).toSeq

  /** The version commit timestamps resolve `asOf` to: the latest
    * committed at or before it (`atOrBefore`), else the earliest
    * committed at or after it. Header-only reads of every listed
    * manifest. Timestamps compare as parsed instants ([[parseTs]]) —
    * lexicographic order mis-orders mixed formats (`...T00:00:00Z` sorts
    * after `...T00:00:00.500Z`, and a space-separated SQL literal before
    * every `T`-separated stamp); an entry that does not parse compares as
    * a string, for that entry only. An `asOf` outside the log is a
    * descriptive error. The one resolver behind [[readAsOf]], the
    * `timestampAsOf` option, SQL `TIMESTAMP AS OF` and [[GraftTable]]'s
    * RESTORE / CLONE / change-feed timestamps. */
  private[sources] def versionAt(spark: SparkSession, path: String, asOf: String,
      atOrBefore: Boolean): Long = {
    val (hfs, root) = fs(spark, path)
    val log = versions(hfs, root).map(v => v -> readRaw(hfs, root, v).ts)
    val asOfI = parseTs(asOf)
    def vsAsOf(ts: String): Int = (asOfI, parseTs(ts)) match {
      case (Some(a), Some(c)) => c.compareTo(a)
      case _ => ts.compareTo(asOf)
    }
    val hits = log.collect {
      case (v, ts) if (if (atOrBefore) vsAsOf(ts) <= 0 else vsAsOf(ts) >= 0) => v }
    if (hits.isEmpty) throw new IllegalArgumentException(
      if (atOrBefore) s"no version at or before '$asOf' at $path (earliest commit ts: " +
        s"${log.map(_._2).minOption.getOrElse("none")})"
      else s"no version at or after '$asOf' at $path (latest commit ts: " +
        s"${log.map(_._2).maxOption.getOrElse("none")})")
    if (atOrBefore) hits.max else hits.min
  }

  /** Tolerant instant parse for caller-supplied commit timestamps:
    * ISO instant, offset datetime, or local datetime (space- or
    * T-separated, read as UTC). None for anything else — callers fall
    * back to string comparison for that entry. */
  private[sources] def parseTs(s: String): Option[java.time.Instant] = {
    import java.time._
    scala.util.Try(Instant.parse(s)).toOption
      .orElse(scala.util.Try(OffsetDateTime.parse(s).toInstant).toOption)
      .orElse(scala.util.Try(LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(ZoneOffset.UTC)).toOption)
      .orElse(scala.util.Try(LocalDate.parse(s).atStartOfDay
        .toInstant(ZoneOffset.UTC)).toOption)
  }
}
