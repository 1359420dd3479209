package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit, regexp_extract, struct, when}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Snapshot reads: the [[Head]] every operation opens, the scans of its
  * files through deletion vectors and column mapping, and the read faces
  * (time travel, data-skipping reads, counts, the change feed). */
private[sources] trait Snapshots { self: VersionedTable.type =>

  // ------------------------------------------------ the rewrite primitive
  //
  // The skeleton every rewrite face shares (see the header's REWRITES
  // note): one [[Head]] per operation, and each step a method on it.

  /** One operation's handle on a snapshot — usually the table head: the
    * version `prev` it reads or builds on and its resolved manifest `m`,
    * opened ONCE ([[openSnapshot]]): discovery, the rewrite read and the
    * commit all work from this manifest, never from a second listing and
    * chain walk of the log. Every scan of table data is a method here, so
    * each reads under its own version's column mapping, recorded schema
    * and deletion vectors. */
  private[sources] case class Head(spark: SparkSession, hfs: FileSystem, root: Path,
      prev: Long, m: Manifest) {
    def next: Long = prev + 1

    /** The snapshot's logical schema: the manifest-recorded one when
      * present (all manifests this code writes record it), else derived
      * by a mergeSchema footer pass over the file list — NEVER a single
      * file's footer, which after schema evolution under-reports the
      * columns. Resolved where a face first needs it. */
    lazy val schema: StructType =
      m.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]).getOrElse {
        require(m.files.nonEmpty,
          s"version ${m.version} is an empty snapshot with no recorded schema")
        spark.read.option("mergeSchema", "true")
          .parquet(m.files.map(f => new Path(root, f).toString): _*).schema
      }

    /** Files whose manifest stats may hold a row matching `cond` — the one
      * file-skipping evaluator ([[mayMatch]]) every face prunes with. */
    def candidates(cond: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[String] =
      m.files.filter(f => mayMatch(logicalStatsOf(m, f), cond))

    /** The read faces' prune: [[candidates]], then the bloom sidecars drop
      * files whose filter proves every value of an equality conjunct
      * absent — the pruning min/max can never do on a uniformly
      * distributed id column. Probes derive from LOGICAL predicate names
      * (typed against the logical schema) and look up sidecar sections by
      * PHYSICAL name. */
    def pruned(cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] =
      bloomPrune(hfs, root, candidates(cond),
        eqProbes(cond, schema).map { case (c, vs) => physOf(m.colMap, c) -> vs })

    /** The parquet read of `files` in PHYSICAL names. The scan-time schema
      * is the recorded logical schema renamed to physical storage names,
      * nullable (file-source semantics): O(1) planning metadata instead of
      * one footer read per FILE per QUERY (the hidden mergeSchema cost at
      * 100 TB), and what makes a WIDENED column readable — the vectorized
      * reader up-promotes each file's stored type to the requested one.
      * Retired physicals simply aren't requested. Only a manifest
      * predating schema recording falls back to the mergeSchema footer
      * union. */
    private def parquet(files: Seq[String]): DataFrame =
      m.schemaJson.fold(spark.read.option("mergeSchema", "true")) { j =>
        spark.read.schema(StructType(DataType.fromJson(j).asInstanceOf[StructType]
          .fields.map(f => f.copy(name = physOf(m.colMap, f.name), nullable = true))))
      }.parquet(files.map(f => new Path(root, f).toString): _*)

    /** A scan of `files` carrying `__file` (layout-relative name) and
      * `__pos` (row position in its file) alongside the data columns.
      * Row identity comes from the `_metadata` columns, NOT
      * `input_file_name()`: the metadata struct is a deterministic
      * attribute, so user predicates still PUSH DOWN through this
      * projection to the parquet scan — `input_file_name()` is
      * non-deterministic in Catalyst and would fence every filter above
      * it out of the scan (plan-audit-asserted). */
    def withPos(files: Seq[String]): DataFrame = {
      // row identity FIRST (the `_metadata` struct does not survive an
      // explicit projection), then the physical → logical alias pass;
      // `__file`/`__pos` ride through toLogical untouched (never mapped).
      // The native-layout extraction first (also resolves a CLONE's
      // source-absolute files); a CONVERTED table's foreign file names
      // fall back to root-relative extraction — immune to file:/ vs
      // file:/// qualification drift because only the PATH part anchors
      val rootRe = ".*" + java.util.regex.Pattern.quote(root.toUri.getPath) + "/(.+)$"
      toLogical(parquet(files)
        .withColumn("__file", {
          val native = regexp_extract(col("_metadata.file_path"), DataFileRe, 1)
          when(native =!= "", native)
            .otherwise(regexp_extract(col("_metadata.file_path"), rootRe, 1))
        })
        .withColumn("__pos", col("_metadata.row_index")), m.colMap, m.retired)
    }

    /** The deleted (file, pos) rows applying to `files` under `dvs`, or
      * None when no listed file carries a vector. Entries for OTHER files
      * are filtered out: a superseded vector dir may survive in older
      * versions (rollback re-points at it), so a file's positions must
      * come only from the dir its OWN entry names. */
    def vectors(files: Seq[String], dvs: Map[String, String] = m.dvs): Option[DataFrame] = {
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
      * `__file`/`__pos` — the discovery read, and the DV writer's. */
    def live(files: Seq[String], dvs: Map[String, String] = m.dvs): DataFrame = {
      val s = withPos(files)
      vectors(files, dvs).fold(s)(dv =>
        s.join(broadcast(dv.select(col("file").as("__file"),
          col("pos").as("__pos"))), Seq("__file", "__pos"), "left_anti"))
    }

    /** The rows of `files` through `dvs`: a plain parquet read when none
      * of them carries a vector (the common case — zero overhead), else
      * the scan minus the broadcast anti-join on (file, row position).
      * EVERY reader of table data routes through here — readVersion,
      * readWhere, merge/delete discovery, COW rewrites, optimize, CDF — so
      * a vectored row is invisible everywhere at once. As the rewrite-phase
      * read it opens ONLY `files` (touched-set-sized by plan), and a
      * rewrite of a vectored file must not resurrect deleted rows, since
      * the commit drops the file AND its entry. */
    def scan(files: Seq[String], dvs: Map[String, String] = m.dvs): DataFrame =
      vectors(files, dvs) match {
        case None => toLogical(parquet(files), m.colMap, m.retired)
        case Some(_) => live(files, dvs).drop("__file", "__pos")
      }

    /** Exact COUNT(*) of `files` from METADATA: the manifest's per-file
      * footer row counts minus the recorded deletion-vector position
      * counts. Files predating the count record fall back to one footer
      * read each (on the bounded [[ioPool]]); vector entries lacking a
      * recorded count fall back to counting the tiny vector dataset. */
    def rowsIn(files: Seq[String]): Long = {
      val missing = files.filterNot(m.rowCounts.contains)
      val fallback: Map[String, Long] =
        if (missing.isEmpty) Map.empty
        else missing.zip(onIoPool(missing)(fileRowCount(hfs, root, _))).toMap
      val gross = files.iterator
        .map(f => m.rowCounts.getOrElse(f, fallback(f))).sum
      val fset = files.toSet
      val vectored = m.dvs.keysIterator.filter(fset).toSeq
      val recorded = vectored.flatMap(m.dvCounts.get).sum
      val unrecorded = vectored.filterNot(m.dvCounts.contains)
      val dvFallback =
        if (unrecorded.isEmpty) 0L
        else vectors(unrecorded).map(_.count()).getOrElse(0L)
      gross - recorded - dvFallback
    }

    /** Discovery: the manifest entries of the candidate files holding a
      * row of `hits(live rows)`; no scan at all when nothing is a
      * candidate. Only the touched file NAMES reach the driver. */
    def touched(candidates: Seq[String])(hits: DataFrame => DataFrame): Set[String] =
      if (candidates.isEmpty) Set.empty
      else resolveTouched(m.files, hits(live(candidates))
        .select("__file").distinct().collect().map(_.getString(0)).toSet)

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
  private[sources] def openSnapshot(spark: SparkSession, path: String,
      version: Long = -1L): Option[Head] = {
    val (hfs, root) = fs(spark, path)
    (if (version >= 0) Some(version) else versions(hfs, root).lastOption)
      .map(v => Head(spark, hfs, root, v, readManifest(hfs, root, v)))
  }

  /** [[openSnapshot]] for a face that needs a table: an empty one fails
    * with `"<op> empty table at <path>"` (e.g. `op = "merge into"`). */
  private[sources] def openHead(spark: SparkSession, path: String, op: String,
      version: Long = -1L): Head =
    openSnapshot(spark, path, version).getOrElse(
      throw new IllegalArgumentException(s"$op empty table at $path"))

  /** [[openSnapshot]] for the read faces: an empty table fails with
    * `"no committed versions at <path>"`. */
  private[sources] def openRead(spark: SparkSession, path: String, version: Long): Head =
    openSnapshot(spark, path, version).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))

  // --------------------------------------------------- deletion vectors
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
  // the driver (the same |files| bound as COW discovery). Every read
  // applies them ([[Head.scan]], [[Head.live]]); [[optimize]]
  // reads through vectors like every other reader, so compaction IS the
  // materialization path (the rewritten snapshot carries no `dv=`
  // entries); [[delete]]/[[merge]] rewrites of a vectored file apply
  // its vector first and drop the entry with the file.

  /** The layout-relative form of a manifest file entry: identity on a
    * normal table, suffix extraction on a clone's absolute path — the
    * form `input_file_name()` extraction and DV `file` columns use. */
  private[sources] def relLayoutName(f: String): String = {
    val m = java.util.regex.Pattern.compile(DataFileRe).matcher(f)
    if (m.matches()) m.group(1) else f
  }

  /** Total row count of one data file, from its parquet footer (no data
    * pages) — the denominator of the vectored-fraction threshold. */
  private[sources] def fileRowCount(hfs: FileSystem, root: Path, relFile: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(root, relFile), hfs.getConf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount.longValue).sum
    finally reader.close()
  }

  /** Extracts the manifest-relative data-file path from an
    * `input_file_name()` URI — keyed on the table's own
    * `files/c<8 digits>[-attempt]/<name>` layout rather than URI
    * relativization, which is sensitive to `file:/` vs `file:///`
    * qualification differences between Hadoop and Spark. Non-matching
    * inputs extract to "" (guarded at the collect sites). */
  // optional `name=value` segments between the commit dir and the file
  // are hive-style partition-value directories ([[writeDataFiles]])
  private[sources] val DataFileRe = ".*/(files/c\\d{8}[^/]*(?:/[^/]+=[^/]+)*/[^/]+)$"

  /** Map scan-extracted layout-relative names back to their manifest
    * entries: identity on a normal table; suffix match on a shallow
    * CLONE ([[cloneTable]]) whose manifest records absolute source
    * paths — `input_file_name()` extraction is layout-relative either
    * way, and a COW rewrite whose removes don't string-match the
    * manifest would ADD rewritten rows without REMOVING the originals.
    * Ambiguity (two entries sharing a relative suffix) fails loudly
    * rather than risk that corruption, and so does a name outside the
    * table layout (extracted as ""). */
  private[sources] def resolveTouched(files: Seq[String], touched: Set[String]): Set[String] = {
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

  /** Read a snapshot: latest when `version` < 0, else that exact version.
    * The explicit file list goes straight to the parquet source — column
    * pruning and predicate pushdown apply as on any parquet scan. A
    * snapshot whose appends evolved the schema reads the recorded union
    * schema, with the missing columns null on older files ([[Head.scan]]). */
  def readVersion(spark: SparkSession, path: String, version: Long = -1L): DataFrame = {
    val h = openRead(spark, path, version)
    if (h.m.files.isEmpty)
      // legal empty state (delete-all, empty-batch commit): the manifest
      // records the schema, so the head stays readable — Delta supports
      // empty table states and so does this
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], h.schema)
    else h.scan(h.m.files)
  }

  /** A snapshot's manifest-relative data-file list (latest when
    * `version` < 0) — Delta DESCRIBE DETAIL's file inventory. Lets specs
    * and maintenance jobs verify carry-by-reference (merge/rollback must
    * NOT rewrite untouched files). */
  def snapshotFiles(spark: SparkSession, path: String, version: Long = -1L): Seq[String] =
    openRead(spark, path, version).m.files

  /** Time travel by timestamp: the latest snapshot committed at or
    * before the given instant ([[versionAt]]: commit timestamps compare
    * as parsed instants). Header-only reads to pick the version; one
    * resolve to read it. */
  def readAsOf(spark: SparkSession, path: String, asOf: String): DataFrame =
    readVersion(spark, path, versionAt(spark, path, asOf, atOrBefore = true))

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
    * (both measured in BASELINE.md "10× scale stress", Corpus 10 and
    * 11). The predicate is
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

  private[sources] def readFiltered(spark: SparkSession, path: String, condition: String,
      version: Long): (DataFrame, Seq[String]) = {
    val h = openRead(spark, path, version)
    val kept = h.pruned(spark.sessionState.sqlParser.parseExpression(condition))
    val df =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], h.schema)
      else {
        // align to the SNAPSHOT schema: pruning must not narrow the
        // result's columns when an evolved column lives only in pruned
        // files (their rows are excluded, the column is not)
        val base = h.scan(kept)
        base.select(h.schema.fields.map { f =>
          if (base.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    (df.filter(expr(condition)), kept)
  }

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
    h.rowsIn(h.m.files)
  }

  /** Exact COUNT(*) under `condition`, metadata-first. Three file
    * classes from the manifest:
    *   1. stats/bloom-pruned OUT (no row can match) → 0;
    *   2. proven fully IN — the file's PARTITION-PATH values decide the
    *      whole predicate: on a [[writeDataFiles]] layout each value
    *      directory's files are value-homogeneous and null-free in the
    *      partition columns, so a predicate referencing ONLY partition
    *      columns evaluates once per directory, not once per row →
    *      counted from the manifest ([[Head.rowsIn]], DV-adjusted);
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
    val h = openRead(spark, path, version)
    val cond = spark.sessionState.sqlParser.parseExpression(condition)
    val kept = h.pruned(cond)
    if (kept.isEmpty) return 0L
    val proven = provenFullMatch(spark, h.m, h.schema, kept, cond, condition)
    val boundary = kept.filterNot(proven)
    val head = h.rowsIn(kept.filter(proven))
    val tail =
      if (boundary.isEmpty) 0L
      else h.scan(boundary).filter(expr(condition)).count()
    head + tail
  }

  /** The subset of `files` whose partition-directory values PROVE every
    * live row satisfies `cond` (class 2 above), or an empty set when
    * the predicate references any non-partition column, any partition
    * value is the null directory, or a partition type's rendering
    * doesn't round-trip exactly. */
  private[sources] def provenFullMatch(spark: SparkSession, m: Manifest,
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
  private[sources] def partitionTupleOf(f: String,
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
  private[sources] def unescapePathName(s: String): String = {
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

  /** One-row table summary (Delta's DESCRIBE DETAIL, re-derived):
    * everything comes from the head manifest + a file-status pass —
    * no data read. Partition/bloom/constraint/generated metadata in
    * LOGICAL names. */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    val h = openRead(spark, path, -1L)
    val m = h.m
    import spark.implicits._
    Seq((h.prev, m.ts, m.op, m.files.size.toLong, h.bytes(m.files),
      h.rowsIn(m.files), m.logicalPcols,
      m.constraints.keys.toSeq.sorted,
      m.gens.keys.toSeq.sorted,
      m.bloomCfg.map(_._1).getOrElse(Seq.empty),
      m.dvs.size.toLong,
      m.props.toSeq.sortBy(_._1).map { case (k, pv) => s"$k=$pv" }))
      .toDF("version", "ts", "operation", "num_files", "size_bytes",
        "num_rows", "partition_columns", "constraints", "generated_columns",
        "bloom_index_columns", "num_vectored_files", "properties")
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
    if (files.isEmpty) None else Some(openRead(spark, path, v).scan(files, Map.empty))
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
    * `keyCols` unique per snapshot. Reads each side under its own
    * version's schema and aligns columns by name (union schema) so the
    * feed spans
    * schema-evolution commits; pre-evolution rows read the new columns
    * as null. */
  def changes(spark: SparkSession, path: String, keyCols: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame = {
    val fromH = openRead(spark, path, fromVersion)
    val toH = openRead(spark, path, toVersion)
    val (fromM, toM) = (fromH.m, toH.m)
    // an fsck_repair inside the range removed files that are PHYSICALLY
    // GONE — their rows cannot be reconstructed as deletes. Refuse
    // loudly up front (same class as replaying past a vacuum) instead
    // of failing mid-scan on the missing file.
    ((fromVersion + 1) to toVersion).foreach { v =>
      if (scala.util.Try(readRaw(toH.hfs, toH.root, v)).toOption.exists(_.op == "fsck_repair"))
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
    def readFiles(files: Seq[String], h: Head): Option[DataFrame] =
      if (files.isEmpty) None else Some(h.scan(files))
    val main = (readFiles(removed, fromH), readFiles(added, toH)) match {
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
      def posOf(h: Head): DataFrame =
        h.vectors(dvChanged)
          .map(_.select("file", "pos").distinct())
          .getOrElse(Seq.empty[(String, Long)].toDF("file", "pos"))
      val fromPos = posOf(fromH)
      val toPos = posOf(toH)
      val raw = toH.withPos(dvChanged)
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
}
