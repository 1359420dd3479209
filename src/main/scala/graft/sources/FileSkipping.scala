package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, collect_set, concat, explode, input_file_name, lit, pmod, regexp_extract, xxhash64}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructType}

/** File skipping: the one module that knows the stats encoding. Footer
  * stats are encoded at commit time ([[footerStats]]) and compared against
  * predicates ([[mayMatch]]); the bloom sidecars prune equality probes the
  * ranges cannot ([[bloomPrune]]). */
private[sources] trait FileSkipping { self: VersionedTable.type =>

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

  private[sources] val StringStatCap = 64

  private[sources] def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
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
  private[sources] def statCompare(a: String, b: String): Int =
    if (a.startsWith("s")) unsignedCompare(hexDecode(a.tail), hexDecode(b.tail))
    else BigDecimal(a).compare(BigDecimal(b))

  /** Compare an encoded stat against a Catalyst literal's internal
    * value; None when the pair isn't comparably typed (conservative —
    * the caller must keep the file). */
  private[sources] def statVsLiteral(stat: String, v: Any): Option[Int] =
    if (v == null) None
    else if (stat.startsWith("s")) v match {
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Some(unsignedCompare(hexDecode(stat.tail), u.getBytes))
      case s: String =>
        Some(unsignedCompare(hexDecode(stat.tail), s.getBytes("UTF-8")))
      case _ => None
    }
    else scala.util.Try(BigDecimal(stat).compare(BigDecimal(v.toString))).toOption

  /** The [min, max] of integral column `c` (physical name) over every
    * file of `stats`, or None when no file records it. */
  private[sources] def integralRange(stats: Map[String, Map[String, (String, String)]],
      c: String): Option[(Long, Long)] = {
    val ranges = stats.valuesIterator.flatMap(_.get(c)).toSeq
    if (ranges.isEmpty) None
    else Some((ranges.map(_._1.toLong).min, ranges.map(_._2.toLong).max))
  }

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
  private[sources] def footerStats(hfs: FileSystem, root: Path,
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
  private[sources] case class StatEnc(encodeMin: Any => Option[String],
      encodeMax: Any => Option[String])

  private[sources] def numericEnc(f: BigDecimal => BigDecimal): StatEnc = {
    val enc = (v: Any) =>
      if (v == null) None
      else scala.util.Try(f(BigDecimal(v.toString)).toString).toOption
    StatEnc(enc, enc)
  }

  /** The logical-domain encoder for a parquet primitive column, or None
    * when the column's type can't be soundly encoded as an ordered
    * range (see [[footerStats]]). */
  private[sources] def statEncoder(pt: org.apache.parquet.schema.PrimitiveType)
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

  /** A file's manifest stats re-keyed to LOGICAL names — what every
    * predicate-driven pruning decision must consult on a mapped table
    * (stats are recorded under the parquet footer's physical names). */
  private[sources] def logicalStatsOf(m: Manifest, f: String): Map[String, (String, String)] = {
    val raw = m.stats.getOrElse(f, Map.empty)
    if (m.colMap.isEmpty) raw
    else {
      val phys2log = m.colMap.collect { case (l, p) if l != p => p -> l }
      raw.map { case (c, v) => phys2log.getOrElse(c, c) -> v }
    }
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
  private[sources] def mayMatch(stats: Map[String, (String, String)],
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

  private[sources] val BloomK = 7

  /** Hash i of a canonical value string: xxhash64 (seed 42, the engine's
    * own [[org.apache.spark.sql.functions.xxhash64]]) over
    * `value ++ NUL ++ i`, reduced mod m. The WRITE side computes the
    * identical expression per row in the indexing job, so driver-side
    * probes and executor-side builds agree bit-for-bit. */
  private[sources] def bloomPos(value: String, i: Int, mBits: Int): Int = {
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
  private[sources] def bloomCanon(v: Any, dt: DataType): Option[String] = (v, dt) match {
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
  private[sources] def writeBlooms(spark: SparkSession, hfs: FileSystem, root: Path,
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
  private[sources] def writeBloomSidecars(hfs: FileSystem, root: Path,
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
  private[sources] def readBloom(hfs: FileSystem, root: Path, file: String)
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
  private[sources] def eqProbes(
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
    * thread pool ([[onIoPool]]); files without a
    * sidecar, or without the probed column's section, are kept. */
  private[sources] def bloomPrune(hfs: FileSystem, root: Path, files: Seq[String],
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
    files.zip(onIoPool(files)(mayContain)).collect { case (f, true) => f }
  }
}
