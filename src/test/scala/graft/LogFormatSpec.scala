package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Format stability of the manifest log. `src/test/resources/golden_log`
  * holds a text-only log (manifests and a multi-part checkpoint, no data
  * files) written by [[LogFormatSpec.writeSequence]], and `reads.txt` what
  * the metadata faces answered on it when it was written. A reader must
  * keep answering the same from the same log, and a writer running the
  * same sequence must write the same lines in the same order. */
class LogFormatSpec extends SparkSpec {
  import LogFormatSpec._

  private val golden = Paths.get("src/test/resources/golden_log")

  /** The golden table, copied so that no read can touch the sources. */
  private def goldenCopy(): String = {
    val dst = Files.createTempDirectory("golden_log")
    Seq("_manifests", "_checkpoints").foreach { d =>
      Files.createDirectories(dst.resolve(d))
      logFiles(golden.resolve("table").resolve(d))
        .foreach(p => Files.copy(p, dst.resolve(d).resolve(p.getFileName)))
    }
    dst.toString
  }

  test("the golden log reads back without opening a data file") {
    val t = goldenCopy()
    assert(!Files.exists(Paths.get(t, "files")), "the golden log holds no data files")
    val want = Files.readAllLines(golden.resolve("reads.txt")).asScala.toSeq
    assert(describe(spark, t) === want)
    assert(VersionedTable.lastTxn(spark, t, AppId) === Some(8L))
    assert(VersionedTable.partitionColumnsOf(spark, t) === Seq("p"))
    assert(VersionedTable.constraintsOf(spark, t) ===
      Map("v_nonneg" -> "v >= 0", "gen_w" -> "w <=> (v * 2)"))
    assert(VersionedTable.columnMappingOf(spark, t) ===
      (Map.empty[String, String], Set("note")))
    assert(VersionedTable.propertiesOf(spark, t) ===
      Map("graft.checkpointInterval" -> "4", "owner" -> "golden|team"))
  }

  test("a multi-part checkpoint with a second reader= line reads back the same") {
    // the shape earlier writers left: the pointer repeated the `reader=2`
    // marker that the property lines already carry
    val t = goldenCopy()
    Seq("v00000004.checkpoint", "v00000008.checkpoint").foreach { f =>
      val p = Paths.get(t, "_checkpoints", f)
      val lines = Files.readAllLines(p).asScala.toSeq
      val at = lines.indexWhere(_.startsWith("nfiles="))
      assert(at > 0 && lines.count(_ == "reader=2") === 1)
      Files.write(p, (lines.patch(at, Seq("reader=2"), 0) :+ "").mkString("\n").getBytes("UTF-8"))
    }
    val want = Files.readAllLines(golden.resolve("reads.txt")).asScala.toSeq
    assert(describe(spark, t) === want)
  }

  test("the golden sequence writes the golden log again, line for line") {
    val t = Files.createTempDirectory("golden_rewrite").toString
    writeSequence(spark, t)
    Seq("_manifests", "_checkpoints").foreach { d =>
      val want = logFiles(golden.resolve("table").resolve(d))
      val got = logFiles(Paths.get(t, d))
      assert(got.map(_.getFileName.toString) === want.map(_.getFileName.toString))
      got.zip(want).foreach { case (g, w) =>
        assert(normalized(g) === normalized(w), s"$d/${g.getFileName}")
      }
    }
  }
}

object LogFormatSpec {
  val AppId = "golden-app"

  /** The sorted, non-hidden files of one log directory. */
  def logFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.filterNot(_.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** A log file's lines with the generated parts of data-file and
    * vector-directory names (attempt and write ids) masked. */
  def normalized(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.map(_
      .replaceAll("(files/c\\d{8})-[0-9a-f]{8}", "$1-*")
      .replaceAll("part-(\\d{5})-[0-9a-f-]{36}", "part-$1-*"))

  /** The commit sequence behind the golden log: a partitioned overwrite,
    * properties (with a checkpoint every 4 commits, split into parts of 2
    * files), a CHECK constraint, a generated column, streaming appends
    * with a `txn`, a rename and a drop under column mapping, a
    * merge-on-read delete (a vector with its count), a copy-on-write
    * delete and a bloom index config. */
  def writeSequence(spark: SparkSession, t: String): Unit = {
    val key = "graft.checkpointPartLimit"
    val prev = sys.props.get(key)
    sys.props(key) = "2"
    try {
      def batch(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2).select(col("id"),
        (col("id") % 3).as("p"), (col("id") * 10).as("v"), (col("id") * 20).as("w"),
        lit("x").as("note"))
      def ts(d: Int) = f"2026-01-$d%02dT00:00:00Z"
      VersionedTable.commit(batch(0, 12), t, mode = "overwrite", ts = ts(1),
        partitionBy = Seq("p"))
      VersionedTable.setProperties(spark, t,
        Map("graft.checkpointInterval" -> "4", "owner" -> "golden|team"), ts = ts(2))
      VersionedTable.addConstraint(spark, t, "v_nonneg", "v >= 0", ts = ts(3))
      VersionedTable.addGeneratedColumn(spark, t, "w", "v * 2", ts = ts(4))
      VersionedTable.commitIfNew(batch(12, 18).drop("w"), t, AppId, 7L, ts = ts(5))
      VersionedTable.renameColumn(spark, t, "note", "remark", ts = ts(6))
      VersionedTable.deleteMergeOnRead(spark, t, "id = 3", ts = ts(7),
        maxVectoredFraction = 1.0)
      VersionedTable.dropColumn(spark, t, "remark", ts = ts(8))
      VersionedTable.commitIfNew(batch(18, 20).drop("w", "note"), t, AppId, 8L,
        ts = ts(9))
      VersionedTable.delete(spark, t, "id = 13", ts = ts(10))
      VersionedTable.setBloomIndex(spark, t, Seq("id"), ts = ts(11))
    } finally prev.fold(sys.props.remove(key))(v => sys.props.put(key, v))
  }

  /** What the metadata-only faces answer on table `t`, one line each. */
  def describe(spark: SparkSession, t: String): Seq[String] = {
    val head = VersionedTable.latestVersion(spark, t)
    Seq(s"latestVersion=$head") ++
      (0L to head).map(v =>
        s"snapshotFiles($v)=${VersionedTable.snapshotFiles(spark, t, v).mkString(",")}") ++
      VersionedTable.history(spark, t).orderBy("version").collect().toSeq
        .map(r => s"history=${r.toSeq.mkString(",")}") ++
      Seq(
        s"rowCount=${VersionedTable.rowCount(spark, t)}",
        s"rowCount(6)=${VersionedTable.rowCount(spark, t, 6L)}",
        s"constraintsOf=${VersionedTable.constraintsOf(spark, t).toSeq.sorted.mkString(",")}",
        s"generatedColumnsOf=${VersionedTable.generatedColumnsOf(spark, t).toSeq.sorted.mkString(",")}",
        s"propertiesOf=${VersionedTable.propertiesOf(spark, t).toSeq.sorted.mkString(",")}",
        s"columnMappingOf=${VersionedTable.columnMappingOf(spark, t)}",
        s"partitionColumnsOf=${VersionedTable.partitionColumnsOf(spark, t).mkString(",")}",
        s"bloomConfigOf=${VersionedTable.bloomConfigOf(spark, t)
          .map { case (cs, bits) => cs.mkString(",") + "|" + bits }}",
        s"lastTxn=${VersionedTable.lastTxn(spark, t, AppId)}",
        s"lastTxn(other)=${VersionedTable.lastTxn(spark, t, "other")}")
  }
}
