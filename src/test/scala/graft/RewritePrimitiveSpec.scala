package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The one rewrite primitive behind every data-rewriting face of
  * [[VersionedTable]]: what each face's new files carry, and that an
  * operation resolves the table head once. */
class RewritePrimitiveSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("vt_rewrite").toString

  private def manifestLines(t: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(t, "_manifests", f"v$v%08d.manifest")).asScala.toSeq

  /** Even keys 2..8000 range-laid into four bands, partitioned by `part`,
    * bloom-indexed on `id`, then renamed `id` → `key`: the index config
    * names the logical column, the files store the physical one. */
  private def renamedIndexedTable(): String = {
    val t = freshTable()
    val base = (1L to 4000L).map(i => (2 * i, if (i % 2 == 0) "a" else "b", i))
      .toDF("id", "part", "v").repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id"), bloomBits = 1 << 14, partitionBy = Seq("part"))
    VersionedTable.renameColumn(spark, t, "id", "key", ts = "2026-01-02T00:00:00Z")
    t
  }

  private val ts = "2026-01-03T00:00:00Z"
  private val tiny = 0.0001 // any touched file folds

  // every face that writes data files, each touching the row key = 4
  // (part "a", lowest band) on a fresh renamedIndexedTable
  private val faces: Seq[(String, String => Unit)] = Seq(
    "delete" -> (t => VersionedTable.delete(spark, t, "key = 4", ts = ts)),
    "update" -> (t => VersionedTable.update(spark, t, "key = 4", Map("v" -> "v + 1"), ts = ts)),
    "merge" -> (t => VersionedTable.merge(
      Seq((4L, "a", -1L)).toDF("key", "part", "v"), t, Seq("key"), ts = ts)),
    "mergeClauses" -> (t => VersionedTable.mergeClauses(
      Seq((4L, "a", -1L), (9001L, "b", 1L)).toDF("key", "part", "v"), t, Seq("key"),
      ts = ts)),
    "replaceWhere" -> (t => VersionedTable.replaceWhere(
      Seq((4L, "a", -1L)).toDF("key", "part", "v"), t, "key = 4", ts = ts)),
    "optimize" -> (t => VersionedTable.optimize(spark, t, ts = ts)),
    "optimizeWhere" -> (t => VersionedTable.optimizeWhere(spark, t, "part = 'a'", ts = ts)),
    "compactSmall" -> (t => VersionedTable.compactSmall(spark, t, ts = ts)),
    "reorgPurge" -> { t =>
      VersionedTable.deleteMergeOnRead(spark, t, "key = 4", ts = ts,
        maxVectoredFraction = 1.0)
      VersionedTable.reorgPurge(spark, t, ts = "2026-01-04T00:00:00Z")
    },
    "deleteMergeOnRead (fold)" -> (t => VersionedTable.deleteMergeOnRead(
      spark, t, "key = 4", ts = ts, maxVectoredFraction = tiny)),
    "updateMergeOnRead (post-images + fold)" -> (t => VersionedTable.updateMergeOnRead(
      spark, t, "key = 4", Map("v" -> "v + 1"), ts = ts, maxVectoredFraction = tiny)))

  faces.foreach { case (face, run) =>
    test(s"rewrite primitive: $face writes files with stats, row counts, " +
      "a physical-name bloom section and the partition layout") {
      val t = renamedIndexedTable()
      val before = VersionedTable.snapshotFiles(spark, t).toSet
      run(t)
      val added = VersionedTable.snapshotFiles(spark, t).filterNot(before)
      assert(added.nonEmpty, s"$face wrote no files")
      val lines = manifestLines(t, VersionedTable.latestVersion(spark, t))
      added.foreach { f =>
        assert(f.contains("/p__part="), s"$face: $f is outside the partition layout")
        val rows = lines.collectFirst {
          case l if l.startsWith(s"fr=$f|") => l.split('|').last.toLong
        }
        assert(rows.exists(_ > 0), s"$face: no row count for $f")
        assert(lines.exists(_.startsWith(s"fstat=$f|")), s"$face: no stats for $f")
        val bloom = Paths.get(t, f + ".bloom")
        assert(Files.exists(bloom) &&
          Files.readAllLines(bloom).asScala.exists(_.startsWith("col=id|")),
          s"$face: $f has no bloom section under the physical name `id`")
      }
    }
  }

  test("a merge-on-read fold after renaming a bloom-indexed column keeps bloom pruning") {
    val t = renamedIndexedTable()
    val before = VersionedTable.snapshotFiles(spark, t).toSet
    VersionedTable.deleteMergeOnRead(spark, t, "key = 4", ts = ts,
      maxVectoredFraction = tiny)
    val folded = VersionedTable.snapshotFiles(spark, t).filterNot(before)
    assert(folded.size === 1, "the touched file must fold")
    // 1001 is absent from the table (every key is even) and inside the
    // folded file's [8, ~2000] key range: stats cannot prune it, the
    // folded file's bloom sidecar must
    assert(!VersionedTable.prunedFiles(spark, t, "key = 1001").contains(folded.head))
    assert(VersionedTable.readWhere(spark, t, "key = 1001").count() === 0L)
    assert(VersionedTable.readWhere(spark, t, "key = 8").count() === 1L)
  }

  test("a COW update resolves the head once: one chain walk, not one per phase") {
    val t = freshTable()
    VersionedTable.commit((1L to 40L).toDF("id").withColumn("v", col("id") * 10), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    (1 to 5).foreach { i =>
      VersionedTable.commit(Seq(100L + i).toDF("id").withColumn("v", col("id") * 10), t,
        mode = "append", ts = s"2026-01-0${i + 1}T00:00:00Z")
    }
    // a six-manifest delta chain, below the checkpoint cadence
    assert(VersionedTable.latestVersion(spark, t) < VersionedTable.checkpointInterval)
    // the commit's property lookup for the head is then a cache hit
    VersionedTable.propertiesOf(spark, t)
    val b0 = VersionedTable.metadataOpens.get()
    VersionedTable.snapshotFiles(spark, t)
    val chain = VersionedTable.metadataOpens.get() - b0
    assert(chain === 6L)
    val b1 = VersionedTable.metadataOpens.get()
    VersionedTable.update(spark, t, "id = 7", Map("v" -> "0"), ts = "2026-01-09T00:00:00Z")
    val opens = VersionedTable.metadataOpens.get() - b1
    assert(opens === chain,
      s"update opened $opens metadata files; one head resolution opens $chain")
    assert(VersionedTable.readWhere(spark, t, "id = 7").select("v").head().getLong(0) === 0L)
  }
}
