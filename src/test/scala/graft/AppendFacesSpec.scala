package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** The three append faces of [[VersionedTable]] — `commit` in append
  * mode, `commitIfNew` and `commitWithRetry` — run one validate → write →
  * claim sequence: a batch any of them rejects fails the same way on
  * every face and leaves the table exactly as it was, data dir included. */
class AppendFacesSpec extends SparkSpec {
  import spark.implicits._

  private val ts = "2026-01-02T00:00:00Z"

  private def freshTable(): String =
    Files.createTempDirectory("vt_append").toString

  /** (id, v, part) rows, partitioned by `part`. */
  private def base(t: String, v: Column = col("v")): Unit =
    VersionedTable.commit(
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "part").withColumn("v", v),
      t, mode = "overwrite", ts = "2026-01-01T00:00:00Z", partitionBy = Seq("part"))

  private def face(name: String)(run: (DataFrame, String, Boolean, Seq[String]) => Any) =
    name -> run

  /** The append faces, each given (batch, table, mergeSchema, partitionBy). */
  private val faces = Seq(
    face("commit (append)") { (df, t, ms, pb) =>
      VersionedTable.commit(df, t, mode = "append", ts = ts, mergeSchema = ms,
        partitionBy = pb)
    },
    face("commitIfNew") { (df, t, ms, pb) =>
      VersionedTable.commitIfNew(df, t, "app", 1L, ts = ts, partitionBy = pb,
        mergeSchema = ms)
    },
    face("commitWithRetry") { (df, t, ms, pb) =>
      VersionedTable.commitWithRetry(df, t, ts = ts, mergeSchema = ms,
        partitionBy = pb)
    })

  /** A rejection: the table set-up, the batch and its options, and the
    * exception class and message (`<t>` = the table path) every face
    * must raise. */
  private case class Rejection(setUp: String => Unit, batch: () => DataFrame,
      mergeSchema: Boolean, partitionBy: Seq[String],
      expected: Class[_ <: Throwable], message: String)

  private val rejections: Seq[(String, Rejection)] = Seq(
    "schema drift without mergeSchema" -> Rejection(base(_),
      () => Seq((3L, 30L, "a", "x")).toDF("id", "v", "part", "extra"),
      mergeSchema = false, Seq.empty, classOf[VersionedTable.SchemaMismatchException],
      "append schema [id,v,part,extra] does not match table schema [id,v,part] at <t>; " +
        "pass mergeSchema = true to evolve"),
    "a widening batch" -> Rejection(base(_, col("v").cast("int")),
      () => Seq((3L, 30L, "a")).toDF("id", "v", "part"),
      mergeSchema = false, Seq.empty, classOf[VersionedTable.SchemaMismatchException],
      "append widens columns [v] at <t>; pass mergeSchema = true to evolve the type"),
    "a CHECK violation" -> Rejection({ t =>
        base(t)
        VersionedTable.addConstraint(spark, t, "v_pos", "v > 0")
      },
      () => Seq((3L, -30L, "a")).toDF("id", "v", "part"),
      mergeSchema = false, Seq.empty, classOf[VersionedTable.ConstraintViolationException],
      "CHECK constraint v_pos (v > 0) violated by incoming rows at <t>"),
    "a partition-restate mismatch" -> Rejection(base(_),
      () => Seq((3L, 30L, "a")).toDF("id", "v", "part"),
      mergeSchema = false, Seq("id"), classOf[IllegalArgumentException],
      "append partitionBy [id] does not match table partitioning [part] at <t>; " +
        "partition columns are fixed at table creation (overwrite to relayout)"),
    "a retired-name collision after renameColumn" -> Rejection({ t =>
        base(t)
        VersionedTable.renameColumn(spark, t, "v", "amount")
      },
      () => Seq((3L, 30L, "a", 1L)).toDF("id", "amount", "part", "v"),
      mergeSchema = true, Seq.empty, classOf[VersionedTable.SchemaMismatchException],
      "new columns [v] collide with physical names in use or retired by rename/drop at <t>"))

  private def dataDirs(t: String): Set[String] =
    Option(new File(t, "files").list()).fold(Set.empty[String])(_.toSet)

  for ((rejection, r) <- rejections; (name, run) <- faces) {
    test(s"$name rejects $rejection before any data lands") {
      val t = freshTable()
      r.setUp(t)
      val dirs = dataDirs(t)
      val head = VersionedTable.latestVersion(spark, t)
      val e = intercept[Throwable](run(r.batch(), t, r.mergeSchema, r.partitionBy))
      assert(e.getClass === r.expected, s"$name threw ${e.getClass.getName}: ${e.getMessage}")
      assert(e.getMessage === r.message.replace("<t>", t))
      assert(dataDirs(t) === dirs, s"$name left a data dir behind")
      assert(VersionedTable.latestVersion(spark, t) === head)
    }
  }

  test("commitWithRetry re-validates against a moved head: a winner's CHECK rejects the retry") {
    val t = freshTable()
    base(t)
    var winner = -1L
    // the winner lands between the batch's write and its claim, adding a
    // constraint the batch violates: the retry must not land it
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commitWithRetryImpl(Seq((3L, -30L, "a")).toDF("id", "v", "part"),
        t, ts, mergeSchema = false, maxRetries = 5, beforeClaim = { _ =>
          if (winner < 0)
            winner = VersionedTable.addConstraint(spark, t, "v_pos", "v > 0", ts = ts)
        })
    }
    assert(winner === 1L)
    assert(VersionedTable.latestVersion(spark, t) === winner)
    assert(VersionedTable.constraintsOf(spark, t) === Map("v_pos" -> "v > 0"))
    assert(VersionedTable.readVersion(spark, t).select("id").as[Long].collect().sorted ===
      Array(1L, 2L))
    // the rejected batch's dir was already written; vacuum reclaims it
    assert(VersionedTable.vacuum(spark, t, graceMs = 0L) > 0)
    assert(VersionedTable.readVersion(spark, t).count() === 2L)
  }
}
