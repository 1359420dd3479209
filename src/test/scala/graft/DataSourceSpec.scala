package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** `spark.read.format("graft")` ≡ `VersionedTable.readVersion` — the
  * battery the format face must pass: plain read, deletion vectors,
  * column mapping, partitioned tables, time travel by version and by
  * timestamp, SQL DDL (`USING graft`), write modes, and the
  * pushdown-preservation property (the inner plan keeps parquet
  * `PushedFilters`). */
class DataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("ds_spec").toString

  private def df(ids: Long*): DataFrame =
    ids.toDF("id").withColumn("v", col("id") * 10)

  private def rows(d: DataFrame): Set[(Long, Long)] =
    d.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def planDepth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    1 + (if (p.children.isEmpty) 0 else p.children.map(planDepth).max)

  private def sameAsLibrary(path: String): Unit = {
    val lib = VersionedTable.readVersion(spark, path)
    val fmt = spark.read.format("graft").load(path)
    assert(fmt.schema === lib.schema)
    assert(fmt.collect().map(_.toSeq).toSet === lib.collect().map(_.toSeq).toSet)
  }

  test("format read ≡ readVersion on a plain table; load() requires a path") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3), t, mode = "overwrite")
    sameAsLibrary(t)
    val e = intercept[Exception](spark.read.format("graft").load().collect())
    assert(e.getMessage.toLowerCase.contains("path"))
  }

  test("versionAsOf / timestampAsOf time travel through the format") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(3), t, mode = "append", ts = "2026-01-05T00:00:00Z")
    assert(rows(spark.read.format("graft").option("versionAsOf", "0").load(t))
      === Set((1L, 10L), (2L, 20L)))
    assert(rows(spark.read.format("graft").option("versionAsOf", "1").load(t))
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows(spark.read.format("graft")
      .option("timestampAsOf", "2026-01-03T00:00:00Z").load(t))
      === Set((1L, 10L), (2L, 20L)))
    val both = intercept[IllegalArgumentException](spark.read.format("graft")
      .option("versionAsOf", "0").option("timestampAsOf", "2026-01-03T00:00:00Z")
      .load(t))
    assert(both.getMessage.contains("at most one"))
  }

  test("format read sees through deletion vectors (MoR)") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3, 4), t, mode = "overwrite")
    VersionedTable.deleteMergeOnRead(spark, t, "id = 2")
    assert(rows(spark.read.format("graft").load(t))
      === Set((1L, 10L), (3L, 30L), (4L, 40L)))
    sameAsLibrary(t)
  }

  test("format read resolves column mapping (rename) and partitioned layout") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite")
    VersionedTable.renameColumn(spark, t, "v", "val")
    val fmt = spark.read.format("graft").load(t)
    assert(fmt.columns.toSeq === Seq("id", "val"))
    assert(fmt.select("val").collect().map(_.getLong(0)).toSet === Set(10L, 20L))
    sameAsLibrary(t)

    val p = freshTable()
    val pdf = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "part")
    VersionedTable.commit(pdf, p, mode = "overwrite", partitionBy = Seq("part"))
    val pf = spark.read.format("graft").load(p)
    assert(pf.filter(col("part") === "a").select("id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    sameAsLibrary(p)
  }

  test("filters and pruning reach the inner parquet scan (PushedFilters)") {
    val t = freshTable()
    VersionedTable.commit(df(1L to 100L: _*), t, mode = "overwrite")
    val q = spark.read.format("graft").load(t).filter(col("id") > 90).select("id")
    assert(q.collect().map(_.getLong(0)).toSet === (91L to 100L).toSet)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,90)"),
      s"inner parquet scan lost the pushed filter:\n$plan")
    assert(!plan.contains("v#"), s"column pruning lost (v still read):\n$plan")
  }

  test("SQL face: CREATE TABLE ... USING graft LOCATION, then SELECT") {
    val t = freshTable()
    VersionedTable.commit(df(7, 8), t, mode = "overwrite")
    spark.sql(s"CREATE TABLE ds_spec_sql USING graft LOCATION '$t'")
    try {
      val got = spark.sql("SELECT id, v FROM ds_spec_sql WHERE id = 8")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((8L, 80L)))
    } finally spark.sql("DROP TABLE IF EXISTS ds_spec_sql")
  }

  test("a plain head read resolves at scan time; versionAsOf is the pin") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite")
    val head = spark.read.format("graft").load(t)
    val pinned = spark.read.format("graft").option("versionAsOf", "0").load(t)
    VersionedTable.commit(df(3), t, mode = "append")
    // v1-relation norm (and what SQL INSERT-then-SELECT correctness
    // requires, since the catalog caches relation instances): the plain
    // head handle sees the new commit — each scan is still ONE
    // manifest's consistent snapshot — while versionAsOf stays pinned
    assert(head.count() === 3L)
    assert(pinned.count() === 2L)
  }

  test("readChangeFeed options: per-commit CDF through the format, bounded by endingVersion") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(3), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    VersionedTable.delete(spark, t, "id = 1", ts = "2026-01-03T00:00:00Z")
    def cf(opts: (String, String)*) = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
        .option("keyColumns", "id")
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load(t)
    }
    val full = cf("startingVersion" -> "0")
    // v0: both rows as the bootstrap insert feed; v1: one insert;
    // v2: one delete — per-commit granularity, Delta's CDF shape
    val byCommit = full.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byCommit === Map((0L, "insert") -> 2L, (1L, "insert") -> 1L,
      (2L, "delete") -> 1L))
    // commit timestamps ride along verbatim
    assert(full.filter(col("_commit_version") === 2L)
      .select("_commit_timestamp").head().getString(0) === "2026-01-03T00:00:00Z")
    // endingVersion bounds the range; startingVersion>0 skips the bootstrap
    assert(cf("startingVersion" -> "1", "endingVersion" -> "1").count() === 1L)
    // the per-pair feed matches the library's changes() for the same pair
    val lib = VersionedTable.changes(spark, t, Seq("id"), 1L, 2L)
      .select("id", "_change_type").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fmt = cf("startingVersion" -> "2", "endingVersion" -> "2")
      .select("id", "_change_type").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(fmt === lib)
    // timestamp range spellings resolve against commit timestamps:
    // start = first commit at-or-after, end = last at-or-before
    assert(cf("startingTimestamp" -> "2026-01-02T00:00:00Z").count() === 2L)
    assert(cf("startingTimestamp" -> "2026-01-01T12:00:00Z",
      "endingTimestamp" -> "2026-01-02T12:00:00Z").count() === 1L)
    assert(intercept[IllegalArgumentException](
      cf("startingTimestamp" -> "2027-01-01T00:00:00Z"))
      .getMessage.contains("at or after"))
    // missing keyColumns / starting point are loud analysis errors
    assert(intercept[IllegalArgumentException](spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "0").load(t))
      .getMessage.contains("keyColumns"))
    assert(intercept[IllegalArgumentException](spark.read.format("graft")
      .option("readChangeFeed", "true").option("keyColumns", "id").load(t))
      .getMessage.contains("startingVersion"))
  }

  test("readStream startingTimestamp anchors the tail at the first commit at-or-after") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(2), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    VersionedTable.commit(df(3), t, mode = "append", ts = "2026-01-03T00:00:00Z")
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", "2026-01-01T12:00:00Z")
      .load(t).writeStream.format("memory").queryName("gs_sts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("gs_sts").select("id").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
  }

  test("readStream face: snapshot batch, append tail, maintenance silence, change options") {
    val t = freshTable()
    val ckp = java.nio.file.Files.createTempDirectory("ds_sckp").toString
    VersionedTable.commit(df(1, 2), t, mode = "overwrite")

    var runIdx = 0
    def run(expectRows: Option[Set[(Long, Long)]], opts: (String, String)*): Unit = {
      runIdx += 1
      val got = scala.collection.mutable.Set[(Long, Long)]()
      val rdr = opts.foldLeft(spark.readStream.format("graft")) {
        case (a, (k, v)) => a.option(k, v)
      }
      val q = rdr.load(t).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.synchronized {
            got ++= b.select("id", "v").collect()
              .map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      expectRows.foreach(want => assert(got.toSet === want, s"run $runIdx"))
    }

    // first run: the anchor snapshot arrives as one batch
    run(Some(Set((1L, 10L), (2L, 20L))))
    // append + optimize: only the appended rows stream (maintenance is
    // this log's dataChange=false)
    VersionedTable.commit(df(3), t, mode = "append")
    VersionedTable.optimize(spark, t)
    run(Some(Set((3L, 30L))))
    // a delete-only MoR commit fails the tail without opt-in, then
    // streams NOTHING under ignoreDeletes
    VersionedTable.deleteMergeOnRead(spark, t, "id = 1",
      maxVectoredFraction = 1.0)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(None)
    }
    run(Some(Set.empty), "ignoreDeletes" -> "true")
    // a COW merge rewrite is NOT delete-only; under ignoreChanges its
    // added files stream (rewritten survivors re-emit — Delta's caveat)
    VersionedTable.merge(Seq((2L, 222L)).toDF("id", "v"), t, keyCols = Seq("id"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(None, "ignoreDeletes" -> "true")
    }
    run(Some(Set((2L, 222L), (3L, 30L))), "ignoreChanges" -> "true")

    // startingVersion tails from N inclusive, no snapshot batch
    val ckp2 = java.nio.file.Files.createTempDirectory("ds_sckp2").toString
    val q2 = spark.readStream.format("graft")
      .option("startingVersion", "1").option("ignoreChanges", "true")
      .load(t).writeStream.format("memory").queryName("gs_sv")
      .option("checkpointLocation", ckp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // v1 append (3) + v4 merge adds (2→222, 3 carried); v2 optimize and
    // v3 dv-delete contribute nothing
    assert(spark.table("gs_sv").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((3L, 30L), (2L, 222L)))

    // bounded catch-up: one version per trigger → the backlog drains in
    // multiple micro-batches (a continuous trigger — AvailableNow pins
    // its target offset once, so a v1 rate limit yields one bounded
    // batch per RUN there, the resume-in-slices shape)
    val ckp3 = java.nio.file.Files.createTempDirectory("ds_sckp3").toString
    val drained = new java.util.concurrent.atomic.AtomicLong(0)
    val q3 = spark.readStream.format("graft")
      .option("startingVersion", "0").option("ignoreChanges", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        drained.addAndGet(b.count()); ()
      }
      .option("checkpointLocation", ckp3)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    // v0 2 rows + v1 1 row + v4's 2 added rows = 5 (v2/v3 contribute 0)
    val deadline = System.currentTimeMillis() + 60000
    while (drained.get() < 5 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q3.stop()
    assert(drained.get() === 5L, s"rate-limited drain lost rows: ${drained.get()}")
    assert(q3.recentProgress.count(_.numInputRows > 0) > 1,
      "rate-limited drain must take multiple micro-batches")
  }

  test("maxFilesPerTrigger splits one giant commit across micro-batches") {
    val t = freshTable()
    // ONE commit of exactly 25 files (range layout on 100 distinct ids)
    VersionedTable.commit(df(1L to 100L: _*).repartitionByRange(25, col("id")),
      t, mode = "overwrite")
    assert(VersionedTable.snapshotFiles(spark, t).size === 25)
    val ckp = java.nio.file.Files.createTempDirectory("ds_mft").toString
    val got = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0")   // tail mode: the commit is paced
      .option("maxFilesPerTrigger", "4")
      .load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }
        ()
      }
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    val deadline = System.currentTimeMillis() + 60000
    while (got.synchronized(got.size) < 100 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    // a second multi-file commit mid-stream: the file budget walks
    // across the version boundary without losing or duplicating rows
    VersionedTable.commit(df(101L to 110L: _*).repartitionByRange(5, col("id")),
      t, mode = "append")
    while (got.synchronized(got.size) < 110 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.stop()
    assert(got.toSet === (1L to 110L).toSet,
      s"file-paced drain lost/duplicated rows: ${got.size}")
    // the 25-file commit must NOT have arrived as one batch
    assert(q.recentProgress.count(_.numInputRows > 0) >= 7,
      s"expected ceil(25/4)+ceil(10/4) batches, got " +
        s"${q.recentProgress.count(_.numInputRows > 0)}")
  }

  test("readStream startingVersion below an expired log fails loudly; anchor mode survives") {
    val t = freshTable()
    (0 until 25).foreach { i =>
      VersionedTable.commit(df(i.toLong), t,
        mode = if (i == 0) "overwrite" else "append",
        ts = java.time.Instant.EPOCH.plusSeconds(i.toLong).toString)
    }
    VersionedTable.expireLog(spark, t, retainVersions = 5)
    // a pre-cut startingVersion is a clear construction error, not a
    // missing-manifest crash mid-stream
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "1").load(t)
        .writeStream.format("memory").queryName("gs_exp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("no longer available") ||
      Option(e.getCause).exists(_.getMessage.contains("no longer available")))
    // a fresh anchor-mode consumer of the bounded log still works: the
    // snapshot batch resolves through the kept checkpoint
    val got = scala.collection.mutable.Set[Long]()
    val q2 = spark.readStream.format("graft").load(t)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(got.toSet === (0L until 25L).toSet)
  }

  test("skipChangeCommits: change commits skip ENTIRELY, the tail continues past them") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite")
    VersionedTable.commit(df(3), t, mode = "append")
    // a COW merge rewrite (change commit) then a plain append after it
    VersionedTable.merge(Seq((2L, 222L)).toDF("id", "v"), t, keyCols = Seq("id"))
    VersionedTable.commit(df(4), t, mode = "append")
    val got = scala.collection.mutable.Set[(Long, Long)]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0")
      .option("skipChangeCommits", "true")
      .load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= rows(b) }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // v0 + v1 + v3 stream; the v2 merge contributes NOTHING (not even
    // its added files — the ignoreChanges re-emit does not happen)
    assert(got.toSet === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))

    // mid-stream under a checkpoint: a delete landing between runs is
    // skipped silently and the tail continues
    val ckp = java.nio.file.Files.createTempDirectory("ds_scc").toString
    def run(): Set[(Long, Long)] = {
      val g = scala.collection.mutable.Set[(Long, Long)]()
      val q2 = spark.readStream.format("graft")
        .option("skipChangeCommits", "true")
        .load(t).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          g.synchronized { g ++= rows(b) }; ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q2.awaitTermination()
      g.toSet
    }
    run() // anchor snapshot
    VersionedTable.delete(spark, t, "id = 1")
    VersionedTable.commit(df(5), t, mode = "append")
    assert(run() === Set((5L, 50L)),
      "the delete commit must skip silently; only the append streams")
  }

  test("conflicting range spellings are loud errors (stream + CDF), not a silent preference") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(2), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    val e1 = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "0")
        .option("startingTimestamp", "2026-01-02T00:00:00Z")
        .load(t).writeStream.format("memory").queryName("gs_conflict")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def msg(e: Throwable): String =
      (Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage) ++
        Iterator("")).mkString(" | ")
    assert(msg(e1).contains("at most one"))
    assert(intercept[IllegalArgumentException](spark.read.format("graft")
      .option("readChangeFeed", "true").option("keyColumns", "id")
      .option("startingVersion", "0")
      .option("startingTimestamp", "2026-01-01T00:00:00Z").load(t))
      .getMessage.contains("at most one"))
    assert(intercept[IllegalArgumentException](spark.read.format("graft")
      .option("readChangeFeed", "true").option("keyColumns", "id")
      .option("startingVersion", "0").option("endingVersion", "1")
      .option("endingTimestamp", "2026-01-02T00:00:00Z").load(t))
      .getMessage.contains("at most one"))
  }

  test("dynamic partition overwrite: only the batch's partitions replace") {
    val t = freshTable()
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("id", "part", "v").write.format("graft")
      .option("partitionBy", "part").save(t)
    // writer-option spelling: replace partitions a and c, leave b
    Seq((11L, "a", 110L), (14L, "c", 140L)).toDF("id", "part", "v")
      .write.format("graft").mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").save(t)
    def state(): Set[(Long, String, Long)] =
      spark.read.format("graft").load(t).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(state() === Set((11L, "a", 110L), (3L, "b", 30L), (14L, "c", 140L)))
    // session-conf spelling drives SQL INSERT OVERWRITE the same way
    spark.sql(s"CREATE TABLE ds_dynpo USING graft LOCATION '$t'")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      spark.sql("INSERT OVERWRITE ds_dynpo VALUES (21, 'b', 210)")
      assert(state() === Set((11L, "a", 110L), (21L, "b", 210L), (14L, "c", 140L)))
    } finally {
      prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
      spark.sql("DROP TABLE ds_dynpo")
    }
    // STATIC overwrite (the default) still replaces the whole snapshot
    Seq((99L, "z", 990L)).toDF("id", "part", "v")
      .write.format("graft").mode(SaveMode.Overwrite)
      .option("partitionBy", "part").save(t)
    assert(state() === Set((99L, "z", 990L)))
    // dynamic on an unpartitioned table refuses with guidance
    val t2 = freshTable()
    df(1).write.format("graft").save(t2)
    assert(intercept[Exception](df(2).write.format("graft")
      .mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .save(t2)).getMessage.contains("unpartitioned"))
  }

  test("maxBytesPerTrigger paces catch-up by added bytes (soft max, composes with files)") {
    val t = freshTable()
    // one 25-file commit (~few KB per file)
    VersionedTable.commit(df(1L to 100L: _*).repartitionByRange(25, col("id")),
      t, mode = "overwrite")
    val files = VersionedTable.snapshotFiles(spark, t)
    assert(files.size === 25)
    val perFile = VersionedTable.dataFileSize(spark, t, files.head)
    assert(perFile > 0)
    // budget of ~3 files' bytes → the backlog drains in many batches
    val ckp = java.nio.file.Files.createTempDirectory("ds_mbt").toString
    val got = scala.collection.mutable.Set[Long]()
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0")
      .option("maxBytesPerTrigger", (perFile * 3).toString)
      .load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }
        ()
      }
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    val deadline = System.currentTimeMillis() + 60000
    while (got.synchronized(got.size) < 100 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.stop()
    assert(got.toSet === (1L to 100L).toSet,
      s"byte-paced drain lost/duplicated rows: ${got.size}")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 5,
      s"expected ~ceil(25/4) byte-paced batches, got " +
        s"${q.recentProgress.count(_.numInputRows > 0)}")
    // a single file FAR over budget still makes progress (soft max)
    val t2 = freshTable()
    VersionedTable.commit(df(1L to 50L: _*).repartition(1), t2, mode = "overwrite")
    val got2 = scala.collection.mutable.Set[Long]()
    val q2 = spark.readStream.format("graft")
      .option("startingVersion", "0")
      .option("maxBytesPerTrigger", "10")
      .load(t2).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got2.synchronized { got2 ++= b.select("id").collect().map(_.getLong(0)) }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(got2.toSet === (1L to 50L).toSet)
    // size-string spelling parses; garbage refuses
    assert(graft.sources.GraftStreamSource.parseBytes("64m") === (64L << 20))
    assert(graft.sources.GraftStreamSource.parseBytes("1g") === (1L << 30))
    intercept[IllegalArgumentException](
      graft.sources.GraftStreamSource.parseBytes("lots"))
  }

  test("txnAppId/txnVersion writer options: replays are silent no-ops (idempotent foreachBatch)") {
    val t = freshTable()
    def write(ver: Long, d: DataFrame): Unit =
      d.write.format("graft").mode(SaveMode.Append)
        .option("txnAppId", "job42").option("txnVersion", ver.toString).save(t)
    df(1, 2).write.format("graft").save(t)
    write(0L, df(3))
    write(1L, df(4))
    // replays at or below the watermark commit nothing
    write(1L, df(99))
    write(0L, df(98))
    assert(rows(spark.read.format("graft").load(t))
      === Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    assert(VersionedTable.latestVersion(spark, t) === 2L)
    // a DIFFERENT appId is its own watermark
    df(5).write.format("graft").mode(SaveMode.Append)
      .option("txnAppId", "other").option("txnVersion", "0").save(t)
    assert(VersionedTable.latestVersion(spark, t) === 3L)
    // the options must come as a pair, and not with replaceWhere
    assert(intercept[IllegalArgumentException](df(6).write.format("graft")
      .mode(SaveMode.Append).option("txnAppId", "x").save(t))
      .getMessage.contains("together"))
    assert(intercept[IllegalArgumentException](df(6).write.format("graft")
      .mode(SaveMode.Overwrite).option("txnAppId", "x")
      .option("txnVersion", "1").option("replaceWhere", "id = 6").save(t))
      .getMessage.contains("scoped overwrites"))
  }

  test("overwriteSchema guard: a schema-changing overwrite refuses without the option") {
    val t = freshTable()
    df(1, 2).write.format("graft").mode(SaveMode.Overwrite).save(t)
    // same-schema overwrite passes with no option (column ORDER and
    // nullability are not schema changes)
    spark.range(1).selectExpr("CAST(30 AS bigint) AS v", "CAST(3 AS bigint) AS id")
      .write.format("graft").mode(SaveMode.Overwrite).save(t)
    assert(rows(spark.read.format("graft").load(t)) === Set((3L, 30L)))
    // renamed column → refuses with guidance
    val renamed = Seq((1L, "x")).toDF("id", "label")
    val e1 = intercept[Exception](
      renamed.write.format("graft").mode(SaveMode.Overwrite).save(t))
    assert(e1.getMessage.contains("overwriteSchema"))
    // type change → refuses too
    val retyped = Seq((1L, "10")).toDF("id", "v")
    val e2 = intercept[Exception](
      retyped.write.format("graft").mode(SaveMode.Overwrite).save(t))
    assert(e2.getMessage.contains("overwriteSchema"))
    // table untouched by the refused writes
    assert(rows(spark.read.format("graft").load(t)) === Set((3L, 30L)))
    // with the option the overwrite replaces schema and data (the
    // reference's standard overwrite writer, delta_utils.py:29, ports
    // verbatim)
    renamed.write.format("graft").mode(SaveMode.Overwrite)
      .option("overwriteSchema", "true").save(t)
    assert(spark.read.format("graft").load(t).columns.toSeq === Seq("id", "label"))
    // library commit keeps its documented replace semantics (no guard)
    VersionedTable.commit(df(7), t, mode = "overwrite")
    assert(rows(spark.read.format("graft").load(t)) === Set((7L, 70L)))
  }

  test("unpaced deep catch-up batch plans as a balanced union (log depth, not leg count)") {
    val t = freshTable()
    (0 until 64).foreach { i =>
      VersionedTable.commit(df(i.toLong), t,
        mode = if (i == 0) "overwrite" else "append")
    }
    val got = scala.collection.mutable.Set[Long]()
    var depth = 0
    val q = spark.readStream.format("graft")
      .option("startingVersion", "0")
      .load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }
        depth = math.max(depth, planDepth(b.queryExecution.logical))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(got.toSet === (0L until 64L).toSet)
    // 64 legs in one batch: a union chain Spark cannot flatten would be
    // >64 deep; the balanced tree is ~log2(64)=6 unions plus per-leg
    // project/scan
    assert(depth > 0 && depth < 30,
      s"catch-up union depth $depth — left-leaning chain shape")
  }

  test("deep batch change feed plans as a balanced union (log depth, not leg count)") {
    val t = freshTable()
    (0 until 64).foreach { i =>
      VersionedTable.commit(df(i.toLong), t,
        mode = if (i == 0) "overwrite" else "append")
    }
    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "0").option("keyColumns", "id").load(t)
    assert(feed.select("id").collect().map(_.getLong(0)).sorted.toSeq === (0L until 64L))
    // the relation hides its inner plan: build the frame its scan runs
    val inner = graft.sources.GraftDataSource.changeFeed(spark, t, Seq("id"), 0L, None)
    val depth = planDepth(inner.queryExecution.logical)
    assert(depth > 0 && depth < 30, s"change feed union depth $depth — left-leaning chain shape")
  }

  test("ProcessingTime tail over concurrent appends delivers every row exactly once") {
    val t = freshTable()
    VersionedTable.commit(df(0), t, mode = "overwrite")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft").load(t).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => seen.add(r.getLong(0))); ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ds_soak_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      (1 to 10).foreach { i =>
        VersionedTable.commit(df((0 until 20).map(j => i * 100L + j): _*), t, mode = "append")
        Thread.sleep(50)
      }
      q.processAllAvailable()
    } finally q.stop()
    val want = 0L +: (for (i <- 1 to 10; j <- 0 until 20) yield i * 100L + j)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted === want.sorted, "lost or duplicated rows")
  }

  test("SQL INSERT INTO / INSERT OVERWRITE on a USING graft table") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite")
    spark.sql(s"CREATE TABLE ds_spec_ins USING graft LOCATION '$t'")
    try {
      spark.sql("INSERT INTO ds_spec_ins VALUES (2, 20)")
      assert(spark.sql("SELECT id, v FROM ds_spec_ins").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 10L), (2L, 20L)))
      assert(VersionedTable.latestVersion(spark, t) === 1L)
      spark.sql("INSERT OVERWRITE ds_spec_ins VALUES (9, 90)")
      assert(spark.sql("SELECT id, v FROM ds_spec_ins").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((9L, 90L)))
      // the commits went through the normal log: history + time travel
      val ops = VersionedTable.history(spark, t).orderBy("version")
        .select("op").collect().map(_.getString(0)).toSeq
      assert(ops === Seq("overwrite", "append", "overwrite"))
      assert(rows(spark.read.format("graft").option("versionAsOf", "1").load(t))
        === Set((1L, 10L), (2L, 20L)))
    } finally spark.sql("DROP TABLE IF EXISTS ds_spec_ins")
  }

  test("writeStream face: exactly-once append sink; complete mode overwrites") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable()
    val ckp = java.nio.file.Files.createTempDirectory("ds_wckp").toString
    val mem = MemoryStream[(Long, Long)]
    def drain(): Unit = {
      val q = mem.toDF().toDF("id", "v").writeStream.format("graft")
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(t)
      q.awaitTermination()
    }
    mem.addData((1L, 10L), (2L, 20L))
    drain()
    assert(rows(spark.read.format("graft").load(t)) === Set((1L, 10L), (2L, 20L)))
    mem.addData((3L, 30L))
    drain()
    assert(rows(spark.read.format("graft").load(t))
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // replay: re-running against the SAME checkpoint commits nothing new
    // (the txn watermark rides the manifest log — Delta's appId:batchId)
    val vBefore = VersionedTable.latestVersion(spark, t)
    drain()
    assert(VersionedTable.latestVersion(spark, t) === vBefore)

    // complete mode: each batch REPLACES the snapshot (maintained state)
    val t2 = freshTable()
    val ckp2 = java.nio.file.Files.createTempDirectory("ds_wckp2").toString
    val mem2 = MemoryStream[(Long, Long)]
    mem2.addData((1L, 1L), (1L, 2L), (2L, 5L))
    val agg = mem2.toDF().toDF("id", "v").groupBy("id")
      .agg(org.apache.spark.sql.functions.sum("v").as("v"))
    val q2 = agg.writeStream.format("graft")
      .outputMode("complete")
      .option("checkpointLocation", ckp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t2)
    q2.awaitTermination()
    assert(rows(spark.read.format("graft").load(t2)) === Set((1L, 3L), (2L, 5L)))
    mem2.addData((2L, 5L))
    val q3 = agg.writeStream.format("graft")
      .outputMode("complete")
      .option("checkpointLocation", ckp2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t2)
    q3.awaitTermination()
    assert(rows(spark.read.format("graft").load(t2)) === Set((1L, 3L), (2L, 10L)))
  }

  test("sink timestamps default to wall clock; RETAIN n HOURS is sane on sink tables") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def drainInto(t: String, ckp: String, opts: (String, String)*): Unit = {
      val mem = MemoryStream[(Long, Long)]
      mem.addData((1L, 10L))
      val w = mem.toDF().toDF("id", "v").writeStream.format("graft")
        .option("checkpointLocation", ckp)
      val q = opts.foldLeft(w) { case (a, (k, v)) => a.option(k, v) }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(t)
      q.awaitTermination()
    }
    val t = freshTable()
    drainInto(t, java.nio.file.Files.createTempDirectory("ds_tsckp").toString)
    // wall-clock default: the sink commit is CURRENT, not 56 years stale
    val ts = java.time.Instant.parse(VersionedTable.history(spark, t)
      .orderBy(col("version").desc).select("ts").head().getString(0))
    assert(java.time.Duration.between(ts, java.time.Instant.now()).abs.toHours < 1,
      s"sink commit ts not current: $ts")
    // age-based retention composes: orphan the sink snapshot, then an
    // hours-based vacuum must PROTECT the young files (grace in force)
    VersionedTable.commit(df(9), t, mode = "overwrite")
    assert(VersionedTable.vacuum(spark, t, retainVersions = 1,
      graceMs = 3600L * 1000) === 0)
    // deterministic opt-in: tsBaseEpochSec anchors ts at base + batchId
    val t2 = freshTable()
    drainInto(t2, java.nio.file.Files.createTempDirectory("ds_tsckp2").toString,
      "tsBaseEpochSec" -> "1000")
    assert(VersionedTable.history(spark, t2).select("ts").head().getString(0)
      === java.time.Instant.EPOCH.plusSeconds(1000L).toString)
  }

  test("write option replaceWhere: predicate-scoped overwrite through the format") {
    val t = freshTable()
    df(1L to 40L: _*).repartitionByRange(4, col("id"))
      .write.format("graft").mode(SaveMode.Overwrite).save(t)
    // the idempotent-backfill idiom: recompute one band, carry the rest
    df(1L to 10L: _*).withColumn("v", col("id") * 1000)
      .write.format("graft").mode(SaveMode.Overwrite)
      .option("replaceWhere", "id <= 10").save(t)
    val out = rows(spark.read.format("graft").load(t))
    assert(out.filter(_._1 <= 10).map(_._2) === (1L to 10L).map(_ * 1000).toSet)
    assert(out.filter(_._1 > 10) === (11L to 40L).map(i => (i, i * 10)).toSet)
    assert(out.size === 40)
    // scope violations and non-overwrite modes refuse loudly
    assert(intercept[Exception](df(99).write.format("graft")
      .mode(SaveMode.Overwrite).option("replaceWhere", "id <= 10").save(t))
      .getMessage.contains("outside its scope"))
    assert(intercept[Exception](df(5).write.format("graft")
      .mode(SaveMode.Append).option("replaceWhere", "id <= 10").save(t))
      .getMessage.contains("SaveMode.Overwrite"))
    // bootstrap on a FRESH path: the scope contract still holds — an
    // out-of-scope row refuses (Delta validates on new tables too), an
    // in-scope batch creates the table
    val t2 = freshTable()
    assert(intercept[Exception](df(1, 99).write.format("graft")
      .mode(SaveMode.Overwrite).option("replaceWhere", "id <= 10").save(t2))
      .getMessage.contains("outside its scope"))
    df(1, 2).write.format("graft").mode(SaveMode.Overwrite)
      .option("replaceWhere", "id <= 10").save(t2)
    assert(rows(spark.read.format("graft").load(t2)) === Set((1L, 10L), (2L, 20L)))
  }

  test("maxFilesPerTrigger resumes from the checkpoint across restarts; maintenance costs no budget") {
    val t = freshTable()
    VersionedTable.commit(df(1L to 40L: _*).repartitionByRange(10, col("id")),
      t, mode = "overwrite")
    val ckp = java.nio.file.Files.createTempDirectory("ds_mftr").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit = {
      // AvailableNow pins ONE offset per run, so each RUN drains exactly
      // one file budget — re-running must continue from the checkpoint
      // (the pacing-base sync), never re-deliver or skip
      val q = spark.readStream.format("graft")
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "3")
        .load(t).writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.synchronized { got ++= b.select("id").collect().map(_.getLong(0)) }
          ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val afterFirst = got.size
    assert(afterFirst > 0 && afterFirst < 40,
      s"first paced run must deliver a bounded slice, got $afterFirst rows")
    var guard = 0
    while (got.size < 40 && guard < 20) { run(); guard += 1 }
    // exactly once across restarts: all 40 rows, zero duplicates
    assert(got.sorted.toSeq === (1L to 40L),
      s"restarted paced drain lost or duplicated rows (${got.size})")
    // maintenance costs no budget: optimize adds many files, but the
    // appended rows after it still arrive within ONE budgeted run
    VersionedTable.optimize(spark, t, targetFileBytes = 1L) // many outputs
    VersionedTable.commit(df(41L, 42L).repartition(1), t, mode = "append")
    run()
    assert(got.sorted.toSeq === (1L to 42L),
      "the optimize commit must be walked for free (and stream nothing)")
  }

  test("sink mergeSchema option: a widened batch evolves the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite")
    val ckp = java.nio.file.Files.createTempDirectory("ds_msckp").toString
    val mem = MemoryStream[(Long, Long, String)]
    mem.addData((2L, 20L, "extra"))
    def start(withOption: Boolean) = {
      val w = mem.toDF().toDF("id", "v", "note").writeStream.format("graft")
        .option("checkpointLocation", ckp)
      (if (withOption) w.option("mergeSchema", "true") else w)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(t)
    }
    // without the opt-in the widened batch fails the query (schema gate)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      start(withOption = false).awaitTermination()
    }
    start(withOption = true).awaitTermination()
    val out = spark.read.format("graft").load(t)
    assert(out.columns.toSeq === Seq("id", "v", "note"))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      === Set((1L, 10L, null), (2L, 20L, "extra")))
  }

  test("write face: append/overwrite/errorIfExists/ignore + partitionBy option") {
    val t = freshTable()
    df(1, 2).write.format("graft").mode(SaveMode.Overwrite).save(t)
    assert(VersionedTable.latestVersion(spark, t) === 0L)
    df(3).write.format("graft").mode(SaveMode.Append).save(t)
    assert(rows(spark.read.format("graft").load(t))
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
    val e = intercept[IllegalArgumentException](
      df(9).write.format("graft").mode(SaveMode.ErrorIfExists).save(t))
    assert(e.getMessage.contains("already exists"))
    df(9).write.format("graft").mode(SaveMode.Ignore).save(t)
    assert(VersionedTable.latestVersion(spark, t) === 1L) // ignore was a no-op

    val p = freshTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "part").write.format("graft")
      .option("partitionBy", "part").mode(SaveMode.Overwrite).save(p)
    // partition landed as table metadata: detail() reports it
    val pcols = graft.sources.GraftTable.forPath(spark, p).detail()
      .select("partition_columns").head().getSeq[String](0)
    assert(pcols === Seq("part"))
    sameAsLibrary(p)
  }
}
