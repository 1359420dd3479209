package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("vt_spec").toString

  private def df(ids: Long*): DataFrame =
    ids.toDF("id").withColumn("v", col("id") * 10)

  private def idSet(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("commit/read roundtrip: overwrite replaces, append accumulates") {
    val t = freshTable()
    assert(VersionedTable.latestVersion(spark, t) === -1L)
    val v0 = VersionedTable.commit(df(1, 2, 3), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val v1 = VersionedTable.commit(df(4, 5), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    val v2 = VersionedTable.commit(df(9), t, mode = "overwrite", ts = "2026-01-03T00:00:00Z")
    assert((v0, v1, v2) === (0L, 1L, 2L))
    assert(idSet(VersionedTable.readVersion(spark, t, 0L)) === Set(1L, 2L, 3L))
    assert(idSet(VersionedTable.readVersion(spark, t, 1L)) === Set(1L, 2L, 3L, 4L, 5L))
    // latest (= v2): overwrite dropped the carried files
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(9L))
    assert(VersionedTable.latestVersion(spark, t) === 2L)
  }

  test("rollback re-points without copying; history records the whole log") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(3), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    val rv = VersionedTable.rollback(spark, t, 0L, ts = "2026-01-03T00:00:00Z")
    assert(rv === 2L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(1L, 2L))
    // the bad version stays queryable until vacuumed (Delta RESTORE)
    assert(idSet(VersionedTable.readVersion(spark, t, 1L)) === Set(1L, 2L, 3L))
    val h = VersionedTable.history(spark, t)
      .orderBy("version")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(h.toSeq === Seq(
      (0L, "2026-01-01T00:00:00Z", "overwrite"),
      (1L, "2026-01-02T00:00:00Z", "append"),
      (2L, "2026-01-03T00:00:00Z", "rollback(0)")))
    // rollback copied no data: v2's manifest points at v0's files
    val files = VersionedTable.history(spark, t)
      .filter(col("version").isin(0L, 2L))
      .select("n_files").collect().map(_.getInt(0))
    assert(files.toSeq === Seq(files.head, files.head))
  }

  test("readAsOf resolves the latest snapshot at or before the timestamp") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(2), t, mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readAsOf(spark, t, "2026-01-02T00:00:00Z")) === Set(1L))
    assert(idSet(VersionedTable.readAsOf(spark, t, "2026-01-03T00:00:00Z")) === Set(1L, 2L))
    assert(idSet(VersionedTable.readAsOf(spark, t, "2027-01-01T00:00:00Z")) === Set(1L, 2L))
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, t, "2025-12-31T00:00:00Z")
    }
  }

  test("readAsOf and TIMESTAMP AS OF compare commit timestamps as instants") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(2), t, mode = "append", ts = "2026-01-01T00:00:01.000Z")
    // as strings, 'Z' sorts after '.' and 'T' after ' ': v0 would read
    // as later than both spellings of half a second past it
    assert(idSet(VersionedTable.readAsOf(spark, t, "2026-01-01T00:00:00.500Z")) === Set(1L))
    assert(idSet(spark.sql(
      s"SELECT * FROM graft.`$t` TIMESTAMP AS OF '2026-01-01 00:00:00.5'")) === Set(1L))
    assert(idSet(VersionedTable.readAsOf(spark, t, "2026-01-01T00:00:01Z")) === Set(1L, 2L))
  }

  test("vacuum deletes only unreferenced files; retained snapshots still read") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(3), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    VersionedTable.rollback(spark, t, 0L, ts = "2026-01-03T00:00:00Z")
    // retain v1+v2: v1 references every file → nothing deletable
    assert(VersionedTable.vacuum(spark, t, retainVersions = 2) === 0)
    assert(idSet(VersionedTable.readVersion(spark, t, 1L)) === Set(1L, 2L, 3L))
    // retain only v2 (= v0's files): v1's append-only file goes.
    // graceMs = 0: tests have no in-flight writers (the default window
    // protects commitWithRetry's unclaimed data dirs — covered below)
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(deleted >= 1)
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(1L, 2L))
    // history stays listable, but the vacuumed snapshot no longer scans
    assert(VersionedTable.history(spark, t).count() === 3L)
    intercept[Exception] {
      VersionedTable.readVersion(spark, t, 1L).collect()
    }
  }

  test("vacuum reclaims orphaned data dirs from crashed/lost-race writers") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // simulate a crash between data write and manifest publish: a data
    // dir with no manifest pointing at it
    df(99).write.parquet(s"$t/files/c99999999")
    // the DEFAULT retention window refuses to reclaim a fresh dir: it
    // may belong to an in-flight commitWithRetry whose claim is pending
    assert(VersionedTable.vacuum(spark, t, retainVersions = 1) === 0)
    assert(new java.io.File(s"$t/files/c99999999").exists())
    val deleted = VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(deleted >= 1)
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(1L))
    assert(!new java.io.File(s"$t/files/c99999999").exists())
  }

  test("rename-if-absent race guard: second publish of a version fails") {
    val t = freshTable()
    VersionedTable.commit(df(1), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // both writers computed next=1; the second publish must lose
    VersionedTable.commitManifestAt(spark, t, 1L, "2026-01-02T00:00:00Z", "append", Seq.empty)
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commitManifestAt(spark, t, 1L, "2026-01-02T00:00:00Z", "append", Seq.empty)
    }
    // the table is exactly what the winner committed
    assert(VersionedTable.latestVersion(spark, t) === 1L)
  }

  test("merge upserts matched keys, inserts the rest, rewrites only touched files") {
    val t = freshTable()
    // two range-partitioned files: ids 1-50 in one, 51-100 in the other
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val v0Files = VersionedTable.snapshotFiles(spark, t)
    assert(v0Files.size === 2)
    // updates touch only low ids (+ one insert beyond the range)
    val upd = Seq((5L, -1L), (7L, -2L), (200L, -3L)).toDF("id", "v")
    VersionedTable.merge(upd, t, keyCols = Seq("id"), ts = "2026-01-02T00:00:00Z")
    val out = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === 101)
    assert(out(5L) === -1L && out(7L) === -2L && out(200L) === -3L)
    assert(out(4L) === 40L && out(99L) === 990L)
    // the high-id file carried by reference: its exact path is in both manifests
    val v1Files = VersionedTable.snapshotFiles(spark, t)
    val carried = v0Files.toSet.intersect(v1Files.toSet)
    assert(carried.size === 1, s"expected exactly the untouched file carried; v0=$v0Files v1=$v1Files")
    // and a pure-insert merge (no matched keys) carries EVERY file
    VersionedTable.merge(Seq((300L, -4L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-03T00:00:00Z")
    val v2Files = VersionedTable.snapshotFiles(spark, t)
    assert(v1Files.toSet.subsetOf(v2Files.toSet))
    assert(VersionedTable.readVersion(spark, t).count() === 102)
  }

  test("delete rewrites only files containing matches; no-op delete carries all") {
    val t = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val v0Files = VersionedTable.snapshotFiles(spark, t)
    VersionedTable.delete(spark, t, "id <= 10", ts = "2026-01-02T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (11L to 100L).toSet)
    val v1Files = VersionedTable.snapshotFiles(spark, t)
    assert(v0Files.toSet.intersect(v1Files.toSet).size === 1)
    // old snapshot still has the deleted rows (snapshot isolation)
    assert(VersionedTable.readVersion(spark, t, 0L).count() === 100)
    // no-op delete: nothing matches, every file carries, version advances
    VersionedTable.delete(spark, t, "id > 1000000", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t).toSet === v1Files.toSet)
    assert(VersionedTable.latestVersion(spark, t) === 2L)
  }

  test("delete keeps rows whose predicate evaluates to NULL (three-valued logic)") {
    val t = freshTable()
    val base = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v")
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.delete(spark, t, "v < 10", ts = "2026-01-02T00:00:00Z")
    // id=1 (v=5) deleted; id=2 (v NULL → predicate NULL) must survive
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(2L, 3L))
  }

  test("optimize compacts to the target file count with identical content") {
    val t = freshTable()
    // ten single-row appends → ten-file snapshot (the small-file state)
    (1L to 10L).foreach { i =>
      VersionedTable.commit(Seq((i, i * 10)).toDF("id", "v").coalesce(1), t,
        mode = "append", ts = f"2026-01-${i}%02dT00:00:00Z")
    }
    assert(VersionedTable.snapshotFiles(spark, t).size === 10)
    val before = VersionedTable.readVersion(spark, t).collect().toSet
    VersionedTable.optimize(spark, t, targetFileBytes = Long.MaxValue,
      ts = "2026-02-01T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t).size === 1,
      "all rows fit one target file")
    assert(VersionedTable.readVersion(spark, t).collect().toSet === before)
    // pre-optimize snapshot still time-travels
    assert(VersionedTable.readVersion(spark, t, 9L).collect().toSet === before)
    // z-ordered variant: same content, no helper column
    VersionedTable.optimize(spark, t, targetFileBytes = Long.MaxValue,
      zorderCols = Seq("id", "v"), ts = "2026-02-02T00:00:00Z")
    val after = VersionedTable.readVersion(spark, t)
    assert(after.columns.toSeq === Seq("id", "v"))
    assert(after.collect().toSet === before)
  }

  test("schema-on-write: drifted append rejected; mergeSchema evolves, old files read null") {
    val t = freshTable()
    VersionedTable.commit(Seq((1L, 10L)).toDF("id", "v"), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // same columns, any order: fine
    VersionedTable.commit(Seq((20L, 2L)).toDF("v", "id"), t,
      mode = "append", ts = "2026-01-02T00:00:00Z")
    // drifted columns: rejected before any manifest lands
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commit(Seq((3L, 30L, "en")).toDF("id", "v", "lang"), t,
        mode = "append", ts = "2026-01-03T00:00:00Z")
    }
    assert(VersionedTable.latestVersion(spark, t) === 1L)
    // opt-in evolution: union schema, old files read the new column null
    VersionedTable.commit(Seq((3L, 30L, "en")).toDF("id", "v", "lang"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z", mergeSchema = true)
    val out = VersionedTable.readVersion(spark, t)
    assert(out.columns.toSet === Set("id", "v", "lang"))
    assert(out.filter(col("lang").isNull).count() === 2)
    assert(out.filter(col("lang") === "en").count() === 1)
    // an overwrite replaces the snapshot, schema and all — no check
    VersionedTable.commit(Seq(("x", 1L)).toDF("name", "n"), t,
      mode = "overwrite", ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSeq === Seq("name", "n"))
  }

  test("changes: keyed CDF classifies insert/update-pair/delete; rewrite artifacts and identity updates cancel") {
    val t = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // merge: real update (5), IDENTITY update (7 → its current value),
    // insert (200); the high-id file is untouched and carries by reference
    val upd = Seq((5L, -1L), (7L, 70L), (200L, -3L)).toDF("id", "v")
    VersionedTable.merge(upd, t, keyCols = Seq("id"), ts = "2026-01-02T00:00:00Z")
    val cdf = VersionedTable.changes(spark, t, Seq("id"), 0L, 1L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"), r.getAs[String]("_change_type")))
      .toSet
    // exactly three rows: the update pair and the insert — row 7's
    // identity update cancels, the rewritten file's unchanged rows
    // (1-50 minus 5,7) cancel, the carried file (51-100) was never read
    assert(cdf === Set((5L, 10L * 5, "update_preimage"), (5L, -1L, "update_postimage"),
      (200L, -3L, "insert")))
    // delete commit → pure delete feed
    VersionedTable.delete(spark, t, "id >= 99 AND id <= 100", ts = "2026-01-03T00:00:00Z")
    val del = VersionedTable.changes(spark, t, Seq("id"), 1L, 2L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(del === Set((99L, "delete"), (100L, "delete")))
    // pure append → pure insert feed (removed side empty)
    VersionedTable.commit(Seq((300L, 1L)).toDF("id", "v"), t,
      mode = "append", ts = "2026-01-04T00:00:00Z")
    val ins = VersionedTable.changes(spark, t, Seq("id"), 2L, 3L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
    assert(ins.toSeq === Seq((300L, "insert")))
    // rollback is re-pointing: its feed is the appended rows, as deletes
    VersionedTable.rollback(spark, t, 2L, ts = "2026-01-05T00:00:00Z")
    val rb = VersionedTable.changes(spark, t, Seq("id"), 3L, 4L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
    assert(rb.toSeq === Seq((300L, "delete")))
    // identical manifests (v2 vs the rollback-to-v2) → empty feed
    assert(VersionedTable.changes(spark, t, Seq("id"), 2L, 4L).count() === 0L)
  }

  test("changes spans schema evolution: union schema, old columns null on the new side") {
    val t = freshTable()
    VersionedTable.commit(Seq((1L, 10L)).toDF("id", "v"), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(Seq((2L, 20L, "en")).toDF("id", "v", "lang"), t,
      mode = "append", ts = "2026-01-02T00:00:00Z", mergeSchema = true)
    val out = VersionedTable.changes(spark, t, Seq("id"), 0L, 1L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("id") === 2L && r.getAs[String]("lang") === "en"
      && r.getAs[String]("_change_type") === "insert")
  }

  test("rewrite phase scans exactly the touched files, not the snapshot") {
    val t = freshTable()
    // four range-partitioned files; a merge touching ids 1-25 must plan
    // its rewrite over ONE file — the other three are opened by neither
    // the rewrite scan nor the writer (the 100 TB property: a merge
    // touching 2 of 10,000 files must not pay a second full-table scan)
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val files = VersionedTable.snapshotFiles(spark, t)
    assert(files.size === 4)
    val touched = files.sorted.take(1)
    val scanned = VersionedTable.readTouched(spark, t, touched)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    assert(scanned.size === 1)
    assert(scanned.forall(p => touched.exists(p.endsWith)),
      s"rewrite scan read $scanned, expected only $touched")
    // end-to-end: the merge's rewrite goes through readTouched, so the
    // carried three files are byte-identical manifest entries
    VersionedTable.merge(Seq((5L, -1L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-02T00:00:00Z")
    val v1Files = VersionedTable.snapshotFiles(spark, t)
    assert(files.toSet.intersect(v1Files.toSet).size === 3)
  }

  test("rewrite ops after schema evolution keep the evolved column") {
    val t = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(Seq((200L, 1L, "en")).toDF("id", "v", "lang"), t,
      mode = "append", ts = "2026-01-02T00:00:00Z", mergeSchema = true)
    // optimize rewrites everything: the evolved column must survive with
    // its values (the mergeSchema=false read would have erased it)
    VersionedTable.optimize(spark, t, targetFileBytes = Long.MaxValue,
      ts = "2026-01-03T00:00:00Z")
    val opt = VersionedTable.readVersion(spark, t)
    assert(opt.columns.toSet === Set("id", "v", "lang"))
    assert(opt.filter(col("lang") === "en").count() === 1)
    // delete across the evolved snapshot keeps lang on survivors
    VersionedTable.delete(spark, t, "id = 1", ts = "2026-01-04T00:00:00Z")
    val d = VersionedTable.readVersion(spark, t)
    assert(d.columns.toSet === Set("id", "v", "lang"))
    assert(d.filter(col("lang") === "en").count() === 1)
    // merge with an old-schema batch: survivors keep lang, replaced /
    // inserted rows read it null (whole-row replacement), and a batch
    // carrying a NEW column is rejected as drift
    VersionedTable.merge(Seq((200L, -1L), (300L, -2L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-05T00:00:00Z")
    val m = VersionedTable.readVersion(spark, t)
    assert(m.columns.toSet === Set("id", "v", "lang"))
    assert(m.filter(col("id") === 200L).select("lang").collect().head.isNullAt(0))
    assert(m.filter(col("id") === 2L).count() === 1)
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.merge(Seq((1L, 1L, 9L)).toDF("id", "v", "extra"), t,
        keyCols = Seq("id"), ts = "2026-01-06T00:00:00Z")
    }
  }

  test("empty snapshots are legal and readable: delete-all and empty commits") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.delete(spark, t, "id IS NOT NULL", ts = "2026-01-02T00:00:00Z")
    val head = VersionedTable.readVersion(spark, t)
    assert(head.columns.toSeq === Seq("id", "v"))
    assert(head.count() === 0L)
    // appends on top of the empty state work; history stays listable
    VersionedTable.commit(df(9), t, mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(9L))
    assert(VersionedTable.history(spark, t).count() === 3L)
    // a 0-row overwrite (empty daily batch) is also a readable state
    VersionedTable.commit(df(1).filter(col("id") < 0), t,
      mode = "overwrite", ts = "2026-01-04T00:00:00Z")
    val empty = VersionedTable.readVersion(spark, t)
    assert(empty.columns.toSeq === Seq("id", "v") && empty.count() === 0L)
  }

  test("footer stats prune the merge discovery scan; statless files stay candidates") {
    val t = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val files = VersionedTable.snapshotFiles(spark, t)
    assert(files.size === 4)
    // updates keyed in the lowest quartile: only ONE file's [min,max]
    // intersects — the other three are pruned before any file opens
    val cands = VersionedTable.prunedFiles(spark, t, "id BETWEEN 1 AND 20")
    assert(cands.size === 1, s"expected 1 candidate, got $cands")
    // a fully out-of-range key prunes EVERYTHING — the merge becomes a
    // pure insert that scans zero snapshot files and carries all four
    assert(VersionedTable.prunedFiles(spark, t, "id BETWEEN 5000 AND 5000").isEmpty)
    VersionedTable.merge(Seq((5000L, -1L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-02T00:00:00Z")
    assert(files.toSet.subsetOf(VersionedTable.snapshotFiles(spark, t).toSet))
    assert(VersionedTable.readVersion(spark, t).count() === 101)
    // pruned merge is still CORRECT: low-range upsert touches one file
    VersionedTable.merge(Seq((5L, -5L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-03T00:00:00Z")
    val out = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === -5L && out(99L) === 990L && out.size === 101)
    // stats carried forward through the merge: pruning still works on
    // the new head (files rewritten by the merge get fresh footer stats)
    val cands2 = VersionedTable.prunedFiles(spark, t, "id BETWEEN 90 AND 99")
    assert(cands2.size === 1, s"post-merge pruning lost stats: $cands2")
  }

  test("readWhere: stats-pruned read ≡ filtered readVersion, unsupported shapes stay correct") {
    val t = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    def expected(cond: String) =
      idSet(VersionedTable.readVersion(spark, t).filter(expr(cond)))
    // a range predicate prunes to one file, identical rows
    val c1 = "id >= 10 AND id <= 20"
    assert(VersionedTable.prunedFiles(spark, t, c1).size === 1)
    assert(idSet(VersionedTable.readWhere(spark, t, c1)) === expected(c1))
    // the BETWEEN spelling must prune identically — the parser keeps it
    // as a Between node (caught pruning nothing by the round-11
    // `zorder_file_prune` measurement, BASELINE.md "10× scale stress",
    // Corpus 11), not the And the rewrite produces at analysis
    val cb = "id BETWEEN 10 AND 20"
    assert(VersionedTable.prunedFiles(spark, t, cb).size === 1)
    assert(idSet(VersionedTable.readWhere(spark, t, cb)) === expected(c1))
    // disjunction across two quartiles keeps exactly those two files
    val c2 = "id <= 5 OR id > 90"
    assert(VersionedTable.prunedFiles(spark, t, c2).size === 2)
    assert(idSet(VersionedTable.readWhere(spark, t, c2)) === expected(c2))
    // literal-on-left flips; equality on a absent value prunes everything
    assert(idSet(VersionedTable.readWhere(spark, t, "50 >= id")) === expected("id <= 50"))
    assert(VersionedTable.prunedFiles(spark, t, "id = 5000").isEmpty)
    assert(VersionedTable.readWhere(spark, t, "id = 5000").count() === 0L)
    // unsupported predicate shape: no pruning, still correct
    val c3 = "id % 7 = 0"
    assert(VersionedTable.prunedFiles(spark, t, c3).size === 4)
    assert(idSet(VersionedTable.readWhere(spark, t, c3)) === expected(c3))
    // delete's discovery rides the same pruning and stays correct
    VersionedTable.delete(spark, t, "id <= 10", ts = "2026-01-02T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (11L to 100L).toSet)
    // schema alignment: evolved column present even when its only file
    // is pruned by the predicate
    VersionedTable.commit(Seq((200L, 1L, "en")).toDF("id", "v", "lang"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z", mergeSchema = true)
    val out = VersionedTable.readWhere(spark, t, "id >= 90 AND id <= 95")
    assert(out.columns.toSet === Set("id", "v", "lang"))
    assert(out.count() === 6L)
  }

  test("commitWithRetry: a lost append race re-points the same data on the new head") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val v0Files = VersionedTable.snapshotFiles(spark, t)
    // a concurrent winner claims every version the loser tries, twice
    var squats = 0
    val got = VersionedTable.commitWithRetryImpl(df(9), t,
      "2026-01-02T00:00:00Z", mergeSchema = false, maxRetries = 5,
      beforeClaim = { next =>
        if (squats < 2) {
          squats += 1
          VersionedTable.commitManifestAt(spark, t, next,
            "2026-01-02T00:00:00Z", "append", v0Files)
        }
      })
    // lost twice (v1, v2), landed on v3; data written exactly once
    assert(squats === 2 && got === 3L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(1L, 2L, 9L))
    // the winner's snapshots are intact (their file lists were never
    // touched by the loser — attempt-unique data dirs)
    assert(idSet(VersionedTable.readVersion(spark, t, 2L)) === Set(1L, 2L))
    // retries exhausted → the exception surfaces
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commitWithRetryImpl(df(10), t,
        "2026-01-03T00:00:00Z", mergeSchema = false, maxRetries = 1,
        beforeClaim = { next =>
          if (!new java.io.File(s"$t/_manifests/v${"%08d".format(next)}.manifest").exists())
            VersionedTable.commitManifestAt(spark, t, next,
              "2026-01-03T00:00:00Z", "append", v0Files)
        })
    }
  }

  test("manifest checkpoints: lastTxn/readVersion open O(1+K) metadata files on a 50-commit log") {
    val t = freshTable()
    // a long-lived streaming sink's life: 50 idempotent single-batch commits
    (0L until 50L).foreach { i =>
      VersionedTable.commitIfNew(df(i), t, "app", i,
        ts = java.time.Instant.EPOCH.plusSeconds(i).toString)
    }
    assert(VersionedTable.readVersion(spark, t).count() === 50L)
    val ckDir = new java.io.File(s"$t/_checkpoints")
    assert(ckDir.isDirectory && ckDir.list().nonEmpty, "checkpoints must land on cadence")
    // the O(1 + K) guarantee, measured: resolving the head and the txn
    // watermark must NOT read the whole 50-manifest log
    val cap = 1 + VersionedTable.checkpointInterval
    val b1 = VersionedTable.metadataOpens.get()
    assert(VersionedTable.lastTxn(spark, t, "app") === Some(49L))
    val txnOpens = VersionedTable.metadataOpens.get() - b1
    assert(txnOpens <= cap, s"lastTxn opened $txnOpens metadata files (cap $cap)")
    val nf = VersionedTable.snapshotFiles(spark, t, 49L).size
    val b2 = VersionedTable.metadataOpens.get()
    assert(VersionedTable.snapshotFiles(spark, t).size === nf)
    val resolveOpens = VersionedTable.metadataOpens.get() - b2
    assert(resolveOpens <= cap, s"head resolve opened $resolveOpens metadata files (cap $cap)")
    // a replayed batch is still skipped through the checkpointed watermark
    assert(VersionedTable.commitIfNew(df(7), t, "app", 12L) === None)
    // checkpoints are DERIVED data: delete them all and every read still
    // resolves through the raw delta chain (just more opens)
    ckDir.listFiles().foreach(f => assert(f.delete()))
    assert(VersionedTable.snapshotFiles(spark, t).size === nf)
    assert(VersionedTable.lastTxn(spark, t, "app") === Some(49L))
    assert(VersionedTable.readVersion(spark, t).count() === 50L)
  }

  test("multi-part checkpoint: bounded parts, expireLog-resolved reads, parts die with their pointer") {
    val prev = sys.props.get("graft.checkpointPartLimit")
    sys.props("graft.checkpointPartLimit") = "4"
    try {
      val t = freshTable()
      // 25 single-file append commits → cadence checkpoints at v10
      // (11 files → 3 parts) and v20 (21 files → 6 parts)
      (0L until 25L).foreach { i =>
        VersionedTable.commitIfNew(df(i), t, "app", i,
          ts = java.time.Instant.EPOCH.plusSeconds(i).toString)
      }
      val ck = new java.io.File(s"$t/_checkpoints")
      def parts(v: Long): Int =
        ck.listFiles().count(_.getName.startsWith(f"v$v%08d.checkpoint.p"))
      assert(parts(10L) === 3 && parts(20L) === 6,
        s"parts: v10=${parts(10L)} v20=${parts(20L)}")
      // the claimed pointer holds only the global header + parts count —
      // the per-write string is bounded by the PART size, not the table
      val main = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_checkpoints/v${"%08d".format(20L)}.checkpoint")),
        "UTF-8")
      assert(main.contains("parts=6") && !main.contains("files/"))
      // content resolves identically through the split checkpoint
      assert(idSet(VersionedTable.readVersion(spark, t, 20L)) === (0L until 21L).toSet)
      // stats survive the split: a point probe through the parts-resolved
      // snapshot still prunes to ~one file
      assert(VersionedTable.prunedFiles(spark, t, "id = 3", 20L).size <= 2)
      // the round trip the protocol must survive: checkpoint → expireLog
      // (cut below the v20 anchor) → resolve through the multi-part anchor
      val removed = VersionedTable.expireLog(spark, t, retainVersions = 3)
      assert(removed === 24, // manifests v0..19 + v10's pointer + 3 parts
        s"expected 24 log files removed, got $removed")
      intercept[Exception](VersionedTable.readVersion(spark, t, 5L).collect())
      assert(VersionedTable.readVersion(spark, t).count() === 25L)
      assert(VersionedTable.readVersion(spark, t, 20L).count() === 21L)
      // v10's pointer AND its parts died together; v20's parts survive
      assert(parts(10L) === 0 &&
        !new java.io.File(ck, "v%08d.checkpoint".format(10L)).exists())
      assert(parts(20L) === 6)
      // the txn watermark aggregates across the multi-part anchor
      assert(VersionedTable.lastTxn(spark, t, "app") === Some(24L))
      assert(VersionedTable.commitIfNew(df(7), t, "app", 12L) === None)
      // STALE-PART defense: plant garbage at the NEXT cadence
      // checkpoint's part-0 path (the crashed-writer-under-another-
      // part-limit shape); the verified writer must detect the lost
      // claim, replace the part, and resolve v30 exactly
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$t/_checkpoints/v00000030.checkpoint.p00000"),
        "files/bogus/part-00000.parquet\n")
      (25L until 31L).foreach { i =>
        VersionedTable.commitIfNew(df(i), t, "app", i,
          ts = java.time.Instant.EPOCH.plusSeconds(i).toString)
      }
      assert(parts(30L) >= 7) // 31 files at a 4-entry limit
      assert(idSet(VersionedTable.readVersion(spark, t, 30L))
        === ((0L until 25L).toSet ++ (25L until 31L)), // rows 0..30
        "the planted stale part must have been replaced, not trusted")
    } finally prev match {
      case Some(v) => sys.props("graft.checkpointPartLimit") = v
      case None => sys.props.remove("graft.checkpointPartLimit"); ()
    }
  }

  test("expireLog bounds the manifest log at an anchor checkpoint; the tail stays fully functional") {
    val t = freshTable()
    (0L until 50L).foreach { i =>
      VersionedTable.commitIfNew(df(i), t, "app", i,
        ts = java.time.Instant.EPOCH.plusSeconds(i).toString)
    }
    // cut = 49-15+1 = 35 → anchor = newest checkpoint ≤ 35 = v30
    val removed = VersionedTable.expireLog(spark, t, retainVersions = 15)
    assert(removed === 32, s"expected manifests 0..29 + checkpoints 10,20 gone, removed=$removed")
    // the head and any tail version still resolve (chain stops at a
    // kept checkpoint); the anchor itself resolves via its checkpoint
    // even though its raw manifest's base (v29) is expired
    assert(VersionedTable.readVersion(spark, t).count() === 50L)
    assert(VersionedTable.readVersion(spark, t, 45L).count() === 46L)
    assert(VersionedTable.readVersion(spark, t, 30L).count() === 31L)
    // history starts at the anchor, file counts correct across the cut
    val hist = VersionedTable.history(spark, t)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(hist.keySet.min === 30L && hist.keySet.max === 49L)
    assert(hist(30L) === 31 && hist(49L) === 50)
    // an expired version is gone, like Delta after log cleanup
    intercept[Exception] { VersionedTable.readVersion(spark, t, 5L).collect() }
    // the txn watermark survives the cut via the anchor's txnmax map —
    // a replayed pre-cut batch is still skipped
    assert(VersionedTable.lastTxn(spark, t, "app") === Some(49L))
    assert(VersionedTable.commitIfNew(df(7), t, "app", 12L) === None)
    // no checkpoint at or under the cut → refuse to cut (no-op)
    val t2 = freshTable()
    (0L until 5L).foreach(i => VersionedTable.commit(df(i), t2, ts = s"2026-01-0${i + 1}T00:00:00Z"))
    assert(VersionedTable.expireLog(spark, t2, retainVersions = 2) === 0)
    assert(VersionedTable.history(spark, t2).count() === 5L)
    // life goes on after expiry: rollback (full manifest) + more commits
    VersionedTable.rollback(spark, t, 45L, ts = "2026-02-01T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).count() === 46L)
    VersionedTable.commit(df(99L), t, ts = "2026-02-02T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).count() === 47L)
  }

  test("disjoint concurrent DMLs commit without re-execution; overlapping conflicts re-run") {
    val t = freshTable()
    // two range-disjoint files, so stats make the disjointness PROVABLE
    VersionedTable.commit(df(1, 2, 3), t, mode = "overwrite",
      ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(100, 101), t, mode = "append",
      ts = "2026-01-02T00:00:00Z")
    import spark.implicits._
    var runsA = 0
    var runsB = 0
    // writer B lands its merge (file-B key range) inside writer A's
    // claim window (file-A key range): disjoint on every axis
    VersionedTable.dmlBeforeClaim.put(t, () => {
      runsB += 1
      VersionedTable.merge(Seq((100L, 111L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-03T00:00:00Z")
    })
    VersionedTable.dmlWithRetry() {
      runsA += 1
      VersionedTable.merge(Seq((2L, 222L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-03T00:00:01Z")
    }
    assert(runsA === 1, "disjoint loser must re-point, never re-execute")
    assert(runsB === 1)
    // both effects landed, as two commits
    assert(VersionedTable.latestVersion(spark, t) === 3L)
    val got = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 10L, 2L -> 222L, 3L -> 30L,
      100L -> 111L, 101L -> 1010L))

    // OVERLAPPING writers: the winner rewrites the very file the loser
    // read — the loser must re-run from scratch (sound path), and its
    // re-run wins the key
    var runsC = 0
    var runsD = 0
    VersionedTable.dmlBeforeClaim.put(t, () => {
      runsC += 1
      VersionedTable.merge(Seq((3L, 333L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-04T00:00:00Z")
    })
    VersionedTable.dmlWithRetry() {
      runsD += 1
      VersionedTable.merge(Seq((3L, 444L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-04T00:00:01Z")
    }
    assert(runsC === 1)
    assert(runsD === 2, "overlapping loser must re-execute against the new head")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 3L).head().getLong(1) === 444L)

    // disjoint DELETE racing a disjoint merge: same fast path, predicate
    // flavor (added file's stats can't satisfy the delete condition)
    var runsE = 0
    VersionedTable.dmlBeforeClaim.put(t, () => {
      VersionedTable.merge(Seq((101L, 1111L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-05T00:00:00Z")
    })
    VersionedTable.dmlWithRetry() {
      runsE += 1
      VersionedTable.delete(spark, t, "id = 1", ts = "2026-01-05T00:00:01Z")
    }
    assert(runsE === 1)
    val fin = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin === Map(2L -> 222L, 3L -> 444L, 100L -> 111L, 101L -> 1111L))

    // disjoint MoR delete racing a disjoint merge: the vectored file is
    // inside the loser's read set but untouched by the winner — fast
    // path holds for the dv-writing ops too
    var runsF = 0
    VersionedTable.dmlBeforeClaim.put(t, () => {
      VersionedTable.merge(Seq((100L, 112L)).toDF("id", "v"), t,
        keyCols = Seq("id"), ts = "2026-01-06T00:00:00Z")
    })
    VersionedTable.dmlWithRetry() {
      runsF += 1
      VersionedTable.deleteMergeOnRead(spark, t, "id = 2",
        ts = "2026-01-06T00:00:01Z", maxVectoredFraction = 1.0)
    }
    assert(runsF === 1, "disjoint MoR delete must re-point, never re-execute")
    val fin2 = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin2 === Map(3L -> 444L, 100L -> 112L, 101L -> 1111L))
  }

  test("timestamp/date stats prune readWhere, merge discovery and delete") {
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val t = freshTable()
      // 96 hourly events over 4 days (2026-01-01..04 UTC), time-range layout
      val base = spark.range(96).select(
        col("id"),
        timestamp_seconds(lit(1767225600L) + col("id") * 3600).as("ts"))
        .withColumn("d", to_date(col("ts")))
        .repartitionByRange(4, col("ts"))
      VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      assert(VersionedTable.snapshotFiles(spark, t).size === 4)
      def expected(cond: String): Set[Long] =
        VersionedTable.readVersion(spark, t).filter(expr(cond))
          .select("id").collect().map(_.getLong(0)).toSet
      def got(cond: String): Set[Long] =
        VersionedTable.readWhere(spark, t, cond)
          .select("id").collect().map(_.getLong(0)).toSet
      // one-day timestamp window: ≤ 2 of 4 time-sliced files open
      val c1 = "ts >= TIMESTAMP '2026-01-02 00:00:00' AND ts < TIMESTAMP '2026-01-03 00:00:00'"
      assert(VersionedTable.prunedFiles(spark, t, c1).size <= 2)
      assert(got(c1) === expected(c1) && expected(c1).nonEmpty)
      // date equality prunes through the derived DATE column's stats
      val c2 = "d = DATE '2026-01-04'"
      assert(VersionedTable.prunedFiles(spark, t, c2).size <= 2)
      assert(got(c2) === expected(c2) && expected(c2).nonEmpty)
      // out-of-range prunes the whole snapshot
      assert(VersionedTable.prunedFiles(spark, t,
        "ts > TIMESTAMP '2027-01-01 00:00:00'").isEmpty)
      // merge keyed ON the timestamp column: candidates prune, result right
      val updTs = timestamp_seconds(lit(1767225600L + 30L * 3600))
      val upd = spark.range(1).select(lit(999L).as("id"), updTs.as("ts"),
        to_date(updTs).as("d"))
      assert(VersionedTable.mergeCandidates(upd, t, Seq("ts")).size <= 2)
      VersionedTable.merge(upd, t, keyCols = Seq("ts"), ts = "2026-01-02T00:00:00Z")
      val ids = VersionedTable.readVersion(spark, t)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ids.size === 96 && ids.contains(999L) && !ids.contains(30L))
      // delete on a timestamp range carries the out-of-range files
      val before = VersionedTable.snapshotFiles(spark, t)
      VersionedTable.delete(spark, t, "ts < TIMESTAMP '2026-01-02 00:00:00'",
        ts = "2026-01-03T00:00:00Z")
      val after = VersionedTable.snapshotFiles(spark, t)
      assert(before.toSet.intersect(after.toSet).size >= 2,
        s"late-day files must carry by reference: before=$before after=$after")
      assert(VersionedTable.readVersion(spark, t)
        .filter(col("ts") < expr("TIMESTAMP '2026-01-02 00:00:00'")).count() === 0L)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
  }

  test("decimal stats are DESCALED: merge/delete/readWhere on decimal columns stay correct and prune") {
    val t = freshTable()
    // amt = id * 1.05 as DECIMAL(9,2): parquet stores it as unscaled INT32
    // (10.50 -> 1050) — raw footer stats would prune files that DO match
    val base = spark.range(1, 101).select(col("id"),
      expr("CAST(id * 1.05 AS DECIMAL(9,2))").as("amt"))
      .repartitionByRange(4, col("amt"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    def expected(cond: String): Set[Long] =
      VersionedTable.readVersion(spark, t).filter(expr(cond))
        .select("id").collect().map(_.getLong(0)).toSet
    val c1 = "amt >= 10.50 AND amt <= 21.00"
    // descaled stats PRUNE (scaled vs unscaled confusion would drop all 4
    // or keep wrong files) AND the rows are exactly the filter's
    assert(VersionedTable.prunedFiles(spark, t, c1).size < 4)
    assert(VersionedTable.readWhere(spark, t, c1)
      .select("id").collect().map(_.getLong(0)).toSet === expected(c1))
    assert(expected(c1) === (10L to 20L).toSet)
    // merge keyed on the decimal column: the matched row must be REPLACED
    // (unscaled-stats pruning silently skipped the file → duplicate keys)
    val upd = Seq((-1L, BigDecimal("10.50"))).toDF("id", "amt")
      .select(col("id"), col("amt").cast("decimal(9,2)").as("amt"))
    VersionedTable.merge(upd, t, keyCols = Seq("amt"), ts = "2026-01-02T00:00:00Z")
    val at1050 = VersionedTable.readVersion(spark, t)
      .filter(col("amt") === expr("CAST(10.50 AS DECIMAL(9,2))"))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(at1050 === Seq(-1L), s"matched decimal key must replace, got $at1050")
    assert(VersionedTable.readVersion(spark, t).count() === 100L)
    // delete below a decimal threshold: ids 1..9 (amt 1.05..9.45) go
    VersionedTable.delete(spark, t, "amt < 10.00", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).count() === 91L)
  }

  test("NaN doubles poison the file's column stats; NaN-able merge keys don't crash") {
    val t = freshTable()
    // one file holds a NaN: parquet omits that row group's min/max, so the
    // file must carry NO x stats at all — unioning the other row groups
    // would record a range that wrongly excludes the NaN row
    val base = spark.range(1, 41).select(col("id"),
      when(col("id") === 35, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("x"))
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // Spark orders NaN above every double: x > 100 matches ONLY the NaN
    // row. The clean files prune on their x ranges; the NaN file is kept
    // because its x column is statless — pruning it would lose the row.
    val kept = VersionedTable.prunedFiles(spark, t, "x > 100.0")
    assert(kept.size === 1, s"expected only the statless NaN file kept, got $kept")
    assert(VersionedTable.readWhere(spark, t, "x > 100.0")
      .select("id").collect().map(_.getLong(0)).toSet === Set(35L))
    // merge keyed on the double column: Spark's max() returns NaN on this
    // table's updates if they carry one — bounds must skip, not crash
    val upd = Seq((99L, 7.0), (100L, Double.NaN)).toDF("id", "x")
    VersionedTable.merge(upd, t, keyCols = Seq("x"), ts = "2026-01-02T00:00:00Z")
    val out = VersionedTable.readVersion(spark, t)
    assert(out.filter(col("x") === 7.0).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(99L))
    // NaN = NaN in Spark semantics: the NaN update REPLACES the NaN row
    assert(out.filter(col("x").isNaN).select("id")
      .collect().map(_.getLong(0)).toSet === Set(100L))
    assert(out.count() === 40L)
  }

  test("string stats prune readWhere and merge discovery; long values truncate soundly") {
    val t = freshTable()
    // cc: short sortable code (the realistic string pruning key); txt:
    // long values sharing a >64-byte prefix — stats must truncate by the
    // parquet rule (prefix min, incremented max) and stay sound
    val base = spark.range(1, 101).select(col("id"),
      concat(lit("c"), lpad(col("id").cast("string"), 3, "0")).as("cc"),
      concat(lpad(col("id").cast("string"), 80, "x"), lit("é-tail")).as("txt"))
      .repartitionByRange(4, col("cc"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t).size === 4)
    def expected(cond: String): Set[Long] =
      VersionedTable.readVersion(spark, t).filter(expr(cond))
        .select("id").collect().map(_.getLong(0)).toSet
    def got(cond: String): Set[Long] =
      VersionedTable.readWhere(spark, t, cond)
        .select("id").collect().map(_.getLong(0)).toSet
    val c1 = "cc >= 'c010' AND cc <= 'c020'"
    assert(VersionedTable.prunedFiles(spark, t, c1).size === 1)
    assert(got(c1) === expected(c1) && expected(c1) === (10L to 20L).toSet)
    assert(VersionedTable.prunedFiles(spark, t, "cc = 'zzz'").isEmpty)
    val c3 = "cc IN ('c005', 'c099')"
    assert(VersionedTable.prunedFiles(spark, t, c3).size === 2)
    assert(got(c3) === Set(5L, 99L))
    // multi-byte literal: 'é' (0xC3A9) sorts above every ASCII code in
    // unsigned byte order — agreement with Spark's filter is the assert
    assert(got("cc < 'é'") === expected("cc < 'é'"))
    // equality on a long value whose first 64 bytes are the shared
    // prefix: a non-incremented truncated max would prune the file and
    // LOSE the row — kept files must still return it
    val v100 = "x" * 77 + "100" + "é-tail"
    val c4 = s"txt = '$v100'"
    assert(got(c4) === expected(c4) && expected(c4) === Set(100L))
    // merge keyed on the string column: candidates prune, result right
    val upd = Seq((-1L, "c007")).toDF("id", "cc")
    assert(VersionedTable.mergeCandidates(upd, t, Seq("cc")).size === 1)
    VersionedTable.merge(upd, t, keyCols = Seq("cc"), ts = "2026-01-02T00:00:00Z")
    val at007 = VersionedTable.readVersion(spark, t)
      .filter(col("cc") === "c007").select("id").collect().map(_.getLong(0)).toSeq
    assert(at007 === Seq(-1L))
    assert(VersionedTable.readVersion(spark, t).count() === 100L)
  }

  test("merge discovery prunes exactly like readWhere over the source's key range") {
    val t = freshTable()
    // INT96 (the default) records no timestamp stats
    val prevTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val base = spark.range(0, 40).select(col("id").cast("int").as("i"),
      timestamp_seconds(lit(1767225600L) + col("id") * 3600).as("ts"),
      date_add(lit("2026-01-01").cast("date"), col("id").cast("int")).as("d"),
      (col("id") / 4).cast("decimal(10,2)").as("dec"),
      format_string("k%03d", col("id")).as("s"),
      (col("id") % 2).as("tenant"), col("id").cast("double").as("x"),
      lit(null).cast("long").as("n"))
      .repartitionByRange(4, col("id"))
    try VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevTs)
    val src = base.filter(col("i").between(12, 15))
    val cases = Seq(
      Seq("i") -> "i BETWEEN 12 AND 15",
      Seq("ts") ->
        "ts BETWEEN TIMESTAMP '2026-01-01 12:00:00' AND TIMESTAMP '2026-01-01 15:00:00'",
      Seq("d") -> "d BETWEEN DATE '2026-01-13' AND DATE '2026-01-16'",
      Seq("dec") -> "dec BETWEEN 3.00 AND 3.75",
      Seq("s") -> "s BETWEEN 'k012' AND 'k015'",
      Seq("tenant", "i") -> "tenant BETWEEN 0 AND 1 AND i BETWEEN 12 AND 15",
      Seq("n") -> "true")
    cases.foreach { case (keys, pred) =>
      val got = VersionedTable.mergeCandidates(src, t, keys)
      assert(got === VersionedTable.prunedFiles(spark, t, pred), s"keys $keys")
      assert(got.size < 4 || keys == Seq("n"), s"keys $keys must prune")
    }
    // a NaN key bound proves nothing: every file stays a candidate
    val nan = src.withColumn("x", when(col("i") === 15, lit(Double.NaN)).otherwise(col("x")))
    assert(VersionedTable.mergeCandidates(nan, t, Seq("x")) ===
      VersionedTable.snapshotFiles(spark, t))
    assert(VersionedTable.mergeCandidates(src, t, Seq("x")) ===
      VersionedTable.prunedFiles(spark, t, "x BETWEEN 12.0 AND 15.0"))
  }

  test("composite-key merge prunes on every key column, not just the head") {
    val t = freshTable()
    // head key is a constant tenant id — worthless for pruning; the
    // second key's range must still shrink candidates to one file
    val base = spark.range(1, 101).select(lit(42L).as("tenant"), col("id"),
      (col("id") * 10).as("v")).repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val upd = Seq((42L, 3L, -3L)).toDF("tenant", "id", "v")
    val headOnly = VersionedTable.mergeCandidates(upd, t, Seq("tenant"))
    val composite = VersionedTable.mergeCandidates(upd, t, Seq("tenant", "id"))
    assert(headOnly.size === 4, "constant head key cannot prune")
    assert(composite.size === 1, s"second key column must prune: $composite")
    VersionedTable.merge(upd, t, keyCols = Seq("tenant", "id"), ts = "2026-01-02T00:00:00Z")
    val out = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(3L) === -3L && out(99L) === 990L && out.size === 100)
  }

  test("two REAL concurrent commitWithRetry writers both land with coherent snapshots") {
    // the deterministic seam test pins the race LOGIC; this one runs two
    // actual threads through the full claim path (link(2) on local FS,
    // checkpoint write included) — whichever interleaving the scheduler
    // picks, both appends must land and every snapshot stay coherent
    val t = freshTable()
    VersionedTable.commit(df(0), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val got = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = (1 to 2).map { i =>
        Future(VersionedTable.commitWithRetry(df(i.toLong), t,
          ts = s"2026-01-0${i + 1}T00:00:00Z"))
      }
      fs.map(Await.result(_, Duration.Inf)).toSet
    } finally pool.shutdown()
    assert(got === Set(1L, 2L))
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(0L, 1L, 2L))
    assert(VersionedTable.history(spark, t).count() === 3L)
  }

  test("replaceWhere swaps exactly the in-scope rows, one atomic version") {
    val t = freshTable()
    // range-laid so each file owns an id band and stats pruning is real
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(5, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val v0Files = VersionedTable.snapshotFiles(spark, t)
    // replace the [41, 60] band with recomputed rows (still in scope)
    val repl = (41L to 60L).toDF("id").withColumn("v", col("id") * 1000)
    val v1 = VersionedTable.replaceWhere(repl, t, "id >= 41 AND id <= 60",
      ts = "2026-01-02T00:00:00Z")
    assert(v1 === 1L)
    val out = VersionedTable.readVersion(spark, t)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(out.size === 100)
    assert(out(40L) === 400L && out(41L) === 41000L && out(60L) === 60000L && out(61L) === 610L)
    // v0 unchanged (time travel across the replace)
    assert(VersionedTable.readVersion(spark, t, 0L).count() === 100L)
    // copy-on-write: out-of-scope files carried BY REFERENCE — the
    // stats-disproven bands were never rewritten
    val v1Files = VersionedTable.snapshotFiles(spark, t).toSet
    val carried = v0Files.toSet.intersect(v1Files)
    assert(carried.nonEmpty, "expected untouched band files to carry by reference")
    assert(carried.size >= 3, s"expected >=3 of 5 band files carried, got ${carried.size}")
  }

  test("replaceWhere rejects a batch with rows outside its declared scope") {
    val t = freshTable()
    VersionedTable.commit(df(1L to 10L: _*), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val leak = Seq(5L, 99L).toDF("id").withColumn("v", col("id"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.replaceWhere(leak, t, "id >= 1 AND id <= 10")
    }
    assert(e.getMessage.contains("outside its scope"))
    // rejected before anything landed: table still at v0, content intact
    assert(VersionedTable.latestVersion(spark, t) === 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (1L to 10L).toSet)
  }

  test("replaceWhere keeps NULL-predicate rows (three-valued logic) and rejects schema drift") {
    val t = freshTable()
    val base = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "v").withColumn("v", col("v").cast("bigint"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // scope = v >= 10 AND v <= 19: row 2's NULL v evaluates NULL, must survive
    val repl = Seq((1L, 11L)).toDF("id", "v")
    VersionedTable.replaceWhere(repl, t, "v >= 10 AND v <= 19", ts = "2026-01-02T00:00:00Z")
    val out = VersionedTable.readVersion(spark, t).select("id", "v")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out === Map(1L -> Some(11L), 2L -> None, 3L -> Some(30L)))
    val drift = Seq((1L, 11L, "x")).toDF("id", "v", "extra")
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.replaceWhere(drift, t, "v >= 10 AND v <= 19")
    }
  }

  test("shallow clone: zero data copied, reads equal the cloned snapshot") {
    val src = freshTable()
    VersionedTable.commit(df(1, 2, 3), src, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.commit(df(4), src, mode = "append", ts = "2026-01-02T00:00:00Z")
    val tgt = freshTable()
    assert(VersionedTable.cloneTable(spark, src, tgt, ts = "2026-01-03T00:00:00Z") === 0L)
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === Set(1L, 2L, 3L, 4L))
    // shallow: the clone owns NO data files, only a manifest
    assert(!new java.io.File(tgt, "files").exists())
    val h = VersionedTable.history(spark, tgt).collect()
    assert(h.length === 1 && h.head.getString(2) === "clone(v1)")
    // time-travel clone: fork from an older source version
    val tgt0 = freshTable()
    VersionedTable.cloneTable(spark, src, tgt0, version = 0L)
    assert(idSet(VersionedTable.readVersion(spark, tgt0)) === Set(1L, 2L, 3L))
    // a second clone into a non-empty table is rejected
    intercept[IllegalArgumentException] {
      VersionedTable.cloneTable(spark, src, tgt)
    }
  }

  test("deep clone: self-contained copy — source vacuum/delete cannot break it") {
    val src = freshTable()
    VersionedTable.commit(df(1, 2, 3, 4), src, mode = "overwrite",
      ts = "2026-01-01T00:00:00Z")
    // a DV, a constraint, a property and a second commit, so the deep
    // copy must carry vectors, metadata and stats — not just files
    VersionedTable.commit(df(5), src, mode = "append", ts = "2026-01-02T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, src, "id = 2",
      ts = "2026-01-03T00:00:00Z", maxVectoredFraction = 1.0)
    VersionedTable.addConstraint(spark, src, "v_nn", "v IS NOT NULL",
      ts = "2026-01-04T00:00:00Z")
    VersionedTable.setProperties(spark, src, Map("team" -> "mobility"),
      ts = "2026-01-05T00:00:00Z")
    val tgt = freshTable()
    assert(VersionedTable.cloneTableDeep(spark, src, tgt,
      ts = "2026-01-06T00:00:00Z") === 0L)
    // content ≡ source snapshot (through the copied deletion vector)
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === Set(1L, 3L, 4L, 5L))
    // history truncated to the fresh v0; metadata carried
    val h = VersionedTable.history(spark, tgt).collect()
    assert(h.length === 1 && h.head.getString(2) === "clone_deep(v4)")
    assert(VersionedTable.constraintsOf(spark, tgt) === Map("v_nn" -> "v IS NOT NULL"))
    assert(VersionedTable.propertiesOf(spark, tgt) === Map("team" -> "mobility"))
    // self-contained: the clone owns local copies, records NO clone ref,
    // and destroying the source leaves it intact
    assert(new java.io.File(tgt, "files").exists())
    assert(VersionedTable.cloneRefs(spark, src).isEmpty)
    VersionedTable.delete(spark, src, "true", ts = "2026-01-07T00:00:00Z")
    VersionedTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === Set(1L, 3L, 4L, 5L))
    // row counts carried: COUNT(*) stays metadata-only on the clone
    assert(VersionedTable.rowCount(spark, tgt) === 4L)
    // deep clone OF a shallow clone re-homes absolute references
    val src2 = freshTable()
    VersionedTable.commit(df(7, 8), src2, mode = "overwrite",
      ts = "2026-01-01T00:00:00Z")
    val shal = freshTable()
    VersionedTable.cloneTable(spark, src2, shal, ts = "2026-01-02T00:00:00Z")
    val deep2 = freshTable()
    VersionedTable.cloneTableDeep(spark, shal, deep2, ts = "2026-01-03T00:00:00Z")
    VersionedTable.delete(spark, src2, "true", ts = "2026-01-04T00:00:00Z")
    VersionedTable.releaseCloneRef(spark, src2, shal)
    VersionedTable.vacuum(spark, src2, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, deep2)) === Set(7L, 8L))
  }

  test("clone evolves independently: appends and COW rewrites never touch the source") {
    val src = freshTable()
    val base = (1L to 100L).toDF("id").withColumn("v", col("id") * 10)
      .repartitionByRange(5, col("id"))
    VersionedTable.commit(base, src, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val srcFiles = VersionedTable.snapshotFiles(spark, src).toSet
    val tgt = freshTable()
    VersionedTable.cloneTable(spark, src, tgt, ts = "2026-01-01T01:00:00Z")
    VersionedTable.commit(df(101), tgt, mode = "append", ts = "2026-01-02T00:00:00Z")
    // COW delete on the clone: touched SOURCE-referenced files resolve by
    // suffix back to their absolute manifest entries and rewrite LOCALLY
    VersionedTable.delete(spark, tgt, "id >= 41 AND id <= 60", ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, tgt)) ===
      ((1L to 40L) ++ (61L to 101L)).toSet)
    // merge on the clone exercises the same resolution path
    VersionedTable.merge(Seq((1L, 999L)).toDF("id", "v"), tgt,
      keyCols = Seq("id"), ts = "2026-01-04T00:00:00Z")
    val out = VersionedTable.readVersion(spark, tgt)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(out(1L) === 999L && out.size === 81)
    // the source never moved: same content, same physical files
    assert(idSet(VersionedTable.readVersion(spark, src)) === (1L to 100L).toSet)
    assert(VersionedTable.snapshotFiles(spark, src).toSet === srcFiles)
    // the clone's head still carries untouched SOURCE files by absolute
    // reference alongside its own local rewrite output
    val headFiles = VersionedTable.snapshotFiles(spark, tgt)
    assert(headFiles.exists(_.contains(src.stripPrefix("/"))),
      "expected carried absolute source references")
    assert(headFiles.exists(f => !f.contains(src.stripPrefix("/"))),
      "expected clone-local rewrite files")
  }

  test("bloom file index prunes point lookups that min/max never can") {
    val t = freshTable()
    // HASH layout: every file's [min, max] spans the whole id domain, so
    // stats pruning is structurally useless for equality probes
    val base = (1L to 4000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(8, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id"), bloomBits = 1 << 14)
    // stats alone keep everything; the bloom pass drops the files whose
    // sidecar proves 2042 absent — all but the owning file (+ rare FP)
    val pt = VersionedTable.prunedFiles(spark, t, "id = 2042")
    assert(pt.size <= 2, s"expected <=2 of 8 files after bloom pruning, got ${pt.size}")
    val row = VersionedTable.readWhere(spark, t, "id = 2042")
      .select("id", "v").as[(Long, Long)].collect()
    assert(row.toSeq === Seq((2042L, 20420L)))
    // IN probe: a file survives if ANY candidate value may be present
    val in = VersionedTable.prunedFiles(spark, t, "id IN (10, 2042)")
    assert(in.size <= 3)
    assert(idSet(VersionedTable.readWhere(spark, t, "id IN (10, 2042)")) === Set(10L, 2042L))
    // un-indexed column: no sidecar section -> no pruning, still correct
    assert(VersionedTable.prunedFiles(spark, t, "v = 20420").size === 8)
    // OR disables equality pruning (either branch could match anywhere)
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042 OR v = 10").size === 8)
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 2042 OR v = 10")) === Set(1L, 2042L))
    // an append WITHOUT restating the index inherits the persisted
    // config (r12) — its files are sidecar'd too, so the probe keeps
    // pruning; correctness is unchanged either way
    VersionedTable.commit(df(9999), t, mode = "append", ts = "2026-01-02T00:00:00Z")
    val after = VersionedTable.prunedFiles(spark, t, "id = 2042")
    assert(after.size <= 3 && after.size >= pt.size)
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 2042")) === Set(2042L))
  }

  test("bloom sidecars ride along with shallow clones") {
    val src = freshTable()
    val base = (1L to 4000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(8, col("id"))
    VersionedTable.commit(base, src, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id"), bloomBits = 1 << 14)
    val tgt = freshTable()
    VersionedTable.cloneTable(spark, src, tgt, ts = "2026-01-02T00:00:00Z")
    // the clone's absolute references resolve `<file>.bloom` at the
    // source location — point-lookup skipping works from clone v0
    assert(VersionedTable.prunedFiles(spark, tgt, "id = 2042").size <= 2)
    assert(idSet(VersionedTable.readWhere(spark, tgt, "id = 2042")) === Set(2042L))
  }

  test("snapshot reads keep parquet pushdown: filter reaches the scan") {
    val t = freshTable()
    VersionedTable.commit(df(1L to 100L: _*), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val plan = VersionedTable.readVersion(spark, t)
      .filter(col("id") > 90)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)"),
      s"expected pushed filter in:\n$plan")
  }

  // ------------------------------------------------ deletion vectors

  /** A 4-file table of ids 1..40 (id pre-hashed across files so every
    * file holds a spread of keys — the scattered-delete shape DVs
    * exist for). */
  private def dvTable(): String = {
    val t = freshTable()
    val base = df(1L to 40L: _*).repartition(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    t
  }

  test("deleteMergeOnRead removes rows without rewriting any data file") {
    val t = dvTable()
    val before = VersionedTable.snapshotFiles(spark, t)
    val v = VersionedTable.deleteMergeOnRead(spark, t, "id % 10 = 0", ts = "2026-01-02T00:00:00Z")
    // file list UNCHANGED: the delete is a vector, not a rewrite
    assert(VersionedTable.snapshotFiles(spark, t, v) === before)
    assert(idSet(VersionedTable.readVersion(spark, t)) ===
      (1L to 40L).filterNot(_ % 10 == 0).toSet)
    // time travel: the pre-delete snapshot still sees every row
    assert(idSet(VersionedTable.readVersion(spark, t, v - 1)) === (1L to 40L).toSet)
    val op = VersionedTable.history(spark, t)
      .filter(col("version") === v).select("op").head().getString(0)
    assert(op === "delete_mor")
  }

  test("deleteMergeOnRead result is identical to copy-on-write delete") {
    val cow = dvTable(); val mor = dvTable()
    VersionedTable.delete(spark, cow, "id > 35 OR id % 7 = 0", ts = "2026-01-02T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, mor, "id > 35 OR id % 7 = 0", ts = "2026-01-02T00:00:00Z")
    val a = VersionedTable.readVersion(spark, cow).orderBy("id").collect().toSeq
    val b = VersionedTable.readVersion(spark, mor).orderBy("id").collect().toSeq
    assert(a === b)
  }

  test("a second MoR delete replaces entries with a superset vector") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id <= 5", ts = "2026-01-02T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, t, "id >= 36", ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (6L to 35L).toSet)
    // the intermediate version still reads its own vector state
    assert(idSet(VersionedTable.readVersion(spark, t, 1L)) === (6L to 40L).toSet)
  }

  test("merge after a MoR delete inserts fresh rows, never resurrects") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id = 7", ts = "2026-01-02T00:00:00Z")
    val up = Seq(7L, 99L).toDF("id").withColumn("v", lit(-1L))
    VersionedTable.merge(up, t, Seq("id"), ts = "2026-01-03T00:00:00Z")
    val rows = VersionedTable.readVersion(spark, t)
      .filter(col("id").isin(7L, 99L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly one id=7 row, the MERGED one — the vectored original is gone
    assert(rows === Set((7L, -1L), (99L, -1L)))
    assert(VersionedTable.readVersion(spark, t).count() === 41L)
  }

  test("COW rewrite of a vectored file applies its vector and drops the entry") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id = 3", ts = "2026-01-02T00:00:00Z")
    // COW delete touches every file holding an even id — including
    // id=3's file; the rewrite must not resurrect 3
    VersionedTable.delete(spark, t, "id % 2 = 0", ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) ===
      (1L to 40L).filter(i => i % 2 == 1 && i != 3).toSet)
  }

  test("optimize materializes vectors; vacuum then reclaims the DV dataset") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id BETWEEN 10 AND 19", ts = "2026-01-02T00:00:00Z")
    val expect = (1L to 40L).filterNot(i => i >= 10 && i <= 19).toSet
    // vacuum with the vector LIVE: the DV dataset must survive grace=0
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === expect)
    val vo = VersionedTable.optimize(spark, t, ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t, vo)) === expect)
    // post-optimize the vector is unreferenced: vacuum reclaims it
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === expect)
    // a fresh MoR delete on the compacted table still works
    VersionedTable.deleteMergeOnRead(spark, t, "id = 1", ts = "2026-01-04T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (expect - 1L))
  }

  test("reorgPurge rewrites ONLY vectored files, drops their vectors, vacuum reclaims") {
    val t = dvTable()
    // vector lands only on files holding ids ≤ 5 (a subset of the 4)
    VersionedTable.deleteMergeOnRead(spark, t, "id <= 5", ts = "2026-01-02T00:00:00Z")
    val before = VersionedTable.snapshotFiles(spark, t).toSet
    val detailBefore = VersionedTable.describeDetail(spark, t)
      .select("num_vectored_files").head().getLong(0)
    assert(detailBefore > 0 && detailBefore < 4,
      s"fixture needs a PARTIAL vector spread, got $detailBefore of 4")
    val v = VersionedTable.reorgPurge(spark, t, ts = "2026-01-03T00:00:00Z")
    val after = VersionedTable.snapshotFiles(spark, t, v).toSet
    // vector-free files carried BY REFERENCE; vectored ones replaced
    assert((before intersect after).size === (4 - detailBefore.toInt),
      "unvectored files must carry by reference through the purge")
    assert(VersionedTable.describeDetail(spark, t)
      .select("num_vectored_files").head().getLong(0) === 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (6L to 40L).toSet)
    val op = VersionedTable.history(spark, t)
      .filter(col("version") === v).select("op").head().getString(0)
    assert(op === "reorg_purge")
    // zero-grace vacuum reclaims the purged originals; content intact
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (6L to 40L).toSet)
    // idempotent: nothing vectored → no-op, same version back
    assert(VersionedTable.reorgPurge(spark, t, ts = "2026-01-04T00:00:00Z") === v)
  }

  test("reorg_purge is maintenance to the stream source: nothing re-emits") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id <= 5", ts = "2026-01-02T00:00:00Z")
    val v = VersionedTable.reorgPurge(spark, t, ts = "2026-01-03T00:00:00Z")
    // tail from the purge version: its added (rewritten) files are
    // dataChange=false — a stream must re-emit NOTHING
    val ckp = java.nio.file.Files.createTempDirectory("rg_ckp").toString
    val q = spark.readStream.format("graft")
      .option("startingVersion", v.toString).load(t)
      .writeStream.format("memory").queryName("rg_stream")
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("rg_stream").count() === 0L,
      "a purge rewrite must never re-emit rows into a tailing stream")
  }

  test("REORG TABLE SQL: WHERE scopes the purge; reports purged count") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id <= 5", ts = "2026-01-02T00:00:00Z")
    // a WHERE touching no vectored file's stat range is a no-op
    val miss = spark.sql(s"REORG TABLE graft.`$t` WHERE id > 1000 APPLY (PURGE)")
      .head()
    assert(miss.getInt(1) === 0, "out-of-range WHERE must purge nothing")
    val hit = spark.sql(s"REORG TABLE graft.`$t` APPLY (PURGE)").head()
    assert(hit.getInt(1) > 0, "unscoped purge must clear the vectors")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (6L to 40L).toSet)
  }

  test("delete drops fully-covered files outright; only the boundary file rewrites") {
    // four files with exact decade ranges (one single-partition commit each)
    val t = freshTable()
    VersionedTable.commit(df(1L to 10L: _*).coalesce(1), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    (1 to 3).foreach { i =>
      VersionedTable.commit(df((i * 10 + 1L) to (i * 10 + 10L): _*).coalesce(1),
        t, mode = "append", ts = s"2026-01-01T0$i:00:00Z")
    }
    val before = VersionedTable.snapshotFiles(spark, t)
    assert(before.size === 4)
    // covers [1-10] fully and [11-15] partially: the full file must DROP
    // with zero rewrite, the boundary file rewrites, two carry untouched
    val v = VersionedTable.delete(spark, t, "id <= 15", ts = "2026-01-02T00:00:00Z")
    val after = VersionedTable.snapshotFiles(spark, t, v)
    assert((before.toSet intersect after.toSet).size === 2,
      "the two untouched decades must carry by reference")
    assert((after.toSet -- before.toSet).size === 1,
      "exactly one new file: the boundary rewrite — a fully-covered file must never rewrite")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (16L to 40L).toSet)
    // full-table delete: every file drops, zero bytes written
    val v2 = VersionedTable.delete(spark, t, "id >= 0", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t, v2).isEmpty)
    assert(VersionedTable.readVersion(spark, t).count() === 0L)
    assert(VersionedTable.rowCount(spark, t) === 0L)
  }

  test("fsck: DRY RUN reports missing files, repair drops them, survivors scan") {
    val t = freshTable()
    val d = (1L to 40L).toDF("id")
      .withColumn("part", when(col("id") <= 20, lit("a")).otherwise(lit("b")))
      .withColumn("v", col("id") * 10)
    VersionedTable.commit(d, t, mode = "overwrite",
      ts = "2026-01-01T00:00:00Z", partitionBy = Seq("part"))
    val v0 = VersionedTable.latestVersion(spark, t)
    // a foreign process deletes the part=a data files under the table
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t)
    val doomed = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.contains("part=a") && p.toString.endsWith(".parquet"))
      .toSeq
    assert(doomed.nonEmpty)
    doomed.foreach(java.nio.file.Files.delete)
    // DRY RUN: reports every vanished entry, commits nothing
    val dry = VersionedTable.fsck(spark, t, dryRun = true)
    assert(dry.size === doomed.size && dry.forall(_.contains("part=a")))
    assert(VersionedTable.latestVersion(spark, t) === v0)
    // repair: one commit, survivors scan, metadata-only counts follow
    val fixed = VersionedTable.fsck(spark, t, ts = "2026-01-02T00:00:00Z")
    assert(fixed.toSet === dry.toSet)
    assert(VersionedTable.latestVersion(spark, t) === v0 + 1)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (21L to 40L).toSet)
    assert(VersionedTable.rowCount(spark, t) === 20L)
    val op = VersionedTable.history(spark, t)
      .orderBy(col("version").desc).select("op").head().getString(0)
    assert(op === "fsck_repair")
    // intact snapshot: no-op, nothing committed
    assert(VersionedTable.fsck(spark, t).isEmpty)
    assert(VersionedTable.latestVersion(spark, t) === v0 + 1)
  }

  test("fsck drops a missing file's deletion vector with it") {
    // range layout: each of the 4 files holds a contiguous id decade, so
    // "id % 10 = 1" deterministically vectors every file
    val t = freshTable()
    VersionedTable.commit(df(1L to 40L: _*).repartitionByRange(4, col("id")),
      t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, t, "id % 10 = 1", ts = "2026-01-02T00:00:00Z")
    val before = VersionedTable.describeDetail(spark, t)
      .select("num_vectored_files").head().getLong(0)
    assert(before === 4L, "fixture expects every file vectored")
    val victim = VersionedTable.snapshotFiles(spark, t).sorted.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, victim))
    val fixed = VersionedTable.fsck(spark, t, ts = "2026-01-03T00:00:00Z")
    assert(fixed === Seq(victim))
    assert(VersionedTable.describeDetail(spark, t)
      .select("num_vectored_files").head().getLong(0) === before - 1)
    // surviving rows still honor their vectors
    val ids = idSet(VersionedTable.readVersion(spark, t))
    assert(ids.nonEmpty && ids.forall(_ % 10 != 1))
  }

  test("FSCK REPAIR TABLE SQL: dry run flags removed=false, repair heals the scan") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3).repartition(3, col("id")), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val victim = VersionedTable.snapshotFiles(spark, t).sorted.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, victim))
    val dry = spark.sql(s"FSCK REPAIR TABLE graft.`$t` DRY RUN").collect()
    assert(dry.map(r => (r.getString(0), r.getBoolean(1))).toSeq ===
      Seq((victim, false)))
    val rep = spark.sql(s"FSCK REPAIR TABLE graft.`$t`").collect()
    assert(rep.map(r => (r.getString(0), r.getBoolean(1))).toSeq ===
      Seq((victim, true)))
    assert(idSet(VersionedTable.readVersion(spark, t)).size === 2)
  }

  test("change feed refuses a range crossing fsck_repair (rows unrecoverable)") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3).repartition(3, col("id")), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val victim = VersionedTable.snapshotFiles(spark, t).sorted.head
    java.nio.file.Files.delete(java.nio.file.Paths.get(t, victim))
    VersionedTable.fsck(spark, t, ts = "2026-01-02T00:00:00Z")
    val vRepair = VersionedTable.latestVersion(spark, t)
    // the repaired file is physically gone: its rows cannot replay as
    // deletes — the feed must refuse up front, not die mid-scan
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.changes(spark, t, Seq("id"), 0L, vRepair).collect()
    }
    assert(e.getMessage.contains("fsck_repair"))
    // starting AT the repair version replays normally
    VersionedTable.commit(df(9), t, mode = "append", ts = "2026-01-03T00:00:00Z")
    val feed = VersionedTable.changes(spark, t, Seq("id"), vRepair,
      VersionedTable.latestVersion(spark, t))
    assert(feed.filter(col("_change_type") === "insert").count() === 1L)
  }

  test("CDF reports MoR-deleted rows as deletes and rollback as inserts") {
    val t = dvTable()
    val v = VersionedTable.deleteMergeOnRead(spark, t, "id IN (2, 22)", ts = "2026-01-02T00:00:00Z")
    val feed = VersionedTable.changes(spark, t, Seq("id"), v - 1, v)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((2L, "delete"), (22L, "delete")))
    val rb = VersionedTable.rollback(spark, t, v - 1, ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (1L to 40L).toSet)
    val back = VersionedTable.changes(spark, t, Seq("id"), v, rb)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back === Set((2L, "insert"), (22L, "insert")))
  }

  test("shallow clone carries deletion vectors; clone-side MoR delete stays local") {
    val src = dvTable()
    VersionedTable.deleteMergeOnRead(spark, src, "id <= 4", ts = "2026-01-02T00:00:00Z")
    val tgt = freshTable()
    VersionedTable.cloneTable(spark, src, tgt, ts = "2026-01-03T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === (5L to 40L).toSet)
    VersionedTable.deleteMergeOnRead(spark, tgt, "id >= 38", ts = "2026-01-04T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === (5L to 37L).toSet)
    // the source never sees the clone's vector
    assert(idSet(VersionedTable.readVersion(spark, src)) === (5L to 40L).toSet)
  }

  test("readWhere on a vectored table matches readVersion.filter") {
    val t = freshTable()
    val base = df(1L to 400L: _*)
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, t, "id % 3 = 0", ts = "2026-01-02T00:00:00Z")
    val skip = VersionedTable.readWhere(spark, t, "id BETWEEN 150 AND 250")
    val full = VersionedTable.readVersion(spark, t).filter("id BETWEEN 150 AND 250")
    assert(skip.orderBy("id").collect().toSeq === full.orderBy("id").collect().toSeq)
    // stats pruning still engages on the range-laid files
    assert(VersionedTable.prunedFiles(spark, t, "id BETWEEN 150 AND 250").size <= 3)
  }

  test("deletion vectors survive checkpoint-resolved reads") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id = 11", ts = "2026-01-02T00:00:00Z")
    // push the log past the checkpoint cadence so the head resolves
    // from a checkpoint that must carry the dv entries
    (1 to VersionedTable.checkpointInterval).foreach { i =>
      VersionedTable.commit(df(1000L + i), t, mode = "append", ts = f"2026-01-03T$i%02d:00:00Z")
    }
    val ids = idSet(VersionedTable.readVersion(spark, t))
    assert(!ids.contains(11L) && ids.contains(12L) && ids.contains(1001L))
  }

  test("MoR delete matching nothing commits a no-op version") {
    val t = dvTable()
    val before = VersionedTable.snapshotFiles(spark, t)
    val v = VersionedTable.deleteMergeOnRead(spark, t, "id > 10000", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t, v) === before)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (1L to 40L).toSet)
  }

  // ------------------------------------------------------------ update

  test("COW update rewrites only touched files; SET sees the pre-update row") {
    val t = dvTable()
    val before = VersionedTable.snapshotFiles(spark, t).toSet
    // swap semantics: both assignments read the ORIGINAL row
    VersionedTable.update(spark, t, "id <= 3",
      Map("id" -> "v", "v" -> "id"), ts = "2026-01-02T00:00:00Z")
    val rows = VersionedTable.readVersion(spark, t)
      .filter(col("v").isin(1L, 2L, 3L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((10L, 1L), (20L, 2L), (30L, 3L)))
    assert(VersionedTable.readVersion(spark, t).count() === 40L)
    // untouched files carry by reference
    val after = VersionedTable.snapshotFiles(spark, t).toSet
    assert((before & after).nonEmpty)
    val op = VersionedTable.history(spark, t).orderBy(col("version").desc)
      .select("op").head().getString(0)
    assert(op === "update")
  }

  test("update rejects SET on a column outside the schema") {
    val t = dvTable()
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.update(spark, t, "id = 1", Map("nope" -> "1"))
    }
  }

  test("MoR update equals COW update and rewrites no touched file") {
    val cow = dvTable(); val mor = dvTable()
    val cond = "id % 9 = 0"
    val set = Map("v" -> "v + id")
    VersionedTable.update(spark, cow, cond, set, ts = "2026-01-02T00:00:00Z")
    val beforeFiles = VersionedTable.snapshotFiles(spark, mor).toSet
    val v = VersionedTable.updateMergeOnRead(spark, mor, cond, set, ts = "2026-01-02T00:00:00Z")
    val a = VersionedTable.readVersion(spark, cow).orderBy("id", "v").collect().toSeq
    val b = VersionedTable.readVersion(spark, mor).orderBy("id", "v").collect().toSeq
    assert(a === b)
    // every pre-existing file carried; post-images are NEW files only
    val afterFiles = VersionedTable.snapshotFiles(spark, mor).toSet
    assert(beforeFiles.subsetOf(afterFiles))
    assert((afterFiles -- beforeFiles).nonEmpty)
    // time travel: the pre-update snapshot is intact
    assert(idSet(VersionedTable.readVersion(spark, mor, v - 1)) === (1L to 40L).toSet)
  }

  test("CDF reports a MoR update as row-level delete + insert") {
    val t = dvTable()
    val v = VersionedTable.updateMergeOnRead(spark, t, "id = 8",
      Map("v" -> "v * 3"), ts = "2026-01-02T00:00:00Z")
    val feed = VersionedTable.changes(spark, t, Seq("id"), v - 1, v)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed === Set((8L, 80L, "delete"), (8L, 240L, "insert")))
  }

  test("MoR update composes with vectors: optimize materializes the pair") {
    val t = dvTable()
    VersionedTable.deleteMergeOnRead(spark, t, "id = 5", ts = "2026-01-02T00:00:00Z")
    // the vectored row must NOT be matched (it is deleted)
    VersionedTable.updateMergeOnRead(spark, t, "id IN (5, 6)",
      Map("v" -> "0"), ts = "2026-01-03T00:00:00Z")
    val expect = (1L to 40L).filterNot(_ == 5L).map(i => (i, if (i == 6L) 0L else i * 10)).toSet
    def state() = VersionedTable.readVersion(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state() === expect)
    VersionedTable.optimize(spark, t, ts = "2026-01-04T00:00:00Z")
    assert(state() === expect)
  }

  // ------------------------------------------------- CHECK constraints

  test("CHECK constraint gates every write path; NULL passes") {
    val t = freshTable()
    val withNull = Seq((1L, Some(10L)), (2L, None)).toDF("id", "v")
    VersionedTable.commit(withNull, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.addConstraint(spark, t, "v_pos", "v > 0", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.constraintsOf(spark, t) === Map("v_pos" -> "v > 0"))
    // append of a violating batch rejected BEFORE any data lands
    val files = VersionedTable.snapshotFiles(spark, t)
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(Seq((3L, Some(-5L))).toDF("id", "v"), t,
        mode = "append", ts = "2026-01-03T00:00:00Z")
    }
    assert(VersionedTable.snapshotFiles(spark, t) === files)
    // NULL evaluations pass (SQL CHECK), clean batches commit
    VersionedTable.commit(Seq((3L, None: Option[Long])).toDF("id", "v"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z")
    // merge, update and replaceWhere gate too
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.merge(Seq((1L, Some(-1L))).toDF("id", "v"), t, Seq("id"))
    }
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.update(spark, t, "id = 1", Map("v" -> "-9"))
    }
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.updateMergeOnRead(spark, t, "id = 1", Map("v" -> "-9"))
    }
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.replaceWhere(Seq((1L, Some(-1L))).toDF("id", "v"), t, "id = 1")
    }
    // a conforming update passes
    VersionedTable.update(spark, t, "id = 1", Map("v" -> "v + 1"), ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).filter(col("id") === 1)
      .select("v").head().getLong(0) === 11L)
  }

  test("addConstraint validates existing data and is rejected when dirty") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2, 3), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.addConstraint(spark, t, "small", "id < 3")
    }
    assert(VersionedTable.constraintsOf(spark, t).isEmpty)
  }

  test("constraints survive overwrite, optimize, checkpoints and clones; drop lifts them") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.addConstraint(spark, t, "id_pos", "id > 0", ts = "2026-01-02T00:00:00Z")
    // overwrite replaces DATA, not the table contract
    VersionedTable.commit(df(5, 6), t, mode = "overwrite", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.constraintsOf(spark, t) === Map("id_pos" -> "id > 0"))
    VersionedTable.optimize(spark, t, ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.constraintsOf(spark, t) === Map("id_pos" -> "id > 0"))
    // cross the checkpoint cadence: the resolved entry must persist
    (1 to VersionedTable.checkpointInterval).foreach { i =>
      VersionedTable.commit(df(100L + i), t, mode = "append", ts = f"2026-01-05T$i%02d:00:00Z")
    }
    assert(VersionedTable.constraintsOf(spark, t) === Map("id_pos" -> "id > 0"))
    // clones inherit the contract
    val c = freshTable()
    VersionedTable.cloneTable(spark, t, c, ts = "2026-01-06T00:00:00Z")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(df(-1), c, mode = "append", ts = "2026-01-07T00:00:00Z")
    }
    // drop lifts enforcement on the dropped table only
    VersionedTable.dropConstraint(spark, c, "id_pos", ts = "2026-01-08T00:00:00Z")
    VersionedTable.commit(df(-1), c, mode = "append", ts = "2026-01-09T00:00:00Z")
    assert(VersionedTable.constraintsOf(spark, t) === Map("id_pos" -> "id > 0"))
  }

  // ----------------------------------------------- DML retry (OCC)

  test("dmlWithRetry re-runs a claim-losing op and gives up past maxRetries") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    // simulate losing the claim once: first invocation commits a rival
    // version mid-op and throws; the retry runs clean against the head
    var calls = 0
    val v = VersionedTable.dmlWithRetry() {
      calls += 1
      if (calls == 1) throw new VersionedTable.ConcurrentCommitException(1L)
      VersionedTable.delete(spark, t, "id = 2", ts = "2026-01-02T00:00:00Z")
    }
    assert(calls === 2 && v === 1L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === Set(1L))
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.dmlWithRetry(maxRetries = 2) {
        throw new VersionedTable.ConcurrentCommitException(9L)
      }
    }
  }

  test("two REAL concurrent DML writers (merge vs delete) both land via dmlWithRetry") {
    // whichever interleaving the scheduler picks, both effects must be
    // in the final state: the loser's retry RE-DISCOVERS against the
    // winner's commit, so there is no stale-read window
    val t = freshTable()
    VersionedTable.commit(df(1L to 40L: _*).repartition(4, col("id")), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val up = Seq((7L, -7L), (99L, -99L)).toDF("id", "v")
      val fa = Future(VersionedTable.dmlWithRetry() {
        VersionedTable.merge(up, t, Seq("id"), ts = "2026-01-02T00:00:00Z") })
      val fb = Future(VersionedTable.dmlWithRetry() {
        VersionedTable.delete(spark, t, "id >= 30 AND id <= 40", ts = "2026-01-02T00:00:00Z") })
      Set(Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    } finally pool.shutdown()
    val out = VersionedTable.readVersion(spark, t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(7L) === -7L && out(99L) === -99L, s"merge effect lost: $out")
    assert((30L to 40L).forall(i => !out.contains(i)), "delete effect lost")
    assert(out.size === 40 - 11 + 1) // 40 - deleted 11 + inserted 99
  }

  // --------------------------------------------- incremental compaction

  test("compactSmall folds only sub-threshold files; big files carry by reference") {
    val t = freshTable()
    // one "big" file (500 rows) + 6 single-commit small files
    VersionedTable.commit(df(1L to 500L: _*).repartition(1), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    (1 to 6).foreach { i =>
      VersionedTable.commit(df(1000L + i).repartition(1), t,
        mode = "append", ts = f"2026-01-02T$i%02d:00:00Z")
    }
    val before = VersionedTable.snapshotFiles(spark, t)
    assert(before.size === 7)
    val bigFile = before.head // c00000000 dir — the 500-row commit
    // smallBytes above the small files' size but below the big one's
    val bigLen = new java.io.File(t, bigFile).length()
    val v = VersionedTable.compactSmall(spark, t, smallBytes = bigLen,
      ts = "2026-01-03T00:00:00Z")
    val after = VersionedTable.snapshotFiles(spark, t, v)
    assert(after.contains(bigFile), "big file must carry by reference")
    assert(after.size < before.size, s"${after.size} vs ${before.size}")
    assert(idSet(VersionedTable.readVersion(spark, t)) ===
      ((1L to 500L) ++ (1001L to 1006L)).toSet)
    // nothing left to compact: second call is a NO-OP (no new version)
    assert(VersionedTable.compactSmall(spark, t, smallBytes = bigLen) === v)
  }

  test("compactSmall applies deletion vectors on compacted files and drops them") {
    val t = freshTable()
    VersionedTable.commit(df(1L to 20L: _*).repartition(4, col("id")), t,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.deleteMergeOnRead(spark, t, "id <= 3", ts = "2026-01-02T00:00:00Z")
    val v = VersionedTable.compactSmall(spark, t, smallBytes = Long.MaxValue,
      ts = "2026-01-03T00:00:00Z")
    assert(v > 1L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (4L to 20L).toSet)
    // the orphaned vector dataset is vacuum-reclaimable; reads unchanged
    VersionedTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (4L to 20L).toSet)
  }

  test("maintain: compaction + log retention + vacuum bound a sink table's storage") {
    val t = freshTable()
    // a streaming-sink-shaped table: 26 single-file commits
    VersionedTable.commit(df(0), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    (1 to 25).foreach { i =>
      VersionedTable.commit(df(i.toLong).repartition(1), t,
        mode = "append", ts = f"2026-01-01T$i%02d:00:00Z")
    }
    val (v, expired, _) = VersionedTable.maintain(spark, t,
      retainVersions = 3, graceMs = 0L, ts = "2026-01-02T00:00:00Z")
    assert(v === 26L, "maintenance compaction is one new version")
    assert(expired > 0, "log must be bounded at the anchor checkpoint")
    assert(VersionedTable.snapshotFiles(spark, t).size <= 2)
    assert(idSet(VersionedTable.readVersion(spark, t)) === (0L to 25L).toSet)
    // next night: the pre-compaction files have aged out of retention
    val (_, _, vacuumed2) = VersionedTable.maintain(spark, t,
      retainVersions = 1, graceMs = 0L, ts = "2026-01-03T00:00:00Z")
    assert(vacuumed2 > 0, "aged-out pre-compaction files must reclaim")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (0L to 25L).toSet)
  }

  test("CDF across overlapping vector generations emits no phantom deletes") {
    // the multiset hazard: after d1 {F2,F3} -> dirA, d2 {F2,F3} -> dirB
    // (folds dirA), d3 {F3 only} -> dirC (folds dirB's F3 rows), the head
    // reads F2 from dirB and F3 from dirC — dirB still carries F3's
    // STALE subset. changes(v_d1, v_d3) reads both dirs for its position
    // diff; without set semantics a d1-deleted row appears twice on the
    // `to` side, survives exceptAll, and emits a PHANTOM delete
    val t = freshTable()
    val base = df(1L to 30L: _*)
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val d1 = VersionedTable.deleteMergeOnRead(spark, t, "id IN (15, 25)",
      ts = "2026-01-02T00:00:00Z") // touches F2, F3
    val d2 = VersionedTable.deleteMergeOnRead(spark, t, "id IN (16, 26)",
      ts = "2026-01-03T00:00:00Z") // touches F2, F3 again (folds d1)
    val d3 = VersionedTable.deleteMergeOnRead(spark, t, "id = 27",
      ts = "2026-01-04T00:00:00Z") // stats-pruned to F3 only
    assert(idSet(VersionedTable.readVersion(spark, t)) ===
      (1L to 30L).toSet -- Set(15L, 25L, 16L, 26L, 27L))
    // spanning d2+d3: exactly their rows, NOTHING from d1
    val feed = VersionedTable.changes(spark, t, Seq("id"), d1, d3)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed.toSet === Set((16L, "delete"), (26L, "delete"), (27L, "delete")),
      s"phantom or missing CDF rows: ${feed.toSeq.sorted}")
    assert(feed.length === 3, s"duplicate CDF rows: ${feed.toSeq.sorted}")
    // and the single-step feeds stay exact too
    val step3 = VersionedTable.changes(spark, t, Seq("id"), d2, d3)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(step3 === Seq(27L))
  }

  private def manifestText(t: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_manifests", f"v$v%08d.manifest")), "UTF-8")

  test("DV auto-materialization: a file vectored past threshold folds COW in the same commit") {
    val t = freshTable()
    // range layout: file A = ids 1..20, file B = ids 21..40
    val base = df(1L to 40L: _*).repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val before = VersionedTable.snapshotFiles(spark, t).toSet
    // 60% of file A (stats prune B out of the candidates): past 0.5
    val v = VersionedTable.deleteMergeOnRead(spark, t, "id <= 12", ts = "2026-01-02T00:00:00Z")
    val after = VersionedTable.snapshotFiles(spark, t, v).toSet
    assert((before -- after).size === 1, "the heavy file must be REMOVED, not vectored")
    assert((after -- before).size >= 1, "its survivors must land as fresh files")
    assert((before & after).size === 1, "the untouched file carries by reference")
    assert(!manifestText(t, v).contains("dv="),
      "a folded commit must carry no deletion-vector entry")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (13L to 40L).toSet)
    // time travel still sees the pre-delete snapshot
    assert(idSet(VersionedTable.readVersion(spark, t, v - 1)) === (1L to 40L).toSet)
    // threshold respected in the other direction: a light delete stays a vector
    val v2 = VersionedTable.deleteMergeOnRead(spark, t, "id = 39", ts = "2026-01-03T00:00:00Z")
    assert(manifestText(t, v2).contains("dv="), "a 5% delete must stay merge-on-read")
    // and repeated light deletes CROSS the threshold: once file B's
    // accumulated vector passes 50%, the next DML folds it — the read
    // tax is bounded by construction, not by operator discipline
    val v3 = VersionedTable.deleteMergeOnRead(spark, t, "id >= 28 AND id <= 38",
      ts = "2026-01-04T00:00:00Z") // 11 + 1 prior of 20 rows = 60%
    assert(!manifestText(t, v3).contains("dv="),
      "accumulated vector past threshold must fold")
    assert(idSet(VersionedTable.readVersion(spark, t)) ===
      ((13L to 27L) ++ Seq(40L)).toSet)
    // disable switch: threshold 1.0 never folds
    val t2 = freshTable()
    VersionedTable.commit(df(1L to 10L: _*).repartition(1), t2,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val f2 = VersionedTable.snapshotFiles(spark, t2)
    val u = VersionedTable.deleteMergeOnRead(spark, t2, "id <= 9",
      ts = "2026-01-02T00:00:00Z", maxVectoredFraction = 1.0)
    assert(VersionedTable.snapshotFiles(spark, t2, u) === f2)
    assert(idSet(VersionedTable.readVersion(spark, t2)) === Set(10L))
  }

  test("MoR update past the threshold folds the touched file; result equals COW update") {
    val mor = freshTable(); val cow = freshTable()
    val base = df(1L to 40L: _*).repartitionByRange(2, col("id"))
    Seq(mor, cow).foreach(p =>
      VersionedTable.commit(base, p, mode = "overwrite", ts = "2026-01-01T00:00:00Z"))
    val set = Map("v" -> "v + 1")
    val v = VersionedTable.updateMergeOnRead(spark, mor, "id <= 15", set, ts = "2026-01-02T00:00:00Z")
    VersionedTable.update(spark, cow, "id <= 15", set, ts = "2026-01-02T00:00:00Z")
    // 75% of file A matched: folded (no dv entry), post-images appended
    assert(!manifestText(mor, v).contains("dv="),
      "update vectoring 75% of a file must fold it in the same commit")
    val a = VersionedTable.readVersion(spark, mor).orderBy("id").collect().toSeq
    val b = VersionedTable.readVersion(spark, cow).orderBy("id").collect().toSeq
    assert(a === b)
    // below threshold the MoR shape is preserved (file list unchanged)
    val before = VersionedTable.snapshotFiles(spark, mor).toSet
    val v2 = VersionedTable.updateMergeOnRead(spark, mor, "id = 39",
      Map("v" -> "0"), ts = "2026-01-03T00:00:00Z")
    assert(manifestText(mor, v2).contains("dv="))
    assert(VersionedTable.snapshotFiles(spark, mor, v2).toSet.intersect(before) === before)
  }

  test("bloom index config persists through append/compact/optimize/COW — maintain() keeps the index") {
    val t = freshTable()
    val base = (1L to 4000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(8, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id"), bloomBits = 1 << 14)
    assert(VersionedTable.bloomConfigOf(spark, t) === Some((Seq("id"), 1 << 14)))
    // plain append WITHOUT restating the config: its file is indexed
    VersionedTable.commit((4001L to 4500L).toDF("id")
      .withColumn("v", col("id") * 10).repartition(1), t,
      mode = "append", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "id = 4321").size <= 2,
      "an inherited-config append must carry sidecars")
    // incremental compaction folds the 9 files and RE-INDEXES its output
    val cv = VersionedTable.compactSmall(spark, t, smallBytes = 8L * 1024 * 1024,
      targetFileBytes = 12L * 1024, ts = "2026-01-03T00:00:00Z")
    val nFiles = VersionedTable.snapshotFiles(spark, t, cv).size
    assert(nFiles >= 3, s"compaction fixture needs multiple output files, got $nFiles")
    val pt = VersionedTable.prunedFiles(spark, t, "id = 2042")
    assert(pt.size <= 2,
      s"point lookup must open <=2 of $nFiles files AFTER compaction, got ${pt.size}")
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 2042")) === Set(2042L))
    // optimize (full rewrite) keeps config AND sidecars
    VersionedTable.optimize(spark, t, targetFileBytes = 12L * 1024, ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.bloomConfigOf(spark, t) === Some((Seq("id"), 1 << 14)))
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042").size <= 2)
    // a COW rewrite path (delete) re-indexes the files it writes
    VersionedTable.delete(spark, t, "id = 7", ts = "2026-01-05T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042").size <= 2)
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 2042")) === Set(2042L))
  }

  test("setBloomIndex backfills an existing table and binds future writes") {
    val t = freshTable()
    val base = (1L to 4000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(8, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042").size === 8,
      "un-indexed table: equality probes cannot prune a hash layout")
    VersionedTable.setBloomIndex(spark, t, Seq("id"), 1 << 14, ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042").size <= 2,
      "backfill must index the existing head files")
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 2042")) === Set(2042L))
    // future writes inherit the recorded config
    VersionedTable.commit(df(9999), t, mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "id = 9999").size <= 2)
    assert(idSet(VersionedTable.readWhere(spark, t, "id = 9999")) === Set(9999L))
  }

  test("bloom probes skip cross-typed equality literals: readWhere ≡ filter") {
    val t = freshTable()
    // long id + zero-padded string code, BOTH indexed: the padded form
    // is the ADVICE hazard — canonical forms differ ('02042' vs '2042')
    // while Spark's cast-based equality still matches the rows
    val base = (1L to 4000L).toDF("id")
      .withColumn("code", lpad(col("id").cast("string"), 5, "0"))
      .repartition(8, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id", "code"), bloomBits = 1 << 14)
    // string literal on the LONG column: probe must be skipped — Spark's
    // filter casts '0002042' to 2042 and matches; a '0002042' probe
    // would prune the owning file (its sidecar stores '2042')
    val a = VersionedTable.readWhere(spark, t, "id = '0002042'")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(a === Seq(2042L), "cross-typed string-on-long equality lost rows")
    // numeric literal on the STRING column: same hazard mirrored —
    // code = 2042 casts the column and matches id 2042's row ('02042')
    val b = VersionedTable.readWhere(spark, t, "code = 2042")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(b === Seq(2042L), "cross-typed int-on-string equality lost rows")
    // same-typed probes still prune (the guard must not disable the index)
    assert(VersionedTable.prunedFiles(spark, t, "id = 2042").size <= 2)
    assert(VersionedTable.prunedFiles(spark, t, "code = '02042'").size <= 2)
    // IN with one cross-typed member: whole conjunct un-prunable, correct
    assert(idSet(VersionedTable.readWhere(spark, t, "id IN ('0002042', 10)"))
      === Set(2042L, 10L))
  }

  test("overwrite with a constraint on an omitted column sees NULL, not an analysis error") {
    val t = freshTable()
    VersionedTable.commit(df(1, 2), t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.addConstraint(spark, t, "v_pos", "v >= 0", ts = "2026-01-02T00:00:00Z")
    // schema-narrowing overwrite: v omitted → the constraint evaluates
    // over NULL and passes (SQL CHECK), exactly like the append path
    val v = VersionedTable.commit(Seq(7L).toDF("id"), t,
      mode = "overwrite", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t, v).columns.toSeq === Seq("id"))
    // a VIOLATING overwrite is still rejected before any data lands
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(Seq((8L, -5L)).toDF("id", "v"), t,
        mode = "overwrite", ts = "2026-01-04T00:00:00Z")
    }
  }

  test("renameColumn is metadata-only: zero files rewritten, every face sees the new name") {
    val t = freshTable()
    val base = df(1L to 40L: _*).repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val files0 = VersionedTable.snapshotFiles(spark, t)
    val rv = VersionedTable.renameColumn(spark, t, "v", "amount", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.snapshotFiles(spark, t, rv) === files0,
      "rename must rewrite ZERO data files")
    val head = VersionedTable.readVersion(spark, t)
    assert(head.columns.toSeq === Seq("id", "amount"))
    assert(head.filter(col("amount") === 100).select("id").head().getLong(0) === 10L)
    // time travel sees the pre-rename schema (versioned metadata)
    assert(VersionedTable.readVersion(spark, t, rv - 1).columns.toSeq === Seq("id", "v"))
    // stats pruning consults the map: the predicate is on the NEW name,
    // the footer stats are recorded under the physical one
    val kept = VersionedTable.prunedFiles(spark, t, "amount >= 310 AND amount <= 320")
    assert(kept.size < 4, s"mapped stats must still prune, kept ${kept.size}/4")
    assert(idSet(VersionedTable.readWhere(spark, t, "amount >= 310 AND amount <= 320"))
      === Set(31L, 32L))
    // appends arrive in logical names and land physical
    VersionedTable.commit(Seq((41L, 410L)).toDF("id", "amount"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("amount") === 410).select("id").head().getLong(0) === 41L)
    // the full DML surface runs on the logical name
    VersionedTable.update(spark, t, "amount = 410",
      Map("amount" -> "amount + 1"), ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 41).select("amount").head().getLong(0) === 411L)
    VersionedTable.merge(Seq((1L, 999L)).toDF("id", "amount"), t,
      keyCols = Seq("id"), ts = "2026-01-05T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 1).select("amount").head().getLong(0) === 999L)
    VersionedTable.deleteMergeOnRead(spark, t, "amount = 999",
      ts = "2026-01-06T00:00:00Z", maxVectoredFraction = 1.0)
    assert(!idSet(VersionedTable.readVersion(spark, t)).contains(1L))
    // optimize rewrites physically and carries the mapping
    VersionedTable.optimize(spark, t, ts = "2026-01-07T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSeq === Seq("id", "amount"))
    assert(idSet(VersionedTable.readVersion(spark, t)) === (2L to 41L).toSet)
    // renaming BACK to the physical name is legal (it's this column's own)
    VersionedTable.renameColumn(spark, t, "amount", "v", ts = "2026-01-08T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSeq === Seq("id", "v"))
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 41).select("v").head().getLong(0) === 411L)
  }

  test("dropColumn retires the physical name; reuse is rejected; clones and checkpoints carry the map") {
    val t = freshTable()
    val base = df(1L to 20L: _*).withColumn("w", col("id") % 7)
      .repartitionByRange(2, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.renameColumn(spark, t, "v", "amount", ts = "2026-01-02T00:00:00Z")
    val dv = VersionedTable.dropColumn(spark, t, "w", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSeq === Seq("id", "amount"))
    // time travel before the drop still sees w
    assert(VersionedTable.readVersion(spark, t, dv - 1).columns.contains("w"))
    assert(VersionedTable.columnMappingOf(spark, t) ===
      (Map("amount" -> "v"), Set("w")))
    // a new column named like the RETIRED physical is rejected — its
    // data would alias the dropped column's in old files
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commit(
        Seq((21L, 210L, 9L)).toDF("id", "amount", "w"), t,
        mode = "append", ts = "2026-01-04T00:00:00Z", mergeSchema = true)
    }
    // ...and so is one named like another column's ACTIVE physical
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commit(
        Seq((21L, 210L, 9L)).toDF("id", "amount", "v"), t,
        mode = "append", ts = "2026-01-04T00:00:00Z", mergeSchema = true)
    }
    // a genuinely fresh column evolves fine on a mapped table
    VersionedTable.commit(Seq((21L, 210L, "x")).toDF("id", "amount", "tag"), t,
      mode = "append", ts = "2026-01-05T00:00:00Z", mergeSchema = true)
    val head = VersionedTable.readVersion(spark, t)
    assert(head.columns.sorted.toSeq === Seq("amount", "id", "tag"))
    assert(head.filter(col("id") === 21).select("tag").head().getString(0) === "x")
    // clone carries the mapping: logical names from v0, evolves locally
    val tgt = freshTable()
    VersionedTable.cloneTable(spark, t, tgt, ts = "2026-01-06T00:00:00Z")
    assert(VersionedTable.readVersion(spark, tgt).columns.sorted.toSeq ===
      Seq("amount", "id", "tag"))
    VersionedTable.delete(spark, tgt, "amount >= 200", ts = "2026-01-07T00:00:00Z")
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === (1L to 19L).toSet)
    // checkpoint resolution preserves the map: push past the cadence so
    // the head resolves from a checkpoint, not the manifest chain
    (0 until 11).foreach { i =>
      VersionedTable.commit(Seq((100L + i, 1L, "y")).toDF("id", "amount", "tag"), t,
        mode = "append", ts = f"2026-01-08T$i%02d:00:00Z")
    }
    val resolved = VersionedTable.readVersion(spark, t)
    assert(resolved.columns.sorted.toSeq === Seq("amount", "id", "tag"))
    assert(resolved.filter(col("id") === 10).select("amount").head().getLong(0) === 100L)
    // CDF on the mapped table emits logical names
    val last = VersionedTable.latestVersion(spark, t)
    val feed = VersionedTable.changes(spark, t, Seq("id"), last - 1, last)
    assert(feed.columns.contains("amount") && !feed.columns.contains("v"))
    assert(feed.filter(col("_change_type") === "insert").count() === 1)
  }

  test("replaceWhere, commitWithRetry and MoR update run through the column map") {
    val t = freshTable()
    val base = df(1L to 40L: _*).repartitionByRange(4, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.renameColumn(spark, t, "v", "amount", ts = "2026-01-02T00:00:00Z")
    // predicate-scoped overwrite on the mapped name: the scope check,
    // discovery, survivor rewrite and batch write all cross the map
    val repl = Seq((5L, 5000L), (6L, 6000L)).toDF("id", "amount")
    VersionedTable.replaceWhere(repl, t, "id >= 5 AND id <= 6",
      ts = "2026-01-03T00:00:00Z")
    val head = VersionedTable.readVersion(spark, t)
    assert(head.filter(col("id") === 5).select("amount").head().getLong(0) === 5000L)
    assert(head.filter(col("id") === 7).select("amount").head().getLong(0) === 70L)
    // multi-writer append lands physical under the map
    VersionedTable.commitWithRetry(Seq((42L, 420L)).toDF("id", "amount"), t,
      ts = "2026-01-04T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 42).select("amount").head().getLong(0) === 420L)
    // ...and its evolution path honors the retirement guard too
    intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.commitWithRetry(Seq((43L, 1L, 2L)).toDF("id", "amount", "v"),
        t, ts = "2026-01-05T00:00:00Z", mergeSchema = true)
    }
    // MoR update through the map: vector + post-images, logical read-back
    VersionedTable.updateMergeOnRead(spark, t, "id = 42",
      Map("amount" -> "amount + 1"), ts = "2026-01-06T00:00:00Z",
      maxVectoredFraction = 1.0)
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 42).select("amount").head().getLong(0) === 421L)
  }

  test("bloom index follows a rename; constraints block rename/drop of referenced columns") {
    val t = freshTable()
    val base = (1L to 4000L).toDF("id").withColumn("v", col("id") * 10)
      .repartition(8, col("id"))
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
      bloomIndex = Seq("id"), bloomBits = 1 << 14)
    VersionedTable.renameColumn(spark, t, "id", "key", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.bloomConfigOf(spark, t) === Some((Seq("key"), 1 << 14)))
    // probes on the NEW name hit the sidecars keyed by the physical one
    assert(VersionedTable.prunedFiles(spark, t, "key = 2042").size <= 2)
    assert(VersionedTable.readWhere(spark, t, "key = 2042")
      .select("key").head().getLong(0) === 2042L)
    // an inherited-config append indexes under the physical name too
    VersionedTable.commit(Seq((9999L, 0L)).toDF("key", "v"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.prunedFiles(spark, t, "key = 9999").size <= 2)
    assert(VersionedTable.readWhere(spark, t, "key = 9999")
      .select("key").head().getLong(0) === 9999L)
    // a constraint referencing the column blocks rename AND drop
    VersionedTable.addConstraint(spark, t, "key_nn", "key IS NOT NULL",
      ts = "2026-01-04T00:00:00Z")
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t, "key", "k2", ts = "2026-01-05T00:00:00Z")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, t, "key", ts = "2026-01-05T00:00:00Z")
    }
    VersionedTable.dropConstraint(spark, t, "key_nn", ts = "2026-01-06T00:00:00Z")
    VersionedTable.renameColumn(spark, t, "key", "k2", ts = "2026-01-07T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSeq === Seq("k2", "v"))
  }

  test("generated columns: computed when omitted, validated when present, on every write face") {
    val t = freshTable()
    val base = df(1L to 20L: _*).withColumn("d", col("v") / 10)
    VersionedTable.commit(base, t, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    VersionedTable.addGeneratedColumn(spark, t, "d", "v / 10", ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.generatedColumnsOf(spark, t) === Map("d" -> "v / 10"))
    // the intended write shape: the batch OMITS the generated column
    VersionedTable.commit(Seq((21L, 210L)).toDF("id", "v"), t,
      mode = "append", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 21).select("d").head().getDouble(0) === 21.0)
    // a batch LYING about the derivation is rejected before any data lands
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.commit(Seq((22L, 220L, 99.0)).toDF("id", "v", "d"), t,
        mode = "append", ts = "2026-01-04T00:00:00Z")
    }
    // an explicit-but-correct batch passes
    VersionedTable.commit(Seq((22L, 220L, 22.0)).toDF("id", "v", "d"), t,
      mode = "append", ts = "2026-01-04T00:00:00Z")
    // merge computes the generated column on its updates frame
    VersionedTable.merge(Seq((5L, 500L)).toDF("id", "v"), t,
      keyCols = Seq("id"), ts = "2026-01-05T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 5).select("d").head().getDouble(0) === 50.0)
    // an UPDATE that changes the source without fixing the derivation
    // fails loudly (post-image gate) — Delta's behavior
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.update(spark, t, "id = 3", Map("v" -> "999"),
        ts = "2026-01-06T00:00:00Z")
    }
    VersionedTable.update(spark, t, "id = 3",
      Map("v" -> "999", "d" -> "99.9"), ts = "2026-01-06T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 3).select("v").head().getLong(0) === 999L)
    // declaring over data that violates the derivation is refused
    val t2 = freshTable()
    VersionedTable.commit(df(1L to 5L: _*).withColumn("d", lit(0.0)), t2,
      mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.addGeneratedColumn(spark, t2, "d", "v / 10",
        ts = "2026-01-02T00:00:00Z")
    }
    // rename of a referenced column is blocked while declared; dropping
    // the declaration releases it
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t, "v", "val2", ts = "2026-01-07T00:00:00Z")
    }
    VersionedTable.dropGeneratedColumn(spark, t, "d", ts = "2026-01-08T00:00:00Z")
    assert(VersionedTable.generatedColumnsOf(spark, t) === Map.empty)
    VersionedTable.renameColumn(spark, t, "v", "val2", ts = "2026-01-09T00:00:00Z")
    assert(VersionedTable.readVersion(spark, t).columns.toSet === Set("id", "val2", "d"))
  }

  test("compactSmall with zorderCols lays the folded output for 2-D pruning") {
    val t = freshTable()
    // sink-shaped arrival: 8 time-ordered batches, each spanning the
    // WHOLE (a, b) key space — zero locality in the input files
    (0 until 8).foreach { i =>
      val batch = spark.range(i * 500, (i + 1) * 500)
        .select(col("id"), pmod(col("id") * 37, lit(64)).as("a"),
          pmod(col("id") * 53, lit(64)).as("b"))
        .repartition(1)
      VersionedTable.commit(batch, t, mode = "append",
        ts = f"2026-01-01T$i%02d:00:00Z")
    }
    val before = idSet(VersionedTable.readVersion(spark, t))
    val cond = "a >= 0 AND a <= 15 AND b >= 0 AND b <= 15"
    assert(VersionedTable.prunedFiles(spark, t, cond).size === 8,
      "time-ordered input files must be unprunable (each spans the space)")
    val cv = VersionedTable.compactSmall(spark, t,
      smallBytes = 8L * 1024 * 1024, targetFileBytes = 4L * 1024,
      ts = "2026-01-02T00:00:00Z", zorderCols = Seq("a", "b"))
    val total = VersionedTable.snapshotFiles(spark, t, cv).size
    assert(total >= 4, s"fixture needs several output files, got $total")
    val kept = VersionedTable.prunedFiles(spark, t, cond).size
    assert(kept < total,
      s"z-laid compaction output must prune the 2-D box: kept $kept/$total")
    // content identical through the re-layout
    assert(idSet(VersionedTable.readVersion(spark, t)) === before)
    assert(idSet(VersionedTable.readWhere(spark, t, cond)) ===
      idSet(VersionedTable.readVersion(spark, t).filter(expr(cond))))
  }

  test("OPTIMIZE round-robin vs ZORDER layouts: identical hits through readVersion and readWhere") {
    val t = freshTable()
    val pts = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a * 64 + b, a, b))
      .toDF("id", "zone_id", "user_id")
    VersionedTable.commit(pts.repartition(8), t, mode = "overwrite",
      ts = "2026-01-01T00:00:00Z")
    // v1 round-robin, v2 Z-ORDERed on (zone_id, user_id), same target size
    VersionedTable.optimize(spark, t, targetFileBytes = 2L * 1024,
      ts = "2026-01-02T00:00:00Z")
    VersionedTable.optimize(spark, t, targetFileBytes = 2L * 1024,
      zorderCols = Seq("zone_id", "user_id"), ts = "2026-01-03T00:00:00Z")
    val cond = "zone_id BETWEEN 3 AND 9 AND user_id BETWEEN 40 AND 46"
    val want = (for (a <- 3L to 9L; b <- 40L to 46L) yield a * 64 + b).toSet
    Seq(1L, 2L).foreach { v =>
      assert(idSet(VersionedTable.readVersion(spark, t, v).filter(expr(cond))) === want,
        s"v$v readVersion")
      assert(idSet(VersionedTable.readWhere(spark, t, cond, v)) === want, s"v$v readWhere")
    }
    // the z layout must actually skip files, or readWhere proves nothing
    val total = VersionedTable.snapshotFiles(spark, t, 2L).size
    val kept = VersionedTable.prunedFiles(spark, t, cond, 2L).size
    assert(total >= 4 && kept < total, s"z layout kept $kept of $total files")
  }

  test("log lifecycle: 120 commitIfNew batches, maintain every 20 — opens flat, log bounded, rows and txn exact") {
    val t = freshTable()
    var opensEarly = 0L
    var opensLate = 0L
    (0 until 120).foreach { i =>
      val o0 = VersionedTable.metadataOpens.get()
      // a second stream that stops early: its txn manifests all expire
      val app = if (i < 10) "early" else "life"
      VersionedTable.commitIfNew(df(i.toLong), t, app, i.toLong,
        ts = java.time.Instant.EPOCH.plusSeconds(i.toLong).toString)
      val opens = VersionedTable.metadataOpens.get() - o0
      if (i < 20) opensEarly = math.max(opensEarly, opens)
      if (i >= 100) opensLate = math.max(opensLate, opens)
      if (i % 20 == 19)
        VersionedTable.maintain(spark, t, retainVersions = 10, graceMs = 0L,
          ts = java.time.Instant.EPOCH.plusSeconds(100000L + i).toString)
    }
    // per-batch metadata reads stay O(1 + K) as the log ages
    assert(opensLate <= opensEarly + VersionedTable.checkpointInterval,
      s"per-batch metadata opens crept: early max $opensEarly, late max $opensLate")
    // each maintain() expires the log below its anchor checkpoint
    val nManifests = new java.io.File(s"$t/_manifests").list().length
    val nCheckpoints = new java.io.File(s"$t/_checkpoints").list().length
    assert(nManifests <= 30 && nCheckpoints <= 4,
      s"log unbounded: $nManifests manifests, $nCheckpoints checkpoints")
    assert(idSet(VersionedTable.readVersion(spark, t)) === (0L until 120L).toSet)
    // txn watermarks survive every expireLog through the checkpoints
    assert(VersionedTable.lastTxn(spark, t, "life") === Some(119L))
    assert(VersionedTable.lastTxn(spark, t, "early") === Some(9L))
  }

  test("vacuum keeps clone-referenced files until the clone ref is released") {
    val src = freshTable()
    VersionedTable.commit(df(1, 2), src, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
    val tgt = freshTable()
    VersionedTable.cloneTable(spark, src, tgt, ts = "2026-01-02T00:00:00Z")
    assert(VersionedTable.cloneRefs(spark, src).map(_._1) === Seq(tgt))
    // source moves on: the cloned files become unreferenced by retention
    VersionedTable.commit(df(9), src, mode = "overwrite", ts = "2026-01-03T00:00:00Z")
    assert(VersionedTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L) === 0,
      "clone-referenced files must be pinned")
    assert(idSet(VersionedTable.readVersion(spark, tgt)) === Set(1L, 2L),
      "the clone must survive a default vacuum of its source")
    // releasing the ref (clone deleted / made self-contained) frees them
    assert(VersionedTable.releaseCloneRef(spark, src, tgt) === 1)
    assert(VersionedTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L) >= 1)
    intercept[Exception] {
      VersionedTable.readVersion(spark, tgt).collect()
    }
  }
}
