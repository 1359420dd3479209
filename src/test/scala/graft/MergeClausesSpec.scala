package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable
import graft.sources.VersionedTable.MergeAction.{Delete, Insert, Update}

/** Full MERGE clause semantics (Delta's builder re-derived —
  * reference: batch_scoring.py:182-185 uses the two-clause
  * whenMatchedUpdateAll/whenNotMatchedInsertAll shape; this spec pins
  * the general CDC-apply surface beyond it). */
class MergeClausesSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("vt_mc").toString

  private def base(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("id", "state", "amount")

  private def contents(t: String): Set[(Long, String, Long)] =
    VersionedTable.readVersion(spark, t)
      .select("id", "state", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("CDC apply: one commit folds updates, deletes and inserts") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "a", 20), (3, "a", 30)),
      t, mode = "overwrite")
    val changes = Seq(
      (1L, "u", 11L),   // update id 1
      (2L, "d", 0L),    // delete id 2
      (9L, "i", 90L),   // insert id 9
      (8L, "d", 0L)     // delete of an absent key: no-op (matches no clause group's row)
    ).toDF("id", "op", "amount")
    VersionedTable.mergeClauses(changes, t, Seq("id"),
      matched = Seq(
        Delete(Some("s.op = 'd'")),
        Update(set = Map("amount" -> "s.amount"))),
      notMatched = Seq(
        Insert(Some("s.op <> 'd'"),
          Map("id" -> "s.id", "state" -> "'new'", "amount" -> "s.amount"))))
    assert(contents(t) === Set(
      (1L, "a", 11L), (3L, "a", 30L), (9L, "new", 90L)))
  }

  test("UPDATE ALL / INSERT ALL defaults reproduce the plain upsert merge") {
    val tc = freshTable()
    val tu = freshTable()
    val b = base((1, "a", 10), (2, "b", 20))
    VersionedTable.commit(b, tc, mode = "overwrite")
    VersionedTable.commit(b, tu, mode = "overwrite")
    val ups = base((2, "B", 99), (5, "c", 50))
    VersionedTable.mergeClauses(ups, tc, Seq("id")) // defaults
    VersionedTable.merge(ups, tu, Seq("id"))
    assert(contents(tc) === contents(tu))
    assert(contents(tc) === Set((1L, "a", 10L), (2L, "B", 99L), (5L, "c", 50L)))
  }

  test("clause order: first true condition wins; unmatched-clause rows keep defaults") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 5), (2, "a", 50), (3, "a", 500)),
      t, mode = "overwrite")
    val src = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("id", "x")
    VersionedTable.mergeClauses(src, t, Seq("id"),
      matched = Seq(
        Update(Some("t.amount < 10"), Map("state" -> "'small'")),
        Update(Some("t.amount < 100"), Map("state" -> "'mid'"))),
      notMatched = Seq.empty)
    // id 3 matched the source but no clause condition: survives unchanged
    assert(contents(t) === Set(
      (1L, "small", 5L), (2L, "mid", 50L), (3L, "a", 500L)))
  }

  test("NOT MATCHED BY SOURCE: sync-to-source delete and stale-flag update") {
    val td = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "a", 20), (3, "a", 30)),
      td, mode = "overwrite")
    val src = Seq((1L, 0L)).toDF("id", "x")
    // full sync: rows absent from the source leave the table
    VersionedTable.mergeClauses(src, td, Seq("id"),
      matched = Seq.empty, notMatched = Seq.empty,
      notMatchedBySource = Seq(Delete()))
    assert(contents(td).map(_._1) === Set(1L))
    // conditional stale-flag: only cheap absent rows re-tag
    val tf = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "a", 20), (3, "a", 30)),
      tf, mode = "overwrite")
    VersionedTable.mergeClauses(src, tf, Seq("id"),
      matched = Seq.empty, notMatched = Seq.empty,
      notMatchedBySource = Seq(
        Update(Some("t.amount < 25"), Map("state" -> "'stale'"))))
    assert(contents(tf) === Set(
      (1L, "a", 10L), (2L, "stale", 20L), (3L, "a", 30L)))
  }

  test("extra ON conjunct (full-condition classification): failed pairs are not-matched on BOTH sides") {
    // ON t.id = s.id AND s.amount > t.amount — Delta's classification:
    // a key-matching pair failing the extra conjunct is invisible to
    // MATCHED clauses, its source row INSERTS, and its target row is
    // seen by NOT MATCHED BY SOURCE clauses
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "a", 20), (3, "a", 30)),
      t, mode = "overwrite")
    val src = Seq(
      (1L, "f", 100L), // fresh: full match → UPDATE
      (2L, "s", 5L)    // stale: key matches, extra fails → INSERT (dup key)
    ).toDF("id", "state", "amount")
    VersionedTable.mergeClauses(src, t, Seq("id"),
      matched = Seq(Update(set = Map("amount" -> "s.amount"))),
      notMatched = Seq(Insert()),
      notMatchedBySource = Seq(
        Update(set = Map("state" -> "'unseen'"))),
      extraOn = Some("s.amount > t.amount"))
    assert(contents(t) === Set(
      (1L, "a", 100L),      // matched UPDATE (only amount assigned)
      (2L, "unseen", 20L),  // target of the failed pair: bySource fired
      (2L, "s", 5L),        // source of the failed pair: inserted
      (3L, "unseen", 30L))) // no source row at all: bySource fired
    // duplicate-key ambiguity is judged under the FULL condition: two
    // source rows sharing a key are fine when at most one full-matches
    val t2 = freshTable()
    VersionedTable.commit(base((1, "a", 10)), t2, mode = "overwrite")
    val dup = Seq((1L, "x", 100L), (1L, "y", 5L)).toDF("id", "state", "amount")
    VersionedTable.mergeClauses(dup, t2, Seq("id"),
      matched = Seq(Update(set = Map("amount" -> "s.amount"))),
      notMatched = Seq.empty, notMatchedBySource = Seq.empty,
      extraOn = Some("s.amount > t.amount"))
    assert(contents(t2) === Set((1L, "a", 100L)))
    val both = Seq((1L, "x", 150L), (1L, "y", 200L)).toDF("id", "state", "amount")
    val e = intercept[IllegalArgumentException](
      VersionedTable.mergeClauses(both, t2, Seq("id"),
        matched = Seq(Update(set = Map("amount" -> "s.amount"))),
        notMatched = Seq.empty, notMatchedBySource = Seq.empty,
        extraOn = Some("s.amount > t.amount")))
    assert(e.getMessage.contains("multiple rows matching"))
  }

  test("duplicate source keys error only when they match a target row") {
    // the clause face with its default upsert clauses, and the merge preset
    val faces = Seq[(String, (DataFrame, String) => Long)](
      "mergeClauses" -> ((src, t) => VersionedTable.mergeClauses(src, t, Seq("id"))),
      "merge" -> ((src, t) => VersionedTable.merge(src, t, Seq("id"))))
    faces.foreach { case (face, run) =>
      val t = freshTable()
      VersionedTable.commit(base((1, "a", 10)), t, mode = "overwrite")
      val dupNoMatch = Seq((7L, "x", 1L), (7L, "y", 2L)).toDF("id", "state", "amount")
      // both insert — Delta inserts unmatched duplicates too
      run(dupNoMatch, t)
      assert(contents(t).count(_._1 == 7L) === 2, face)
      val dupMatch = Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("id", "state", "amount")
      val head = VersionedTable.latestVersion(spark, t)
      val e = intercept[IllegalArgumentException](run(dupMatch, t))
      assert(e.getMessage.contains("duplicate keys"), face)
      assert(VersionedTable.latestVersion(spark, t) === head, s"$face committed")
    }
  }

  test("NOT MATCHED BY SOURCE only: a duplicated source key keeps its matched row once") {
    val t = freshTable()
    VersionedTable.commit(Seq((1L, 10L), (2L, 1L)).toDF("id", "v"), t, mode = "overwrite")
    VersionedTable.mergeClauses(Seq((1L, "a"), (1L, "b")).toDF("id", "x"), t, Seq("id"),
      matched = Seq.empty, notMatched = Seq.empty,
      notMatchedBySource = Seq(Delete(Some("t.v < 5"))))
    val rows = VersionedTable.readVersion(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((1L, 10L)))
  }

  test("column names holding a space, a dot or a backtick merge through both faces") {
    Seq("my col", "a.b", "x`y").foreach { name =>
      Seq[(DataFrame, String) => Long](
        (src, t) => VersionedTable.merge(src, t, Seq("id")),
        (src, t) => VersionedTable.mergeClauses(src, t, Seq("id"))).foreach { run =>
        val t = freshTable()
        VersionedTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", name), t, mode = "overwrite")
        run(Seq((2L, 22L), (3L, 30L)).toDF("id", name), t)
        val rows = VersionedTable.readVersion(spark, t).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(rows === Set((1L, 10L), (2L, 22L), (3L, 30L)), name)
      }
    }
  }

  test("scoped rewrite: files without matches carry by reference") {
    val t = freshTable()
    // range layout so key pruning has distinct files to keep
    val wide = spark.range(100).select(col("id"),
      lit("a").as("state"), (col("id") * 10).as("amount"))
      .repartitionByRange(4, col("id"))
    VersionedTable.commit(wide, t, mode = "overwrite")
    val before = VersionedTable.snapshotFiles(spark, t)
    VersionedTable.mergeClauses(
      Seq((5L, 999L)).toDF("id", "amount"), t, Seq("id"),
      matched = Seq(Update(set = Map("amount" -> "s.amount"))),
      notMatched = Seq.empty)
    val after = VersionedTable.snapshotFiles(spark, t)
    assert(before.intersect(after).nonEmpty,
      "merge rewrote every file despite key pruning")
    assert(VersionedTable.readVersion(spark, t)
      .filter(col("id") === 5).select("amount").head().getLong(0) === 999L)
    assert(VersionedTable.rowCount(spark, t) === 100L)
  }

  test("partitioned table: clause merge moves rows across partitions, layout holds") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "b", 20)), t,
      mode = "overwrite", partitionBy = Seq("state"))
    VersionedTable.mergeClauses(
      Seq((2L, 0L), (3L, 0L)).toDF("id", "x"), t, Seq("id"),
      matched = Seq(Update(set = Map("state" -> "'c'"))),
      notMatched = Seq(Insert(values =
        Map("id" -> "s.id", "state" -> "'c'", "amount" -> "0"))))
    assert(contents(t) === Set((1L, "a", 10L), (2L, "c", 20L), (3L, "c", 0L)))
    val cFiles = VersionedTable.prunedFiles(spark, t, "state = 'c'")
    assert(cFiles.nonEmpty && cFiles.forall(_.contains("p__state=c")))
  }

  test("constraints gate clause outputs; generated columns compute on inserts") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10)), t, mode = "overwrite")
    VersionedTable.addConstraint(spark, t, "pos", "amount >= 0")
    intercept[graft.sources.VersionedTable.ConstraintViolationException] {
      VersionedTable.mergeClauses(Seq((1L, 0L)).toDF("id", "x"), t, Seq("id"),
        matched = Seq(Update(set = Map("amount" -> "-5"))),
        notMatched = Seq.empty)
    }
    // generated column computes on INSERT ALL rows that omit it
    val tg = freshTable()
    VersionedTable.commit(
      Seq((1L, 10L, 20L)).toDF("id", "amount", "double_amt"),
      tg, mode = "overwrite")
    VersionedTable.addGeneratedColumn(spark, tg, "double_amt", "amount * 2")
    VersionedTable.mergeClauses(
      Seq((2L, 30L)).toDF("id", "amount"), tg, Seq("id"))
    val got = VersionedTable.readVersion(spark, tg)
      .filter(col("id") === 2).select("double_amt").head().getLong(0)
    assert(got === 60L)
  }

  test("a vector-deleted row is NOT a match: re-merge inserts instead of resurrecting") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10), (2, "a", 20)), t, mode = "overwrite")
    VersionedTable.deleteMergeOnRead(spark, t, "id = 2", maxVectoredFraction = 1.0)
    VersionedTable.mergeClauses(
      Seq((2L, "r", 99L)).toDF("id", "state", "amount"), t, Seq("id"))
    assert(contents(t) === Set((1L, "a", 10L), (2L, "r", 99L)))
  }

  test("insert-only merge is append-shaped: zero files rewritten, existing keys excluded") {
    val t = freshTable()
    VersionedTable.commit(
      base((1, "a", 10), (2, "a", 20)).repartition(2), t, mode = "overwrite")
    val before = VersionedTable.snapshotFiles(spark, t).toSet
    // insert-if-absent over a mix of existing and new keys
    VersionedTable.mergeClauses(
      base((1, "x", 99), (3, "c", 30), (4, "d", 40)), t, Seq("id"),
      matched = Seq.empty, notMatched = Seq(Insert()))
    val after = VersionedTable.snapshotFiles(spark, t).toSet
    assert(before.subsetOf(after),
      "insert-only merge rewrote existing files (must be append-shaped)")
    // existing key 1 untouched, absent keys inserted
    assert(contents(t) === Set(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "c", 30L), (4L, "d", 40L)))
    assert(VersionedTable.rowCount(spark, t) === 4L)
  }

  test("clause validation: shapes and ordering are rejected up front") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10)), t, mode = "overwrite")
    val src = Seq((1L, 0L)).toDF("id", "x")
    intercept[IllegalArgumentException] { // INSERT as a MATCHED action
      VersionedTable.mergeClauses(src, t, Seq("id"),
        matched = Seq(Insert()), notMatched = Seq.empty)
    }
    intercept[IllegalArgumentException] { // UPDATE as a NOT MATCHED action
      VersionedTable.mergeClauses(src, t, Seq("id"),
        matched = Seq.empty, notMatched = Seq(Update()))
    }
    intercept[IllegalArgumentException] { // unconditional clause shadowing
      VersionedTable.mergeClauses(src, t, Seq("id"),
        matched = Seq(Update(), Delete(Some("s.x = 1"))),
        notMatched = Seq.empty)
    }
  }

  test("bySource pruning survives string literals containing \"t.\" (structural alias strip)") {
    val t = freshTable()
    // two commits → two range-disjoint files, so stats pruning actually
    // decides which files rewrite
    VersionedTable.commit(base((1, "st. petersburg", 10)), t, mode = "overwrite")
    VersionedTable.commit(base((2, "zzz", 20)), t, mode = "append")
    val src = Seq((2L, 0L)).toDF("id", "x")
    // a string-replace alias strip would mangle the literal to
    // 's petersburg', prune file 1 as provably-false, and silently skip
    // the update on the row that must receive it
    VersionedTable.mergeClauses(src, t, Seq("id"),
      matched = Seq.empty, notMatched = Seq.empty,
      notMatchedBySource = Seq(
        Update(Some("t.state = 'st. petersburg'"),
          Map("amount" -> "t.amount + 1"))))
    assert(contents(t) === Set((1L, "st. petersburg", 11L), (2L, "zzz", 20L)))
  }

  test("unknown SET / INSERT assignment targets are analysis errors, not silent no-ops") {
    val t = freshTable()
    VersionedTable.commit(base((1, "a", 10)), t, mode = "overwrite")
    val src = Seq((1L, 5L), (9L, 9L)).toDF("id", "amount")
    val e1 = intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.mergeClauses(src, t, Seq("id"),
        matched = Seq(Update(set = Map("amonut" -> "s.amount"))), // typo
        notMatched = Seq.empty)
    }
    assert(e1.getMessage.contains("amonut"))
    val e2 = intercept[VersionedTable.SchemaMismatchException] {
      VersionedTable.mergeClauses(src, t, Seq("id"),
        matched = Seq.empty,
        notMatched = Seq(Insert(values =
          Map("id" -> "s.id", "valeu" -> "s.amount")))) // typo
    }
    assert(e2.getMessage.contains("valeu"))
    // nothing committed by either rejected call
    assert(contents(t) === Set((1L, "a", 10L)))
  }
}
