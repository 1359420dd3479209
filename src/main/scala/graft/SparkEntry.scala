package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Analytics, RangeJoin}
import graft.dedup.Dedup
import graft.features.FeatureEngineering
import graft.ml.{Experiments, Models}
import graft.mobility.Mobility
import graft.monitoring.Monitoring
import graft.multimodal.Multimodal
import graft.pipeline.{Aggregates, Bronze, Gold, Silver}
import graft.quality.DataQuality
import graft.scoring.Scoring
import graft.similarity.Similarity
import graft.sources.VersionedTable
import graft.streaming.Streams
import graft.text.TextFunctions

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` key has a matching `oracleSql` entry (ANSI SQL run by
  * DuckDB over the same parquet tables) unless the operator is not
  * SQL-expressible, in which case the driver records a rows-only check.
  * Column names are aliased identically on both sides — the driver's
  * compare sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Aggregates.revenueDailyByZone(silver(spark, dir))
  }

  // ---- shared intermediates -------------------------------------------

  /** Memoized silver per (session, dir): every downstream query reuses the
    * same DataFrame object, so a persist() from [[warmCache]] benefits all
    * of them. Operator code itself stays pure — only this entry-point
    * memoizes. */
  private val silverCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def silver(s: SparkSession, dir: String): DataFrame =
    silverCache.getOrElseUpdate((s, dir),
      Silver.cleanEvents(Bronze.ingestEvents(Tables.events(s, dir))))

  /** Persist + materialize shared intermediates (called by Bench/Verify so
    * per-query timings reflect the operator, not the silver rebuild). */
  def warmCache(s: SparkSession, dir: String): Unit = {
    silver(s, dir).persist().count()
    ()
  }

  def clearCache(): Unit = {
    silverCache.values.foreach(_.unpersist())
    silverCache.clear()
  }

  /** DuckDB CTE mirroring [[Silver.cleanEvents]] — embedded in every
    * downstream oracle so each oracle stays self-contained. */
  private val silverCte: String =
    """WITH silver AS (
      |  SELECT event_id, ts, user_id, event_type, value, props, zone_id, event_date FROM (
      |    SELECT event_id, ts, user_id,
      |           lower(trim(event_type)) AS event_type,
      |           CASE WHEN lower(trim(event_type)) = 'error' THEN NULL ELSE value END AS value,
      |           props,
      |           CAST(json_extract_string(props, '$.k') AS BIGINT) AS zone_id,
      |           CAST(ts AS DATE) AS event_date,
      |           row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
      |    FROM events
      |    WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
      |  ) WHERE rn = 1
      |)""".stripMargin

  /** Monitoring windows split the 30-day dataset at its midpoint. */
  private val monitorSplit = "2024-01-15"

  /** Versioned-table fixtures are built ONCE per (builder, data dir) and
    * reused across calls — the `sharedSilver` precedent: a bench pass
    * times the versioned-table OPERATOR (time travel / history / CDF),
    * not tempdir + multi-commit fixture construction, and the best-of-2
    * second pass hits the same table the first built. Content is a pure
    * function of the data dir, so reuse is observation-equivalent. */
  private val vtFixtures =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Versioned-table fixture for `vt_tt`/`vt_h`: three commits in a fresh
    * temp dir (v0 overwrite signups, v1 append clicks, v2 rollback→v0).
    * `repartition(1)` pins one data file per commit so the history's
    * n_files is protocol-determined (1, then 1 carried + 1 new, then 1
    * re-pointed), independent of session parallelism. The dir is NOT
    * deleted here — the returned reads stay lazy until the driver dumps
    * them; fresh-JVM runs (fork=true) keep /tmp accumulation bounded. */
  private def buildVersionedTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("tt", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vt").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value").repartition(1)
      VersionedTable.commit(sv.filter(col("event_type") === "signup"), tbl,
        mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.commit(sv.filter(col("event_type") === "click"), tbl,
        mode = "append", ts = "2026-01-02T00:00:00Z")
      VersionedTable.rollback(s, tbl, 0L, ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Merge/delete fixture shared by `vt_m` and `vt_c` (identical
    * construction, previously duplicated inside each query): v0 =
    * signups; v1 = merge doubling every 3rd signup's value + inserting
    * clicks; v2 = delete cheap clicks. */
  private def buildMergeTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("merge", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtm").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv.filter(col("event_type") === "signup").repartition(1),
        tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val updates = sv.filter(col("event_type") === "signup" && col("event_id") % 3 === 0)
        .withColumn("value", col("value") * 2)
        .unionByName(sv.filter(col("event_type") === "click"))
      VersionedTable.merge(updates, tbl, keyCols = Seq("event_id"),
        ts = "2026-01-02T00:00:00Z")
      VersionedTable.delete(s, tbl, "event_type = 'click' AND value < 50",
        ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_ds` (the `spark.read.format("graft")` face): four
    * commits exercising everything the format must see through — v0
    * overwrite signups, v1 append clicks, v2 MoR delete (deletion
    * vector), v3 rename value→amount (column mapping). Reads go through
    * the registered data source, never the Scala API — the point IS the
    * format boundary. */
  private def buildDsTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("ds", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtds").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value").repartition(1)
      VersionedTable.commit(sv.filter(col("event_type") === "signup"), tbl,
        mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.commit(sv.filter(col("event_type") === "click"), tbl,
        mode = "append", ts = "2026-01-02T00:00:00Z")
      VersionedTable.deleteMergeOnRead(s, tbl, "value < 20",
        ts = "2026-01-03T00:00:00Z")
      VersionedTable.renameColumn(s, tbl, "value", "amount",
        ts = "2026-01-04T00:00:00Z")
      tbl
    })

  /** Data-skipping fixture for `vt_w`: one snapshot of silver's
    * (event_id, event_type, value) laid out by RANGE on `value`, so each
    * data file owns a value band and the manifest's footer stats give
    * `readWhere` real files to skip (numeric range + string IN pruning
    * both fire; the driver compare pins CONTENT — `readWhere ≡ filter` —
    * while the skipping itself is spec-asserted and measured in
    * BASELINE.md "10× scale stress", Corpus 10 and 11). */
  private def buildSkipTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("skip", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtw").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("value"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_sq` (the SQL DML face, graft.plans.GraftSqlDml):
    * v0 = signups committed through the library, then every mutation
    * through PURE SQL on the catalog-registered `USING graft` table —
    * v1 `UPDATE ... SET value = value * 2 WHERE event_id % 3 = 0`,
    * v2 `DELETE FROM ... WHERE value < 20`, v3 full-clause `MERGE INTO`
    * (matched update from the source, conditional not-matched insert).
    * The point IS the SQL boundary: no Scala DML call anywhere. */
  private def buildSqlDmlTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("sq", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtsq").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv.filter(col("event_type") === "signup").repartition(1),
        tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val name = s"vt_sq_tbl_${math.abs(dir.hashCode)}"
      s.sql(s"CREATE TABLE IF NOT EXISTS $name USING graft LOCATION '$tbl'")
      s.sql(s"UPDATE $name SET value = value * 2 WHERE event_id % 3 = 0")
      s.sql(s"DELETE FROM $name WHERE value < 20")
      val srcView = s"vt_sq_src_${math.abs(dir.hashCode)}"
      sv.filter(col("event_type") === "signup" && col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 100)
        .unionByName(sv.filter(col("event_type") === "click"))
        .createOrReplaceTempView(srcView)
      s.sql(
        s"""MERGE INTO $name t USING $srcView s ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED AND s.value >= 50 THEN INSERT *
           |""".stripMargin)
      tbl
    })

  /** Fixture for `vt_se` — the pure-SQL END-TO-END life cycle: every
    * statement below is `spark.sql`, nothing touches the Scala API, so
    * the whole arc works in a session configured ONLY via
    * `spark.sql.extensions` (the no-Scala-imports story the SQL faces
    * exist for). v0 `CREATE TABLE ... USING graft AS SELECT` (even
    * customers), v1 `INSERT INTO` (odd customers), v2 `MERGE INTO` on a
    * DIFFERENTLY-NAMED key (`ON t.id = s.cust_id` — the CDC shape; +1000
    * to every 7th balance), v3 `OPTIMIZE` (maintenance; content
    * unchanged). */
  private def buildSqlE2eTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("se", dir), {
      val loc = java.nio.file.Files.createTempDirectory("graft_vtse").toString
      val name = s"vt_se_tbl_${math.abs(dir.hashCode)}"
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$loc' AS
           |SELECT c_custkey AS id, c_acctbal AS bal
           |FROM parquet.`$dir/customer.parquet` WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(
        s"""INSERT INTO $name
           |SELECT c_custkey, c_acctbal
           |FROM parquet.`$dir/customer.parquet` WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW vt_se_src AS
           |SELECT c_custkey AS cust_id, c_acctbal + 1000 AS newbal
           |FROM parquet.`$dir/customer.parquet` WHERE c_custkey % 7 = 0""".stripMargin)
      s.sql(
        s"""MERGE INTO $name t USING vt_se_src s ON t.id = s.cust_id
           |WHEN MATCHED THEN UPDATE SET bal = s.newbal""".stripMargin)
      s.sql(s"OPTIMIZE $name")
      name
    })

  /** Fixture for `vt_rw`: the range-laid silver snapshot (same layout as
    * `vt_w`'s, separate table — replaceWhere MUTATES it) followed by one
    * predicate-scoped overwrite: the [30, 60) value band's rows are
    * replaced by recomputed rows (`event_type` re-tagged `_r`). The
    * idempotent-re-ingest shape: only band-intersecting files rewrite,
    * out-of-band files carry by reference, NULL-value rows survive
    * (three-valued scope). */
  private def buildReplaceTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("rw", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtrw").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("value"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val repl = sv.filter(col("value") >= 30.0 && col("value") < 60.0)
        .withColumn("event_type", concat(col("event_type"), lit("_r")))
      VersionedTable.replaceWhere(repl, tbl,
        "value >= 30.0 AND value < 60.0", ts = "2026-01-02T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_rn`: ZERO-REWRITE schema surgery (column mapping,
    * Delta name mode) — the range-laid silver snapshot, then
    * `renameColumn(value → amount)` and `dropColumn(event_type)` (both
    * metadata-only: the parquet files keep their physical columns
    * untouched), then a COW delete THROUGH the mapped name (stats
    * pruning consults the map). The end state is plain SQL over
    * silver, so the driver oracle pins the whole rename/drop/read/DML
    * composition row-for-row. */
  private def buildRenameTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("rn", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtrn").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("value"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.renameColumn(s, tbl, "value", "amount", ts = "2026-01-02T00:00:00Z")
      VersionedTable.dropColumn(s, tbl, "event_type", ts = "2026-01-03T00:00:00Z")
      VersionedTable.delete(s, tbl, "amount < 10.0", ts = "2026-01-04T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_pb`: silver committed HIVE-PARTITIONED by
    * `event_type` (the reference's standing write shape —
    * bronze_loader.py:56 partitions bronze by requested_date,
    * batch_scoring.py:173 by (event_date, city)), then DML THROUGH the
    * layout: a partition-scoped COW delete of cheap clicks, and an
    * UPDATE that re-tags high-value purchases `vip` — rows MOVING to a
    * partition directory that did not exist at v0 (partition values
    * ride in the data, so the rewrite lands them correctly with no
    * special casing). The read is partition-pruned (`event_type IN`
    * opens only the two matching value directories — exact, because
    * files are value-homogeneous); the driver oracle pins the full
    * delete+move+prune composition row-for-row. */
  private def buildPartitionedTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("pb", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtpb").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv, tbl, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", partitionBy = Seq("event_type"))
      VersionedTable.delete(s, tbl, "event_type = 'click' AND value < 10.0",
        ts = "2026-01-02T00:00:00Z")
      VersionedTable.update(s, tbl, "event_type = 'purchase' AND value >= 90.0",
        Map("event_type" -> "'vip'"), ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_mc`: FULL-CLAUSE MERGE (the CDC-apply shape) over
    * silver — one commit folds a change feed carrying conditional
    * deletes (`op = 'd'`), updates (value re-priced from the source),
    * inserts (new ids, `op = 'i'`), and a NOT MATCHED BY SOURCE
    * stale-flag update of cheap rows the feed no longer mentions. The
    * oracle rebuilds the same end state as three joins (inner /
    * anti-by-source / anti-by-target) so every clause's first-true-wins
    * semantics is pinned row-for-row. */
  private def buildClauseMergeTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("mc", dir), {
      import VersionedTable.MergeAction.{Delete, Insert, Update}
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtmc").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv.repartitionByRange(4, col("event_id")), tbl,
        mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      val src = sv.filter(col("event_id") % 2 === 0)
        .select(col("event_id"),
          when(col("event_id") % 10 === 0, "d").otherwise("u").as("op"),
          (col("value") + 1000.0).as("new_value"))
        .unionByName(sv.filter(col("event_id") % 5 === 1)
          .select((col("event_id") + 1000000000L).as("event_id"),
            lit("i").as("op"), (col("value") + 1000.0).as("new_value")))
      VersionedTable.mergeClauses(src, tbl, Seq("event_id"),
        matched = Seq(
          Delete(Some("s.op = 'd'")),
          Update(set = Map("value" -> "s.new_value"))),
        notMatched = Seq(
          Insert(Some("s.op <> 'd'"), Map("event_id" -> "s.event_id",
            "event_type" -> "'inserted'", "value" -> "s.new_value"))),
        notMatchedBySource = Seq(
          Update(Some("t.value < 5.0"), Map("event_type" -> "'stale'"))),
        ts = "2026-01-02T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_cv`: CONVERT TO TABLE over a plain parquet dump of
    * silver (range-laid on value) — the in-place migration path: the
    * v0 manifest references the foreign-named files with zero bytes
    * rewritten, then a COW delete THROUGH the converted layout proves
    * DML discovery resolves foreign names (the root-relative `__file`
    * fallback) and migrates touched files natively. */
  private def buildConvertTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("cv", dir), {
      val d = java.nio.file.Files.createTempDirectory("graft_vtcv").toString
      silver(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("value"))
        .write.mode("overwrite").parquet(d)
      VersionedTable.convert(s, d, ts = "2026-01-01T00:00:00Z")
      VersionedTable.delete(s, d, "value < 10.0", ts = "2026-01-02T00:00:00Z")
      d
    })

  /** Fixture for `vt_ow`: partition-scoped OPTIMIZE — silver landed
    * hive-partitioned by event_type in two commits (so each value dir
    * holds several small files), then `optimizeWhere` folds ONLY the
    * click partition, Z-ordered on value. Content-identical by
    * contract; the oracle pins it (plain silver), while the spec
    * battery asserts the file-level scoping. */
  private def buildOptimizeWhereTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("ow", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtow").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv.filter(col("event_id") % 2 === 0).repartition(3),
        tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z",
        partitionBy = Seq("event_type"))
      VersionedTable.commit(sv.filter(col("event_id") % 2 =!= 0).repartition(3),
        tbl, mode = "append", ts = "2026-01-02T00:00:00Z")
      VersionedTable.optimizeWhere(s, tbl, "event_type = 'click'",
        ts = "2026-01-03T00:00:00Z", zorderCols = Seq("value", "event_id"))
      tbl
    })

  /** Fixture for `vt_cl`: a SHALLOW clone of the `vt_w` skip table (the
    * clone's v0 is pure metadata referencing the source's files), then a
    * COW delete on the clone — touched source-referenced files rewrite
    * locally, untouched ones stay absolute references, and the SOURCE
    * table (shared with `vt_w`) is never mutated. */
  private def buildCloneTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("cl", dir), {
      val src = buildSkipTable(s, dir)
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtcl").toString
      VersionedTable.cloneTable(s, src, tbl, ts = "2026-01-02T00:00:00Z")
      VersionedTable.delete(s, tbl, "event_type = 'click' AND value < 20",
        ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_dc` — DEEP CLONE self-containment: a range-laid
    * silver snapshot with one COW delete, deep-cloned through the SQL
    * face (`CREATE TABLE ... CLONE`, Delta's default no-SHALLOW
    * spelling), after which the SOURCE is emptied and vacuumed to zero
    * files — the clone must still serve the full cloned snapshot from
    * its own local copies (the property that distinguishes deep from
    * shallow; a shallow clone would be reading deleted files here). */
  private def buildDeepCloneTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("dc", dir), {
      val src = java.nio.file.Files.createTempDirectory("graft_vtdcs").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("value"))
      VersionedTable.commit(sv, src, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.delete(s, src, "event_type = 'error'",
        ts = "2026-01-02T00:00:00Z")
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtdc").toString + "/t"
      s.sql(s"CREATE TABLE graft.`$tbl` DEEP CLONE '$src'")
      VersionedTable.delete(s, src, "true", ts = "2026-01-03T00:00:00Z")
      VersionedTable.vacuum(s, src, retainVersions = 1, graceMs = 0L)
      tbl
    })

  /** Fixture for `vt_pp` — persisted TABLE PROPERTIES through pure SQL:
    * CTAS, `SET TBLPROPERTIES` (a policy key + user metadata + a
    * to-be-dropped key), `UNSET TBLPROPERTIES`. The read is `SHOW
    * TBLPROPERTIES`, so the whole prv/prop manifest-state round-trip
    * (set → inherit → unset → show) is on the oracle path. */
  private def buildPropsTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("pp", dir), {
      val loc = java.nio.file.Files.createTempDirectory("graft_vtpp").toString
      val name = s"vt_pp_tbl_${math.abs(dir.hashCode)}"
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.sql(
        s"""CREATE TABLE $name USING graft LOCATION '$loc' AS
           |SELECT r_regionkey AS id, r_name AS name
           |FROM parquet.`$dir/region.parquet`""".stripMargin)
      s.sql(s"ALTER TABLE $name SET TBLPROPERTIES (" +
        "'graft.checkpointInterval' = '5', 'team' = 'mobility', " +
        "'stage' = 'tmp')")
      // a data commit between SET and UNSET: properties must inherit
      // through the delta manifest untouched
      s.sql(s"INSERT INTO $name VALUES (99, 'atlantis')")
      s.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES ('stage')")
      name
    })

  /** Fixture for `vt_po` — DYNAMIC PARTITION OVERWRITE (Delta's
    * `partitionOverwriteMode=dynamic`): silver committed hive-
    * partitioned by `event_type`, then the click partition RECOMPUTED
    * (+1000) through a plain `.mode("overwrite")` format write with the
    * dynamic option — only the batch's partition replaces; every other
    * partition carries by reference (the no-hand-written-predicate
    * idempotent re-ingest shape). */
  private def buildDynPoTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("po", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtpo").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv, tbl, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", partitionBy = Seq("event_type"))
      sv.filter(col("event_type") === "click")
        .withColumn("value", col("value") + 1000)
        .write.format("graft").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("ts", "2026-01-02T00:00:00Z").save(tbl)
      tbl
    })

  /** Fixture for `vt_id`: a GENERATED ALWAYS AS IDENTITY table (start
    * 1000, step 7) filled by two appends. Each batch is
    * `repartition(1).sortWithinPartitions`, which pins the engine's
    * identity assignment to a DETERMINISTIC dense sequence (one
    * partition → monotonically_increasing_id counts 0..n-1 in the
    * sorted order), so the oracle replays the exact values with
    * row_number(); the second batch starts one step past the first's
    * recorded high-water mark — the transactional-counter contract. */
  private def buildIdentityTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("id", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtid").toString
      val sv = silver(s, dir).select("event_id")
      VersionedTable.commit(sv.limit(0), tbl, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z")
      VersionedTable.addIdentityColumn(s, tbl, "row_id",
        start = 1000L, step = 7L, ts = "2026-01-01T00:10:00Z")
      VersionedTable.commit(
        sv.filter(col("event_id") % 2 === 0)
          .repartition(1).sortWithinPartitions("event_id"),
        tbl, mode = "append", ts = "2026-01-02T00:00:00Z")
      VersionedTable.commit(
        sv.filter(col("event_id") % 2 =!= 0)
          .repartition(1).sortWithinPartitions("event_id"),
        tbl, mode = "append", ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_pt`: silver hash-laid on `event_id` (every file's
    * [min, max] spans the whole id domain — the layout where min/max
    * stats can never prune an equality probe) committed with a bloom
    * file index on `event_id`, so the point lookup's file skipping comes
    * entirely from the sidecar filters. */
  private def buildPointTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("pt", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtpt").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartition(8, col("event_id"))
      VersionedTable.commit(sv, tbl, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", bloomIndex = Seq("event_id"))
      tbl
    })

  /** Fixture for `vt_dv`: silver hash-laid on `event_id` (8 files, every
    * file holding a spread of ids — the scattered-delete shape) followed
    * by TWO merge-on-read deletes: a sparse id-keyed erasure (the GDPR
    * shape — a few rows in EVERY file; copy-on-write would rewrite the
    * whole table) and a predicate delete that REPLACES the first
    * vector's entries with superset vectors. No data file is ever
    * rewritten — both deletes are parquet deletion-vector datasets the
    * read side anti-joins away. */
  private def buildDvTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("dv", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtdv").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartition(8, col("event_id"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.deleteMergeOnRead(s, tbl, "event_id % 97 = 0",
        ts = "2026-01-02T00:00:00Z")
      VersionedTable.deleteMergeOnRead(s, tbl,
        "event_type = 'signup' AND value > 90", ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** Fixture for `vt_rg`: the `vt_dv` shape (hash layout + two
    * merge-on-read deletes leaving deletion vectors on most files)
    * followed by SQL `REORG TABLE ... APPLY (PURGE)` — the vectored
    * files rewrite without their soft-deleted rows, vector-free files
    * carry by reference, and a VACUUM at zero grace reclaims the purged
    * originals, so the oracle passes only if the rewritten files are
    * self-contained and content-identical. */
  private def buildReorgTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("rg", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtrg").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartition(8, col("event_id"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.deleteMergeOnRead(s, tbl, "event_id % 97 = 0",
        ts = "2026-01-02T00:00:00Z")
      VersionedTable.deleteMergeOnRead(s, tbl,
        "event_type = 'signup' AND value > 90", ts = "2026-01-03T00:00:00Z")
      s.sql(s"REORG TABLE graft.`$tbl` APPLY (PURGE)").collect()
      VersionedTable.vacuum(s, tbl, retainVersions = 1, graceMs = 0L)
      tbl
    })

  /** Fixture for `vt_fk` — FSCK REPAIR TABLE: silver hive-partitioned
    * by event_type, then a foreign process deletes the click
    * partition's data files from disk (the cloud-storage-incident
    * shape); FSCK drops the dead references in one metadata commit —
    * O(files) existence HEADs, zero data reads — so the snapshot scans
    * again. The oracle is silver minus the lost partition: it passes
    * only if the repair removed exactly the vanished files. */
  private def buildFsckTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("fk", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtfk").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
      VersionedTable.commit(sv, tbl, mode = "overwrite",
        ts = "2026-01-01T00:00:00Z", partitionBy = Seq("event_type"))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tbl)).iterator().asScala
        .filter(p => p.toString.contains("event_type=click") &&
          p.toString.endsWith(".parquet"))
        .toSeq.foreach(java.nio.file.Files.delete)
      s.sql(s"FSCK REPAIR TABLE graft.`$tbl`").collect()
      tbl
    })

  /** Fixture for `vt_u`: silver hash-laid on `event_id`, then BOTH
    * update flavors — a copy-on-write UPDATE (cheap clicks doubled,
    * touched files rewritten) and a merge-on-read UPDATE (expensive
    * purchases halved: matched rows vectored out + post-images appended,
    * zero touched files rewritten). Disjoint predicates, so the end
    * state is order-independent and the oracle is one nested CASE. */
  private def buildUpdateTable(s: SparkSession, dir: String): String =
    vtFixtures.getOrElseUpdate(("u", dir), {
      val tbl = java.nio.file.Files.createTempDirectory("graft_vtu").toString
      val sv = silver(s, dir).select("event_id", "event_type", "value")
        .repartition(8, col("event_id"))
      VersionedTable.commit(sv, tbl, mode = "overwrite", ts = "2026-01-01T00:00:00Z")
      VersionedTable.update(s, tbl, "event_type = 'click' AND value < 20",
        Map("value" -> "value * 2"), ts = "2026-01-02T00:00:00Z")
      VersionedTable.updateMergeOnRead(s, tbl,
        "event_type = 'purchase' AND value > 80",
        Map("value" -> "value * 0.5"), ts = "2026-01-03T00:00:00Z")
      tbl
    })

  /** DuckDB mirror of Mobility.transitions: consecutive different-zone
    * pairs per user in (ts, event_id) order, NULL zones dropped first. */
  private val mobTransCte: String =
    """trans AS (
      |  SELECT user_id, ts, origin, zone_id AS dest FROM (
      |    SELECT user_id, ts, zone_id,
      |           lag(zone_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS origin
      |    FROM silver WHERE zone_id IS NOT NULL
      |  ) WHERE origin IS NOT NULL AND origin <> zone_id
      |)""".stripMargin

  /** Unrolled power-iteration CTE chain mirroring Mobility.zonePageRank:
    * ten rounds of contrib → residual-spread, identical float shapes. */
  private val pageRankCtes: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references the previous one through two paths (contrib + the
    // carried-mass scalar), so inlining would expand the chain 2^10-fold
    // scaled-integer contribution sums (the repo float policy): each edge
    // term rounds to an integer at 10^15 scale, so the per-dest and
    // carried sums are exact in any accumulation order and the rank
    // vector is bit-identical to Spark's by induction
    val rounds = (1 to 10).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT od.dest AS zone_id,
         |         sum(round(od.p_dest * r${k - 1}.pr * 0.85 * 1e15, 0)) AS contrib
         |  FROM od JOIN r${k - 1} ON od.origin = r${k - 1}.zone_id GROUP BY 1
         |),
         |s$k AS MATERIALIZED (SELECT sum(contrib) AS s FROM c$k),
         |r$k AS MATERIALIZED (
         |  SELECT zs.zone_id,
         |         coalesce(c$k.contrib, 0.0) / 1e15 + (1.0 - s$k.s / 1e15) / nz.n AS pr
         |  FROM zs LEFT JOIN c$k USING (zone_id) CROSS JOIN s$k CROSS JOIN nz
         |)""".stripMargin
    }.mkString(",\n")
    s"""od AS MATERIALIZED (
       |  SELECT origin, dest,
       |         CAST(count(*) AS DOUBLE)
       |           / CAST(sum(count(*)) OVER (PARTITION BY origin) AS BIGINT) AS p_dest
       |  FROM trans GROUP BY 1, 2
       |),
       |zs AS MATERIALIZED (
       |  SELECT DISTINCT zone_id FROM (
       |    SELECT origin AS zone_id FROM od UNION ALL SELECT dest FROM od
       |  )
       |),
       |nz AS MATERIALIZED (SELECT count(*) AS n FROM zs),
       |r0 AS MATERIALIZED (SELECT zone_id, 1.0 / nz.n AS pr FROM zs CROSS JOIN nz),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of Mobility.zoneCommunities: 5 unrolled LPA rounds
    * over the symmetrized integer-weight edge table, each round voting
    * neighbors + the self-anchor (MATERIALIZED for the same inlining
    * reason as the PageRank rounds). */
  private val lpaCtes: String = {
    val rounds = (1 to 5).map { k =>
      s"""w$k AS MATERIALIZED (
         |  SELECT dst, label, CAST(sum(w) AS BIGINT) AS w_sum FROM (
         |    SELECT e.dst, l.label, e.w
         |    FROM edges e JOIN l${k - 1} l ON e.src = l.zone_id
         |    UNION ALL
         |    SELECT sw.zone_id AS dst, l.label, sw.w_self AS w
         |    FROM l${k - 1} l JOIN sw ON l.zone_id = sw.zone_id
         |  ) GROUP BY 1, 2
         |),
         |l$k AS MATERIALIZED (
         |  SELECT dst AS zone_id, label FROM (
         |    SELECT dst, label,
         |           row_number() OVER (PARTITION BY dst
         |             ORDER BY w_sum DESC, label ASC) AS rn
         |    FROM w$k
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""dir_e AS MATERIALIZED (
       |  SELECT origin, dest, count(*) AS w FROM trans GROUP BY 1, 2
       |),
       |edges AS MATERIALIZED (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT origin AS src, dest AS dst, w FROM dir_e
       |    UNION ALL
       |    SELECT dest AS src, origin AS dst, w FROM dir_e
       |  ) GROUP BY 1, 2
       |),
       |sw AS MATERIALIZED (
       |  SELECT dst AS zone_id, CAST(max(w) AS BIGINT) AS w_self
       |  FROM edges GROUP BY 1
       |),
       |l0 AS MATERIALIZED (SELECT zone_id, zone_id AS label FROM sw),
       |$rounds""".stripMargin
  }

  /** DuckDB index-ordered cosine mirroring Similarity.cosine. */
  private def duckCosine(a: String, b: String): String = {
    def sq(v: String) =
      s"sqrt(list_reduce(list_transform(generate_series(1, len($v)), i -> CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)), (x, y) -> x + y))"
    s"""list_reduce(list_transform(generate_series(1, len($a)), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
       |         / (${sq(a)} * ${sq(b)})""".stripMargin
  }

  /** DuckDB mirror of Similarity.lshTopK: plane count derived from corpus
    * size (LEAST(30, GREATEST(4, ceil(log2(N/64)))) — the 30 cap mirrors
    * autoPlanes' int-bucket ceiling), 4 independent hash tables with
    * disjoint global plane indexes, 1-bit MULTIPROBE on the query side
    * (each query probes its exact bucket plus the np one-plane-flipped
    * buckets per table — the deployed default), candidates deduped
    * across tables/probes, k=5, queries = vec_id < 10. */
  /** CTE chain (params → … → ranked) shared by the `v_lsh` oracle and the
    * `v_ev` recall-QA oracle. */
  private val lshAnnCtes: String =
    s"""params AS (
       |  SELECT LEAST(30, GREATEST(4, CAST(ceil(log2(count(*) / 64.0)) AS INT))) AS np FROM embeddings
       |),
       |planes AS (
       |  SELECT tt.t AS t, pp.p AS p, tt.t * params.np + pp.p AS gp
       |  FROM params, generate_series(0, 3) tt(t), generate_series(0, 63) pp(p)
       |  WHERE pp.p < params.np
       |),
       |dots AS (
       |  SELECT e.vec_id, pl.t, pl.p,
       |         list_reduce(list_transform(generate_series(1, 64), i ->
       |           CAST(embedding[i] AS DOUBLE)
       |             * CAST(((CAST(1103515245 AS BIGINT) * (pl.gp * 64 + i - 1) + 12345) % 2048) - 1024 AS DOUBLE)),
       |           (x, y) -> x + y) AS dot
       |  FROM embeddings e CROSS JOIN planes pl
       |),
       |bkt AS (
       |  SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2
       |),
       |qprobe AS (
       |  SELECT b.vec_id, b.t,
       |         CASE WHEN pp.p < 0 THEN b.bucket
       |              ELSE xor(b.bucket, CAST(power(2, pp.p) AS BIGINT)) END AS bucket
       |  FROM bkt b, params, generate_series(-1, 63) pp(p)
       |  WHERE b.vec_id < 10 AND pp.p < params.np
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bkt c JOIN qprobe q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.vec_id
       |),
       |scored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("qe.embedding", "ce.embedding")} AS cosine
       |  FROM cand
       |  JOIN embeddings qe ON query_id = qe.vec_id
       |  JOIN embeddings ce ON neighbor_id = ce.vec_id
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
       |  FROM scored
       |)""".stripMargin

  private val lshAnnOracleSql: String =
    s"""WITH $lshAnnCtes
       |SELECT query_id, neighbor_id, cosine, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin

  /** DuckDB mirror of Similarity.annEval: LSH top-5 (the `v_lsh` chain)
    * vs brute-force top-5 (the `v_bf` chain), one confusion row. */
  private val annEvalOracleSql: String =
    s"""WITH $lshAnnCtes,
       |pred AS (SELECT query_id, neighbor_id FROM ranked WHERE "rank" <= 5),
       |eq AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       |ec AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
       |escored AS (
       |  SELECT query_id, neighbor_id, ${duckCosine("q_emb", "c_emb")} AS cosine
       |  FROM ec CROSS JOIN eq WHERE query_id <> neighbor_id
       |),
       |eranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
       |  FROM escored
       |),
       |truth AS (SELECT query_id, neighbor_id FROM eranked WHERE "rank" <= 5),
       |cm AS (
       |  SELECT count(*) FILTER (WHERE p.query_id IS NOT NULL AND t.query_id IS NOT NULL) AS tp,
       |         count(*) FILTER (WHERE p.query_id IS NOT NULL AND t.query_id IS NULL) AS fp,
       |         count(*) FILTER (WHERE p.query_id IS NULL AND t.query_id IS NOT NULL) AS fn
       |  FROM pred p FULL OUTER JOIN truth t
       |    ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
       |)
       |SELECT tp, fp, fn, CAST(tp AS DOUBLE) / greatest(tp + fn, 1) AS recall_at_k
       |FROM cm""".stripMargin

  /** DuckDB mirror of Dedup.semanticBlockingEval on the vec_id < 1000
    * eval slice: hyperplane buckets (np = 4 planes, 2 tables — the fixed
    * eval parameters, not the corpus-scaled auto count) vs the exact
    * cosine-threshold pair set. */
  private val semanticBlockingOracleSql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
       |planes AS (
       |  SELECT tt.t AS t, pp.p AS p, tt.t * 4 + pp.p AS gp
       |  FROM generate_series(0, 1) tt(t), generate_series(0, 3) pp(p)
       |),
       |dots AS (
       |  SELECT e.vec_id, pl.t, pl.p,
       |         list_reduce(list_transform(generate_series(1, 64), i ->
       |           CAST(embedding[i] AS DOUBLE)
       |             * CAST(((CAST(1103515245 AS BIGINT) * (pl.gp * 64 + i - 1) + 12345) % 2048) - 1024 AS DOUBLE)),
       |           (x, y) -> x + y) AS dot
       |  FROM e CROSS JOIN planes pl
       |),
       |bkt AS (
       |  SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bkt a JOIN bkt b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |),
       |nc AS (SELECT count(*) AS n_cand FROM cand),
       |pred AS (
       |  SELECT vec_a, vec_b FROM cand
       |  JOIN e ea ON vec_a = ea.vec_id
       |  JOIN e eb ON vec_b = eb.vec_id
       |  WHERE ${duckCosine("ea.embedding", "eb.embedding")} >= 0.35
       |),
       |truth AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id
       |  WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.35
       |),
       |cm AS (
       |  SELECT count(*) FILTER (WHERE p.vec_a IS NOT NULL AND t.vec_a IS NOT NULL) AS tp,
       |         count(*) FILTER (WHERE p.vec_a IS NULL AND t.vec_a IS NOT NULL) AS fn
       |  FROM pred p FULL OUTER JOIN truth t
       |    ON p.vec_a = t.vec_a AND p.vec_b = t.vec_b
       |)
       |SELECT n_cand, tp, fn,
       |       CAST(tp AS DOUBLE) / greatest(tp + fn, 1) AS recall,
       |       CAST(tp AS DOUBLE) / greatest(n_cand, 1) AS cand_precision
       |FROM cm, nc""".stripMargin

  /** DuckDB CTE: distinct word-3-gram shingles per document (mirrors
    * Dedup.shingleCol). */
  private val shingleCte: String =
    """WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |    ELSE [] END) AS shingles
      |  FROM docs
      |),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)""".stripMargin

  /** DuckDB CTE chain `t → anchors → capped → paired → islands → runs`
    * mirroring every stage of Dedup.substringDups (md5 k=10 window
    * fingerprints via 1-based inclusive list slicing, the total-occurrence
    * boilerplate cap, the gaps-and-islands diagonal merge, minTokens=20) —
    * shared by the substring-runs oracle and the coverage oracle. */
  private val substrRunsCtes: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents
       |), anchors AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |         md5(array_to_string(toks[i:i+9], ' ')) AS fp
       |  FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 9, 0) + 1)) AS i) r
       |), capped AS (
       |  SELECT doc_id, pos, fp FROM (
       |    SELECT *, count(*) OVER (PARTITION BY fp) AS occ FROM anchors
       |  ) WHERE occ <= ${Dedup.DefaultStopShingleDf}
       |), paired AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
       |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |), islands AS (
       |  SELECT doc_a, doc_b, pos_a, pos_b,
       |         pos_a - pos_b AS diag,
       |         pos_a - CAST(row_number() OVER (
       |           PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS INT) AS grp
       |  FROM paired
       |), runs AS (
       |  SELECT doc_a, doc_b,
       |         min(pos_a) AS start_a, min(pos_b) AS start_b,
       |         max(pos_a) - min(pos_a) + 10 AS match_len
       |  FROM islands
       |  GROUP BY doc_a, doc_b, diag, grp
       |  HAVING max(pos_a) - min(pos_a) + 10 >= 20
       |)""".stripMargin

  /** DuckDB oracle for banded MinHash-LSH: k=16 with the band count
    * derived from the default threshold via [[Dedup.autoBands]] — the
    * SAME derivation the Spark side defaults to, so the faces move in
    * lockstep if the auto-selection ever changes. */
  /** CTE chain `sig → banded → pairs` (appended after [[shingleCte]]) —
    * shared by the minhash oracle and the cluster oracle. */
  private val minhashPairCtes: String = {
    val k = 16
    val bands = Dedup.autoBands(k, Dedup.DefaultLshThreshold, Dedup.Md5Family)
    val r = k / bands
    val sigDefs = (0 until k)
      .map(i => s"min(substr(md5('${i / r}:' || shingle), ${(i % r) * 8 + 1}, 8)) AS sig_$i")
      .mkString(",\n       ")
    val sigList = (0 until k).map(i => s"sig_$i").mkString("[", ", ", "]")
    val bandSelects = (0 until bands).map { b =>
      val h = (0 until r).map(j => s"sig_${b * r + j}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($h) AS band_hash, $sigList AS sig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""sig AS (
       |  SELECT doc_id,
       |       $sigDefs
       |  FROM ex GROUP BY doc_id
       |),
       |banded AS (
       |  $bandSelects
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private val minhashOracleSql: String =
    s"""$shingleCte,
       |$minhashPairCtes
       |SELECT doc_a, doc_b,
       |       CAST(len(list_filter(generate_series(1, 16), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 AS est_jaccard
       |FROM pairs""".stripMargin

  // ---- queries ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 medallion pipeline
    "brz" -> ((s, dir) => Bronze.ingestEvents(Tables.events(s, dir))),
    "sil" -> ((s, dir) => silver(s, dir)),
    "d_t" -> ((s, dir) => Gold.dimTime(silver(s, dir))),
    "d_u" -> ((s, dir) => Gold.dimUsers(silver(s, dir))),
    "d_z" -> ((s, dir) => Gold.dimZones(silver(s, dir))),
    "fc_e" -> ((s, dir) => {
      val sv = silver(s, dir)
      Gold.factEvents(sv, Gold.dimUsers(sv), Gold.dimZones(sv))
    }),
    "fc_p" -> ((s, dir) => {
      val sv = silver(s, dir)
      Gold.factPayments(sv, Gold.dimUsers(sv))
    }),
    // the reference's two-extra-dim fact join shape (dim_drivers +
    // dim_vehicle, silver_to_gold.py:69-82,:112-113) exercised through
    // the dims the events schema carries: event-type dim + the zone dim
    // in a second (origin) role
    "d_et" -> ((s, dir) => Gold.dimEventTypes(silver(s, dir))),
    "fc_w" -> ((s, dir) => {
      val sv = silver(s, dir)
      Gold.factEventsWide(sv, Gold.dimUsers(sv), Gold.dimZones(sv),
        Gold.dimEventTypes(sv))
    }),
    // SCD type-2 versioned dimension: zone-assignment validity intervals
    // per user (the reference's static dim_users cannot express history)
    "d_s2" -> ((s, dir) => Gold.scd2UserZones(silver(s, dir))),
    // Snapshot-versioned table (sources/VersionedTable.scala — the Delta
    // history/time-travel/rollback surface over plain parquet + a
    // manifest log): v0 = overwrite(signups), v1 = append(clicks),
    // v2 = rollback to v0. Each snapshot read is re-aggregated and the
    // oracle mirrors the slice CONTENT from silver — so the manifest
    // protocol (file carry-over on append, re-pointing on rollback,
    // ts-based asof resolution) is what's actually under test.
    "vt_tt" -> ((s, dir) => {
      val tbl = buildVersionedTable(s, dir)
      def snap(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(round(col("value") * 100)) / 100, 2).as("sum_value"))
          .withColumn("snap", lit(name))
      snap("v0", VersionedTable.readVersion(s, tbl, 0L))
        .unionByName(snap("v1", VersionedTable.readVersion(s, tbl, 1L)))
        .unionByName(snap("v2_rollback", VersionedTable.readVersion(s, tbl)))
        .unionByName(snap("asof_d1",
          VersionedTable.readAsOf(s, tbl, "2026-01-01T12:00:00Z")))
        .select("snap", "n_rows", "sum_value")
    }),
    // the commit log itself (Delta DESCRIBE HISTORY shape): version/ts/op
    // plus the snapshot's file count — single-file commits by
    // construction (repartition(1) in the builder), so n_files counts
    // carried manifests entries, not write parallelism
    "vt_h" -> ((s, dir) => VersionedTable.history(s, buildVersionedTable(s, dir))),
    // the SQL maintenance face (plans/GraftSqlParser.scala — Delta's
    // DESCRIBE HISTORY surface): the SAME protocol-determined log as
    // vt_h, read through a parsed SQL statement over the path spelling
    // (graft.`/path`) instead of the Scala API — the statement, the
    // injected parser, and the command's output schema are all on the
    // oracle path
    "vt_sh" -> ((s, dir) =>
      s.sql(s"DESCRIBE HISTORY graft.`${buildVersionedTable(s, dir)}`")),
    // the data-source face (sources/GraftDataSource.scala — the
    // reference's PRIMARY read idiom, delta_utils.py:22
    // spark.read.format("delta").load(path), ported verbatim with
    // "graft"): every read below goes through format("graft"), never
    // the Scala API — versionAsOf, timestampAsOf, the head read seeing
    // through a deletion vector AND a column rename, and a filtered
    // read whose predicate must reach the inner parquet scan. Content
    // is pinned against silver slices.
    "vt_ds" -> ((s, dir) => {
      val tbl = buildDsTable(s, dir)
      def snap(name: String, df: DataFrame, v: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(round(col(v) * 100)) / 100, 2).as("sum_value"))
          .withColumn("snap", lit(name))
      snap("v1", s.read.format("graft").option("versionAsOf", "1").load(tbl),
          "value")
        .unionByName(snap("latest", s.read.format("graft").load(tbl), "amount"))
        .unionByName(snap("asof_d1", s.read.format("graft")
          .option("timestampAsOf", "2026-01-01T12:00:00Z").load(tbl), "value"))
        .unionByName(snap("pushed", s.read.format("graft").load(tbl)
          .filter(col("amount") >= 100), "amount"))
        .select("snap", "n_rows", "sum_value")
    }),
    // SQL DML face: UPDATE / DELETE / MERGE INTO issued as spark.sql
    // statements on the catalog-registered USING graft table (the
    // analyzer-rule route, graft.plans.GraftSqlDml); each resulting
    // version re-aggregated, oracle rebuilds the same three states from
    // silver with CASE/anti-join SQL — the SQL statements and the
    // library DML they route to are pinned to agree by CONTENT
    "vt_sq" -> ((s, dir) => {
      val tbl = buildSqlDmlTable(s, dir)
      def snap(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(round(col("value") * 100)) / 100, 2).as("sum_value"))
          .withColumn("snap", lit(name))
      snap("updated", VersionedTable.readVersion(s, tbl, 1L))
        .unionByName(snap("deleted", VersionedTable.readVersion(s, tbl, 2L)))
        .unionByName(snap("merged", VersionedTable.readVersion(s, tbl, 3L)))
        .select("snap", "n_rows", "sum_value")
    }),
    // pure-SQL end-to-end: CTAS → INSERT → differently-named-key MERGE →
    // OPTIMIZE in the fixture; the READ is one spark.sql statement
    // spanning SQL time travel (VERSION AS OF) and the table_changes TVF
    // over the merge commit — no Scala API call anywhere on either side
    // of the boundary
    "vt_se" -> ((s, dir) => {
      val name = buildSqlE2eTable(s, dir)
      s.sql(
        s"""SELECT snap, n_rows, sum_bal FROM (
           |  SELECT 'v0_ctas' AS snap, count(*) AS n_rows,
           |         round(sum(round(bal * 100)) / 100, 2) AS sum_bal
           |  FROM $name VERSION AS OF 0
           |  UNION ALL
           |  SELECT 'v1_insert', count(*), round(sum(round(bal * 100)) / 100, 2)
           |  FROM $name VERSION AS OF 1
           |  UNION ALL
           |  SELECT 'head_optimized', count(*), round(sum(round(bal * 100)) / 100, 2)
           |  FROM $name
           |  UNION ALL
           |  SELECT concat('cdf_', _change_type), count(*),
           |         round(sum(round(bal * 100)) / 100, 2)
           |  FROM table_changes('$name', 2, 2, 'id')
           |  GROUP BY _change_type
           |)""".stripMargin)
    }),
    // copy-on-write MERGE + DELETE on a separate fixture (v0 = signups;
    // v1 = merge doubling every 3rd signup's value + inserting clicks;
    // v2 = delete cheap clicks): each snapshot re-aggregated, the oracle
    // rebuilds the same states from silver with CASE/filters — upsert
    // matching, insert fall-through and predicate delete are all pinned
    // by CONTENT (file-level carry-by-reference is spec-asserted)
    "vt_m" -> ((s, dir) => {
      val tbl = buildMergeTable(s, dir)
      def snap(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            round(sum(round(col("value") * 100)) / 100, 2).as("sum_value"))
          .withColumn("snap", lit(name))
      snap("v0", VersionedTable.readVersion(s, tbl, 0L))
        .unionByName(snap("merged", VersionedTable.readVersion(s, tbl, 1L)))
        .unionByName(snap("deleted", VersionedTable.readVersion(s, tbl, 2L)))
        .select("snap", "n_rows", "sum_value")
    }),
    // stats-based data-skipping READ (Delta file skipping as a read
    // face): readWhere evaluates the predicate against each file's
    // manifest-recorded min/max and opens only intersecting files — on
    // the range-laid fixture the value band prunes most of the snapshot
    // before any footer is touched. The oracle applies the SAME
    // predicate to silver: readWhere ≡ filter is the contract; pruned
    // plans returning identical rows is exactly what licenses skipping
    // at 100 TB
    "vt_w" -> ((s, dir) => {
      val tbl = buildSkipTable(s, dir)
      VersionedTable.readWhere(s, tbl,
        "value >= 30.0 AND value < 60.0 AND event_type IN ('purchase', 'signup')")
        .select("event_id", "event_type", "value")
    }),
    // bloom-indexed point lookup (Delta bloom filter index): equality
    // probe on a hash-laid high-cardinality id, where min/max stats keep
    // every file — the per-file bloom sidecars drop all but the owning
    // file (+ rare FPs) before any footer is opened. The oracle is the
    // same equality over silver: bloom skipping is sound (no false
    // negatives), so readWhere ≡ filter exactly
    "vt_pt" -> ((s, dir) => {
      val tbl = buildPointTable(s, dir)
      VersionedTable.readWhere(s, tbl, "event_id = 777")
        .select("event_id", "event_type", "value")
    }),
    // UPDATE, both execution flavors on one table (Delta UPDATE +
    // DV-backed update): COW rewrites touched files with SET applied to
    // cond-IS-TRUE rows (three-valued — NULL rows untouched); MoR
    // vectors the matched rows out and appends post-images, rewriting
    // nothing. The oracle recomputes the end state with one nested
    // CASE, so the driver compare pins BOTH flavors' row-level
    // semantics (multiplications are exact in binary FP — bit-stable)
    "vt_u" -> ((s, dir) => {
      val tbl = buildUpdateTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // merge-on-read delete (Delta deletion vectors): two scattered
    // deletes recorded as per-file row-position vectors — zero data
    // files rewritten (spec-asserted); the read anti-joins the broadcast
    // vectors on (file, row position). The oracle applies both delete
    // predicates row-wise with three-valued semantics, so the driver
    // compare pins the END STATE of the vectored table exactly
    "vt_dv" -> ((s, dir) => {
      val tbl = buildDvTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // REORG APPLY (PURGE): deletion vectors materialized by rewriting
    // only the vectored files, then a zero-grace vacuum reclaims the
    // originals — same end state as vt_dv, now with the soft-deleted
    // bytes actually gone (the oracle passes only if the purge rewrite
    // was content-identical AND self-contained post-vacuum)
    "vt_rg" -> ((s, dir) => {
      val tbl = buildReorgTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // FSCK REPAIR TABLE: references to files a foreign process deleted
    // from disk drop in one metadata commit; the surviving snapshot is
    // exactly silver minus the lost partition
    "vt_fk" -> ((s, dir) => {
      val tbl = buildFsckTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // shallow clone + independent evolution (Delta CLONE SHALLOW): the
    // clone's v0 references the source's files by absolute path (zero
    // data copied), then a COW delete rewrites only touched files
    // locally — the oracle applies clone-then-delete semantics row-wise
    // to silver; the shared vt_w source table is never mutated
    "vt_cl" -> ((s, dir) => {
      val tbl = buildCloneTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // DEEP clone (Delta's default CLONE): full local copy, fresh v0,
    // SELF-CONTAINED — the fixture empties and vacuums the SOURCE to
    // zero files after cloning, so this read only matches the oracle
    // if the clone truly owns its data (shallow references would be
    // dangling); stats/DV/row-count metadata carried with the copies
    "vt_dc" -> ((s, dir) => {
      val tbl = buildDeepCloneTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // persisted TABLE PROPERTIES, pure SQL: CTAS → SET TBLPROPERTIES →
    // INSERT (delta inheritance) → UNSET → SHOW; the oracle pins the
    // exact surviving key/value set
    "vt_pp" -> ((s, dir) => s.sql(s"SHOW TBLPROPERTIES ${buildPropsTable(s, dir)}")),
    // identity column: engine-assigned GENERATED ALWAYS values over two
    // appends — dense per batch (single-partition fixture), the second
    // batch continuing one step past the first's high-water mark; the
    // oracle replays the exact sequence with row_number()
    "vt_id" -> ((s, dir) => {
      val tbl = buildIdentityTable(s, dir)
      VersionedTable.readVersion(s, tbl).select("event_id", "row_id")
    }),
    // dynamic partition overwrite: the click partition recomputed via
    // .mode("overwrite") + partitionOverwriteMode=dynamic — the oracle
    // recomputes the end state row-wise (clicks +1000, everything else
    // untouched), pinning that ONLY the batch's partition replaced
    "vt_po" -> ((s, dir) => {
      val tbl = buildDynPoTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // predicate-scoped overwrite (Delta replaceWhere): the [30,60) value
    // band's rows atomically replaced with a recomputed batch, one
    // copy-on-write version — only band-intersecting files rewrote. The
    // oracle recomputes the SAME end state row-wise from silver: band
    // rows re-tagged, out-of-band and NULL-value rows untouched (NULL
    // scope evaluates to not-replaced, three-valued logic)
    "vt_rw" -> ((s, dir) => {
      val tbl = buildReplaceTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // zero-rewrite rename + drop (column mapping): the head reads the
    // renamed column and not the dropped one, with a COW delete running
    // through the mapped name — all metadata commits, zero files
    // rewritten by the schema surgery (spec-asserted)
    "vt_rn" -> ((s, dir) => {
      val tbl = buildRenameTable(s, dir)
      VersionedTable.readVersion(s, tbl).select("event_id", "amount")
    }),
    // hive-partitioned table: partition-pruned read (IN over the value
    // dirs) after a partition-scoped delete and a cross-partition UPDATE
    "vt_pb" -> ((s, dir) => {
      val tbl = buildPartitionedTable(s, dir)
      VersionedTable.readWhere(s, tbl, "event_type IN ('click', 'vip')")
        .select("event_id", "event_type", "value")
    }),
    // partition-scoped OPTIMIZE: the click partition folded + z-laid,
    // everything else carried by reference; content-identical end state
    "vt_ow" -> ((s, dir) => {
      val tbl = buildOptimizeWhereTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // CONVERT TO TABLE: in-place migration of a plain parquet dir,
    // then a COW delete through the converted (foreign-named) layout
    "vt_cv" -> ((s, dir) => {
      val tbl = buildConvertTable(s, dir)
      VersionedTable.readVersion(s, tbl)
        .select("event_id", "event_type", "value")
    }),
    // full-clause MERGE (CDC apply): conditional delete/update/insert +
    // not-matched-by-source, one atomic commit, scoped COW rewrite
    "vt_mc" -> ((s, dir) => {
      val tbl = buildClauseMergeTable(s, dir)
      VersionedTable.readVersion(s, tbl).select("event_id", "event_type", "value")
    }),
    // metadata-only aggregates over the same partitioned table: per-
    // partition COUNT(*) from manifest row counts (partition-aligned
    // countWhere opens ZERO data files — spec-proven on corrupted
    // files) plus the total; mixed-predicate scopes take the exact
    // boundary-scan path
    "vt_cn" -> ((s, dir) => {
      import s.implicits._
      val tbl = buildPartitionedTable(s, dir)
      val scopes = Seq("click", "purchase", "signup", "error", "vip")
        .map(t => t -> s"event_type = '$t'") :+
        ("vip_hi" -> "event_type = 'vip' AND value >= 95.0")
      (scopes.map { case (name, cond) =>
        (name, VersionedTable.countWhere(s, tbl, cond))
      } :+ (("total", VersionedTable.rowCount(s, tbl))))
        .toDF("scope", "n")
    }),
    // change data feed over the SAME merge+delete fixture: row-level
    // insert/update-pair/delete classification from the manifest diff —
    // only files added/removed between versions are read; unchanged rows
    // inside rewritten files cancel in the keyed compare, so the oracle
    // (which rebuilds the expected feed from silver with CASE logic) pins
    // exactly the copy-on-write rewrite semantics. Identity updates
    // (value 0 or NULL: doubling is a no-op) must NOT surface — the
    // oracle's value <> 0 guard checks that cancellation too.
    "vt_c" -> ((s, dir) => {
      val tbl = buildMergeTable(s, dir)
      VersionedTable.changes(s, tbl, Seq("event_id"), 0L, 1L)
        .withColumn("step", lit("v0_v1"))
        .unionByName(VersionedTable.changes(s, tbl, Seq("event_id"), 1L, 2L)
          .withColumn("step", lit("v1_v2")))
    }),
    // the SAME feed through the SQL table function (plans/GraftSqlDml
    // tableChanges — the Databricks table_changes idiom): versions 1..2
    // of the merge fixture = changes(0,1) ∪ changes(1,2); the commit
    // stamp maps to vt_c's step label, so ONE oracle shape pins both
    // the option-based CDF reader and the TVF
    "vt_tc" -> ((s, dir) => {
      val tbl = buildMergeTable(s, dir)
      s.sql(s"SELECT * FROM table_changes('$tbl', 1, 2, 'event_id')")
        .withColumn("step", concat(lit("v"), col("_commit_version") - 1,
          lit("_v"), col("_commit_version")))
        .drop("_commit_version", "_commit_timestamp")
    }),
    "a_dem" -> ((s, dir) => Aggregates.demandHourlyByZone(silver(s, dir))),
    // incremental materialized-view maintenance: the standing zone×hour
    // revenue view updated by MERGING the last day's batch into the
    // partial-aggregate state built from prior days — the 100 TB pattern
    // where history is never rescanned. The oracle recomputes the view
    // from scratch over all days; bit-exact equality (associative
    // partials: count / exact-cents sum / min / max) is what licenses
    // running the view incrementally forever.
    "iv_ag" -> ((s, dir) => {
      val sv = silver(s, dir)
      val maxD = sv.agg(max(col("event_date")).as("__max_date"))
      val hist = sv.crossJoin(broadcast(maxD))
        .filter(col("event_date") < col("__max_date")).drop("__max_date")
      val delta = sv.crossJoin(broadcast(maxD))
        .filter(col("event_date") === col("__max_date")).drop("__max_date")
      Aggregates.revenueViewFromState(
        Aggregates.mergeRevenueState(
          Aggregates.revenueStateByZoneHour(hist),
          Aggregates.revenueStateByZoneHour(delta)))
    }),
    "a_rev" -> ((s, dir) => Aggregates.revenueDailyByZone(silver(s, dir))),
    "a_ur" -> ((s, dir) => Aggregates.userDailySummary(silver(s, dir))),
    "a_pv" -> ((s, dir) => Aggregates.eventTypePivot(silver(s, dir))),
    "a_pc" -> ((s, dir) => Aggregates.valuePercentilesByZone(silver(s, dir))),
    // RANGE-frame trailing 7d window: frame bounded by day DISTANCE, so
    // gap days never let the frame reach back too far (rows frames do)
    "a_rng" -> ((s, dir) => Aggregates.revenueTrailing7dByZone(silver(s, dir))),
    // second-moment profile: corr/covar_samp/stddev_samp in one aggregate
    "a_cr" -> ((s, dir) => Aggregates.valueHourStatsByZone(silver(s, dir))),
    "a_cum" -> ((s, dir) => Aggregates.revenueCumulativeByZone(silver(s, dir))),
    "a_ret" -> ((s, dir) => Aggregates.retentionCohorts(silver(s, dir))),
    "a_fun" -> ((s, dir) => Aggregates.conversionFunnel(silver(s, dir))),
    // exact-counter corpus profile (oracle green); the HLL++/quantile
    // sketch variant (corpusProfile) stays spec-asserted against these
    // exact counterparts — sketch estimates are implementation-specific
    "dq_pf" -> ((s, dir) => DataQuality.corpusProfileExact(Tables.documents(s, dir))),
    // exact distinct ledger (oracle green); the per-day-HLL union
    // variant (sketchUnionDistinct) stays spec-asserted — merged-vs-exact
    // tolerance — because sketch bytes are implementation-specific
    "dq_s" -> ((s, dir) => DataQuality.distinctLedger(silver(s, dir))),
    "dq_sm" -> ((s, dir) => DataQuality.summary(
      silver(s, dir), Seq("event_id", "user_id", "ts", "event_type", "value", "zone_id"))),
    // k-anonymity privacy audit: QI = (event_type, hour-of-day), the
    // protected individual is user_id; at_risk marks QI classes shared
    // by fewer than 5 distinct users
    // join-key skew pre-flight on the user key: top-10 hottest users with
    // row share, straggler multiple and the integer salt factor an
    // unsalted shuffle on that key would need
    "dq_kh" -> ((s, dir) => DataQuality.keySkewReport(silver(s, dir), "user_id")),
    "dq_ka" -> ((s, dir) => DataQuality.kAnonymity(
      Tables.events(s, dir).withColumn("hour", hour(col("ts"))),
      Seq("event_type", "hour"), "user_id")),
    // freshness SLA: hours of lag behind the freshest event type; the
    // 30-day synthetic window keeps every type current, so the alert
    // column exercises the FALSE branch (the spec covers TRUE)
    "dq_fr" -> ((s, dir) => DataQuality.freshness(silver(s, dir), "ts", "event_type")),
    // declarative expectation suite: 6 rules, ONE scan — not-null/unique/
    // range/set/regex violation counts; value rules intentionally include
    // failing rules (error events null the value; range tops at ~490)
    "dq_e" -> ((s, dir) => DataQuality.expectations(silver(s, dir), Seq(
      DataQuality.ExpectNotNull("user_id"),
      DataQuality.ExpectNotNull("value"),
      DataQuality.ExpectUnique("event_id"),
      DataQuality.ExpectBetween("value", 0, 200),
      DataQuality.ExpectInSet("event_type",
        Seq("view", "click", "purchase", "signup", "error")),
      DataQuality.ExpectRegex("props", "^\\{.*\\}$")))),
    // §2.2 feature engineering
    "f_dem" -> ((s, dir) => FeatureEngineering.demandFeatures(silver(s, dir))),
    "f_sg" -> ((s, dir) => FeatureEngineering.surgeFeatures(silver(s, dir))),
    "f_ch" -> ((s, dir) => FeatureEngineering.churnFeatures(silver(s, dir))),
    // leave-one-out target encoding: event_type → mean(value) over the
    // OTHER rows of the category (leakage-free categorical feature)
    "f_te" -> ((s, dir) =>
      FeatureEngineering.targetEncodeLoo(silver(s, dir), "event_type", "value")
        .select("event_id", "event_type", "value", "target_enc")),
    // quantile discretization: decile cutpoints from one aggregate,
    // broadcast back, bin assigned map-side (no global sort)
    "f_bin" -> ((s, dir) =>
      FeatureEngineering.quantileBins(Tables.orders(s, dir), "o_totalprice")),
    // robust per-zone scaling: z-score from exact-cents moments +
    // winsorization at exact p05/p95 — stats broadcast, projection at
    // scan speed
    "f_std" -> ((s, dir) =>
      FeatureEngineering.robustScale(silver(s, dir), "zone_id", "value")
        .select("event_id", "zone_id", "value", "z_value", "value_wins")),
    // §2.3 scoring + monitoring
    "sc_dem" -> ((s, dir) =>
      Scoring.scoreDemand(FeatureEngineering.demandFeatures(silver(s, dir)))),
    "sc_sg" -> ((s, dir) =>
      Scoring.scoreSurge(FeatureEngineering.surgeFeatures(silver(s, dir)))),
    "sc_mt" -> ((s, dir) =>
      Scoring.scoringMetrics(
        Scoring.scoreDemand(FeatureEngineering.demandFeatures(silver(s, dir))),
        "event_count", "predicted_demand")),
    // idempotent MERGE semantics (reference batch_scoring.py:161-186):
    // run_1 scores everything, run_2 re-scores a third of the zones 10%
    // higher at a later scored_at — latest-wins per (date, hour, zone)
    "sc_ups" -> ((s, dir) => {
      val scored = Scoring.scoreDemand(FeatureEngineering.demandFeatures(silver(s, dir)))
      val existing = Scoring.addRunMetadata(scored, "run_1", "2024-02-01 00:00:00")
      val incoming = Scoring.addRunMetadata(
        scored.filter(col("zone_id") % 3 === 0)
          .withColumn("predicted_demand", col("predicted_demand") * 1.1),
        "run_2", "2024-02-02 00:00:00")
      Scoring.upsertPredictions(existing, incoming, Seq("trip_date", "hour", "zone_id"))
    }),
    // classical forecast baselines per (zone, day): naive / seasonal-
    // naive / EWMA(α=½, exact dyadic weights) with absolute errors —
    // the yardstick the learned forecasters must beat
    "sc_fc" -> ((s, dir) => Scoring.forecastBaselines(silver(s, dir))),
    // Morton z-value over (zone, hour): the multi-dim clustering key
    // behind two-column data skipping; pure codegen'd bit math — the
    // layout op itself (range partition + local sort) is spec-audited
    "q_z" -> ((s, dir) => {
      val sv = silver(s, dir).filter(col("zone_id").isNotNull)
        .withColumn("hour", hour(col("ts")))
      sv.select(col("event_id"), col("zone_id"), col("hour"),
        graft.analytics.ZOrder.zValue(col("zone_id"), col("hour")).as("zval"))
    }),
    "mn_ps" -> ((s, dir) =>
      Monitoring.psi(silver(s, dir), Seq("value", "zone_id"), monitorSplit)),
    // binned two-sample KS: max CDF gap at the psi bin edges — the
    // median-shift alarm PSI smooths over
    "mn_ks" -> ((s, dir) =>
      Monitoring.ksStat(silver(s, dir), Seq("value", "zone_id"), monitorSplit)),
    // chi-square homogeneity drift over CATEGORICAL features (PSI/KS
    // cover numeric bins; this is the discrete-column alarm)
    "mn_chi" -> ((s, dir) =>
      Monitoring.chiSquare(silver(s, dir), Seq("event_type", "zone_id"), monitorSplit)),
    "mn_ms" -> ((s, dir) =>
      Monitoring.missingRates(silver(s, dir), Seq("value", "zone_id", "user_id"), monitorSplit)),
    "mn_vl" -> ((s, dir) => Monitoring.volume(silver(s, dir), monitorSplit)),
    // serving-latency percentiles over a deterministic synthetic latency
    // column (the container has no API logs; the LCG-ish derivation is
    // portable so the oracle checks the PERCENTILE operator itself)
    // single change-point over the daily volume series: CUSUM-style
    // binary-segmentation split statistic, argmax over candidate days —
    // the raw data collapses to one row/day in the first aggregate
    "mn_cp" -> ((s, dir) => Monitoring.changePoint(silver(s, dir))),
    "mn_lt" -> ((s, dir) => Monitoring.latencyStats(
      silver(s, dir).withColumn("latency_ms", (col("event_id") * 37 + 11) % 450 + 50),
      "latency_ms")),
    // as-of join: each event annotated with the user's latest purchase
    // value at-or-before the event time (union-window formulation — one
    // key shuffle, no range nested-loop)
    "q_as" -> ((s, dir) => {
      val sv = silver(s, dir)
      val purchases = sv.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      graft.analytics.AsOfJoin.asOf(sv, purchases, "user_id", "ts", Seq("purchase_value"))
        .select("event_id", "user_id", "ts", "purchase_value_asof")
    }),
    // forward as-of: each event annotated with the user's NEXT purchase
    // at-or-after the event time (merge_asof direction='forward')
    "q_af" -> ((s, dir) => {
      val sv = silver(s, dir)
      val purchases = sv.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      graft.analytics.AsOfJoin.asOf(sv, purchases, "user_id", "ts",
          Seq("purchase_value"), direction = "forward")
        .select("event_id", "user_id", "ts", "purchase_value_asof")
    }),
    // nearest direction (merge_asof direction='nearest'): closer of the
    // latest-prior and earliest-following purchase, ties backward
    "q_anr" -> ((s, dir) => {
      val sv = silver(s, dir)
      val purchases = sv.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      graft.analytics.AsOfJoin.asOf(sv, purchases, "user_id", "ts",
          Seq("purchase_value"), direction = "nearest")
        .select("event_id", "user_id", "ts", "purchase_value_asof")
    }),
    // as-of with staleness bound: a prior purchase older than 24 h does
    // not match (kdb/merge_asof ASOF TOLERANCE semantics)
    "q_at" -> ((s, dir) => {
      val sv = silver(s, dir)
      val purchases = sv.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      graft.analytics.AsOfJoin.asOf(sv, purchases, "user_id", "ts",
        Seq("purchase_value"), toleranceSeconds = Some(86400L))
        .select("event_id", "user_id", "ts", "purchase_value_asof")
    }),
    // range join: orders matched into OVERLAPPING price bands (each order
    // hits 1-2 bands) through the bucketed equi-join — no nested loop
    "q_rng" -> ((s, dir) => {
      val bands = s.range(0, 700).select(
        col("id").as("band_id"),
        (col("id") * 1000.0 - 500.0).as("lo"),
        (col("id") * 1000.0 + 500.0).as("hi"))
      RangeJoin.bucketed(Tables.orders(s, dir), bands, "o_totalprice", "lo", "hi", 1000.0)
        .select("o_orderkey", "o_totalprice", "band_id", "lo", "hi")
    }),
    // §2.5 analytics core
    "q1_a" -> ((s, dir) => Analytics.pricingSummary(Tables.lineitem(s, dir))),
    "q3_j" -> ((s, dir) => Analytics.shippingPriority(
      Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q5_m" -> ((s, dir) => Analytics.localSupplierVolume(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
      Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "q_tn" -> ((s, dir) => Analytics.topPartsPerBrand(
      Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_rl" -> ((s, dir) => Analytics.customersRollup(
      Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "q_cb" -> ((s, dir) => Analytics.pricingCube(Tables.lineitem(s, dir))),
    // UNPIVOT/melt: 4 measure columns → (measure, value) rows in one
    // Expand pass, then a 12-group hash aggregate
    "q_unp" -> ((s, dir) => Analytics.meltedMeasures(Tables.lineitem(s, dir))),
    // ANSI INTERSECT/EXCEPT (set semantics → semi/anti hash joins)
    "q_sop" -> ((s, dir) => Analytics.prioritySetOps(Tables.orders(s, dir))),
    // max_by/min_by argmax aggregates, engine-portable padded ordering key
    "q_am" -> ((s, dir) => Analytics.argExtremes(Tables.orders(s, dir))),
    // edit-distance similarity join over the distinct name dictionary
    // (lossless length-band blocking as a hash equi-join)
    "q_fz" -> ((s, dir) => Analytics.fuzzyNameJoin(Tables.part(s, dir))),
    // non-hierarchical GROUPING SETS: (region × segment) + per-nation +
    // grand total in ONE Expand pass — the 3 views a CUBE would charge
    // 8 grouping combinations for
    "q_gs" -> ((s, dir) => Analytics.customersGroupingSets(
      Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "q_abv" -> ((s, dir) => Analytics.aboveNationAvg(
      Tables.customer(s, dir), Tables.nation(s, dir))),
    "q_wf" -> ((s, dir) => Analytics.balanceWindows(
      Tables.customer(s, dir), Tables.nation(s, dir))),
    "q_se" -> ((s, dir) => Analytics.orderActivityByNation(
      Tables.customer(s, dir), Tables.orders(s, dir), Tables.nation(s, dir))),
    // salted join: result must equal the plain join (the oracle IS the
    // plain join); the salt's value shows on skewed corpora (BASELINE.md
    // "10× scale stress", Corpus 4)
    "q_sk" -> ((s, dir) => {
      val sv = silver(s, dir).filter(col("zone_id").isNotNull)
      val zoneDim = sv.groupBy("zone_id").agg(count(lit(1)).as("zone_events"))
      graft.analytics.SkewJoin.salted(
        sv.select("event_id", "zone_id"), zoneDim, "zone_id", col("event_id"))
        .select("event_id", "zone_id", "zone_events")
    }),
    // §2.7 dedup suite
    "dd_ex" -> ((s, dir) => Dedup.exactDedup(Tables.documents(s, dir))),
    // per-source dup-rate dashboard: docs, exact/normalized distinct
    // groups and implied dup rates — ONE scan, multi-distinct Expand
    "dd_rp" -> ((s, dir) => Dedup.dupRateReport(Tables.documents(s, dir))),
    // C4-style fuzzy-exact pass: hash of case/punct/whitespace-normalized text
    "dd_nm" -> ((s, dir) => Dedup.normalizedDedup(Tables.documents(s, dir))),
    // rows-only: SemDeDup cluster-scoped semantic dedup — the iterative
    // k-means quantizer has no SQL equivalent; subset-of-exact-pairs and
    // recall floor are spec-asserted instead
    "dd_se" -> ((s, dir) => Dedup.semanticDedup(Tables.embeddings(s, dir))),
    "dd_mh" -> ((s, dir) => Dedup.minhashLsh(Tables.documents(s, dir))),
    "dd_jc" -> ((s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir))),
    // precision/recall/F1 of the approximate (LSH) dedup path against the
    // deployed exact path — the measurement that justifies LSH at scale
    "dd_ev" -> ((s, dir) => Dedup.lshEval(Tables.documents(s, dir))),
    // embedding near-dup blocking QA: recall + candidate volume of the
    // SQL-expressible hyperplane blocking vs exact cosine-threshold
    // pairs on a bounded eval slice (semanticDedup's k-means cells keep
    // their spec-asserted recall floor; this row makes the same QA
    // oracle-checkable)
    "dd_sev" -> ((s, dir) =>
      Dedup.semanticBlockingEval(
        Tables.embeddings(s, dir).filter(col("vec_id") < 1000))),
    // substring-granular dedup (Lee et al. 2022): maximal cross-document
    // runs of >= 20 shared tokens via md5 anchor fingerprints + the
    // gaps-and-islands diagonal merge — partial copies whole-doc Jaccard
    // dilutes below threshold
    "dd_su" -> ((s, dir) => Dedup.substringDups(Tables.documents(s, dir))),
    // the curation-policy number those runs exist for: per-doc duplicated
    // token fraction (distinct positions — overlaps never double-count)
    "dd_cv" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.substringCoverage(docs, Dedup.substringDups(docs))
    }),
    // production-path minhash (xxhash64 family): rows-only — DuckDB has no
    // xxhash64, so the md5 family above carries the oracle; this entry
    // keeps the fast path benched and row-checked
    "dd_mx" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), family = Dedup.XxHash64Family)),
    // incremental dedup: the daily-batch reality at corpus scale — docs
    // ending in 0 arrive as the new batch, the rest are the stored corpus
    // whose minhashIndex is the ONLY thing the batch joins against
    "dd_mi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashLshIncremental(
        docs.filter(col("doc_id") % 10 === 0),
        Dedup.minhashIndex(docs.filter(col("doc_id") % 10 =!= 0)))
    }),
    "dd_cc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dupClusters(docs, Dedup.minhashLsh(docs))
    }),
    "dc_ex" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 20 === 0)).select("doc_id")
    }),
    // Bloom-prefiltered decontamination: same semantics, the benchmark
    // key set ships as a KB-scale bit array and only bloom survivors pay
    // the confirm join (a different bench slice than `decontaminate`, so
    // the two entries are independent results)
    "dc_bl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomDecontaminate(docs, docs.filter(col("doc_id") % 17 === 0)).select("doc_id")
    }),
    // embedding-space decontamination: corpus vectors surviving a cosine
    // test against the broadcast benchmark set (threshold 0.4 — the
    // synthetic embeddings are near-orthogonal, max cross-cosine 0.49;
    // production near-dup decontam runs ~0.95)
    "dc_em" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingDecontaminate(
        emb.filter(col("vec_id") % 20 =!= 0),
        emb.filter(col("vec_id") % 20 === 0),
        minCosine = 0.4).select("vec_id", "label")
    }),
    // benchmark-side contamination audit (disjoint corpus/benchmark
    // slices so the exact/near counts measure cross-duplication, not
    // self-matches): one row per benchmark item, zeros kept
    "dc_rp" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0))
    }),
    // end-to-end curation report: per-stage doc/token survival through
    // quality → exact dedup → LSH near-dup → decontam → stratified sample
    // → splits, each stage an oracle-green operator, composed as ONE
    // lineage — the DuckDB oracle rebuilds the same chain as CTEs
    "cur" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.Pipeline.curationReport(
        docs, docs.filter(col("doc_id") % 20 === 0),
        minQuality = 0.2,
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
    }),
    "s_st" -> ((s, dir) =>
      graft.sampling.Sampling.stratifiedHashSample(Tables.documents(s, dir),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang")),
    // fixed-SIZE per-stratum sample (exact-count corpus balancing):
    // hash-order rank ≤ n per lang, executed as a map-side WindowGroupLimit
    "s_rs" -> ((s, dir) =>
      graft.sampling.Sampling.reservoirPerStratum(Tables.documents(s, dir),
        "doc_id", "lang", n = 20).select("doc_id", "lang")),
    // deterministic train/val/test assignment — stable under
    // repartitioning, consistent across tables sharing key+salt
    "s_spl" -> ((s, dir) =>
      graft.sampling.Sampling.splitAssign(Tables.documents(s, dir), "doc_id")
        .select("doc_id", "lang", "split")),
    // probability-proportional-to-length sample (token-budgeted mixes):
    // Efraimidis–Spirakis top-n on the deterministic hash uniform
    "s_wt" -> ((s, dir) =>
      graft.sampling.Sampling.weightedSample(Tables.documents(s, dir),
        "doc_id", "n_chars", n = 200).select("doc_id", "lang", "n_chars")),
    // per-stratum weighted sample: the same Efraimidis–Spirakis priority
    // ranked WITHIN each language — a per-language token budget for a
    // balanced training mix; executes as a map-side WindowGroupLimit
    "s_wp" -> ((s, dir) =>
      graft.sampling.Sampling.weightedSamplePerStratum(Tables.documents(s, dir),
        "doc_id", "lang", "n_chars", n = 50).select("doc_id", "lang", "n_chars")),
    // deterministic epoch shuffle: salt-keyed md5 order, sharded for
    // parallel writes — one reproducible corpus permutation on any engine
    "s_sh" -> ((s, dir) =>
      graft.sampling.Sampling.shuffleShards(
        Tables.documents(s, dir).select("doc_id"), "doc_id")),
    // per-language TOKEN budget (what mixture specs are written in):
    // hash-order prefix until the running total crosses the budget;
    // bucketed plan — per-(lang, hash-prefix-bucket) windows, never a
    // per-language global sort
    "s_tb" -> ((s, dir) =>
      graft.sampling.Sampling.tokenBudgetSample(
        Tables.documents(s, dir)
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
        "doc_id", "lang", "n_tok",
        budgets = Map("en" -> 6000L), defaultBudget = 2000L)
        .select("doc_id", "lang", "n_tok")),
    "dd_sh" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir))),
    "dd_eb" -> ((s, dir) => Dedup.embeddingNearDups(Tables.embeddings(s, dir))),
    // §2.9 text analysis
    "t_ld" -> ((s, dir) => TextFunctions.langId(Tables.documents(s, dir))),
    "t_ql" -> ((s, dir) => TextFunctions.quality(Tables.documents(s, dir))),
    "t_tok" -> ((s, dir) => TextFunctions.tokenCounts(Tables.documents(s, dir))),
    // RAG chunking: 64-token windows every 48 tokens (25% overlap);
    // narrow per-row fan-out, no shuffle — pipelines inside the scan
    "t_ch" -> ((s, dir) => TextFunctions.chunkDocs(Tables.documents(s, dir))),
    "t_fp" -> ((s, dir) => TextFunctions.fingerprint(Tables.documents(s, dir))),
    "t_tf" -> ((s, dir) => TextFunctions.tfidfBm25(Tables.documents(s, dir))),
    // the corpus carries no real PII, so the query salts every doc with a
    // deterministic email/phone/IP tail — the oracle then actually
    // exercises the redaction regexes on every row, not a passthrough
    "t_pii" -> ((s, dir) => TextFunctions.redactPii(
      Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-867-5309 from 10.0.0."),
          (col("doc_id") % 256).cast("string"))))),
    "t_pk" -> ((s, dir) => TextFunctions.packSequences(Tables.documents(s, dir))),
    "t_hh" -> ((s, dir) => TextFunctions.heavyHitters(Tables.documents(s, dir))),
    "t_rep" -> ((s, dir) => TextFunctions.repetition(Tables.documents(s, dir))),
    "c_rp" -> ((s, dir) => TextFunctions.corpusReport(Tables.documents(s, dir))),
    // training-mix composition: tokens per (split, lang) + within-split
    // share, over the deterministic split assignment
    "c_mx" -> ((s, dir) => TextFunctions.corpusMix(Tables.documents(s, dir))),
    "t_lm1" -> ((s, dir) => TextFunctions.unigramLogProb(Tables.documents(s, dir))),
    // bigram LM: per-transition NLL — catches word-salad docs whose
    // unigram mix looks fine but whose transitions are improbable
    "t_lm2" -> ((s, dir) => TextFunctions.bigramLogProb(Tables.documents(s, dir))),
    // hashing-trick featurization: sparse (feat_idx, count) rows per doc,
    // md5-prefix mod dim — the vocabulary-free classifier input
    "t_fh" -> ((s, dir) => TextFunctions.hashedFeatures(Tables.documents(s, dir))),
    "t_bp" -> ((s, dir) => TextFunctions.bpePairStats(Tables.documents(s, dir))),
    // rows-only: bounded-round BPE merge application (top pair → merge →
    // re-pair) — iterative, one bounded driver scalar per round, no SQL
    // equivalent; equality to a single-machine reference is spec-asserted
    "t_bm" -> ((s, dir) => TextFunctions.bpeLearn(Tables.documents(s, dir))),
    // PMI-scored bigram collocations (phrase mining for vocab prep)
    "t_pmi" -> ((s, dir) => TextFunctions.pmiCollocations(Tables.documents(s, dir))),
    // Zipf rank-frequency OLS fit — corpus-level naturalness check
    "t_zp" -> ((s, dir) => TextFunctions.zipfFit(Tables.documents(s, dir))),
    // KL + TV distance of observed lang-token shares vs a target mix
    "mx_kl" -> ((s, dir) => TextFunctions.mixDivergence(Tables.documents(s, dir),
      Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))),
    // temperature-scaled resampling weights (XLM-R/mC4 sampling rule)
    "mx_t" -> ((s, dir) => TextFunctions.temperatureMix(Tables.documents(s, dir))),
    // winnowing fingerprints (MOSS): window-min k-gram hash selection
    "t_wn" -> ((s, dir) => TextFunctions.winnow(Tables.documents(s, dir))),
    // embedding centroid drift per label (encoder-change alarm)
    "mn_er" -> ((s, dir) => Monitoring.embeddingDrift(Tables.embeddings(s, dir))),
    // §2.10 multimodal
    "mm_mt" -> ((s, dir) => Multimodal.metadata(Tables.documents(s, dir)).drop("payload")),
    // the decode pipeline runs end-to-end over the binary payloads
    // (per-partition decoder init, typed frames out); the stub decoder's
    // GEOMETRY (frame count, square side, channels) derives from the
    // payload byte length, so it oracles exactly — only the stub frame
    // checksum (spec-asserted) is excluded from the compared output
    "mm_dc" -> ((s, dir) =>
      Multimodal.decodeFrames(s, Multimodal.metadata(Tables.documents(s, dir)))
        .toDF().drop("frame_checksum")),
    // the full frame pipeline — decode → sample → resize — pipelined per
    // partition with no intermediate materialization. The GEOMETRY
    // columns are pure arithmetic over the payload byte length, so they
    // oracle exactly; only the stub resample checksum (spec-asserted) is
    // excluded from the compared output
    "mm_rz" -> ((s, dir) => Multimodal.resizeFrames(Multimodal.sampleFrames(
      Multimodal.decodeFrames(s, Multimodal.metadata(Tables.documents(s, dir)))))
      .toDF().drop("resized_checksum")),
    // §2.8 similarity search
    // rows-only: deterministic Lloyd k-means cluster assignment (seeded by
    // lowest vec_ids) — no tractable SQL equivalent; determinism + full
    // coverage spec-asserted
    "ml_km" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kmeansAssign(emb, Similarity.kmeansFit(emb))
    }),
    "v_out" -> ((s, dir) =>
      Similarity.labelOutliers(Tables.embeddings(s, dir))),
    "v_bf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    // rows-only: product-quantization ADC top-k (Jégou 2011) — m=4
    // subspace codebooks via deterministic per-subspace k-means, corpus
    // scored as codes; recall vs the exact baseline is spec-asserted
    "v_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    // radius (threshold) search: everything above the similarity bar —
    // the other canonical ANN query shape; exact baseline, same
    // broadcast-queries contract as sim_bf_topk
    "v_rad" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.radiusSearch(emb, emb.filter(col("vec_id") < 10))
    }),
    // rows-only: the deterministic k-means quantizer has no tractable SQL
    // equivalent; recall vs brute force is spec-asserted instead
    "v_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    "v_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    // rows-only: IVF cells × PQ-ADC codes × exact re-rank (FAISS IVF-PQ,
    // the composed 100 TB ANN architecture); candidate volume ≈
    // nprobe/nlist of the corpus and recall floor vs brute force are
    // spec-asserted
    "v_iq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10))
    }),
    // rows-only: the PERSISTED IVF-PQ index (build once, query forever —
    // the production split of v_iq's cost): cell-partitioned index
    // parquet + model sidecar; the query-path scan dynamic-partition-
    // prunes to the probed cells (spec-asserted), answers exactly like
    // the inline operator (deterministic fits)
    "v_ix" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val path = vtFixtures.getOrElseUpdate(("annix", dir), {
        val p = java.nio.file.Files.createTempDirectory("graft_annix").toString
        Similarity.buildAnnIndex(emb, p)
        p
      })
      Similarity.queryAnnIndex(s, path, emb, emb.filter(col("vec_id") < 10))
    }),
    // ANN recall QA (the dd_ev pattern on the vector side): one
    // oracle-checkable confusion row of LSH top-k vs brute-force top-k —
    // the measurement that justifies the approximate path, as a
    // driver-visible output rather than a spec-only floor
    "v_ev" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annEval(emb, emb.filter(col("vec_id") < 10))
    }),
    // rows-only: the SAME recall QA for the composed IVF-PQ path at its
    // deployed defaults (nprobe=4/16 cells, refine=4) — v_iq/v_ix's
    // config measured the way v_ev measures the LSH default; the
    // exhaustive point (nprobe=nlist, corpus-sized refine) is
    // spec-pinned to recall 1.0, and the nprobe×refine curve is in
    // BASELINE. Iterative k-means/PQ fits have no SQL equivalent.
    "v_iqe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqEval(emb, emb.filter(col("vec_id") < 10))
    }),
    // the STREAMING format faces end-to-end: readStream.format("graft")
    // over the vt_tt fixture (its head is the rollback snapshot =
    // signups) feeding writeStream.format("graft") into a fresh table —
    // one AvailableNow drain moves the anchor snapshot through the
    // source's version offsets and the sink's exactly-once txn commit;
    // the target's content is pinned against the silver slice. The
    // checkpoint rides the fixture cache, so a re-run drains nothing
    // and the target is unchanged (idempotence is part of the shape).
    "vt_sk" -> ((s, dir) => {
      val tgt = vtFixtures.getOrElseUpdate(("sk", dir), {
        val src = buildVersionedTable(s, dir)
        val out = java.nio.file.Files.createTempDirectory("graft_vtsk").toString
        val ckp = java.nio.file.Files.createTempDirectory("graft_vtsk_ckp").toString
        val q = s.readStream.format("graft").load(src)
          .writeStream.format("graft")
          .option("checkpointLocation", ckp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(out)
        q.awaitTermination()
        out
      })
      s.read.format("graft").load(tgt)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(round(col("value") * 100)) / 100, 2).as("sum_value"))
    }),
    // §2.6 streaming (batch-equivalent transforms; streaming spec in tests)
    "st_tm" -> ((s, dir) => Streams.tumblingCounts(silver(s, dir))),
    // batch face of the continuous drift monitor: per-day PSI of value vs
    // the pre-split baseline histogram (streaming face spec-asserted
    // equal; baseline fractions fold in as literals — model metadata)
    "st_ps" -> ((s, dir) => {
      val sv = silver(s, dir)
      val base = sv.filter(col("event_date") < lit(monitorSplit))
      val (lo, hi, pcts) = Monitoring.baselineHistogram(base, "value")
      Streams.psiAlertStream(sv.filter(col("event_date") >= lit(monitorSplit)),
        lo, hi, pcts, windowLen = "1 day")
    }),
    "st_sl" -> ((s, dir) => Streams.slidingCounts(silver(s, dir))),
    "st_ss" -> ((s, dir) => Streams.sessionCounts(silver(s, dir))),
    // batch face of the stream-stream interval join (clicks × purchases
    // within 1h per user; streaming spec joins two watermarked streams)
    "st_jn" -> ((s, dir) => Streams.attributionJoin(silver(s, dir))),
    // outer face: unconverted clicks survive null-padded (in streaming,
    // emitted once the watermark proves no in-horizon purchase remains)
    "st_jo" -> ((s, dir) => Streams.attributionJoinOuter(silver(s, dir))),
    // event-grain sessionization: each event tagged with its per-user
    // session ordinal (gaps-and-islands)
    "q_ss" -> ((s, dir) => Streams.sessionize(silver(s, dir))
      .select("event_id", "user_id", "ts", "session_seq")),
    // batch face of the stream-static enrichment join (identical call on a
    // readStream frame re-broadcasts the dim per micro-batch, zero state)
    "st_en" -> ((s, dir) => {
      val sv = silver(s, dir)
      Streams.enrichWithDim(sv.select("event_id", "zone_id", "event_type", "value"),
        Gold.dimZones(sv))
    }),
    // batch face of the streaming dedup (dropDuplicatesWithinWatermark on
    // a stream; first-event-wins per key in batch)
    "st_dd" -> ((s, dir) =>
      Streams.firstEventPerKey(Tables.events(s, dir).filter(col("event_id").isNotNull))
        .select("event_id", "ts", "user_id")),
    // batch face of CDC apply (Debezium/Delta APPLY CHANGES): events as a
    // keyed change feed on user_id, error events read as deletes; latest
    // op wins and a terminal delete removes the key. Streaming face
    // (mapGroupsWithState) is asserted equal in CdcStreamSpec.
    "st_cd" -> ((s, dir) =>
      Streams.cdcApply(Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .withColumn("op",
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert"))))),
    // §2.4 spark.ml training (rows-only oracle: no SQL equivalent)
    "ml_rf" -> ((s, dir) =>
      Models.demandRandomForest(FeatureEngineering.demandFeatures(silver(s, dir)))),
    "ml_lr" -> ((s, dir) =>
      Models.demandLinear(FeatureEngineering.demandFeatures(silver(s, dir)))),
    "ml_g" -> ((s, dir) =>
      Models.demandGBT(FeatureEngineering.demandFeatures(silver(s, dir)))),
    "ml_sc" -> ((s, dir) =>
      Models.surgeClassifier(FeatureEngineering.surgeFeatures(silver(s, dir)))),
    "ml_srf" -> ((s, dir) =>
      Models.surgeRegressor(FeatureEngineering.surgeFeatures(silver(s, dir)))),
    // rows-only: impurity-based importances of the fitted RF (reference
    // demand_forecasting.py:171-173); sums-to-1 is spec-asserted
    "ml_imp" -> ((s, dir) =>
      Models.demandFeatureImportances(FeatureEngineering.demandFeatures(silver(s, dir)))),
    // rows-only: experiment-tracking runs table (reference MLflow usage,
    // demand_forecasting.py:6-33) — one run row per tracked fit, metrics
    // parity with regressionMetrics is spec-asserted. Gate-facing scalar
    // view: the map-typed params/metrics columns are projected to
    // key-sorted JSON strings (runsScalarView) because the driver's pandas
    // compare sorts every column and map values are unhashable there; the
    // library API keeps the map schema.
    "ml_tr" -> ((s, dir) =>
      Experiments.runsScalarView(Experiments.trackedDemandRuns(
        FeatureEngineering.demandFeatures(silver(s, dir)),
        "/root/repo/target/ml_runs"))),
    // rows-only: save → load → predict with the RELOADED model (reference
    // trains+saves, the API loads — demand_forecasting.py:280, app.py:112);
    // byte-identical predictions pre/post reload are spec-asserted
    "ml_sv" -> ((s, dir) =>
      Models.persistRoundTrip(FeatureEngineering.demandFeatures(silver(s, dir)),
        "/root/repo/target/ml_persist")),
    // rows-only: GBT on a hash-sampled training window (pinned 0.25,
    // maxIter 6 / depth 4) — the bench-protocol line that tracks the GBT
    // path at a fraction of the full fit's cost (measured: iteration
    // count, not data volume, bounds the local fit), and the executable
    // form of the "sample the training window at scale" protocol
    "ml_gs" -> ((s, dir) =>
      Models.demandGBTSampled(FeatureEngineering.demandFeatures(silver(s, dir)))),
    // rows-only: fastText-style quality classifier — hashed token features
    // → LogisticRegression → per-doc quality probability (the learned
    // stand-in for the heuristic filter in runCuration); AUC > naive on a
    // planted garbage stratum is spec-asserted
    "ml_q" -> ((s, dir) =>
      Models.qualityClassifier(Tables.documents(s, dir))),
    // §2.11 mobility analytics (trajectory view of the reference domain)
    "m_od" -> ((s, dir) => Mobility.odMatrix(silver(s, dir))),
    "m_nx" -> ((s, dir) => Mobility.nextZoneTopK(silver(s, dir))),
    "m_st" -> ((s, dir) => Mobility.stayEpisodes(silver(s, dir))),
    "m_fl" -> ((s, dir) => Mobility.zoneNetFlow(silver(s, dir))),
    "m_rog" -> ((s, dir) => Mobility.radiusOfGyration(silver(s, dir))),
    "m_ent" -> ((s, dir) => Mobility.locationEntropy(silver(s, dir))),
    "m_hm" -> ((s, dir) => Mobility.homeZone(silver(s, dir))),
    // zone PageRank on the OD graph: data-scale work is the one OD-matrix
    // shuffle; iterations are dimension-sized tiny-table joins
    "m_pr" -> ((s, dir) => Mobility.zonePageRank(silver(s, dir))),
    // DSIR data selection (Xie 2023): hashed-unigram importance weights,
    // target stratum = lang 'en', corpus-mean-threshold selection
    "dsir" -> ((s, dir) => TextFunctions.dsirWeights(Tables.documents(s, dir))),
    // seasonal (hour-of-week) Tukey-fence anomaly detection on hourly
    // zone demand: raw data collapses in the first aggregate; the profile
    // is |zones|×168, broadcast back
    "mn_an" -> ((s, dir) => Monitoring.seasonalAnomaly(silver(s, dir))),
    // rows-only: BPE encode under the merges t_bpem learns (iterative
    // argmax training is not SQL-expressible); equality to a single-
    // machine reference encoder is spec-asserted
    "t_ba" -> ((s, dir) => TextFunctions.bpeEncode(Tables.documents(s, dir))),
    // co-location contact pairs: hour-bucketed lossless interval self-join
    // over stay episodes (never per-zone all-pairs)
    "m_co" -> ((s, dir) => Mobility.coLocation(silver(s, dir))),
    // co-location cap diagnostic: how many stays the maxSpanHours fan-out
    // guard truncates (cap 24h here so the signal is non-trivially
    // exercised; the m_co default cap truncates nothing at any test SF)
    "m_ct" -> ((s, dir) =>
      Mobility.coLocationTruncation(silver(s, dir), maxSpanHours = 24)),
    // next-zone Markov backtest: argmax model trained before the monitor
    // split, hit@1 scored on/after it
    "m_mk" -> ((s, dir) => Mobility.markovNextZoneEval(silver(s, dir))),
    // held-out perplexity vs an en-slice bigram LM with Stupid Backoff —
    // the CCNet-style corpus quality filter
    "t_ppl" -> ((s, dir) => TextFunctions.heldOutPerplexity(Tables.documents(s, dir))),
    // probability-calibration audit of the heuristic churn scorer
    "sc_cb" -> ((s, dir) => Scoring.calibrationBins(
      Scoring.scoreChurn(FeatureEngineering.churnFeatures(silver(s, dir))),
      "will_churn", "churn_p")),
    // l-diversity: homogeneity-attack audit over (zone, hour) QI classes
    "dq_ld" -> ((s, dir) => DataQuality.lDiversity(
      silver(s, dir).withColumn("hour", hour(col("ts"))),
      Seq("zone_id", "hour"), "event_type")),
    // label-propagation zone communities on the symmetrized OD graph:
    // data-scale work is the one edge-build shuffle; 5 fixed rounds of
    // dimension-sized integer argmax joins (oracle unrolls the same)
    "m_lp" -> ((s, dir) => Mobility.zoneCommunities(silver(s, dir))),
    // RFM lifecycle segmentation: rank-based quintiles over the user dim
    "f_rm" -> ((s, dir) => FeatureEngineering.rfmSegments(silver(s, dir))),
    // per-zone A/B readout: md5-hash arms, two-proportion z
    "sc_ab" -> ((s, dir) => Scoring.abTest(silver(s, dir))),
    // trip reconstruction: stay → next-stay journeys (the reference's
    // core entity rebuilt from trajectories)
    "m_tr" -> ((s, dir) => Mobility.trips(silver(s, dir))),
    // Kaplan–Meier retention: censoring-aware survival curve
    "sc_km" -> ((s, dir) => Scoring.kaplanMeier(silver(s, dir))),
    // Laplace-mechanism count release (seeded demo — see scaladoc caveat)
    "dq_dp" -> ((s, dir) => DataQuality.dpNoisedCounts(
      silver(s, dir).filter(col("zone_id").isNotNull), "zone_id")),
    // per-zone dwell distribution: capacity-planning companion to demand
    "m_dw" -> ((s, dir) => Mobility.dwellStats(silver(s, dir))),
  )

  private val featDemandSql: String =
    s"""$silverCte,
       |hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, zone_id,
       |         count(*) AS event_count, round(avg(value), 4) AS avg_value
       |  FROM silver WHERE ts IS NOT NULL AND zone_id IS NOT NULL
       |  GROUP BY 1, 2
       |),
       |feat AS (
       |  SELECT CAST(hour_ts AS DATE) AS trip_date, hour(hour_ts) AS hour,
       |         zone_id, event_count,
       |         lag(event_count, 1) OVER w AS demand_lag_1,
       |         lag(event_count, 7) OVER w AS demand_lag_7,
       |         lag(event_count, 14) OVER w AS demand_lag_14,
       |         round(avg(event_count) OVER w7, 4) AS demand_avg_7d,
       |         round(avg(event_count) OVER w30, 4) AS demand_avg_30d,
       |         round(stddev(event_count) OVER w7, 4) AS demand_std_7d,
       |         avg_value,
       |         lag(avg_value, 1) OVER w AS avg_value_lag_1
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY zone_id ORDER BY hour_ts),
       |         w7 AS (PARTITION BY zone_id ORDER BY hour_ts ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING),
       |         w30 AS (PARTITION BY zone_id ORDER BY hour_ts ROWS BETWEEN 720 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT trip_date, hour, zone_id, event_count,
       |       demand_lag_1, demand_lag_7, demand_lag_14,
       |       demand_avg_7d, demand_avg_30d, demand_std_7d,
       |       CASE WHEN hour BETWEEN 7 AND 9 THEN 1 WHEN hour BETWEEN 17 AND 19 THEN 1 ELSE 0 END AS is_peak_hour,
       |       CASE WHEN hour >= 22 OR hour <= 5 THEN 1 ELSE 0 END AS is_night,
       |       CASE WHEN hour BETWEEN 9 AND 17 THEN 1 ELSE 0 END AS is_business_hours,
       |       avg_value, avg_value_lag_1
       |FROM feat
       |WHERE demand_lag_1 IS NOT NULL AND demand_lag_7 IS NOT NULL
       |  AND demand_lag_14 IS NOT NULL AND avg_value IS NOT NULL
       |  AND avg_value_lag_1 IS NOT NULL AND demand_avg_7d IS NOT NULL
       |  AND demand_avg_30d IS NOT NULL AND demand_std_7d IS NOT NULL""".stripMargin

  private val featSurgeSql: String =
    s"""$silverCte,
       |hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts, zone_id,
       |         count(*) AS event_count,
       |         count(DISTINCT user_id) AS user_count,
       |         round(avg(value), 4) AS avg_value,
       |         max(value) AS max_value
       |  FROM silver
       |  WHERE event_type = 'purchase' AND ts IS NOT NULL AND zone_id IS NOT NULL
       |  GROUP BY 1, 2
       |),
       |base AS (
       |  SELECT *, round(CAST(event_count AS DOUBLE) / user_count, 4) AS demand_supply_ratio,
       |         CAST(hour_ts AS DATE) AS trip_date, hour(hour_ts) AS hour
       |  FROM hourly
       |),
       |feat AS (
       |  SELECT trip_date, hour, zone_id, avg_value, max_value, event_count,
       |         user_count, demand_supply_ratio,
       |         lag(avg_value, 1) OVER w AS value_lag_1,
       |         lag(demand_supply_ratio, 1) OVER w AS ratio_lag_1,
       |         avg(round(avg_value * 10000)) OVER w7 / 10000 AS value_avg_7d,
       |         avg(round(demand_supply_ratio * 10000)) OVER w7 / 10000 AS ratio_avg_7d,
       |         round(avg(event_count) OVER w7, 4) AS count_avg_7d
       |  FROM base
       |  WINDOW w AS (PARTITION BY zone_id ORDER BY hour_ts),
       |         w7 AS (PARTITION BY zone_id ORDER BY hour_ts ROWS BETWEEN 168 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT trip_date, hour,
       |       dayofweek(trip_date) + 1 AS day_of_week,
       |       CASE WHEN dayofweek(trip_date) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
       |       zone_id, avg_value, max_value, event_count, user_count, demand_supply_ratio,
       |       CASE WHEN hour BETWEEN 7 AND 9 THEN 1 WHEN hour BETWEEN 17 AND 19 THEN 1 ELSE 0 END AS is_peak_hour,
       |       CASE WHEN hour >= 23 OR hour <= 3 THEN 1 ELSE 0 END AS is_late_night,
       |       value_lag_1, ratio_lag_1, value_avg_7d, ratio_avg_7d, count_avg_7d,
       |       CASE WHEN event_count < count_avg_7d * 0.7 AND avg_value > value_avg_7d THEN 1 ELSE 0 END AS likely_anomaly
       |FROM feat
       |WHERE value_lag_1 IS NOT NULL AND ratio_lag_1 IS NOT NULL""".stripMargin

  private val featChurnSql: String =
    s"""$silverCte,
       |daily AS (
       |  SELECT user_id, event_date,
       |         count(*) AS daily_events,
       |         round(sum(round(value * 100)) / 100, 2) AS daily_value,
       |         sum(round(value * 100)) / 100 / count(*) AS avg_value
       |  FROM silver WHERE event_type = 'purchase' AND ts IS NOT NULL
       |  GROUP BY 1, 2
       |),
       |feat AS (
       |  SELECT *,
       |         lag(daily_events, 7) OVER w AS events_lag_7,
       |         lag(daily_events, 14) OVER w AS events_lag_14,
       |         lag(daily_events, 30) OVER w AS events_lag_30,
       |         round(avg(daily_events) OVER w30, 4) AS avg_events_30d,
       |         avg(round(daily_value * 100)) OVER w30 / 100 AS avg_value_30d,
       |         lead(event_date, 1) OVER w AS next_date
       |  FROM daily
       |  WINDOW w AS (PARTITION BY user_id ORDER BY event_date),
       |         w30 AS (PARTITION BY user_id ORDER BY event_date ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING)
       |)
       |SELECT user_id, event_date, daily_events, daily_value, avg_value,
       |       events_lag_7, events_lag_14, events_lag_30,
       |       avg_events_30d, avg_value_30d,
       |       CASE WHEN daily_events < avg_events_30d * 0.5 THEN 1 ELSE 0 END AS events_declining,
       |       CASE WHEN daily_value < avg_value_30d * 0.5 THEN 1 ELSE 0 END AS value_declining,
       |       date_diff('day', event_date, next_date) AS days_to_next,
       |       CASE WHEN next_date IS NULL OR date_diff('day', event_date, next_date) > 7 THEN 1 ELSE 0 END AS will_churn
       |FROM feat WHERE events_lag_7 IS NOT NULL""".stripMargin

  /** Shared by the sc_demand oracle and the sc_upsert oracle. */
  private val scoreDemandSql: String =
    s"""WITH df AS ($featDemandSql)
       |SELECT trip_date, hour, zone_id, event_count, demand_avg_7d, avg_value,
       |       is_peak_hour,
       |       CASE WHEN dayofweek(trip_date) + 1 IN (1, 7) THEN 1 ELSE 0 END AS is_weekend,
       |       demand_avg_7d
       |         * (CASE WHEN hour IN (7, 8, 9, 16, 17, 18) THEN 1.25 ELSE 1.0 END)
       |         * (CASE WHEN dayofweek(trip_date) + 1 IN (1, 7) THEN 0.85 ELSE 1.0 END)
       |         * (1.0 + greatest(avg_value / 100.0 - 1.0, 0.0) * 0.15) AS predicted_demand
       |FROM df""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "brz" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |       CAST(ts AS DATE) AS event_date
        |FROM events""".stripMargin,

    "sil" -> s"$silverCte SELECT * FROM silver",

    "d_t" ->
      s"""$silverCte
         |SELECT sha256(concat_ws('||', CAST(date AS VARCHAR), CAST(hour AS VARCHAR), CAST(minute AS VARCHAR))) AS time_id,
         |       date, year, month, day, day_of_week, hour, minute
         |FROM (
         |  SELECT DISTINCT CAST(ts AS DATE) AS date,
         |         year(ts) AS year, month(ts) AS month, day(ts) AS day,
         |         dayofweek(ts) + 1 AS day_of_week,
         |         hour(ts) AS hour, minute(ts) AS minute
         |  FROM silver WHERE ts IS NOT NULL
         |)""".stripMargin,

    "d_u" ->
      s"""$silverCte
         |SELECT sha256(CAST(user_id AS VARCHAR)) AS user_key, user_id
         |FROM (SELECT DISTINCT user_id FROM silver WHERE user_id IS NOT NULL)""".stripMargin,

    "d_z" ->
      s"""$silverCte
         |SELECT sha256(CAST(zone_id AS VARCHAR)) AS location_id, zone_id,
         |       'synthetic_city' AS city, 'zone' AS zone_type
         |FROM (SELECT DISTINCT zone_id FROM silver WHERE zone_id IS NOT NULL)""".stripMargin,

    "fc_e" ->
      s"""$silverCte
         |SELECT event_id,
         |       sha256(concat_ws('||', CAST(event_date AS VARCHAR), CAST(hour(ts) AS VARCHAR), CAST(minute(ts) AS VARCHAR))) AS time_id,
         |       sha256(CAST(user_id AS VARCHAR)) AS user_key,
         |       sha256(CAST(zone_id AS VARCHAR)) AS location_id,
         |       event_type, value, ts, event_date
         |FROM silver""".stripMargin,

    "fc_p" ->
      s"""$silverCte
         |SELECT event_id AS payment_id, event_id,
         |       sha256(concat_ws('||', CAST(event_date AS VARCHAR), CAST(hour(ts) AS VARCHAR), CAST(minute(ts) AS VARCHAR))) AS time_id,
         |       sha256(CAST(user_id AS VARCHAR)) AS user_key,
         |       value AS amount, event_date
         |FROM silver WHERE event_type = 'purchase'""".stripMargin,

    "d_et" ->
      s"""$silverCte
         |SELECT sha256(event_type) AS event_type_key, event_type
         |FROM (SELECT DISTINCT event_type FROM silver WHERE event_type IS NOT NULL)""".stripMargin,

    // surrogate keys computed directly (key-preserving left joins, the
    // fc_e oracle pattern); sha256(NULL) is NULL in DuckDB, matching the
    // unmatched-left-join NULL on the Spark side (first event per user
    // has no origin zone; null-zone events resolve no location)
    "fc_w" ->
      s"""$silverCte
         |SELECT event_id,
         |       sha256(concat_ws('||', CAST(event_date AS VARCHAR), CAST(hour(ts) AS VARCHAR), CAST(minute(ts) AS VARCHAR))) AS time_id,
         |       sha256(CAST(user_id AS VARCHAR)) AS user_key,
         |       sha256(CAST(zone_id AS VARCHAR)) AS location_id,
         |       sha256(CAST(lag(zone_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS VARCHAR)) AS origin_location_id,
         |       sha256(event_type) AS event_type_key,
         |       value, ts, event_date
         |FROM silver""".stripMargin,

    // SCD-2 run construction: change flag → running group id → per-run
    // min/count → interval chain via lead; (ts, event_id) is a unique
    // order after silver dedup, so both engines build identical runs
    "d_s2" ->
      s"""$silverCte,
         |marked AS (
         |  SELECT user_id, ts, event_id, zone_id,
         |         CASE WHEN lag(zone_id) OVER w IS NULL
         |                OR lag(zone_id) OVER w <> zone_id THEN 1 ELSE 0 END AS chg
         |  FROM silver WHERE zone_id IS NOT NULL AND ts IS NOT NULL
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |),
         |grouped AS (
         |  SELECT user_id, zone_id, ts,
         |         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
         |  FROM marked
         |),
         |runs AS (
         |  SELECT user_id, grp, min(zone_id) AS zone_id, min(ts) AS valid_from,
         |         count(*) AS n_events
         |  FROM grouped GROUP BY 1, 2
         |)
         |SELECT user_id, zone_id, valid_from,
         |       lead(valid_from) OVER w2 AS valid_to,
         |       lead(valid_from) OVER w2 IS NULL AS is_current,
         |       n_events
         |FROM runs
         |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, grp)""".stripMargin,

    // each snapshot read must equal the slice it was committed from:
    // v0/asof = signups, v1 = signups ∪ clicks (append carried v0's
    // file), v2_rollback = signups again (re-pointed manifest)
    "vt_tt" ->
      s"""$silverCte,
         |slice AS (
         |  SELECT 'v0' AS snap, count(*) AS n_rows,
         |         round(sum(round(value * 100)) / 100, 2) AS sum_value
         |  FROM silver WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT 'v1', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM silver WHERE event_type IN ('signup', 'click')
         |  UNION ALL
         |  SELECT 'v2_rollback', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM silver WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT 'asof_d1', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM silver WHERE event_type = 'signup'
         |)
         |SELECT snap, n_rows, sum_value FROM slice""".stripMargin,

    // every snapshot read through format("graft") must equal the slice
    // it was committed from: v1 = signups ∪ clicks; latest = that minus
    // the MoR-deleted value<20 rows (NULL survives a NULL-evaluating
    // delete predicate — three-valued logic), summed under the renamed
    // column; asof_d1 = v0 = signups; pushed = latest where amount>=100
    "vt_ds" ->
      s"""$silverCte,
         |ds AS (SELECT value FROM silver
         |       WHERE event_type IN ('signup', 'click')),
         |live AS (SELECT value FROM ds
         |         WHERE NOT coalesce(value < 20, FALSE)),
         |slice AS (
         |  SELECT 'v1' AS snap, count(*) AS n_rows,
         |         round(sum(round(value * 100)) / 100, 2) AS sum_value
         |  FROM ds
         |  UNION ALL
         |  SELECT 'latest', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM live
         |  UNION ALL
         |  SELECT 'asof_d1', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM silver WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT 'pushed', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM live WHERE value >= 100
         |)
         |SELECT snap, n_rows, sum_value FROM slice""".stripMargin,

    // the three SQL-DML states rebuilt in plain SQL: v1 = conditional
    // doubling, v2 = three-valued-logic delete (NULL survives), v3 =
    // key merge (matched rows take the source value, unmatched source
    // rows insert under the clause condition). Signup and click
    // event_ids are disjoint by construction (one event_id per event),
    // so the click half of the source can only INSERT
    "vt_sq" ->
      s"""$silverCte,
         |sg AS (SELECT event_id, event_type, value FROM silver
         |       WHERE event_type = 'signup'),
         |v1 AS (SELECT event_id, event_type,
         |              CASE WHEN event_id % 3 = 0 THEN value * 2 ELSE value END AS value
         |       FROM sg),
         |v2 AS (SELECT * FROM v1 WHERE NOT coalesce(value < 20, FALSE)),
         |src AS (
         |  SELECT event_id, event_type, value + 100 AS value FROM sg
         |  WHERE event_id % 5 = 0
         |  UNION ALL
         |  SELECT event_id, event_type, value FROM silver
         |  WHERE event_type = 'click'
         |),
         |v3 AS (
         |  SELECT t.event_id, t.event_type,
         |         CASE WHEN s.event_id IS NOT NULL THEN s.value ELSE t.value END AS value
         |  FROM v2 t LEFT JOIN src s ON t.event_id = s.event_id
         |  UNION ALL
         |  SELECT s.event_id, s.event_type, s.value
         |  FROM src s LEFT JOIN v2 t ON s.event_id = t.event_id
         |  WHERE t.event_id IS NULL AND coalesce(s.value >= 50, FALSE)
         |),
         |slice AS (
         |  SELECT 'updated' AS snap, count(*) AS n_rows,
         |         round(sum(round(value * 100)) / 100, 2) AS sum_value FROM v1
         |  UNION ALL
         |  SELECT 'deleted', count(*), round(sum(round(value * 100)) / 100, 2) FROM v2
         |  UNION ALL
         |  SELECT 'merged', count(*), round(sum(round(value * 100)) / 100, 2) FROM v3
         |)
         |SELECT snap, n_rows, sum_value FROM slice""".stripMargin,

    // pure-SQL life cycle: v0 = even customers (CTAS), v1 = all
    // customers (INSERT), head = v2 content (+1000 on every 7th balance;
    // the OPTIMIZE v3 moves no rows), and the merge commit's CDF is the
    // matched slice as update pre/post pairs
    "vt_se" ->
      """WITH cust AS (SELECT c_custkey AS id, c_acctbal AS bal FROM customer),
        |slice AS (
        |  SELECT 'v0_ctas' AS snap, count(*) AS n_rows,
        |         round(sum(round(bal * 100)) / 100, 2) AS sum_bal
        |  FROM cust WHERE id % 2 = 0
        |  UNION ALL
        |  SELECT 'v1_insert', count(*), round(sum(round(bal * 100)) / 100, 2)
        |  FROM cust
        |  UNION ALL
        |  SELECT 'head_optimized', count(*),
        |         round(sum(round(CASE WHEN id % 7 = 0 THEN bal + 1000 ELSE bal END * 100)) / 100, 2)
        |  FROM cust
        |  UNION ALL
        |  SELECT 'cdf_update_preimage', count(*), round(sum(round(bal * 100)) / 100, 2)
        |  FROM cust WHERE id % 7 = 0
        |  UNION ALL
        |  SELECT 'cdf_update_postimage', count(*),
        |         round(sum(round((bal + 1000) * 100)) / 100, 2)
        |  FROM cust WHERE id % 7 = 0
        |)
        |SELECT snap, n_rows, sum_bal FROM slice""".stripMargin,

    // the streamed-roundtrip target must hold exactly the source's head
    // snapshot = the signups slice (vt_tt's rollback state)
    "vt_sk" ->
      s"""$silverCte
         |SELECT count(*) AS n_rows,
         |       round(sum(round(value * 100)) / 100, 2) AS sum_value
         |FROM silver WHERE event_type = 'signup'""".stripMargin,

    // the log is protocol-determined: fixed ts (caller-supplied), ops,
    // and single-file commits → literal oracle
    // the operation-metrics columns are data-dependent (rows per commit),
    // so the oracle computes them from silver instead of hard-coding
    "vt_h" ->
      s"""$silverCte,
         |c AS (
         |  SELECT COUNT(*) FILTER (WHERE event_type = 'signup') AS su,
         |         COUNT(*) FILTER (WHERE event_type = 'click') AS cl
         |  FROM silver
         |)
         |SELECT version, ts, op, n_files, n_rows_added, n_dv_rows_deleted FROM (
         |  SELECT CAST(0 AS BIGINT) AS version, '2026-01-01T00:00:00Z' AS ts,
         |         'overwrite' AS op, 1 AS n_files, su AS n_rows_added,
         |         CAST(0 AS BIGINT) AS n_dv_rows_deleted FROM c
         |  UNION ALL SELECT 1, '2026-01-02T00:00:00Z', 'append', 2, cl, 0 FROM c
         |  UNION ALL SELECT 2, '2026-01-03T00:00:00Z', 'rollback(0)', 1, su, 0 FROM c
         |)""".stripMargin,

    // DESCRIBE HISTORY must render the SAME protocol-determined log as
    // vt_h — one statement, one parse, identical rows
    "vt_sh" ->
      s"""$silverCte,
         |c AS (
         |  SELECT COUNT(*) FILTER (WHERE event_type = 'signup') AS su,
         |         COUNT(*) FILTER (WHERE event_type = 'click') AS cl
         |  FROM silver
         |)
         |SELECT version, ts, op, n_files, n_rows_added, n_dv_rows_deleted FROM (
         |  SELECT CAST(0 AS BIGINT) AS version, '2026-01-01T00:00:00Z' AS ts,
         |         'overwrite' AS op, 1 AS n_files, su AS n_rows_added,
         |         CAST(0 AS BIGINT) AS n_dv_rows_deleted FROM c
         |  UNION ALL SELECT 1, '2026-01-02T00:00:00Z', 'append', 2, cl, 0 FROM c
         |  UNION ALL SELECT 2, '2026-01-03T00:00:00Z', 'rollback(0)', 1, su, 0 FROM c
         |)""".stripMargin,

    // readWhere ≡ the same predicate over silver (data skipping is a
    // pure optimization; content equality is the whole contract)
    "vt_w" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE value >= 30.0 AND value < 60.0
         |  AND event_type IN ('purchase', 'signup')""".stripMargin,

    // point lookup ≡ the same equality over silver (bloom skipping has
    // no false negatives; FPs only open extra files, never change rows)
    "vt_pt" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE event_id = 777""".stripMargin,

    // both update flavors' end state in one nested CASE (disjoint
    // predicates, order-free); *2 and *0.5 are exact FP scalings
    "vt_u" ->
      s"""$silverCte
         |SELECT event_id, event_type,
         |       CASE WHEN coalesce(event_type = 'click' AND value < 20, FALSE)
         |            THEN value * 2
         |            WHEN coalesce(event_type = 'purchase' AND value > 80, FALSE)
         |            THEN value * 0.5
         |            ELSE value END AS value
         |FROM silver""".stripMargin,

    // deletion-vector end state recomputed row-wise: both MoR delete
    // predicates applied with three-valued semantics (NULL-evaluating
    // rows survive, exactly like the COW delete's contract)
    "vt_dv" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE NOT coalesce(event_id % 97 = 0, FALSE)
         |  AND NOT coalesce(event_type = 'signup' AND value > 90, FALSE)""".stripMargin,

    // REORG APPLY (PURGE) is content-identical: same end state as the
    // vectored table it purged (and the zero-grace vacuum proves the
    // purge rewrite is self-contained)
    "vt_rg" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE NOT coalesce(event_id % 97 = 0, FALSE)
         |  AND NOT coalesce(event_type = 'signup' AND value > 90, FALSE)""".stripMargin,

    // FSCK repair after losing the click partition's files: exactly the
    // other partitions survive (NULL-safe — a NULL event_type rides its
    // own hive partition dir and is untouched)
    "vt_fk" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE event_type IS DISTINCT FROM 'click'""".stripMargin,

    // clone ≡ source snapshot, then the delete's three-valued semantics:
    // rows where the predicate IS TRUE leave; NULL-value rows survive
    "vt_cl" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE NOT coalesce(event_type = 'click' AND value < 20, FALSE)""".stripMargin,

    // the deep clone serves the cloned snapshot (silver minus the
    // pre-clone delete) even though the SOURCE was emptied and vacuumed
    "vt_dc" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE NOT coalesce(event_type = 'error', FALSE)""".stripMargin,

    // the exact property set surviving SET → INSERT → UNSET
    "vt_pp" ->
      """SELECT 'graft.checkpointInterval' AS key, '5' AS value
        |UNION ALL SELECT 'team', 'mobility'""".stripMargin,

    // identity values replayed exactly: batch 1 (even event_ids, sorted)
    // takes 1000, 1007, 1014, …; batch 2 (odd, sorted) continues one
    // step past batch 1's high-water mark
    "vt_id" ->
      s"""$silverCte,
         |b1 AS (
         |  SELECT event_id,
         |         1000 + 7 * (row_number() OVER (ORDER BY event_id) - 1) AS row_id
         |  FROM silver WHERE event_id % 2 = 0
         |),
         |b2 AS (
         |  SELECT event_id,
         |         (SELECT coalesce(max(row_id), 993) FROM b1)
         |           + 7 * row_number() OVER (ORDER BY event_id) AS row_id
         |  FROM silver WHERE event_id % 2 = 1
         |)
         |SELECT event_id, row_id FROM b1
         |UNION ALL
         |SELECT event_id, row_id FROM b2""".stripMargin,

    // dynamic overwrite end state: the click partition recomputed,
    // every other partition (and NULL-value click rows: +1000 of NULL
    // is NULL) as silver had it
    "vt_po" ->
      s"""$silverCte
         |SELECT event_id, event_type,
         |       CASE WHEN event_type = 'click' THEN value + 1000
         |            ELSE value END AS value
         |FROM silver""".stripMargin,

    // end state of the scoped replace, recomputed row-wise: band rows
    // re-tagged '_r', everything else (incl. NULL value) untouched
    "vt_rw" ->
      s"""$silverCte
         |SELECT event_id,
         |       CASE WHEN value >= 30.0 AND value < 60.0
         |            THEN event_type || '_r' ELSE event_type END AS event_type,
         |       value
         |FROM silver""".stripMargin,

    // rename(value->amount) + drop(event_type) are metadata-only; the
    // delete keeps rows where `amount < 10` is FALSE or NULL (3VL)
    "vt_rn" ->
      s"""$silverCte
         |SELECT event_id, value AS amount FROM silver
         |WHERE NOT COALESCE(value < 10.0, FALSE)""".stripMargin,

    // partitioned table ≡ delete (NULL-safe scope), then the vip re-tag
    // move, then the partition-scoped selection
    "vt_pb" ->
      s"""$silverCte,
         |upd AS (
         |  SELECT event_id,
         |         CASE WHEN event_type = 'purchase' AND value >= 90.0
         |              THEN 'vip' ELSE event_type END AS event_type,
         |         value
         |  FROM silver
         |  WHERE NOT COALESCE(event_type = 'click' AND value < 10.0, FALSE)
         |)
         |SELECT event_id, event_type, value FROM upd
         |WHERE event_type IN ('click', 'vip')""".stripMargin,

    // scoped optimize is content-identical: the table IS silver
    "vt_ow" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver""".stripMargin,

    // converted table ≡ silver minus the 3VL delete
    "vt_cv" ->
      s"""$silverCte
         |SELECT event_id, event_type, value FROM silver
         |WHERE NOT COALESCE(value < 10.0, FALSE)""".stripMargin,

    // full-clause merge ≡ inner join (update/delete by op), anti join
    // by source (stale flag), anti join by target (inserts)
    "vt_mc" ->
      s"""$silverCte,
         |src AS (
         |  SELECT event_id,
         |         CASE WHEN event_id % 10 = 0 THEN 'd' ELSE 'u' END AS op,
         |         value + 1000.0 AS new_value
         |  FROM silver WHERE event_id % 2 = 0
         |  UNION ALL
         |  SELECT event_id + 1000000000, 'i', value + 1000.0
         |  FROM silver WHERE event_id % 5 = 1
         |)
         |SELECT event_id, event_type, value FROM (
         |  SELECT t.event_id, t.event_type, s.new_value AS value
         |  FROM silver t JOIN src s ON t.event_id = s.event_id
         |  WHERE s.op <> 'd'
         |  UNION ALL
         |  SELECT t.event_id,
         |         CASE WHEN t.value < 5.0 THEN 'stale' ELSE t.event_type END,
         |         t.value
         |  FROM silver t ANTI JOIN src s ON t.event_id = s.event_id
         |  UNION ALL
         |  SELECT s.event_id, 'inserted', s.new_value
         |  FROM src s ANTI JOIN silver t ON s.event_id = t.event_id
         |  WHERE s.op <> 'd'
         |)""".stripMargin,

    // metadata counts ≡ row counts over the same delete+move end state
    "vt_cn" ->
      s"""$silverCte,
         |upd AS (
         |  SELECT event_id,
         |         CASE WHEN event_type = 'purchase' AND value >= 90.0
         |              THEN 'vip' ELSE event_type END AS event_type,
         |         value
         |  FROM silver
         |  WHERE NOT COALESCE(event_type = 'click' AND value < 10.0, FALSE)
         |)
         |SELECT scope, n FROM (
         |  SELECT 'click' AS scope, COUNT(*) FILTER (WHERE event_type = 'click') AS n FROM upd
         |  UNION ALL SELECT 'purchase', COUNT(*) FILTER (WHERE event_type = 'purchase') FROM upd
         |  UNION ALL SELECT 'signup', COUNT(*) FILTER (WHERE event_type = 'signup') FROM upd
         |  UNION ALL SELECT 'error', COUNT(*) FILTER (WHERE event_type = 'error') FROM upd
         |  UNION ALL SELECT 'vip', COUNT(*) FILTER (WHERE event_type = 'vip') FROM upd
         |  UNION ALL SELECT 'vip_hi', COUNT(*) FILTER (WHERE event_type = 'vip' AND value >= 95.0) FROM upd
         |  UNION ALL SELECT 'total', COUNT(*) FROM upd
         |)""".stripMargin,

    // v0 = signups; merged = every 3rd signup's value doubled + clicks
    // inserted; deleted = minus cheap clicks
    "vt_m" ->
      s"""$silverCte,
         |merged AS (
         |  SELECT event_id, event_type,
         |         CASE WHEN event_type = 'signup' AND event_id % 3 = 0
         |              THEN value * 2 ELSE value END AS value
         |  FROM silver WHERE event_type IN ('signup', 'click')
         |),
         |slice AS (
         |  SELECT 'v0' AS snap, count(*) AS n_rows,
         |         round(sum(round(value * 100)) / 100, 2) AS sum_value
         |  FROM silver WHERE event_type = 'signup'
         |  UNION ALL
         |  SELECT 'merged', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM merged
         |  UNION ALL
         |  SELECT 'deleted', count(*), round(sum(round(value * 100)) / 100, 2)
         |  FROM merged WHERE NOT (event_type = 'click' AND value < 50)
         |) SELECT snap, n_rows, sum_value FROM slice""".stripMargin,

    // change data feed rebuilt from silver: v0→v1 = clicks insert +
    // doubled-signup update pairs (identity updates where value = 0 or
    // NULL cancel — the <> 0 guard), v1→v2 = cheap-click deletes; value
    // arithmetic is *2 and <50 comparisons only (exact in binary FP,
    // no accumulation → bit-exact across engines)
    "vt_c" ->
      s"""$silverCte,
         |base AS (SELECT event_id, event_type, value FROM silver),
         |feed AS (
         |  SELECT event_id, event_type, value, 'insert' AS _change_type,
         |         'v0_v1' AS step
         |  FROM base WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT event_id, event_type, value, 'update_preimage', 'v0_v1'
         |  FROM base WHERE event_type = 'signup' AND event_id % 3 = 0
         |    AND value IS NOT NULL AND value <> 0
         |  UNION ALL
         |  SELECT event_id, event_type, value * 2, 'update_postimage', 'v0_v1'
         |  FROM base WHERE event_type = 'signup' AND event_id % 3 = 0
         |    AND value IS NOT NULL AND value <> 0
         |  UNION ALL
         |  SELECT event_id, event_type, value, 'delete', 'v1_v2'
         |  FROM base WHERE event_type = 'click' AND value < 50
         |) SELECT * FROM feed""".stripMargin,

    // identical feed, read through the table_changes TVF
    "vt_tc" ->
      s"""$silverCte,
         |base AS (SELECT event_id, event_type, value FROM silver),
         |feed AS (
         |  SELECT event_id, event_type, value, 'insert' AS _change_type,
         |         'v0_v1' AS step
         |  FROM base WHERE event_type = 'click'
         |  UNION ALL
         |  SELECT event_id, event_type, value, 'update_preimage', 'v0_v1'
         |  FROM base WHERE event_type = 'signup' AND event_id % 3 = 0
         |    AND value IS NOT NULL AND value <> 0
         |  UNION ALL
         |  SELECT event_id, event_type, value * 2, 'update_postimage', 'v0_v1'
         |  FROM base WHERE event_type = 'signup' AND event_id % 3 = 0
         |    AND value IS NOT NULL AND value <> 0
         |  UNION ALL
         |  SELECT event_id, event_type, value, 'delete', 'v1_v2'
         |  FROM base WHERE event_type = 'click' AND value < 50
         |) SELECT * FROM feed""".stripMargin,

    "a_dem" ->
      s"""$silverCte
         |SELECT event_date AS date, hour(ts) AS hour, zone_id,
         |       count(*) AS event_count
         |FROM silver GROUP BY 1, 2, 3""".stripMargin,

    // full recompute of the zone×hour revenue view — the incremental
    // merge must equal this bit-exactly (associative partials)
    "iv_ag" ->
      s"""$silverCte
         |SELECT zone_id, hour(ts) AS hour, count(*) AS event_count,
         |       round(sum(round(value * 100)) / 100, 2) AS total_revenue,
         |       sum(round(value * 100)) / 100 / count(*) AS avg_value,
         |       min(value) AS min_value, max(value) AS max_value
         |FROM silver WHERE event_type = 'purchase' AND zone_id IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,

    "a_rev" ->
      s"""$silverCte
         |SELECT event_date AS date, zone_id,
         |       round(sum(round(value * 100)) / 100, 2) AS total_revenue,
         |       sum(round(value * 100)) / 100 / count(*) AS avg_value,
         |       count(*) AS purchase_count
         |FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin,

    "a_ur" ->
      s"""$silverCte
         |SELECT event_date AS date, user_id,
         |       count(*) AS purchase_count,
         |       round(sum(round(value * 100)) / 100, 2) AS user_revenue,
         |       sum(round(value * 100)) / 100 / count(*) AS avg_purchase_value
         |FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin,

    "a_fun" ->
      s"""$silverCte,
         |s1 AS (
         |  SELECT user_id, event_id, ts, event_type,
         |         min(CASE WHEN event_type = 'signup' THEN ts END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS saw_signup
         |  FROM silver WHERE user_id IS NOT NULL
         |),
         |s2 AS (
         |  SELECT *,
         |         CASE WHEN event_type = 'click' AND saw_signup IS NOT NULL THEN ts END AS click_after,
         |         min(CASE WHEN event_type = 'click' AND saw_signup IS NOT NULL THEN ts END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_after
         |  FROM s1
         |),
         |u AS (
         |  SELECT user_id,
         |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         |         min(click_after) AS t_click,
         |         min(CASE WHEN event_type = 'purchase' AND first_click_after IS NOT NULL
         |                  THEN ts END) AS t_purchase
         |  FROM s2 GROUP BY 1
         |)
         |SELECT count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
         |       count(CASE WHEN t_click IS NOT NULL THEN 1 END) AS n_signup_click,
         |       count(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS n_signup_click_purchase
         |FROM u""".stripMargin,

    "a_ret" ->
      s"""$silverCte,
         |first AS (
         |  SELECT user_id, min(event_date) AS cohort_date
         |  FROM silver WHERE user_id IS NOT NULL GROUP BY 1
         |)
         |SELECT cohort_date,
         |       date_diff('day', cohort_date, event_date) AS day_offset,
         |       count(DISTINCT s.user_id) AS active_users
         |FROM silver s JOIN first USING (user_id)
         |WHERE s.user_id IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,

    "a_cum" ->
      s"""$silverCte,
         |daily AS (
         |  SELECT zone_id, event_date AS date, round(sum(value), 2) AS daily_revenue
         |  FROM silver WHERE event_type = 'purchase' AND zone_id IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT zone_id, date, daily_revenue,
         |       round(sum(daily_revenue) OVER (PARTITION BY zone_id ORDER BY date
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue,
         |       round(daily_revenue / sum(daily_revenue) OVER (PARTITION BY zone_id), 6) AS revenue_share
         |FROM daily""".stripMargin,

    "a_pv" ->
      s"""$silverCte
         |SELECT zone_id,
         |       count(*) FILTER (WHERE event_type = 'click') AS click,
         |       count(*) FILTER (WHERE event_type = 'error') AS error,
         |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
         |       count(*) FILTER (WHERE event_type = 'view') AS "view"
         |FROM silver WHERE zone_id IS NOT NULL GROUP BY 1""".stripMargin,

    "a_pc" ->
      s"""$silverCte
         |SELECT zone_id, count(*) AS n,
         |       round(quantile_cont(value, 0.25), 6) AS p25,
         |       round(quantile_cont(value, 0.5), 6) AS p50,
         |       round(quantile_cont(value, 0.75), 6) AS p75,
         |       round(quantile_cont(value, 0.95), 6) AS p95
         |FROM silver WHERE event_type = 'purchase' AND zone_id IS NOT NULL
         |GROUP BY 1""".stripMargin,

    "dq_sm" ->
      s"""$silverCte
         |SELECT col_name,
         |       CAST(null_count AS BIGINT) AS null_count,
         |       CAST(negative_count AS BIGINT) AS negative_count,
         |       CAST(total_count AS BIGINT) AS total_count FROM (
         |  SELECT 'event_id' AS col_name,
         |         sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS null_count,
         |         sum(CASE WHEN event_id < 0 THEN 1 ELSE 0 END) AS negative_count,
         |         count(*) AS total_count FROM silver
         |  UNION ALL
         |  SELECT 'user_id',
         |         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
         |         sum(CASE WHEN user_id < 0 THEN 1 ELSE 0 END), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'ts',
         |         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END),
         |         0, count(*) FROM silver
         |  UNION ALL
         |  SELECT 'event_type',
         |         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
         |         0, count(*) FROM silver
         |  UNION ALL
         |  SELECT 'value',
         |         sum(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END),
         |         sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'zone_id',
         |         sum(CASE WHEN zone_id IS NULL THEN 1 ELSE 0 END),
         |         sum(CASE WHEN zone_id < 0 THEN 1 ELSE 0 END), count(*) FROM silver
         |)""".stripMargin,

    // expectation suite: same one-wide-row-then-unpivot shape as dq_sum;
    // regex anchors make Java-regex rlike and RE2 regexp_matches agree
    "dq_e" ->
      s"""$silverCte
         |SELECT expectation, col_name, CAST(violations AS BIGINT) AS violations,
         |       CAST(total_rows AS BIGINT) AS total_rows, violations = 0 AS passed
         |FROM (
         |  SELECT 'not_null' AS expectation, 'user_id' AS col_name,
         |         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS violations,
         |         count(*) AS total_rows FROM silver
         |  UNION ALL
         |  SELECT 'not_null', 'value',
         |         sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'unique', 'event_id',
         |         count(event_id) - count(DISTINCT event_id), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'between', 'value',
         |         sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 200)
         |             THEN 1 ELSE 0 END), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'in_set', 'event_type',
         |         sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
         |             ('view','click','purchase','signup','error')
         |             THEN 1 ELSE 0 END), count(*) FROM silver
         |  UNION ALL
         |  SELECT 'regex', 'props',
         |         sum(CASE WHEN props IS NOT NULL AND NOT regexp_matches(props, '^\\{.*\\}$$')
         |             THEN 1 ELSE 0 END), count(*) FROM silver
         |)""".stripMargin,

    // key-skew report: integer count/key arithmetic, one double division
    // per derived column (bit-exact: same exact-integer operands), top-10
    // cut tie-broken on the key so LIMIT is deterministic in both engines
    "dq_kh" ->
      s"""$silverCte,
         |pk AS (
         |  SELECT user_id, count(*) AS cnt FROM silver
         |  WHERE user_id IS NOT NULL GROUP BY 1
         |),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |         CAST(sum(cnt) AS BIGINT) AS n_rows
         |  FROM pk
         |)
         |SELECT user_id, cnt, n_keys, n_rows,
         |       CAST(cnt AS DOUBLE) / n_rows AS row_share,
         |       CAST(cnt AS DOUBLE) * n_keys / n_rows AS skew_x,
         |       (cnt * n_keys + n_rows - 1) // n_rows AS salt_factor
         |FROM pk, st
         |ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin,

    // k-anonymity: DuckDB hour() is BIGINT, Spark's is INT → cast; both
    // engines truncate the parquet nanos to the same hour
    "dq_ka" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS hour,
        |       count(*) AS n_rows,
        |       count(DISTINCT user_id) AS n_ids,
        |       count(DISTINCT user_id) < 5 AS at_risk
        |FROM events GROUP BY 1, 2""".stripMargin,

    // freshness: epoch_us/1e6 mirrors Spark's cast(timestamp as double)
    // (seconds with fractional micros), then the identical subtract/divide
    // chain; stale_alert compares the ROUNDED lag, as the Spark side does
    "dq_fr" ->
      s"""$silverCte,
         |per AS (
         |  SELECT event_type, count(*) AS n_rows, max(ts) AS last_ts FROM silver GROUP BY 1
         |),
         |lagd AS (
         |  SELECT event_type, n_rows, last_ts,
         |         max(last_ts) OVER () AS corpus_last_ts,
         |         round((epoch_us(max(last_ts) OVER ()) / 1000000.0
         |                - epoch_us(last_ts) / 1000000.0) / 3600.0, 6) AS lag_hours
         |  FROM per
         |)
         |SELECT event_type, n_rows, last_ts, corpus_last_ts, lag_hours,
         |       lag_hours > 24.0 AS stale_alert
         |FROM lagd""".stripMargin,

    "f_dem" -> featDemandSql,

    "f_sg" -> featSurgeSql,

    "f_ch" -> featChurnSql,

    // leave-one-out target encoding: per-category sum/count windows, own
    // target excluded; null targets get the full mean, singletons null.
    // Exact-cents sums (the robustScale trick): round(value*100) is an
    // integer-valued double, so the window sum is accumulation-order-
    // independent — a raw sum(value) drifted a last ulp between engines
    // and failed the round-7 hash gate. LOO algebra stays in cents,
    // divided once at the end; identical operand/operation order on both
    // engines makes the quotient bit-identical with no rounding.
    "f_te" ->
      s"""$silverCte,
         |enc AS (
         |  SELECT event_id, event_type, value,
         |         sum(round(value * 100)) OVER (PARTITION BY event_type) AS s,
         |         count(value) OVER (PARTITION BY event_type) AS cnt
         |  FROM silver
         |)
         |SELECT event_id, event_type, value,
         |       CASE WHEN value IS NULL THEN s / cnt / 100.0
         |            WHEN cnt > 1 THEN (s - round(value * 100)) / (cnt - 1) / 100.0
         |       END AS target_enc
         |FROM enc""".stripMargin,

    // bin rule mirrored exactly: 1 + #cutpoints strictly below the value,
    // cutpoints = exact linear-interpolated deciles (percentile ≡
    // quantile_cont, parity already proven by agg_pctl)
    "f_bin" ->
      """WITH cuts AS (
        |  SELECT quantile_cont(o_totalprice,
        |           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs FROM orders
        |)
        |SELECT 1 + len(list_filter(cs, c -> c < o_totalprice)) AS bin,
        |       count(*) AS n,
        |       min(o_totalprice) AS lo,
        |       max(o_totalprice) AS hi,
        |       round(avg(o_totalprice), 6) AS avg_value
        |FROM orders, cuts
        |GROUP BY 1""".stripMargin,

    // exact-cents moments (integer-valued doubles add exactly in any
    // partition order) + exact percentile interpolation → identical
    // z/clip values; n > 1 guards the NaN-ordering divergence
    "f_std" ->
      s"""$silverCte,
         |stats AS (
         |  SELECT zone_id, count(*) AS n,
         |         SUM(round(value * 100)) AS sc,
         |         SUM(round(value * 100) * round(value * 100)) AS sc2,
         |         quantile_cont(value, 0.05) AS p05,
         |         quantile_cont(value, 0.95) AS p95
         |  FROM silver WHERE value IS NOT NULL GROUP BY zone_id),
         |st AS (
         |  SELECT zone_id, n, sc / n / 100.0 AS mean,
         |         CASE WHEN n > 1
         |              THEN sqrt((sc2 - sc * sc / n) / (n - 1)) / 100.0 END AS sd,
         |         p05, p95
         |  FROM stats)
         |SELECT s.event_id, s.zone_id, s.value,
         |       CASE WHEN n > 1 AND sd > 0 THEN (s.value - mean) / sd END AS z_value,
         |       least(greatest(s.value, p05), p95) AS value_wins
         |FROM silver s JOIN st USING (zone_id)""".stripMargin,

    // same daily grain, RANGE frame mirrored: integer day ORDER BY with
    // RANGE BETWEEN 6 PRECEDING — both engines bound the frame by value
    "a_rng" ->
      s"""$silverCte,
         |daily AS (
         |  SELECT zone_id, event_date AS date, round(sum(value), 4) AS rev,
         |         datediff('day', DATE '1970-01-01', event_date) AS day
         |  FROM silver WHERE event_type = 'purchase' AND zone_id IS NOT NULL
         |  GROUP BY 1, 2
         |)
         |SELECT zone_id, date, rev,
         |       round(sum(rev) OVER w, 4) AS rev_7d,
         |       count(*) OVER w AS days_active_7d
         |FROM daily
         |WINDOW w AS (PARTITION BY zone_id ORDER BY day
         |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "a_cr" ->
      s"""$silverCte
         |SELECT zone_id, count(*) AS n,
         |       round(corr(value, CAST(hour(ts) AS DOUBLE)), 6) AS corr_value_hour,
         |       round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6) AS covar_value_hour,
         |       round(stddev_samp(value), 6) AS stddev_value
         |FROM silver WHERE event_type = 'purchase' AND zone_id IS NOT NULL
         |GROUP BY 1""".stripMargin,

    "sc_dem" -> scoreDemandSql,

    // latest-wins upsert over the scored frame: run_2 re-scores zone_id%3=0
    // at a later scored_at; UNION ALL + row_number mirrors
    // Scoring.upsertPredictions exactly
    "sc_ups" ->
      s"""WITH sd AS (SELECT * FROM ($scoreDemandSql)),
         |existing AS (
         |  SELECT trip_date, hour, zone_id, event_count, demand_avg_7d, avg_value,
         |         is_peak_hour, is_weekend, predicted_demand,
         |         'run_1' AS scoring_run_id,
         |         TIMESTAMP '2024-02-01 00:00:00' AS scored_at
         |  FROM sd
         |),
         |incoming AS (
         |  SELECT trip_date, hour, zone_id, event_count, demand_avg_7d, avg_value,
         |         is_peak_hour, is_weekend,
         |         predicted_demand * CAST(1.1 AS DOUBLE) AS predicted_demand,
         |         'run_2' AS scoring_run_id,
         |         TIMESTAMP '2024-02-02 00:00:00' AS scored_at
         |  FROM sd WHERE zone_id % 3 = 0
         |),
         |unioned AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY trip_date, hour, zone_id
         |                               ORDER BY scored_at DESC, scoring_run_id DESC) AS rn
         |  FROM unioned
         |)
         |SELECT trip_date, hour, zone_id, event_count, demand_avg_7d, avg_value,
         |       is_peak_hour, is_weekend, predicted_demand, scoring_run_id, scored_at
         |FROM ranked WHERE rn = 1""".stripMargin,

    "sc_sg" ->
      s"""WITH sf AS ($featSurgeSql)
         |SELECT trip_date, hour, zone_id, event_count, user_count, count_avg_7d,
         |       least(CAST(user_count AS DOUBLE) / 20.0, 1.0) AS supply_index,
         |       least(greatest(
         |         least(greatest(count_avg_7d / 6.0, 0.5), 2.0)
         |           * (1.0 + greatest(1.0 - least(CAST(user_count AS DOUBLE) / 20.0, 1.0), 0.0) * 0.8)
         |           * (1.0 + least(greatest(0.0, 0.0), 1.0) * 0.25), 1.0), 3.0) AS predicted_surge
         |FROM sf""".stripMargin,

    "sc_mt" ->
      s"""WITH df AS ($featDemandSql),
         |scored AS (
         |  SELECT CAST(event_count AS DOUBLE) AS y,
         |         demand_avg_7d
         |           * (CASE WHEN hour IN (7, 8, 9, 16, 17, 18) THEN 1.25 ELSE 1.0 END)
         |           * (CASE WHEN dayofweek(trip_date) + 1 IN (1, 7) THEN 0.85 ELSE 1.0 END)
         |           * (1.0 + greatest(avg_value / 100.0 - 1.0, 0.0) * 0.15) AS yhat
         |  FROM df
         |)
         |SELECT count(*) AS n,
         |       sum(round(abs(y - yhat) * 1e6)) / 1e6 / count(*) AS mae,
         |       sqrt(sum(round((y - yhat) * (y - yhat) * 1e6)) / 1e6 / count(*)) AS rmse,
         |       sum(round(CASE WHEN y <> 0 THEN abs((y - yhat) / y) END * 1e6)) / 1e6
         |         / count(CASE WHEN y <> 0 THEN abs((y - yhat) / y) END) AS mape
         |FROM scored""".stripMargin,

    "mn_ps" ->
      s"""$silverCte,
         |melted AS (
         |  SELECT 'value' AS feature, CAST(value AS DOUBLE) AS x, event_date FROM silver
         |  UNION ALL
         |  SELECT 'zone_id', CAST(zone_id AS DOUBLE), event_date FROM silver
         |),
         |flagged AS (
         |  SELECT feature, x,
         |         CASE WHEN event_date <= DATE '$monitorSplit' THEN 1 ELSE 0 END AS is_base
         |  FROM melted WHERE x IS NOT NULL
         |),
         |stats AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM flagged WHERE is_base = 1 GROUP BY 1),
         |binned AS (
         |  SELECT f.feature, is_base,
         |         CASE WHEN hi = lo THEN 0
         |              ELSE CAST(least(greatest(floor((x - lo) / ((hi - lo) / 10)), 0), 9) AS INT) END AS bin
         |  FROM flagged f JOIN stats USING (feature)
         |),
         |counts AS (SELECT feature, bin, sum(is_base) AS b_cnt, sum(1 - is_base) AS c_cnt FROM binned GROUP BY 1, 2),
         |tot AS (SELECT feature, sum(b_cnt) AS b_tot, sum(c_cnt) AS c_tot FROM counts GROUP BY 1)
         |SELECT c.feature, CAST(t.b_tot AS BIGINT) AS base_count, CAST(t.c_tot AS BIGINT) AS cur_count,
         |       sum(round((greatest(c_cnt / t.c_tot, 1e-6) - greatest(b_cnt / t.b_tot, 1e-6))
         |           * ln(greatest(c_cnt / t.c_tot, 1e-6) / greatest(b_cnt / t.b_tot, 1e-6))
         |           * 1e6)) / 1e6 AS psi
         |FROM counts c JOIN tot t USING (feature)
         |GROUP BY 1, 2, 3""".stripMargin,

    // binned two-sample KS at the psi bin edges: cumulative integer
    // counts over integer totals → identical doubles in both engines
    "mn_ks" ->
      s"""$silverCte,
         |melted AS (
         |  SELECT 'value' AS feature, CAST(value AS DOUBLE) AS x, event_date FROM silver
         |  UNION ALL
         |  SELECT 'zone_id', CAST(zone_id AS DOUBLE), event_date FROM silver
         |),
         |flagged AS (
         |  SELECT feature, x,
         |         CASE WHEN event_date <= DATE '$monitorSplit' THEN 1 ELSE 0 END AS is_base
         |  FROM melted WHERE x IS NOT NULL
         |),
         |stats AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM flagged WHERE is_base = 1 GROUP BY 1),
         |binned AS (
         |  SELECT f.feature, is_base,
         |         CASE WHEN hi = lo THEN 0
         |              ELSE CAST(least(greatest(floor((x - lo) / ((hi - lo) / 10)), 0), 9) AS INT) END AS bin
         |  FROM flagged f JOIN stats USING (feature)
         |),
         |counts AS (SELECT feature, bin, sum(is_base) AS b_cnt, sum(1 - is_base) AS c_cnt FROM binned GROUP BY 1, 2),
         |tot AS (SELECT feature, sum(b_cnt) AS b_tot, sum(c_cnt) AS c_tot FROM counts GROUP BY 1),
         |cum AS (
         |  SELECT c.feature, t.b_tot, t.c_tot,
         |         sum(b_cnt) OVER (PARTITION BY c.feature ORDER BY bin
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_cum,
         |         sum(c_cnt) OVER (PARTITION BY c.feature ORDER BY bin
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cum
         |  FROM counts c JOIN tot t USING (feature)
         |)
         |SELECT feature, CAST(b_tot AS BIGINT) AS base_count, CAST(c_tot AS BIGINT) AS cur_count,
         |       max(abs(b_cum / b_tot - c_cum / c_tot)) AS ks
         |FROM cum GROUP BY 1, 2, 3""".stripMargin,

    // categorical chi-square: pooled-margin expected counts
    // E = row_total × window_total / N; integer counts all the way to the
    // final double division, so both engines compute identical cell terms;
    // the cell-term SUM rounds to 6 dp (engine-order accumulation)
    "mn_chi" ->
      s"""$silverCte,
         |melted AS (
         |  SELECT 'event_type' AS feature, CAST(event_type AS VARCHAR) AS x, event_date FROM silver
         |  UNION ALL
         |  SELECT 'zone_id', CAST(zone_id AS VARCHAR), event_date FROM silver
         |),
         |flagged AS (
         |  SELECT feature, x,
         |         CASE WHEN event_date <= DATE '$monitorSplit' THEN 1 ELSE 0 END AS is_base
         |  FROM melted WHERE x IS NOT NULL
         |),
         |counts AS (SELECT feature, x, sum(is_base) AS b_cnt, sum(1 - is_base) AS c_cnt FROM flagged GROUP BY 1, 2),
         |tot AS (SELECT feature, sum(b_cnt) AS b_tot, sum(c_cnt) AS c_tot, count(*) AS n_categories FROM counts GROUP BY 1),
         |cells AS (
         |  SELECT c.feature, b_tot, c_tot, n_categories, b_cnt, c_cnt,
         |         (b_cnt + c_cnt) * b_tot / (b_tot + c_tot) AS e_b,
         |         (b_cnt + c_cnt) * c_tot / (b_tot + c_tot) AS e_c
         |  FROM counts c JOIN tot USING (feature)
         |)
         |SELECT feature, CAST(b_tot AS BIGINT) AS base_count, CAST(c_tot AS BIGINT) AS cur_count,
         |       n_categories, n_categories - 1 AS dof,
         |       round(sum(pow(b_cnt - e_b, 2) / e_b + pow(c_cnt - e_c, 2) / e_c), 6) AS chi2
         |FROM cells GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    "mn_ms" ->
      s"""$silverCte,
         |melted AS (
         |  SELECT 'value' AS feature, CAST(value IS NULL AS INT) AS is_null, event_date FROM silver
         |  UNION ALL
         |  SELECT 'zone_id', CAST(zone_id IS NULL AS INT), event_date FROM silver
         |  UNION ALL
         |  SELECT 'user_id', CAST(user_id IS NULL AS INT), event_date FROM silver
         |),
         |flagged AS (
         |  SELECT feature, is_null,
         |         CASE WHEN event_date <= DATE '$monitorSplit' THEN 1 ELSE 0 END AS is_base
         |  FROM melted
         |)
         |SELECT feature,
         |       CAST(sum(is_base) AS BIGINT) AS base_total,
         |       CAST(sum(1 - is_base) AS BIGINT) AS cur_total,
         |       sum(is_base * is_null) / sum(is_base) AS base_missing_rate,
         |       sum((1 - is_base) * is_null) / sum(1 - is_base) AS cur_missing_rate,
         |       sum((1 - is_base) * is_null) / sum(1 - is_base)
         |         - sum(is_base * is_null) / sum(is_base) AS shift
         |FROM flagged GROUP BY 1""".stripMargin,

    "mn_vl" ->
      s"""$silverCte,
         |flagged AS (
         |  SELECT CASE WHEN event_date <= DATE '$monitorSplit' THEN 1 ELSE 0 END AS is_base,
         |         event_date
         |  FROM silver
         |),
         |agg AS (
         |  SELECT CAST(sum(is_base) AS BIGINT) AS base_count, CAST(sum(1 - is_base) AS BIGINT) AS cur_count,
         |         count(DISTINCT CASE WHEN is_base = 1 THEN event_date END) AS base_days,
         |         count(DISTINCT CASE WHEN is_base = 0 THEN event_date END) AS cur_days
         |  FROM flagged
         |)
         |SELECT base_count, cur_count, base_days, cur_days,
         |       base_count / base_days AS base_daily_avg,
         |       cur_count / cur_days AS cur_daily_avg,
         |       (cur_count / cur_days) / (base_count / base_days) AS volume_ratio,
         |       CASE WHEN (cur_count / cur_days) / (base_count / base_days) < 0.8 THEN 1 ELSE 0 END AS volume_alert
         |FROM agg""".stripMargin,

    // DuckDB quantile_cont ≡ Spark percentile (exact, linear interpolation)
    // on integer inputs — the p50/p95 rule the reference computes from API
    // logs (model_monitoring.py:154-172)
    "mn_lt" ->
      s"""$silverCte,
         |lat AS (SELECT (event_id * 37 + 11) % 450 + 50 AS latency_ms FROM silver)
         |SELECT count(latency_ms) AS n,
         |       quantile_cont(latency_ms, 0.5) AS p50,
         |       quantile_cont(latency_ms, 0.95) AS p95,
         |       avg(latency_ms) AS mean
         |FROM lat""".stripMargin,

    // the same magic-mask bit spread, stage by stage — integer shifts
    // and masks are exact on both engines, so zval matches bit-for-bit
    "q_z" ->
      s"""$silverCte,
         |d AS (SELECT event_id, zone_id, CAST(hour(ts) AS INT) AS hour
         |      FROM silver WHERE zone_id IS NOT NULL),
         |s0 AS (SELECT event_id, zone_id, hour,
         |              zone_id & 65535 AS ax,
         |              CAST(hour AS BIGINT) & 65535 AS bx FROM d),
         |s1 AS (SELECT *, (ax | (ax << 8)) & 16711935 AS a1,
         |                 (bx | (bx << 8)) & 16711935 AS b1 FROM s0),
         |s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
         |                 (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
         |s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
         |                 (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
         |s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
         |                 (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
         |SELECT event_id, zone_id, hour, a4 | (b4 << 1) AS zval FROM s4""".stripMargin,

    // α=½ EWMA: weights 2⁻¹…2⁻⁷ are exact dyadic doubles over integer
    // counts — every product/sum is exact, the one division is
    // correctly rounded → bit-identical forecasts on both engines
    "sc_fc" -> {
      val wsum = (1 to 7).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN CAST(l$j AS DOUBLE) * ${math.pow(0.5, j)} ELSE 0.0 END")
        .mkString(" + ")
      val wnorm = (1 to 7).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN ${math.pow(0.5, j)} ELSE 0.0 END")
        .mkString(" + ")
      val lagCols = (1 to 7).map(j =>
        s"lag(demand, $j) OVER (PARTITION BY zone_id ORDER BY event_date) AS l$j")
        .mkString(", ")
      s"""$silverCte,
         |daily AS (
         |  SELECT zone_id, event_date, count(*) AS demand FROM silver
         |  WHERE zone_id IS NOT NULL GROUP BY 1, 2),
         |lags AS (SELECT zone_id, event_date, demand, $lagCols FROM daily),
         |f AS (
         |  SELECT zone_id, event_date, demand,
         |         CAST(l1 AS DOUBLE) AS fc_naive,
         |         CAST(l7 AS DOUBLE) AS fc_seasonal,
         |         $wsum AS wsum,
         |         $wnorm AS wnorm
         |  FROM lags)
         |SELECT zone_id, event_date, demand, fc_naive, fc_seasonal,
         |       CASE WHEN wnorm > 0 THEN wsum / wnorm END AS fc_ewma,
         |       abs(demand - fc_naive) AS ae_naive,
         |       abs(demand - fc_seasonal) AS ae_seasonal,
         |       abs(demand - CASE WHEN wnorm > 0 THEN wsum / wnorm END) AS ae_ewma
         |FROM f""".stripMargin
    },

    // identical expression order end-to-end (exact long sums → one
    // division → sqrt → one multiply, each IEEE-correctly-rounded), so
    // both engines score and rank candidate splits bit-identically
    "mn_cp" ->
      s"""$silverCte,
         |daily AS (SELECT event_date AS change_date, count(*) AS x FROM silver GROUP BY 1),
         |pre AS (
         |  SELECT change_date,
         |         CAST(row_number() OVER (ORDER BY change_date) AS BIGINT) AS t,
         |         SUM(x) OVER (ORDER BY change_date
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM daily),
         |tot AS (SELECT SUM(x) AS tot, COUNT(*) AS n FROM daily)
         |SELECT change_date, n AS n_days,
         |       sqrt(CAST(t * (n - t) AS DOUBLE) / n) * abs(mean_before - mean_after) AS g_stat,
         |       mean_before, mean_after
         |FROM (
         |  SELECT p.change_date, p.t, tot.n,
         |         CAST(p.cum AS DOUBLE) / p.t AS mean_before,
         |         CAST(tot.tot - p.cum AS DOUBLE) / (tot.n - p.t) AS mean_after
         |  FROM pre p, tot WHERE p.t < tot.n)
         |ORDER BY g_stat DESC, change_date LIMIT 1""".stripMargin,

    // plain inequality join is the oracle for the bucketed range join
    "q_rng" ->
      """WITH bands AS (
        |  -- CAST keeps the bounds DOUBLE: DuckDB decimal-literal
        |  -- arithmetic yields DECIMAL, Spark emits float64
        |  SELECT b AS band_id,
        |         b * CAST(1000.0 AS DOUBLE) - 500.0 AS lo,
        |         b * CAST(1000.0 AS DOUBLE) + 500.0 AS hi
        |  FROM generate_series(0, 699) t(b)
        |)
        |SELECT o_orderkey, o_totalprice, band_id, lo, hi
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the union-window as-of
    // (>= bound ≡ the right-before-left tie order on the Spark side)
    "q_as" ->
      s"""$silverCte,
         |purch AS (
         |  SELECT user_id, ts, max(value) AS purchase_value
         |  FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2
         |)
         |SELECT l.event_id, l.user_id, l.ts, r.purchase_value AS purchase_value_asof
         |FROM silver l ASOF LEFT JOIN purch r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // DuckDB ASOF accepts any inequality comparator: <= is the forward
    // (earliest at-or-after) direction
    "q_af" ->
      s"""$silverCte,
         |purch AS (
         |  SELECT user_id, ts, max(value) AS purchase_value
         |  FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2
         |)
         |SELECT l.event_id, l.user_id, l.ts, r.purchase_value AS purchase_value_asof
         |FROM silver l ASOF LEFT JOIN purch r
         |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    // nearest = closer of backward/forward candidates; the gap compare
    // uses floor(epoch()) (Spark's truncating timestamp→long cast) so
    // sub-second ts tie-break identically; ties go backward. Right keys
    // are unique per (user_id, ts) by construction (pre-aggregated), so
    // the payload re-join is one-to-one.
    "q_anr" ->
      s"""$silverCte,
         |purch AS (
         |  SELECT user_id, ts, max(value) AS purchase_value
         |  FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2
         |),
         |b AS (
         |  SELECT l.event_id, max(r.ts) AS bts
         |  FROM silver l JOIN purch r ON l.user_id = r.user_id AND r.ts <= l.ts
         |  GROUP BY 1
         |),
         |f AS (
         |  SELECT l.event_id, min(r.ts) AS fts
         |  FROM silver l JOIN purch r ON l.user_id = r.user_id AND r.ts >= l.ts
         |  GROUP BY 1
         |)
         |SELECT l.event_id, l.user_id, l.ts,
         |       CASE WHEN b.bts IS NOT NULL AND (f.fts IS NULL OR
         |                 floor(epoch(l.ts)) - floor(epoch(b.bts))
         |                   <= floor(epoch(f.fts)) - floor(epoch(l.ts)))
         |            THEN rb.purchase_value ELSE rf.purchase_value END AS purchase_value_asof
         |FROM silver l
         |LEFT JOIN b ON l.event_id = b.event_id
         |LEFT JOIN f ON l.event_id = f.event_id
         |LEFT JOIN purch rb ON rb.user_id = l.user_id AND rb.ts = b.bts
         |LEFT JOIN purch rf ON rf.user_id = l.user_id AND rf.ts = f.fts""".stripMargin,

    // floor(epoch()) mirrors Spark's truncating timestamp→long cast so
    // the 24 h staleness bound compares identically on sub-second ts
    "q_at" ->
      s"""$silverCte,
         |purch AS (
         |  SELECT user_id, ts, max(value) AS purchase_value
         |  FROM silver WHERE event_type = 'purchase' GROUP BY 1, 2
         |),
         |best AS (
         |  SELECT l.event_id, r.purchase_value, r.ts AS rts,
         |         row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) AS rn
         |  FROM silver l JOIN purch r
         |    ON l.user_id = r.user_id AND r.ts <= l.ts
         |)
         |SELECT l.event_id, l.user_id, l.ts,
         |       CASE WHEN CAST(floor(epoch(l.ts)) AS BIGINT)
         |                 - CAST(floor(epoch(m.rts)) AS BIGINT) <= 86400
         |            THEN m.purchase_value END AS purchase_value_asof
         |FROM silver l
         |LEFT JOIN (SELECT event_id, purchase_value, rts FROM best WHERE rn = 1) m
         |  USING (event_id)""".stripMargin,

    "q1_a" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice) AS sum_base_price,
        |       sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |       sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) AS sum_charge,
        |       avg(l_quantity) AS avg_qty,
        |       avg(l_extendedprice) AS avg_price,
        |       avg(l_discount) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    // exact 4-dp revenue: sum the ×10⁴ integer image (order-independent),
    // divide once — mirrors Analytics.revenueExact
    "q3_j" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000 AS revenue,
        |       count(*) AS line_count
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q5_m" ->
      """SELECT n_name,
        |       sum(round(l_extendedprice * (1.0 - l_discount) * 10000)) / 10000 AS revenue,
        |       count(*) AS line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q_tn" ->
      """WITH counts AS (
        |  SELECT p_brand, p_partkey, count(*) AS order_count
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2
        |)
        |SELECT p_brand, p_partkey, order_count, "rank" FROM (
        |  SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY order_count DESC, p_partkey) AS "rank"
        |  FROM counts
        |) WHERE "rank" <= 3""".stripMargin,

    "q_rl" ->
      """SELECT r_name, n_name, count(*) AS customer_count, sum(c_acctbal) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q_cb" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n_items,
        |       sum(l_quantity) AS sum_qty,
        |       sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    // melt via UNION ALL (the engine-portable spelling of UNPIVOT);
    // measure labels = source column names, matching Spark's unpivot
    "q_unp" ->
      """SELECT l_returnflag, measure, count(*) AS n,
        |       sum(value) AS sum_value, round(avg(value), 6) AS avg_value
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
        |)
        |GROUP BY 1, 2""".stripMargin,

    "q_sop" ->
      """SELECT o_custkey, 'both_extremes' AS set_op FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')""".stripMargin,

    // same lossless length-band blocking, same unit-cost edit distance
    "q_fz" ->
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance
        |FROM names a JOIN names b
        |  ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= 2
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,

    // identical padded ordering string on both sides: fixed-width decimal
    // makes lexicographic == numeric, the orderkey suffix makes it unique
    "q_am" ->
      """SELECT o_custkey,
        |       arg_max(o_orderkey, printf('%018.2f|%012d', o_totalprice, o_orderkey)) AS top_order,
        |       arg_min(o_orderkey, printf('%018.2f|%012d', o_totalprice, o_orderkey)) AS bottom_order,
        |       max(o_totalprice) AS top_price,
        |       count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,

    // GROUPING SETS: same (region×segment | nation | total) sets; gid is
    // the ANSI grouping-bit integer (first grouping column = MSB, the
    // convention both engines share)
    "q_gs" ->
      """SELECT r_name, n_name, c_mktsegment,
        |       count(*) AS customer_count,
        |       sum(c_acctbal) AS total_acctbal,
        |       CAST(GROUPING(r_name, n_name, c_mktsegment) AS BIGINT) AS gid
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (n_name), ())""".stripMargin,

    "q_abv" ->
      """WITH na AS (
        |  SELECT c_nationkey, avg(c_acctbal) AS nation_avg FROM customer GROUP BY 1
        |)
        |SELECT c_custkey, c_name, c_acctbal, n_name AS nation, nation_avg
        |FROM customer
        |JOIN na USING (c_nationkey)
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > nation_avg""".stripMargin,

    "q_wf" ->
      """SELECT n_name AS nation, c_custkey, c_acctbal,
        |       rank() OVER w AS bal_rank,
        |       percent_rank() OVER w AS bal_pct,
        |       ntile(4) OVER w AS bal_quartile,
        |       lag(c_acctbal, 1) OVER w AS prev_bal,
        |       lead(c_acctbal, 1) OVER w AS next_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,

    "q_se" ->
      """WITH ord AS (SELECT DISTINCT o_custkey FROM orders),
        |flags AS (
        |  SELECT c_nationkey,
        |         CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS has_ord
        |  FROM customer LEFT JOIN ord ON c_custkey = o_custkey
        |)
        |SELECT n_name AS nation,
        |       CAST(sum(has_ord) AS BIGINT) AS active_customers,
        |       CAST(sum(1 - has_ord) AS BIGINT) AS inactive_customers
        |FROM flags JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    // the oracle is the UNSALTED join — salting must be invisible in the
    // result
    "q_sk" ->
      s"""$silverCte,
         |zd AS (
         |  SELECT zone_id, count(*) AS zone_events
         |  FROM silver WHERE zone_id IS NOT NULL GROUP BY 1
         |)
         |SELECT s.event_id, s.zone_id, zd.zone_events
         |FROM silver s JOIN zd ON s.zone_id = zd.zone_id
         |WHERE s.zone_id IS NOT NULL""".stripMargin,

    "dd_ex" ->
      """SELECT doc_id, md5(lower(text)) AS text_hash,
        |       min(doc_id) OVER w AS winner_id,
        |       count(*) OVER w AS dup_count,
        |       CAST(doc_id <> min(doc_id) OVER w AS INT) AS is_duplicate
        |FROM documents
        |WINDOW w AS (PARTITION BY md5(lower(text)))""".stripMargin,

    // integer counts divide into doubles identically on both engines;
    // the rates subtract a correctly-rounded quotient from 1.0
    "dd_rp" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(lower(text))) AS n_exact,
        |       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_norm,
        |       1.0 - CAST(count(DISTINCT md5(lower(text))) AS DOUBLE) / count(*) AS exact_dup_rate,
        |       1.0 - CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS DOUBLE)
        |             / count(*) AS norm_dup_rate
        |FROM documents GROUP BY source""".stripMargin,

    // same window shape as dedup_exact over the normalized-text hash;
    // regexp_replace needs the 'g' flag in DuckDB (Spark replaces all
    // matches by default) — [^a-z0-9]+ means the same thing to both
    "dd_nm" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
        |       min(doc_id) OVER w AS winner_id,
        |       count(*) OVER w AS dup_count,
        |       CAST(doc_id <> min(doc_id) OVER w AS INT) AS is_duplicate
        |FROM documents
        |WINDOW w AS (PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))""".stripMargin,

    "dd_mh" -> minhashOracleSql,

    // incremental ≡ the full pair set restricted to pairs touching the
    // batch (doc_id % 10 = 0) — signatures are per-doc, so banding over
    // corpus ∪ batch equals banding each side separately
    "dd_mi" ->
      s"""$shingleCte,
         |$minhashPairCtes
         |SELECT doc_a, doc_b,
         |       CAST(len(list_filter(generate_series(1, 16), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 AS est_jaccard
         |FROM pairs
         |WHERE doc_a % 10 = 0 OR doc_b % 10 = 0""".stripMargin,

    // connected components over the minhash candidate pairs: cluster_id =
    // min doc_id reachable in the pair graph (recursive CTE ≡ the Spark
    // side's min-label propagation fixpoint)
    "dd_cc" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$minhashPairCtes,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs
         |),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
         |)
         |SELECT node AS doc_id, min(lbl) AS cluster_id,
         |       CAST(min(lbl) = node AS INT) AS is_canonical
         |FROM reach GROUP BY 1""".stripMargin,

    // corpus docs surviving benchmark decontamination (benchmark = every
    // 20th doc): no exact normalized-hash match AND < 5 shared 3-gram
    // shingles with every single benchmark doc
    "dc_ex" ->
      s"""$shingleCte,
         |bench_hash AS (
         |  SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id % 20 = 0
         |),
         |near AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
         |    FROM ex c JOIN (SELECT * FROM ex WHERE doc_id % 20 = 0) b
         |      ON c.shingle = b.shingle
         |    GROUP BY 1, 2
         |  ) WHERE shared >= 5
         |  GROUP BY 1
         |)
         |SELECT d.doc_id FROM documents d
         |WHERE md5(lower(d.text)) NOT IN (SELECT h FROM bench_hash)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin,

    // the bloom variant must be indistinguishable from exact decontamination
    // (the FP-confirm join guarantees it), so the oracle IS the exact form,
    // over the %17 bench slice
    "dc_bl" ->
      s"""$shingleCte,
         |bench_hash AS (
         |  SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id % 17 = 0
         |),
         |near AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
         |    FROM ex c JOIN (SELECT * FROM ex WHERE doc_id % 17 = 0) b
         |      ON c.shingle = b.shingle
         |    GROUP BY 1, 2
         |  ) WHERE shared >= 5
         |  GROUP BY 1
         |)
         |SELECT d.doc_id FROM documents d
         |WHERE md5(lower(d.text)) NOT IN (SELECT h FROM bench_hash)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin,

    // embedding decontamination: brute-force cosine vs the benchmark
    // slice (the v_bf oracle's list_reduce cosine chain — bit-identical
    // to the native kernel's index-ordered accumulation)
    "dc_em" ->
      s"""WITH c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 20 <> 0),
         |b AS (SELECT vec_id AS bench_id, embedding AS b_emb FROM embeddings WHERE vec_id % 20 = 0),
         |hits AS (
         |  SELECT DISTINCT c.vec_id
         |  FROM c CROSS JOIN b
         |  WHERE c.vec_id <> b.bench_id
         |    AND ${duckCosine("c.embedding", "b.b_emb")} >= 0.4
         |)
         |SELECT vec_id, label FROM c
         |WHERE vec_id NOT IN (SELECT vec_id FROM hits)""".stripMargin,

    // benchmark-side contamination audit over disjoint slices: exact =
    // normalized-hash matches, near = >= 5 shared distinct 3-gram
    // shingles (the dc_ex shapes, re-aggregated per benchmark item)
    "dc_rp" ->
      s"""$shingleCte,
         |bench AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 20 = 0),
         |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
         |exact AS (
         |  SELECT b.bench_id, count(*) AS n_exact
         |  FROM bench b JOIN corpus c ON md5(lower(c.text)) = md5(lower(b.text))
         |  GROUP BY 1
         |),
         |pairs AS (
         |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
         |  FROM (SELECT * FROM ex WHERE doc_id % 20 <> 0) c
         |  JOIN (SELECT * FROM ex WHERE doc_id % 20 = 0) b ON c.shingle = b.shingle
         |  GROUP BY 1, 2
         |),
         |near AS (
         |  SELECT bench_id, count(*) AS n_near, max(shared) AS max_shared
         |  FROM pairs WHERE shared >= 5 GROUP BY 1
         |)
         |SELECT s.doc_id AS bench_id, len(s.shingles) AS n_shingles,
         |       coalesce(e.n_exact, 0) AS n_exact,
         |       coalesce(nr.n_near, 0) AS n_near,
         |       coalesce(nr.max_shared, 0) AS max_shared
         |FROM sh s
         |LEFT JOIN exact e ON s.doc_id = e.bench_id
         |LEFT JOIN near nr ON s.doc_id = nr.bench_id
         |WHERE s.doc_id % 20 = 0""".stripMargin,

    // end-to-end curation report: the same stage chain the Spark side
    // composes, rebuilt as CTEs — quality filter (t_ql formula), exact
    // dedup (dd_ex window), LSH near-dup candidates + recursive-CTE
    // connected components (dd_mh + dd_cc shapes, restricted to the
    // exact-dedup survivors), decontamination (dc_ex shape), stratified
    // md5 sampling (s_st shape), split assignment (s_spl shape, its own
    // ':graft:split' salt). Stage rows come from a VALUES spine so an
    // empty stage still reports 0s, exactly like the Spark agg
    "cur" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$minhashPairCtes,
         |tokc AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS n_toks
         |  FROM documents
         |),
         |ql AS (
         |  SELECT doc_id FROM documents
         |  WHERE least(CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 50.0, 1.0)
         |        * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |                 / length(text)) >= 0.2
         |),
         |qk AS (SELECT d.* FROM documents d JOIN ql USING (doc_id)),
         |ek AS (
         |  SELECT * FROM qk
         |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text)))
         |),
         |ep AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a IN (SELECT doc_id FROM ek) AND doc_b IN (SELECT doc_id FROM ek)
         |),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM ep UNION ALL SELECT doc_b, doc_a FROM ep),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM ek
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
         |),
         |canon AS (SELECT node AS doc_id FROM reach GROUP BY node HAVING min(lbl) = node),
         |nk AS (SELECT ek.* FROM ek JOIN canon USING (doc_id)),
         |bench_hash AS (SELECT DISTINCT md5(lower(text)) AS h FROM documents WHERE doc_id % 20 = 0),
         |nearhit AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
         |    FROM (SELECT ex.* FROM ex JOIN nk USING (doc_id)) c
         |    JOIN (SELECT * FROM ex WHERE doc_id % 20 = 0) b ON c.shingle = b.shingle
         |    GROUP BY 1, 2
         |  ) WHERE shared >= 5 GROUP BY 1
         |),
         |dk AS (
         |  SELECT * FROM nk
         |  WHERE md5(lower(text)) NOT IN (SELECT h FROM bench_hash)
         |    AND doc_id NOT IN (SELECT doc_id FROM nearhit)
         |),
         |ck AS (
         |  SELECT * FROM dk
         |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
         |          / 4294967296.0
         |        < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
         |),
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN f < 0.8 THEN 'train' WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft:split'), 1, 8) AS BIGINT)
         |             / 4294967296.0 AS f
         |    FROM ck
         |  )
         |),
         |stage_ids AS (
         |  SELECT 0 AS stage_idx, 'input' AS stage, doc_id FROM documents
         |  UNION ALL SELECT 1, 'quality_kept', doc_id FROM qk
         |  UNION ALL SELECT 2, 'exact_kept', doc_id FROM ek
         |  UNION ALL SELECT 3, 'near_kept', doc_id FROM nk
         |  UNION ALL SELECT 4, 'decontaminated', doc_id FROM dk
         |  UNION ALL SELECT 5, 'curated', doc_id FROM ck
         |  UNION ALL SELECT 6, 'split_train', doc_id FROM sp WHERE split = 'train'
         |  UNION ALL SELECT 7, 'split_val', doc_id FROM sp WHERE split = 'val'
         |  UNION ALL SELECT 8, 'split_test', doc_id FROM sp WHERE split = 'test'
         |),
         |spine(stage_idx, stage) AS (
         |  VALUES (0, 'input'), (1, 'quality_kept'), (2, 'exact_kept'),
         |         (3, 'near_kept'), (4, 'decontaminated'), (5, 'curated'),
         |         (6, 'split_train'), (7, 'split_val'), (8, 'split_test')
         |),
         |counts AS (
         |  SELECT stage_idx, stage, count(*) AS n_docs,
         |         CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens
         |  FROM stage_ids LEFT JOIN tokc USING (doc_id)
         |  GROUP BY 1, 2
         |)
         |SELECT s.stage_idx, s.stage,
         |       coalesce(c.n_docs, 0) AS n_docs,
         |       coalesce(c.n_tokens, 0) AS n_tokens
         |FROM spine s LEFT JOIN counts c USING (stage_idx, stage)""".stripMargin,

    // deterministic hash sampling: md5-fraction < per-stratum rate —
    // byte-identical selection in any engine
    "s_st" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |        / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END""".stripMargin,

    // hash-order rank per stratum — ties impossible below the fraction
    // (doc_id breaks them), so both engines rank identically
    "s_rs" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |             / 4294967296.0, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 20""".stripMargin,

    "s_spl" ->
      """SELECT doc_id, lang,
        |       CASE WHEN f < 0.8 THEN 'train' WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |           / 4294967296.0 AS f
        |  FROM documents
        |)""".stripMargin,

    // Efraimidis–Spirakis priorities: ln(u)/w gaps at corpus scale are
    // ~1e-3 relative, ~13 orders above cross-engine libm ulp differences,
    // so both engines select the same top-n (doc_id breaks exact ties)
    "s_wt" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         ln(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |              / 4294967296.0) / CAST(n_chars AS DOUBLE) AS priority
        |  FROM documents
        |) ORDER BY priority DESC, doc_id LIMIT 200""".stripMargin,

    // same priority expression as smp_wt, ranked per lang
    // (row_number over a non-null priority/doc_id — no NULLS clause
    // needed); ties on priority break by doc_id in both engines
    "s_wp" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ln(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |                / 4294967296.0) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 50""".stripMargin,

    // deterministic epoch shuffle: md5 hex order is engine-portable, and
    // shard = first-8-hex mod 64 matches Spark's conv(...,16,10) % 64;
    // ':shuffle:' domain-separates the key from the sampling/split hash
    // (otherwise pos order = split-assignment order)
    "s_sh" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(CAST(doc_id AS VARCHAR) || ':shuffle:graft') AS shuffle_key
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, shuffle_key,
        |         CAST(CAST('0x' || substr(shuffle_key, 1, 8) AS BIGINT) % 64 AS INT) AS shard
        |  FROM h
        |)
        |SELECT doc_id, shuffle_key, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY shuffle_key, doc_id) AS INT) AS pos
        |FROM s""".stripMargin,

    // naive per-stratum window formulation — row-identical to the
    // bucketed Spark plan because buckets are prefix ranges of the same
    // (frac, doc_id) order; the md5 fraction is an exact dyadic double on
    // both engines, so order and cut agree bit-for-bit
    "s_tb" ->
      """SELECT doc_id, lang, n_tok FROM (
        |  SELECT doc_id, lang, n_tok,
        |         COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY frac, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (
        |    SELECT doc_id, lang,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |             / 4294967296.0 AS frac
        |    FROM documents))
        |WHERE cum_before < CASE lang WHEN 'en' THEN 6000 ELSE 2000 END""".stripMargin,

    // confusion matrix of LSH-predicted pairs vs exact-Jaccard pairs:
    // count FILTER keeps tp/fp/fn BIGINT (sum() would widen to HUGEINT);
    // ratios divide identical integers in both engines → identical doubles
    "dd_ev" ->
      s"""$shingleCte,
         |$minhashPairCtes,
         |pred AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE CAST(len(list_filter(generate_series(1, 16), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 16.0 >= 0.5
         |),
         |stop AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) > ${Dedup.DefaultStopShingleDf}),
         |exf AS (SELECT doc_id, shingle FROM ex WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM exf GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS both_cnt
         |  FROM exf a JOIN exf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |truth AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |           CAST(both_cnt AS DOUBLE) / (sa.n_shingles + sb.n_shingles - both_cnt) AS jaccard
         |    FROM inter
         |    JOIN sizes sa ON doc_a = sa.doc_id
         |    JOIN sizes sb ON doc_b = sb.doc_id
         |  ) WHERE jaccard >= 0.5
         |),
         |cm AS (
         |  SELECT count(*) FILTER (WHERE p.doc_a IS NOT NULL AND t.doc_a IS NOT NULL) AS tp,
         |         count(*) FILTER (WHERE p.doc_a IS NOT NULL AND t.doc_a IS NULL) AS fp,
         |         count(*) FILTER (WHERE p.doc_a IS NULL AND t.doc_a IS NOT NULL) AS fn
         |  FROM pred p FULL OUTER JOIN truth t
         |    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
         |)
         |SELECT tp, fp, fn, "precision", recall,
         |       CASE WHEN "precision" + recall > 0
         |            THEN 2.0 * "precision" * recall / ("precision" + recall)
         |            ELSE 0.0 END AS f1
         |FROM (
         |  SELECT tp, fp, fn,
         |         CAST(tp AS DOUBLE) / greatest(tp + fp, 1) AS "precision",
         |         CAST(tp AS DOUBLE) / greatest(tp + fn, 1) AS recall
         |  FROM cm
         |)""".stripMargin,

    // substring-granular dedup: identical md5 window fingerprints both
    // sides (DuckDB list slice toks[i:i+9] ≡ Spark slice(t, i, 10) on the
    // 1-based inclusive k=10 window), the same TOTAL-occurrence cap, and
    // the same gaps-and-islands merge keyed by (pair, pos_a − pos_b)
    "dd_su" ->
      s"""$substrRunsCtes
         |SELECT doc_a, doc_b, start_a, start_b, match_len FROM runs""".stripMargin,

    // per-doc duplicated-token FRACTION from the same runs: DISTINCT
    // duplicated positions (overlapping runs never double-count), docs
    // with no runs report 0 — mirrors Dedup.substringCoverage
    "dd_cv" ->
      s"""$substrRunsCtes,
         |per_side AS (
         |  SELECT doc_a AS doc_id, start_a AS st, match_len FROM runs
         |  UNION ALL
         |  SELECT doc_b, start_b, match_len FROM runs
         |), covered AS (
         |  SELECT doc_id, count(DISTINCT st + i) AS dup_tokens
         |  FROM per_side, LATERAL (SELECT unnest(range(0, match_len)) AS i) r
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.n_tokens,
         |       COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |       CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / greatest(d.n_tokens, 1) AS dup_frac
         |FROM (SELECT doc_id, len(toks) AS n_tokens FROM t) d
         |LEFT JOIN covered c USING (doc_id)""".stripMargin,

    // mirrors Dedup.ngramJaccard's default stop-shingle cap (df > 1000
    // dropped before the candidate join; drops nothing at test SF where
    // max DF is 25, but the oracle pins the DEPLOYED capped semantics)
    "dd_jc" ->
      s"""$shingleCte,
         |stop AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) > ${Dedup.DefaultStopShingleDf}),
         |exf AS (SELECT doc_id, shingle FROM ex WHERE shingle NOT IN (SELECT shingle FROM stop)),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM exf GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS both_cnt
         |  FROM exf a JOIN exf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, both_cnt, jaccard FROM (
         |  SELECT doc_a, doc_b, both_cnt,
         |         CAST(both_cnt AS DOUBLE) / (sa.n_shingles + sb.n_shingles - both_cnt) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |) WHERE jaccard >= 0.5""".stripMargin,

    "dd_sh" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
        |),
        |th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, b.bit,
        |         sum(CASE WHEN (h // CAST(power(2, b.bit) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
        |  GROUP BY 1, 2
        |),
        |fp AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY 1
        |),
        |banded AS (
        |  SELECT doc_id, simhash, b.b AS band_idx,
        |         (simhash // CAST(power(2, 15 * b.b) AS BIGINT)) % 32768 AS band_val
        |  FROM fp, (SELECT unnest(generate_series(0, 3)) AS b) b
        |),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
        |FROM pairs WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,

    "dd_eb" ->
      """SELECT vec_a, vec_b, cosine FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |         / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
        |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |            * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
        |               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |) WHERE cosine >= 0.35""".stripMargin,

    "t_ld" -> {
      val scoreDefs = TextFunctions.langs.map { l =>
        val set = TextFunctions.stopwords(l).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($set))) AS score_$l"
      }.mkString(",\n       ")
      val bestExpr = TextFunctions.langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val predCases = TextFunctions.langs
        .map(l => s"WHEN score_$l = best THEN '$l'").mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |       $scoreDefs
         |  FROM documents
         |),
         |withbest AS (SELECT *, $bestExpr AS best FROM scored)
         |SELECT doc_id, lang,
         |       CASE $predCases END AS predicted_lang,
         |       CAST((CASE $predCases END) = lang AS INT) AS is_match,
         |       ${TextFunctions.langs.map(l => s"score_$l").mkString(", ")}
         |FROM withbest""".stripMargin
    },

    "t_ql" -> {
      val enSet = TextFunctions.stopwords("en").map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |       length(text) AS n_chars,
         |       len(string_split(lower(text), ' ')) AS n_tokens,
         |       CAST(length(text) AS DOUBLE) / len(string_split(lower(text), ' ')) AS chars_per_token,
         |       CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
         |       CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |       CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ($enSet))) AS DOUBLE)
         |         / len(string_split(lower(text), ' ')) AS stopword_ratio,
         |       least(CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 50.0, 1.0)
         |         * (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)) AS quality_score
         |FROM documents""".stripMargin
    },

    // expression shapes mirror TextFunctions.tfidfBm25 exactly (operator
    // order matters for double bit-parity; integer '/' is float division
    // in BOTH engines)
    "t_tf" ->
      """WITH toks AS (
        |  SELECT doc_id, t AS token FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
        |  ) WHERE t <> ''
        |),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl)
        |SELECT t.doc_id, t.token, t.tf, d.doc_len, f.df,
        |       round(t.tf * ln(s.n_docs / f.df), 6) AS tfidf,
        |       round(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
        |         * (t.tf * (CAST(1.2 AS DOUBLE) + 1))
        |         / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)), 6) AS bm25
        |FROM tf t JOIN dl d USING (doc_id) JOIN dft f USING (token), stats s""".stripMargin,

    "t_tok" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
        |       len(list_distinct(string_split(lower(text), ' '))) AS distinct_tokens,
        |       CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_ws_token
        |FROM documents""".stripMargin,

    // chunking mirrored with generate_series + list_slice (both engines:
    // starts 0, 48, 96, … ≤ n_toks-1; windows clamp at the tail)
    "t_ch" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 1, 0) + 1, 48)) AS start_tok
        |  FROM t
        |)
        |SELECT doc_id,
        |       CAST(start_tok / 48 AS INT) AS chunk_id,
        |       CAST(start_tok AS INT) AS start_tok,
        |       len(list_slice(toks, start_tok + 1, start_tok + 64)) AS n_tokens,
        |       array_to_string(list_slice(toks, start_tok + 1, start_tok + 64), ' ') AS chunk_text
        |FROM s""".stripMargin,

    // patterns + replacement order mirror TextFunctions.piiPatterns; counts
    // are over the pre-redaction text on both sides
    "t_pii" ->
      """WITH salted AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com or 555-867-5309 from 10.0.0.'
        |           || CAST(doc_id % 256 AS VARCHAR) AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |         '\b\d{9,}\b', '<NUM>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INTEGER) AS n_phones,
        |       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        |       CAST(len(regexp_extract_all(text, '\b\d{9,}\b')) AS INTEGER) AS n_id_numbers
        |FROM salted""".stripMargin,

    "t_pk" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS n_tokens
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |         COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t
        |)
        |SELECT lang, CAST(floor(prior / 2048.0) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""".stripMargin,

    "t_hh" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
        |),
        |toks AS (SELECT doc_id, token FROM raw WHERE token <> ''),
        |stats AS (
        |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM toks GROUP BY 1
        |),
        |ranked AS (
        |  SELECT token, tf, df, row_number() OVER (ORDER BY tf DESC, token) AS "rank"
        |  FROM stats
        |)
        |SELECT token, tf, df, "rank" FROM ranked WHERE "rank" <= 100""".stripMargin,

    "t_fp" ->
      """WITH base AS (
        |  SELECT doc_id, lower(text) AS norm,
        |         greatest(length(lower(text)) - 4, 0) AS n_k
        |  FROM documents
        |)
        |SELECT doc_id, md5(norm) AS norm_md5, n_k AS n_kgrams,
        |       CASE WHEN n_k >= 1 THEN list_aggregate(list_transform(generate_series(1, n_k, 1), i -> md5(substr(norm, i, 5))), 'min') END AS kgram_min,
        |       CASE WHEN n_k >= 1 THEN list_aggregate(list_transform(generate_series(1, n_k, 4), i -> md5(substr(norm, i, 5))), 'min') END AS kgram_min_0,
        |       CASE WHEN n_k >= 2 THEN list_aggregate(list_transform(generate_series(2, n_k, 4), i -> md5(substr(norm, i, 5))), 'min') END AS kgram_min_1,
        |       CASE WHEN n_k >= 3 THEN list_aggregate(list_transform(generate_series(3, n_k, 4), i -> md5(substr(norm, i, 5))), 'min') END AS kgram_min_2,
        |       CASE WHEN n_k >= 4 THEN list_aggregate(list_transform(generate_series(4, n_k, 4), i -> md5(substr(norm, i, 5))), 'min') END AS kgram_min_3
        |FROM base""".stripMargin,

    "c_rp" ->
      """SELECT lang, source,
        |       count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       avg(n_chars) AS avg_chars,
        |       min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars,
        |       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // token_share divides identical integers in both engines (exact long
    // sums) -> identical doubles
    "c_mx" ->
      """WITH assigned AS (
        |  SELECT lang, text,
        |         CASE WHEN f < 0.8 THEN 'train' WHEN f < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (
        |    SELECT lang, text,
        |           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) AS BIGINT)
        |             / 4294967296.0 AS f
        |    FROM documents
        |  )
        |),
        |cells AS (
        |  SELECT split, lang, count(*) AS n_docs,
        |         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM assigned GROUP BY 1, 2
        |)
        |SELECT split, lang, n_docs, total_tokens,
        |       CAST(total_tokens AS DOUBLE)
        |         / sum(total_tokens) OVER (PARTITION BY split) AS token_share
        |FROM cells""".stripMargin,

    "t_lm1" ->
      """WITH raw AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
        |),
        |toks AS (SELECT doc_id, token FROM raw WHERE token <> ''),
        |vocab AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n_total FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |       sum(round(-ln(tf / n_total) * 1e6)) / 1e6 / count(*) AS avg_nll,
        |       sum(round(-ln(tf / n_total) * 1e6)) / 1e6 AS total_nll
        |FROM toks JOIN vocab USING (token) CROSS JOIN tot
        |GROUP BY 1""".stripMargin,

    // hashing trick: identical md5-prefix → index chain on both engines
    // (the same '0x'-cast idiom the sampling oracles use); counts are
    // exact integers, so no float tolerance in play at all
    "t_fh" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS token
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 4096 AS feat_idx,
        |       count(*) AS feat_count
        |FROM toks GROUP BY 1, 2""".stripMargin,

    // bigram LM: conditional denominator = prefix-marginal of the bigram
    // COUNT table (sums to 1 per prefix); the ln-chain mirrors the Spark
    // expression shape-for-shape, NLL aggregates round to 6 dp
    "t_lm2" ->
      """WITH tl AS (
        |  SELECT doc_id, list_filter(str_split(lower(text), ' '), x -> x <> '') AS t FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM tl
        |),
        |bgc AS (SELECT bigram, count(*) AS pair_count FROM bg GROUP BY 1),
        |pc AS (
        |  SELECT str_split(bigram, ' ')[1] AS prefix, CAST(sum(pair_count) AS BIGINT) AS c_prefix
        |  FROM bgc GROUP BY 1
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(CAST(pair_count AS DOUBLE) / c_prefix)), 6) AS avg_nll,
        |       round(sum(-ln(CAST(pair_count AS DOUBLE) / c_prefix)), 6) AS total_nll
        |FROM bg JOIN bgc USING (bigram)
        |JOIN pc ON str_split(bigram, ' ')[1] = pc.prefix
        |GROUP BY 1""".stripMargin,

    "t_bp" ->
      """WITH words AS (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
        |),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
        |  FROM words WHERE word <> ''
        |),
        |counted AS (SELECT pair, count(*) AS pair_count FROM pairs GROUP BY 1),
        |ranked AS (
        |  SELECT pair, pair_count,
        |         row_number() OVER (ORDER BY pair_count DESC, pair) AS "rank"
        |  FROM counted
        |)
        |SELECT pair, pair_count, "rank" FROM ranked WHERE "rank" <= 100""".stripMargin,

    // PMI over corpus bigram/unigram counts: n_bg sums ALL bigrams (the
    // probability denominator), minCount prunes output only; the ln-chain
    // mirrors the Spark expression shape-for-shape so doubles agree
    "t_pmi" ->
      """WITH tl AS (
        |  SELECT list_filter(str_split(lower(text), ' '), x -> x <> '') AS t FROM documents
        |),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM tl
        |),
        |bgc AS (SELECT bigram, count(*) AS pair_count FROM bg GROUP BY 1),
        |uc AS (SELECT word, count(*) AS c_word
        |       FROM (SELECT unnest(t) AS word FROM tl) GROUP BY 1),
        |tot AS (SELECT CAST((SELECT sum(c_word) FROM uc) AS BIGINT) AS n_uni,
        |               CAST((SELECT sum(pair_count) FROM bgc) AS BIGINT) AS n_bg)
        |SELECT str_split(bigram, ' ')[1] AS word_a,
        |       str_split(bigram, ' ')[2] AS word_b,
        |       pair_count, c_a, c_b,
        |       round(ln((CAST(pair_count AS DOUBLE) / n_bg)
        |          / ((CAST(c_a AS DOUBLE) / n_uni) * (CAST(c_b AS DOUBLE) / n_uni))), 6) AS pmi
        |FROM bgc
        |JOIN (SELECT word AS word_a, c_word AS c_a FROM uc) a ON str_split(bigram, ' ')[1] = a.word_a
        |JOIN (SELECT word AS word_b, c_word AS c_b FROM uc) b ON str_split(bigram, ' ')[2] = b.word_b
        |CROSS JOIN tot
        |WHERE pair_count >= 5""".stripMargin,

    // OLS of ln(freq) on ln(rank) over the top-1000 vocab; outputs round
    // to 6 dp (the sums accumulate doubles in engine-specific order)
    "t_zp" ->
      """WITH freqs AS (
        |  SELECT word, count(*) AS tf FROM (
        |    SELECT unnest(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS word
        |    FROM documents
        |  ) GROUP BY 1 ORDER BY tf DESC, word LIMIT 1000
        |),
        |pts AS (
        |  SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, word) AS DOUBLE)) AS x,
        |         ln(CAST(tf AS DOUBLE)) AS y
        |  FROM freqs
        |),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM pts
        |)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
        |       round(pow(n * sxy - sx * sy, 2)
        |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,

    // mix conformance: shares divide exact longs; KL/TV sums round to
    // 6 dp (engine-order double accumulation). The full outer join with
    // the target langs mirrors the Spark side: a spec'd-but-absent
    // language still contributes its |0 - tgt| TV mass (and a 0 KL term)
    "mx_kl" ->
      """WITH lt AS (
        |  SELECT lang,
        |         CAST(sum(len(list_filter(str_split(lower(text), ' '), x -> x <> ''))) AS BIGINT)
        |           AS lang_tokens
        |  FROM documents GROUP BY 1
        |),
        |u AS (
        |  SELECT COALESCE(lt.lang, t.lang) AS lang, COALESCE(lt.lang_tokens, 0) AS lang_tokens
        |  FROM lt FULL OUTER JOIN
        |    (VALUES ('en'), ('de'), ('es'), ('fr'), ('zh')) AS t(lang)
        |    ON lt.lang = t.lang
        |),
        |o AS (
        |  SELECT lang, lang_tokens,
        |         CAST(lang_tokens AS DOUBLE) / sum(lang_tokens) OVER () AS obs,
        |         CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
        |                   WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 1e-6 END AS tgt
        |  FROM u
        |)
        |SELECT count(*) AS n_langs,
        |       round(sum(CASE WHEN obs = 0 THEN 0.0 ELSE obs * ln(obs / tgt) END), 6) AS kl_nats,
        |       round(sum(abs(obs - tgt)) / 2, 6) AS tv_dist
        |FROM o""".stripMargin,

    // token counts mirror corpus_mix's (raw whitespace split, no empty
    // filter); pow/shares round to 6 dp (libm-vs-JVM pow last-ulp)
    "mx_t" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_docs,
        |         CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1
        |),
        |s AS (
        |  SELECT lang, n_docs, tokens,
        |         CAST(tokens AS DOUBLE) / sum(tokens) OVER () AS p,
        |         pow(CAST(tokens AS DOUBLE) / sum(tokens) OVER (), 0.7) AS pt
        |  FROM g
        |)
        |SELECT lang, n_docs, tokens,
        |       round(p, 6) AS token_share,
        |       round(pt / sum(pt) OVER (), 6) AS target_share,
        |       round((pt / sum(pt) OVER ()) / p, 6) AS sample_factor
        |FROM s""".stripMargin,

    // mirrors TextFunctions.winnow exactly: k=4 token grams joined by a
    // single space, w=4 window mins, per-doc distinct; short docs
    // (0 < m < w) get one window over all m hashes (list_slice truncates
    // at the array end on both engines)
    "t_wn" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
        |),
        |g AS (
        |  SELECT doc_id,
        |         greatest(len(ws) - 3, 0) AS m,
        |         list_transform(generate_series(1, greatest(len(ws) - 3, 0)),
        |           i -> md5(array_to_string(list_slice(ws, i, i + 3), ' '))) AS hs
        |  FROM t
        |)
        |SELECT doc_id,
        |       unnest(list_distinct(list_transform(
        |         generate_series(1, least(m, greatest(m - 3, 1))),
        |         i -> list_min(list_slice(hs, i, i + 3))))) AS fp_hash
        |FROM g WHERE m > 0""".stripMargin,

    // centroid split is vec_id parity (sf-independent); means/cosine are
    // double sums in engine order -> 6 dp rounds
    "mn_er" ->
      """WITH f AS (
        |  SELECT label, vec_id, u.pos AS pos, u.v AS v FROM (
        |    SELECT label, vec_id,
        |           unnest(list_transform(generate_series(1, len(embedding)),
        |             i -> struct_pack(pos := i, v := CAST(embedding[i] AS DOUBLE)))) AS u
        |    FROM embeddings
        |  )
        |),
        |per AS (
        |  SELECT label, pos,
        |         sum(CASE WHEN vec_id % 2 = 0 THEN v END)
        |           / nullif(sum(CASE WHEN vec_id % 2 = 0 THEN 1 END), 0) AS mb,
        |         sum(CASE WHEN vec_id % 2 <> 0 THEN v END)
        |           / nullif(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 END), 0) AS mc,
        |         sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS b_n,
        |         sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS c_n
        |  FROM f GROUP BY 1, 2
        |)
        |SELECT label, CAST(max(b_n) AS BIGINT) AS base_n, CAST(max(c_n) AS BIGINT) AS cur_n,
        |       round(sum(mb * mc) / sqrt(sum(mb * mb) * sum(mc * mc)), 6) AS centroid_cosine,
        |       round(sqrt(sum(mc * mc) / sum(mb * mb)), 6) AS norm_ratio
        |FROM per GROUP BY 1""".stripMargin,

    "t_rep" ->
      """WITH w AS (
        |  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
        |), t AS (
        |  SELECT doc_id, ws, len(ws) AS n_words,
        |         CASE WHEN len(ws) >= 3
        |              THEN list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |              ELSE []::VARCHAR[] END AS tg
        |  FROM w
        |)
        |SELECT doc_id, n_words, len(tg) AS n_trigrams,
        |       1 - len(list_distinct(ws)) / nullif(n_words, 0) AS dup_word_frac,
        |       1 - len(list_distinct(tg)) / nullif(len(tg), 0) AS dup_trigram_frac,
        |       (1 - len(list_distinct(tg)) / nullif(len(tg), 0)) > 0.2 AS repetitive
        |FROM t""".stripMargin,

    // exact corpus profile: every column replays in DuckDB (the sketch
    // variant of the same operator is spec-asserted, not oracle'd)
    "dq_pf" ->
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT lang) AS n_langs,
        |       count(DISTINCT source) AS n_sources,
        |       round(avg(length(text)), 6) AS avg_chars,
        |       min(length(text)) AS min_chars,
        |       max(length(text)) AS max_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens
        |FROM documents""".stripMargin,

    // exact distinct ledger: daily partials + the exact merged distinct
    "dq_s" ->
      s"""$silverCte,
         |keyed AS (SELECT event_date, user_id FROM silver WHERE user_id IS NOT NULL),
         |daily AS (
         |  SELECT event_date,
         |         count(DISTINCT user_id) AS day_distinct,
         |         count(*) AS day_rows
         |  FROM keyed GROUP BY event_date
         |),
         |totals AS (
         |  SELECT count(*) AS n_days,
         |         sum(day_distinct) AS sum_daily_distinct,
         |         sum(day_rows) AS total_rows
         |  FROM daily
         |)
         |SELECT CAST(n_days AS BIGINT) AS n_days,
         |       CAST(sum_daily_distinct AS BIGINT) AS sum_daily_distinct,
         |       CAST(total_rows AS BIGINT) AS total_rows,
         |       (SELECT count(DISTINCT user_id) FROM keyed) AS merged_distinct
         |FROM totals""".stripMargin,

    // decode geometry: the stub decoder's frame count and side derive
    // from the payload BYTE length only (1 + len%3 frames capped at 3,
    // square side 16 + len%16, 3 channels)
    "mm_dc" ->
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS len FROM documents
        |),
        |f AS (
        |  SELECT doc_id, idx AS frame_idx,
        |         CAST(16 + len % 16 AS INTEGER) AS side
        |  FROM d, (VALUES (0), (1), (2)) AS v(idx)
        |  WHERE idx < least(3, 1 + len % 3)
        |)
        |SELECT doc_id, frame_idx, side AS width, side AS height,
        |       3 AS n_channels
        |FROM f""".stripMargin,

    // decode→sample→resize geometry: same stub-geometry derivation;
    // sampling keeps frame 0 and, when present, frame 2; the resize fits
    // into a 224 box with the same double arithmetic both engines
    // evaluate identically
    "mm_rz" ->
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS len FROM documents
        |),
        |f AS (
        |  SELECT doc_id, idx AS frame_idx,
        |         CAST(16 + len % 16 AS INTEGER) AS side
        |  FROM d, (VALUES (0), (2)) AS v(idx)
        |  WHERE idx < least(3, 1 + len % 3)
        |)
        |SELECT doc_id, frame_idx,
        |       side AS src_w, side AS src_h,
        |       greatest(1, CAST(round(side * (224.0 / side)) AS INTEGER)) AS out_w,
        |       greatest(1, CAST(round(side * (224.0 / side)) AS INTEGER)) AS out_h,
        |       224.0 / side AS scale
        |FROM f""".stripMargin,

    // magic_hex slices the first 4 BYTES (substr over the hex dump), not
    // the first 4 CHARACTERS — Spark's substring on BinaryType is
    // byte-based, and the two diverge on any multi-byte UTF-8 text
    "mm_mt" ->
      """SELECT doc_id,
        |       octet_length(encode(text)) AS byte_size,
        |       lower(substr(hex(encode(text)), 1, 8)) AS magic_hex,
        |       md5(text) AS checksum
        |FROM documents""".stripMargin,

    "v_bf" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${duckCosine("q_emb", "c_emb")} AS cosine
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS "rank"
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cosine, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin,

    // radius search: same cosine chain, threshold instead of rank
    "v_rad" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${duckCosine("q_emb", "c_emb")} AS cosine
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id
         |)
         |SELECT query_id, neighbor_id, cosine FROM scored WHERE cosine >= 0.3""".stripMargin,

    "v_lsh" -> lshAnnOracleSql,
    "v_ev" -> annEvalOracleSql,
    "dd_sev" -> semanticBlockingOracleSql,

    "v_out" ->
      s"""WITH cent AS (
         |  SELECT label, t.i AS dim, avg(CAST(embedding[t.i] AS DOUBLE)) AS m
         |  FROM embeddings, generate_series(1, 64) t(i)
         |  GROUP BY 1, 2
         |),
         |cvec AS (
         |  SELECT label, list(m ORDER BY dim) AS centroid FROM cent GROUP BY 1
         |),
         |scored AS (
         |  SELECT e.label, e.vec_id, ${duckCosine("embedding", "centroid")} AS centroid_cosine
         |  FROM embeddings e JOIN cvec USING (label)
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY centroid_cosine ASC, vec_id) AS "rank"
         |  FROM scored
         |)
         |SELECT label, vec_id, centroid_cosine, "rank" FROM ranked WHERE "rank" <= 5""".stripMargin,

    "st_jn" ->
      s"""$silverCte
         |SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
         |       p.event_id AS purchase_id, p.ts AS purchase_ts,
         |       p.value AS purchase_value
         |FROM silver c JOIN silver p
         |  ON c.user_id = p.user_id
         | AND c.event_type = 'click' AND p.event_type = 'purchase'
         | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,

    "st_jo" ->
      s"""$silverCte
         |SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
         |       p.event_id AS purchase_id, p.ts AS purchase_ts,
         |       p.value AS purchase_value
         |FROM silver c LEFT JOIN silver p
         |  ON c.user_id = p.user_id
         | AND p.event_type = 'purchase'
         | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         |WHERE c.event_type = 'click'""".stripMargin,

    "q_ss" ->
      s"""$silverCte,
         |lagged AS (
         |  SELECT event_id, user_id, ts,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM silver
         |)
         |SELECT event_id, user_id, ts,
         |       1 + CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
         |                          - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
         |                    THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS session_seq
         |FROM lagged""".stripMargin,

    "st_en" ->
      s"""$silverCte,
         |zd AS (
         |  SELECT sha256(CAST(zone_id AS VARCHAR)) AS location_id, zone_id,
         |         'synthetic_city' AS city, 'zone' AS zone_type
         |  FROM (SELECT DISTINCT zone_id FROM silver WHERE zone_id IS NOT NULL)
         |)
         |SELECT s.zone_id, s.event_id, s.event_type, s.value,
         |       zd.location_id, zd.city, zd.zone_type
         |FROM silver s LEFT JOIN zd ON s.zone_id = zd.zone_id""".stripMargin,

    // tie-break mirrors firstEventPerKey exactly: ts then every other
    // column in alphabetical order, NULLS FIRST (Spark's ASC default;
    // DuckDB defaults NULLS LAST so it must be spelled out)
    "st_dd" ->
      """SELECT event_id, ts, user_id FROM (
        |  SELECT event_id, ts, user_id,
        |         row_number() OVER (PARTITION BY event_id ORDER BY
        |           ts NULLS FIRST, event_type NULLS FIRST, props NULLS FIRST,
        |           user_id NULLS FIRST, value NULLS FIRST) AS rn
        |  FROM events WHERE event_id IS NOT NULL
        |) WHERE rn = 1""".stripMargin,

    // latest-wins per key with (ts, event_id) total order; a key whose
    // final op is a delete vanishes from the snapshot
    "st_cd" ->
      """WITH ch AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
        |  FROM events WHERE user_id IS NOT NULL
        |), r AS (
        |  SELECT user_id, ts, value, op,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM ch
        |)
        |SELECT user_id, n_changes, ts AS last_ts, value AS last_value
        |FROM r WHERE rn = 1 AND op <> 'delete'""".stripMargin,

    "st_tm" ->
      s"""$silverCte
         |SELECT date_trunc('hour', ts) AS window_start,
         |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
         |       event_type, count(*) AS event_count
         |FROM silver GROUP BY 1, 2, 3""".stripMargin,

    // full PSI replay: baseline histogram recomputed in SQL (same
    // fixed-width clamp-to-edge binning, same 1e-6 floors), per-day
    // current histograms via a window×bin grid so EMPTY bins still
    // contribute their clamped term — identical floating math to the
    // Spark projection, rounded at 6 dp
    "st_ps" ->
      s"""$silverCte,
         |base AS (
         |  SELECT value FROM silver
         |  WHERE event_date < DATE '$monitorSplit' AND value IS NOT NULL
         |),
         |bstats AS (SELECT min(value) AS lo, max(value) AS hi FROM base),
         |bins AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
         |bcounts AS (
         |  SELECT CAST(CASE WHEN hi = lo THEN 0
         |              ELSE least(greatest(floor((value - lo) / ((hi - lo) / 10)), 0), 9)
         |              END AS INT) AS bin,
         |         count(*) AS c
         |  FROM base, bstats GROUP BY 1
         |),
         |bp AS (
         |  SELECT bins.bin,
         |         greatest(coalesce(bcounts.c, 0) / (SELECT count(*) FROM base), 1e-6) AS p
         |  FROM bins LEFT JOIN bcounts ON bins.bin = bcounts.bin
         |),
         |cur AS (
         |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         |         CAST(CASE WHEN hi = lo THEN 0
         |              ELSE least(greatest(floor((value - lo) / ((hi - lo) / 10)), 0), 9)
         |              END AS INT) AS bin
         |  FROM silver, bstats
         |  WHERE event_date >= DATE '$monitorSplit' AND value IS NOT NULL
         |),
         |tot AS (SELECT window_start, count(*) AS n FROM cur GROUP BY 1),
         |ccounts AS (SELECT window_start, bin, count(*) AS c FROM cur GROUP BY 1, 2),
         |terms AS (
         |  SELECT t.window_start, t.n, bp.bin,
         |         greatest(coalesce(cc.c, 0) / t.n, 1e-6) AS cp, bp.p
         |  FROM tot t CROSS JOIN bp
         |  LEFT JOIN ccounts cc ON cc.window_start = t.window_start AND cc.bin = bp.bin
         |)
         |SELECT window_start,
         |       window_start + INTERVAL 1 DAY AS window_end,
         |       n,
         |       round(sum((cp - p) * ln(cp / p)), 6) AS psi,
         |       CAST(round(sum((cp - p) * ln(cp / p)), 6) >= 0.2 AS INT) AS drift_alert
         |FROM terms
         |GROUP BY 1, 2, 3""".stripMargin,

    // each event lands in exactly width/slide = 4 windows; Spark aligns
    // window starts to epoch multiples of the slide, which 15-minute
    // hour-truncated arithmetic reproduces exactly
    "st_sl" ->
      s"""$silverCte
         |SELECT ws AS window_start,
         |       ws + INTERVAL 1 HOUR AS window_end,
         |       event_type, count(*) AS event_count
         |FROM (
         |  SELECT date_trunc('hour', ts)
         |           + to_minutes(CAST(15 * (minute(ts) // 15) - 15 * g.k AS BIGINT)) AS ws,
         |         event_type
         |  FROM silver, generate_series(0, 3) g(k)
         |)
         |GROUP BY 1, 2, 3""".stripMargin,

    "st_ss" ->
      s"""$silverCte,
         |marked AS (
         |  SELECT user_id, ts,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
         |  FROM silver
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         |),
         |grouped AS (
         |  SELECT user_id, ts,
         |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM marked
         |)
         |SELECT user_id,
         |       min(ts) AS session_start,
         |       max(ts) + INTERVAL 30 MINUTE AS session_end,
         |       count(*) AS event_count
         |FROM grouped GROUP BY user_id, sid""".stripMargin,

    // ---- §2.11 mobility analytics --------------------------------------
    // shared transitions stage: lag over (ts, event_id) — the same total
    // order the Spark window uses; NULL zones dropped BEFORE the lag

    "m_od" ->
      s"""$silverCte,
         |$mobTransCte
         |SELECT origin, dest, count(*) AS n_trans,
         |       CAST(count(*) AS DOUBLE)
         |         / CAST(sum(count(*)) OVER (PARTITION BY origin) AS BIGINT) AS p_dest
         |FROM trans GROUP BY 1, 2""".stripMargin,

    "m_nx" ->
      s"""$silverCte,
         |$mobTransCte,
         |od AS (
         |  SELECT origin, dest, count(*) AS n_trans,
         |         CAST(count(*) AS DOUBLE)
         |           / CAST(sum(count(*)) OVER (PARTITION BY origin) AS BIGINT) AS p_dest
         |  FROM trans GROUP BY 1, 2
         |)
         |SELECT origin, rank, dest, n_trans, p_dest FROM (
         |  SELECT origin, dest, n_trans, p_dest,
         |         CAST(row_number() OVER (PARTITION BY origin
         |           ORDER BY n_trans DESC, dest ASC) AS INT) AS rank
         |  FROM od
         |) WHERE rank <= 3""".stripMargin,

    "m_st" ->
      s"""$silverCte,
         |runs AS (
         |  SELECT user_id, zone_id, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           - row_number() OVER (PARTITION BY user_id, zone_id ORDER BY ts, event_id) AS run_id
         |  FROM silver WHERE zone_id IS NOT NULL
         |)
         |SELECT user_id, zone_id,
         |       min(ts) AS enter_ts, max(ts) AS exit_ts,
         |       count(*) AS n_events,
         |       epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
         |FROM runs GROUP BY user_id, zone_id, run_id
         |HAVING count(*) >= 2""".stripMargin,

    "m_fl" ->
      s"""$silverCte,
         |$mobTransCte,
         |flows AS (
         |  SELECT date_trunc('hour', ts) AS hour, dest AS zone_id, 1 AS n_in, 0 AS n_out FROM trans
         |  UNION ALL
         |  SELECT date_trunc('hour', ts) AS hour, origin AS zone_id, 0 AS n_in, 1 AS n_out FROM trans
         |)
         |SELECT hour, zone_id,
         |       CAST(sum(n_in) AS BIGINT) AS n_in,
         |       CAST(sum(n_out) AS BIGINT) AS n_out,
         |       CAST(sum(n_in) - sum(n_out) AS BIGINT) AS net_flow
         |FROM flows GROUP BY 1, 2""".stripMargin,

    // moment identity rog² = E[x²+y²] − E[x]² − E[y]²: integer sums are
    // exact on both engines, the float combine mirrors the Spark
    // projection shape-for-shape, rounded at 6 dp
    "m_rog" ->
      s"""$silverCte,
         |pts AS (
         |  SELECT user_id, zone_id % 10 AS x, zone_id // 10 AS y
         |  FROM silver WHERE zone_id IS NOT NULL
         |),
         |moments AS (
         |  SELECT user_id, count(*) AS n_visits,
         |         CAST(sum(x) AS DOUBLE) / count(*) AS cx,
         |         CAST(sum(y) AS DOUBLE) / count(*) AS cy,
         |         CAST(sum(x * x + y * y) AS DOUBLE) / count(*) AS m2
         |  FROM pts GROUP BY 1
         |)
         |SELECT user_id, n_visits, cx, cy,
         |       round(sqrt(greatest(m2 - cx * cx - cy * cy, 0.0)), 6) AS rog
         |FROM moments""".stripMargin,

    "m_ent" ->
      s"""$silverCte,
         |per_zone AS (
         |  SELECT user_id, zone_id, count(*) AS n_z
         |  FROM silver WHERE zone_id IS NOT NULL GROUP BY 1, 2
         |),
         |probs AS (
         |  SELECT user_id,
         |         CAST(n_z AS DOUBLE)
         |           / CAST(sum(n_z) OVER (PARTITION BY user_id) AS BIGINT) AS p
         |  FROM per_zone
         |)
         |SELECT user_id, count(*) AS n_zones,
         |       round(-sum(p * ln(p)), 6) AS entropy,
         |       max(p) AS max_p
         |FROM probs GROUP BY 1""".stripMargin,

    "m_hm" ->
      s"""$silverCte,
         |night AS (
         |  SELECT user_id, zone_id, count(*) AS n_night
         |  FROM silver
         |  WHERE zone_id IS NOT NULL AND (hour(ts) >= 22 OR hour(ts) <= 5)
         |  GROUP BY 1, 2
         |)
         |SELECT user_id, zone_id AS home_zone, n_night FROM (
         |  SELECT user_id, zone_id, n_night,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY n_night DESC, zone_id ASC) AS rn
         |  FROM night
         |) WHERE rn = 1""".stripMargin,

    // zone PageRank: ten unrolled power-iteration rounds, float shapes
    // mirrored term-for-term; ranks rounded at 6 dp, pos ordered by the
    // ROUNDED value (zone-asc tiebreak) so ordering is engine-independent
    "m_pr" ->
      s"""$silverCte,
         |$mobTransCte,
         |$pageRankCtes
         |SELECT zone_id, round(pr, 6) AS pr,
         |       CAST(row_number() OVER (ORDER BY round(pr, 6) DESC, zone_id ASC) AS INT) AS pos
         |FROM r10""".stripMargin,

    // DSIR: hashed-unigram Laplace-smoothed log-ratios (target = lang 'en'
    // vs raw = all); per-feature terms are exact-integer ratios, per-doc
    // sums rounded at 6 dp; selection thresholds the UNROUNDED per-token
    // mean against the UNROUNDED corpus mean on both faces
    "dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 4096 AS feat_idx
        |  FROM (
        |    SELECT doc_id, lang,
        |           unnest(list_filter(str_split(lower(text), ' '), x -> x <> '')) AS token
        |    FROM documents
        |  )
        |),
        |fs AS (
        |  SELECT feat_idx, count(*) AS n_raw,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
        |  FROM toks GROUP BY 1
        |),
        |tot AS (
        |  SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
        |         CAST(sum(n_tgt) AS BIGINT) AS tot_tgt
        |  FROM fs
        |),
        |ratios AS (
        |  SELECT feat_idx,
        |         ln((n_tgt + 1.0) / (tot_tgt + 4096.0))
        |           - ln((n_raw + 1.0) / (tot_raw + 4096.0)) AS log_ratio
        |  FROM fs CROSS JOIN tot
        |),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum(log_ratio) AS logw_raw, avg(log_ratio) AS lpt_raw
        |  FROM toks JOIN ratios USING (feat_idx)
        |  GROUP BY 1
        |),
        |mu AS (SELECT avg(lpt_raw) AS mu FROM scored)
        |SELECT doc_id, n_tokens,
        |       round(logw_raw, 6) AS logw,
        |       round(lpt_raw, 6) AS logw_per_tok,
        |       CASE WHEN lpt_raw > mu.mu THEN 1 ELSE 0 END AS selected
        |FROM scored CROSS JOIN mu""".stripMargin,

    // seasonal anomalies: DuckDB dayofweek is 0-based (Sunday=0) where
    // Spark's is 1-based, so the hour-of-week index drops Spark's "-1"
    "mn_an" ->
      s"""$silverCte,
         |hourly AS (
         |  SELECT date_trunc('hour', ts) AS hour_ts, zone_id, count(*) AS n_events
         |  FROM silver WHERE zone_id IS NOT NULL GROUP BY 1, 2
         |),
         |prof AS (
         |  SELECT zone_id, dayofweek(hour_ts) * 24 + hour(hour_ts) AS how,
         |         quantile_cont(n_events, 0.25) AS q1,
         |         quantile_cont(n_events, 0.75) AS q3
         |  FROM hourly GROUP BY 1, 2
         |)
         |SELECT hour_ts, h.zone_id, n_events, q1, q3,
         |       q1 - 3.0 * (q3 - q1) AS lo,
         |       q3 + 3.0 * (q3 - q1) AS hi,
         |       CASE WHEN n_events < q1 - 3.0 * (q3 - q1)
         |              OR n_events > q3 + 3.0 * (q3 - q1) THEN 1 ELSE 0 END AS is_anom
         |FROM hourly h JOIN prof p
         |  ON h.zone_id = p.zone_id
         | AND dayofweek(h.hour_ts) * 24 + hour(h.hour_ts) = p.how""".stripMargin,

    // cap diagnostic: hour-bucket span per stay episode (exact integer
    // micros arithmetic), counted against the 24h cap
    "m_ct" ->
      s"""$silverCte,
         |runs AS (
         |  SELECT user_id, zone_id, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           - row_number() OVER (PARTITION BY user_id, zone_id ORDER BY ts, event_id) AS run_id
         |  FROM silver WHERE zone_id IS NOT NULL
         |),
         |stays AS (
         |  SELECT CAST((epoch_us(date_trunc('hour', max(ts)))
         |               - epoch_us(date_trunc('hour', min(ts)))) / 3600000000 AS BIGINT) AS span_hours
         |  FROM runs GROUP BY user_id, zone_id, run_id
         |  HAVING count(*) >= 2
         |)
         |SELECT count(*) AS n_stays,
         |       CAST(sum(CASE WHEN span_hours > 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |       CAST(coalesce(max(CASE WHEN span_hours > 24 THEN span_hours - 24 END), 0) AS BIGINT)
         |         AS max_excess_hours
         |FROM stays""".stripMargin,

    // co-location: the oracle is the NAIVE per-zone interval self-join —
    // the hour-bucketed Spark plan must reproduce it exactly (closed
    // intervals, user_a < user_b, per-episode-pair rows)
    "m_co" ->
      s"""$silverCte,
         |runs AS (
         |  SELECT user_id, zone_id, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           - row_number() OVER (PARTITION BY user_id, zone_id ORDER BY ts, event_id) AS run_id
         |  FROM silver WHERE zone_id IS NOT NULL
         |),
         |stays AS (
         |  SELECT user_id, zone_id, min(ts) AS enter_ts, max(ts) AS exit_ts
         |  FROM runs GROUP BY user_id, zone_id, run_id HAVING count(*) >= 2
         |),
         |pairs AS (
         |  SELECT a.zone_id, a.user_id AS user_a, b.user_id AS user_b,
         |         greatest(a.enter_ts, b.enter_ts) AS s,
         |         least(a.exit_ts, b.exit_ts) AS e
         |  FROM stays a JOIN stays b
         |    ON a.zone_id = b.zone_id AND a.user_id < b.user_id
         |  WHERE greatest(a.enter_ts, b.enter_ts) <= least(a.exit_ts, b.exit_ts)
         |)
         |SELECT user_a, user_b, count(*) AS n_meetings,
         |       CAST(sum(epoch_us(e) - epoch_us(s)) AS BIGINT) AS overlap_us,
         |       count(DISTINCT zone_id) AS n_zones
         |FROM pairs GROUP BY 1, 2""".stripMargin,

    "m_mk" ->
      s"""$silverCte,
         |$mobTransCte,
         |trained AS (
         |  SELECT origin, dest, count(*) AS n_trans
         |  FROM trans WHERE ts < TIMESTAMP '$monitorSplit' GROUP BY 1, 2
         |),
         |model AS (
         |  SELECT origin, dest AS pred_dest FROM (
         |    SELECT origin, dest,
         |           row_number() OVER (PARTITION BY origin
         |             ORDER BY n_trans DESC, dest ASC) AS rn
         |    FROM trained
         |  ) WHERE rn = 1
         |),
         |test AS (
         |  SELECT origin, dest, count(*) AS n
         |  FROM trans WHERE ts >= TIMESTAMP '$monitorSplit' GROUP BY 1, 2
         |)
         |SELECT test.origin, min(pred_dest) AS pred_dest,
         |       CAST(sum(n) AS BIGINT) AS n_test,
         |       CAST(sum(CASE WHEN dest = pred_dest THEN n ELSE 0 END) AS BIGINT) AS n_hits,
         |       round(CAST(sum(CASE WHEN dest = pred_dest THEN n ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(n) AS BIGINT), 6) AS acc
         |FROM test LEFT JOIN model ON test.origin = model.origin
         |GROUP BY 1""".stripMargin,

    // held-out perplexity: en-slice bigram LM, Stupid Backoff
    // (0.4 · add-one ref unigram) for unseen bigrams; float shapes mirror
    // the Spark projection term for term, ppl = exp of the ROUNDED avg
    "t_ppl" ->
      """WITH tl AS (
        |  SELECT doc_id, lang, list_filter(str_split(lower(text), ' '), x -> x <> '') AS t
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
        |  FROM tl
        |),
        |uni AS (
        |  SELECT tok, count(*) AS c_tok FROM (
        |    SELECT unnest(t) AS tok FROM tl WHERE lang = 'en'
        |  ) GROUP BY 1
        |),
        |scal AS (
        |  SELECT CAST(sum(c_tok) AS BIGINT) AS t_total, count(*) AS v_size FROM uni
        |),
        |rbg AS (
        |  SELECT bigram, count(*) AS pair_count FROM bg WHERE lang = 'en' GROUP BY 1
        |),
        |pc AS (
        |  SELECT str_split(bigram, ' ')[1] AS prefix, CAST(sum(pair_count) AS BIGINT) AS c_prefix
        |  FROM rbg GROUP BY 1
        |),
        |lm AS (
        |  SELECT bigram, CAST(pair_count AS DOUBLE) / c_prefix AS p_bg
        |  FROM rbg JOIN pc ON str_split(rbg.bigram, ' ')[1] = pc.prefix
        |),
        |probs AS (
        |  SELECT bg.doc_id,
        |         coalesce(lm.p_bg,
        |           0.4 * CAST(coalesce(uni.c_tok, 0) + 1 AS DOUBLE)
        |             / (scal.t_total + scal.v_size)) AS p
        |  FROM bg
        |  LEFT JOIN lm ON bg.bigram = lm.bigram
        |  LEFT JOIN uni ON str_split(bg.bigram, ' ')[2] = uni.tok
        |  CROSS JOIN scal
        |),
        |per AS (
        |  SELECT doc_id, count(*) AS n_bigrams, round(avg(-ln(p)), 6) AS avg_nll
        |  FROM probs GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, avg_nll, round(exp(avg_nll), 4) AS ppl
        |FROM per""".stripMargin,

    // calibration audit of the deterministic churn scorer: the logistic
    // z mirrors Scoring.scoreChurn weight for weight; binning floors the
    // 6-dp-ROUNDED score so both engines land identical bins
    "sc_cb" ->
      s"""WITH cf AS ($featChurnSql),
         |scored AS (
         |  SELECT will_churn,
         |         round(1.0 / (1.0 + exp(-(-1.2 + events_declining * 1.1
         |           + value_declining * 0.9 - daily_events * 0.08))), 6) AS churn_p
         |  FROM cf
         |)
         |SELECT bin, n, mean_p, pos_rate, round(pos_rate - mean_p, 6) AS gap FROM (
         |  SELECT CAST(least(floor(churn_p * 10), 9) AS INT) AS bin,
         |         count(*) AS n,
         |         round(avg(churn_p), 6) AS mean_p,
         |         round(CAST(sum(will_churn) AS DOUBLE) / count(*), 6) AS pos_rate
         |  FROM scored GROUP BY 1
         |)""".stripMargin,

    "dq_ld" ->
      s"""$silverCte,
         |sv AS (
         |  SELECT zone_id, CAST(hour(ts) AS INT) AS hour, event_type,
         |         count(*) AS n_sv
         |  FROM silver GROUP BY 1, 2, 3
         |)
         |SELECT zone_id, hour,
         |       CAST(sum(n_sv) AS BIGINT) AS n_rows,
         |       count(*) AS n_sens,
         |       round(CAST(max(n_sv) AS DOUBLE) / CAST(sum(n_sv) AS BIGINT), 6) AS max_share,
         |       count(*) < 2 AS at_risk
         |FROM sv GROUP BY 1, 2""".stripMargin,

    // LPA communities: integer-weight argmax rounds, engine-exact
    "m_lp" ->
      s"""$silverCte,
         |$mobTransCte,
         |$lpaCtes
         |SELECT zone_id, label AS community,
         |       CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
         |FROM l5""".stripMargin,

    // RFM: rank-based quintiles (no percentile interpolation — exact
    // integer ordering with a user_id tiebreak on both engines)
    "f_rm" ->
      s"""$silverCte,
         |per AS (
         |  SELECT user_id,
         |         CAST(date_diff('day', max(event_date), DATE '2024-01-31') AS INT) AS recency,
         |         count(*) AS frequency,
         |         sum(round(value * 100)) / 100 AS monetary
         |  FROM silver WHERE event_type = 'purchase' AND ts IS NOT NULL
         |  GROUP BY 1
         |),
         |q AS (
         |  SELECT *,
         |         CAST(ntile(5) OVER (ORDER BY recency ASC, user_id ASC) AS INT) AS r_q,
         |         CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS INT) AS f_q,
         |         CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id ASC) AS INT) AS m_q
         |  FROM per
         |)
         |SELECT user_id, recency, frequency, monetary, r_q, f_q, m_q,
         |       CASE WHEN r_q <= 2 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
         |            WHEN f_q <= 2 THEN 'loyal'
         |            WHEN r_q >= 4 AND f_q >= 4 THEN 'lost'
         |            WHEN r_q >= 4 THEN 'at_risk'
         |            ELSE 'regular' END AS segment
         |FROM q""".stripMargin,

    // A/B readout: md5 arms (the samplers' hash family), exact integer
    // counts, float shapes mirrored term for term, degenerate z → NULL
    "sc_ab" ->
      s"""$silverCte,
         |pu AS (
         |  SELECT zone_id, user_id,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         |         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 8) AS BIGINT)
         |                     / 4294967296.0 < 0.5
         |              THEN 'control' ELSE 'treatment' END AS arm
         |  FROM silver WHERE zone_id IS NOT NULL
         |  GROUP BY 1, 2
         |),
         |wide AS (
         |  SELECT zone_id,
         |         CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         |         CAST(sum(CASE WHEN arm = 'control' THEN conv ELSE 0 END) AS BIGINT) AS x_c,
         |         CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |         CAST(sum(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END) AS BIGINT) AS x_t
         |  FROM pu GROUP BY 1
         |)
         |SELECT zone_id, n_c, x_c, n_t, x_t,
         |       CASE WHEN n_c > 0 THEN round(CAST(x_c AS DOUBLE) / n_c, 6) END AS p_c,
         |       CASE WHEN n_t > 0 THEN round(CAST(x_t AS DOUBLE) / n_t, 6) END AS p_t,
         |       CASE WHEN n_c > 0 AND n_t > 0
         |            THEN round(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c, 6) END AS uplift,
         |       CASE WHEN n_c > 0 AND n_t > 0 AND (x_c + x_t) > 0 AND (x_c + x_t) < (n_c + n_t)
         |            THEN round((CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
         |                   / sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
         |                          * (1.0 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
         |                          * (CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n_t)), 6) END AS z
         |FROM wide""".stripMargin,

    // trips: stays (the m_st CTE) + a lead window per user
    "m_tr" ->
      s"""$silverCte,
         |runs AS (
         |  SELECT user_id, zone_id, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           - row_number() OVER (PARTITION BY user_id, zone_id ORDER BY ts, event_id) AS run_id
         |  FROM silver WHERE zone_id IS NOT NULL
         |),
         |stays AS (
         |  SELECT user_id, zone_id, min(ts) AS enter_ts, max(ts) AS exit_ts
         |  FROM runs GROUP BY user_id, zone_id, run_id HAVING count(*) >= 2
         |),
         |hops AS (
         |  SELECT user_id, zone_id AS origin, exit_ts AS depart_ts,
         |         lead(zone_id) OVER w AS dest,
         |         lead(enter_ts) OVER w AS arrive_ts
         |  FROM stays
         |  WINDOW w AS (PARTITION BY user_id ORDER BY enter_ts, zone_id)
         |)
         |SELECT user_id, origin, dest, depart_ts, arrive_ts,
         |       epoch_us(arrive_ts) - epoch_us(depart_ts) AS travel_us
         |FROM hops WHERE dest IS NOT NULL""".stripMargin,

    // Kaplan–Meier: product-limit as exp(Σ ln f), zero factor pinned to
    // S = 0 by a flag on both faces (ln skips via CASE/null, not ln(0))
    "sc_km" ->
      s"""$silverCte,
         |pu AS (
         |  SELECT user_id, min(event_date) AS first_d, max(event_date) AS last_d
         |  FROM silver WHERE ts IS NOT NULL GROUP BY 1
         |),
         |oe AS (SELECT max(last_d) AS obs_end FROM pu),
         |dur AS (
         |  SELECT date_diff('day', first_d, last_d) AS t,
         |         CASE WHEN date_diff('day', last_d, obs_end) > 7 THEN 1 ELSE 0 END AS event
         |  FROM pu CROSS JOIN oe
         |),
         |grp AS (
         |  SELECT t, count(*) AS n_at_t,
         |         CAST(sum(event) AS BIGINT) AS d,
         |         CAST(count(*) - sum(event) AS BIGINT) AS censored
         |  FROM dur GROUP BY 1
         |),
         |km AS (
         |  SELECT t, d, censored,
         |         CAST(sum(n_at_t) OVER (ORDER BY t DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
         |  FROM grp
         |),
         |fs AS (
         |  SELECT *, CAST(n_risk - d AS DOUBLE) / n_risk AS f FROM km
         |)
         |SELECT t, n_risk, d, censored,
         |       CASE WHEN max(CASE WHEN f = 0.0 THEN 1 ELSE 0 END)
         |                    OVER (ORDER BY t ASC) = 1 THEN 0.0
         |            ELSE round(exp(sum(CASE WHEN f > 0 THEN ln(f) END)
         |                   OVER (ORDER BY t ASC)), 6) END AS survival
         |FROM fs""".stripMargin,

    "m_dw" ->
      s"""$silverCte,
         |runs AS (
         |  SELECT user_id, zone_id, ts,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |           - row_number() OVER (PARTITION BY user_id, zone_id ORDER BY ts, event_id) AS run_id
         |  FROM silver WHERE zone_id IS NOT NULL
         |),
         |stays AS (
         |  SELECT user_id, zone_id,
         |         epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
         |  FROM runs GROUP BY user_id, zone_id, run_id HAVING count(*) >= 2
         |)
         |SELECT zone_id, count(*) AS n_stays,
         |       round(quantile_cont(dwell_us, 0.5), 6) AS p50_us,
         |       round(quantile_cont(dwell_us, 0.9), 6) AS p90_us,
         |       round(CAST(sum(dwell_us) AS DOUBLE) / count(*), 6) AS mean_us
         |FROM stays GROUP BY 1""".stripMargin,

    // Laplace release: md5-uniform inverse-CDF mirrored term for term
    "dq_dp" ->
      s"""$silverCte,
         |g AS (
         |  SELECT zone_id, count(*) AS true_count,
         |         CAST('0x' || substr(md5(CAST(zone_id AS VARCHAR) || ':dp'), 1, 8) AS BIGINT)
         |           / 4294967296.0 - 0.5 AS u
         |  FROM silver WHERE zone_id IS NOT NULL GROUP BY 1
         |)
         |SELECT zone_id, true_count,
         |       round(-1.0 * sign(u) * ln(greatest(1.0 - 2.0 * abs(u), 1e-12)), 6) AS noise,
         |       round(true_count + round(-1.0 * sign(u) * ln(greatest(1.0 - 2.0 * abs(u), 1e-12)), 6), 6) AS released
         |FROM g""".stripMargin,
  )
}
