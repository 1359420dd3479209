package graft

import org.apache.spark.sql.functions._

/** `Sweep.materialize`, the 10× input generator: facts grow 10× with their
  * key columns shifted per copy, fixed-domain dims stay 1×, and copy 0 is
  * the source itself. */
class SweepSpec extends SparkSpec {

  test("materialize: facts 10× with 10× distinct keys, dims 1×, copy 0 of documents is the source") {
    val out = java.nio.file.Files.createTempDirectory("graft_sweep").toString
    Sweep.materialize(spark, sfDir, out)
    def src(t: String) = Tables.load(spark, sfDir, t)
    def got(t: String) = Tables.load(spark, out, t)
    val shiftedKeys = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    assert(shiftedKeys.keySet ++ Set("region", "nation") === Tables.names.toSet)
    def distinctKeys(t: String, d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(count(lit(1)), shiftedKeys(t).map(k => countDistinct(col(k))): _*)
        .head().toSeq.map(_.asInstanceOf[Long])
    shiftedKeys.keys.foreach { t =>
      assert(distinctKeys(t, got(t)) === distinctKeys(t, src(t)).map(_ * 10),
        s"$t: rows and distinct keys must grow 10×")
    }
    Seq("region", "nation").foreach { t =>
      assert(got(t).count() === src(t).count() &&
        got(t).exceptAll(src(t)).isEmpty, s"$t must be copied 1×")
    }
    val copy0 = got("documents").filter(col("doc_id") < 100000000L)
    val docs = Tables.documents(spark, sfDir)
    assert(copy0.exceptAll(docs).isEmpty && docs.exceptAll(copy0).isEmpty,
      "copy 0 of documents must equal the source")
  }
}
