package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-consistent 10× copy of every input table (sf0.1 × 10 ≈ sf1):
  *
  *   sbt "runMain graft.Sweep <src> <out>"
  *
  * writes the copy to `out`; `Probe <out> <keys>` then times any keys
  * against it (cold, then warm).
  *
  * Scaling model ("corpus grows, density doesn't"):
  *   - facts (`lineitem orders customer supplier part events documents
  *     embeddings`) replicate 10× with all key columns shifted by a
  *     copy-specific offset, so per-key join fan-outs and per-user
  *     history depths stay REALISTIC instead of multiplying;
  *   - fixed-domain dims (`region nation`) stay 1× — their key spaces
  *     don't grow with data volume;
  *   - text replicates CLEAN (every word suffixed with the copy index):
  *     copies share no shingles, so dedup output stays ~linear — growth
  *     measures blocking cost, not a 10×-duplicate corpus;
  *   - names (`p_name`) word-suffix per copy: the fuzzy-join dictionary
  *     grows 10× instead of re-counting 10 identical copies;
  *   - embeddings get deterministic per-component hash noise (±0.1):
  *     identical replicas would pile into the same LSH/IVF buckets and
  *     measure the dup-heavy regime instead of corpus growth.
  * Copy 0 of every table is the source itself.
  */
object Sweep {
  private val Off = 100000000L

  /** Suffix every whitespace-delimited word with the copy index (clean
    * text growth — copies share no shingles). Copy 0 is verbatim. */
  private def cleanText(c: Column, i: Int): Column =
    if (i == 0) c else regexp_replace(c, "(\\S+)", s"$$1_$i")

  private def copies10(one: Int => DataFrame): DataFrame =
    (0 until 10).map(one).reduce(_ unionByName _)

  def materialize(spark: SparkSession, src: String, out: String): Unit = {
    def shift(c: String, i: Int): Column = col(c) + lit(i * Off)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"materialized $name")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", copies10 { i =>
      Tables.customer(spark, src).withColumn("c_custkey", shift("c_custkey", i))
    })
    write("supplier", copies10 { i =>
      Tables.supplier(spark, src).withColumn("s_suppkey", shift("s_suppkey", i))
    })
    write("part", copies10 { i =>
      Tables.part(spark, src)
        .withColumn("p_partkey", shift("p_partkey", i))
        .withColumn("p_name", cleanText(col("p_name"), i))
    })
    write("orders", copies10 { i =>
      Tables.orders(spark, src)
        .withColumn("o_orderkey", shift("o_orderkey", i))
        .withColumn("o_custkey", shift("o_custkey", i))
    })
    write("lineitem", copies10 { i =>
      Tables.lineitem(spark, src)
        .withColumn("l_orderkey", shift("l_orderkey", i))
        .withColumn("l_partkey", shift("l_partkey", i))
        .withColumn("l_suppkey", shift("l_suppkey", i))
    })
    write("events", copies10 { i =>
      Tables.events(spark, src)
        .withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i))
    })
    write("documents", copies10 { i =>
      Tables.documents(spark, src)
        .withColumn("doc_id", shift("doc_id", i))
        .withColumn("text", cleanText(col("text"), i))
    })
    write("embeddings", copies10 { i =>
      val emb = Tables.embeddings(spark, src)
        .withColumn("vec_id", shift("vec_id", i))
      if (i == 0) emb
      else emb.withColumn("embedding", transform(col("embedding"), (x, j) =>
        (x + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(1000))
          .cast("double") - 500.0) / 5000.0).cast("float")))
    })
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Sweep <src> <out>")
    val spark = Bench.session(defaultCpus = "32")
    materialize(spark, args(0), args(1))
    spark.stop()
  }
}
