package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-surface 10× scale sweep: materializes a key-consistent 10× copy
  * of every input table (sf0.1 × 10 ≈ sf1) and times EVERY
  * `SparkEntry.queries` entry against it — the whole-surface complement
  * to [[Stress]]'s per-operator corpora. The SimHash 482 s cliff was
  * found by exactly this kind of sweep; per-query growth factors vs the
  * sf0.1 bench are the "would this survive 100×" evidence BASELINE.md
  * records for all 126 lines.
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
  *
  * Prints one `SWEEP <name> <sec> s (<rows> rows)` line per query plus a
  * final full-precision JSON dict (its own format — NOT under Bench's
  * 2 KB archive contract).
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
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_10x"
    val spark = Bench.session(defaultCpus = "32")

    if (!new java.io.File(s"$out/embeddings.parquet/_SUCCESS").exists()
        || sys.env.get("SPARK_GRAFT_SWEEP_REBUILD").contains("1"))
      materialize(spark, src, out)

    // Optional third arg: comma-separated query keys — sweep only those
    // (pricing newly added lines against an already-materialized corpus
    // without re-timing the whole surface).
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_: String) => true

    // Warm every code path at the 1× source (JIT + codegen caches) so the
    // timed 10× pass measures scaling, not cold-start.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
    SparkEntry.warmCache(spark, src)
    ordered.foreach { case (name, fn) =>
      try Bench.force(fn(spark, src))
      catch { case e: Throwable =>
        System.err.println(s"[sweep] warmup failed for $name: ${e.getMessage}")
      }
    }
    SparkEntry.clearCache()

    SparkEntry.warmCache(spark, out)
    var errors = Map.empty[String, String]
    val results = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val timing =
        try {
          val n = Bench.force(fn(spark, out))
          val s = (System.nanoTime() - t0) / 1e9
          println(f"SWEEP $name%-12s $s%8.2f s  ($n rows)")
          Some(s)
        } catch { case e: Throwable =>
          errors += (name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
          println(s"SWEEP $name FAILED: ${errors(name)}")
          None
        }
      name -> timing
    }
    val dict = results.map { case (k, v) =>
      s""""$k":${v.fold("null")(d => f"$d%.2f")}""" }.mkString("{", ",", "}")
    println(s"""SWEEP_JSON {"total":${results.flatMap(_._2).sum.round},"queries":$dict,"errors":${errors.size}}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
