package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for reproducible training-data pipelines.
  *
  * `Dataset.sample` draws from a per-partition RNG: the selected rows
  * change under repartitioning, retries, and engine versions — useless
  * for a pipeline that must be able to re-derive exactly which documents
  * went into a training mix. Hash-based sampling decides per ROW from a
  * stable key (keep iff hash(key, salt) as a fraction < rate), so the
  * sample is:
  *   - reproducible on any engine (md5 is engine-portable → SQL oracle),
  *   - stable under repartitioning / retries / incremental reruns,
  *   - consistent across tables (same key+salt samples the same entities
  *     everywhere — referential integrity for free),
  *   - and a narrow, codegen'd filter: no shuffle, pushes down nothing
  *     but costs one hash per row at scan speed.
  * Changing `salt` draws an independent sample (disjoint-ish splits come
  * from disjoint rate intervals of the SAME salt, e.g. [0,0.8) train /
  * [0.8,1) eval via [[hashFraction]]).
  */
object Sampling {

  /** Uniform [0,1) fraction from md5(key ":" salt): first 8 hex chars as
    * a 32-bit integer over 2³². */
  def hashFraction(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Keep rows whose key hashes below `rate`. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double, salt: String = "graft"): DataFrame =
    df.filter(hashFraction(col(keyCol), salt) < rate)

  /** Per-stratum rates (e.g. language-balanced corpus mixing): rows in a
    * stratum listed in `rates` keep with that rate, everything else with
    * `defaultRate`. The rate lookup is a literal CASE chain — strata maps
    * are small (languages, sources), so no join, stays codegen'd. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "graft"): DataFrame =
    df.filter(stratifiedKeep(keyCol, stratumCol, rates, defaultRate, salt))

  /** [[stratifiedHashSample]]'s keep predicate as a column, for callers
    * that flag the sampled rows instead of filtering them. */
  private[graft] def stratifiedKeep(keyCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double, salt: String = "graft"): Column = {
    val rateCol = rates.foldLeft(lit(defaultRate): Column) {
      case (acc, (k, r)) => when(col(stratumCol) === k, lit(r)).otherwise(acc)
    }
    hashFraction(col(keyCol), salt) < rateCol
  }

  /** Deterministic train/eval style split: returns rows whose hash
    * fraction lands in [lo, hi) — disjoint intervals of one salt give
    * disjoint, jointly-exhaustive splits. */
  def hashSplit(df: DataFrame, keyCol: String, lo: Double, hi: Double,
      salt: String = "graft"): DataFrame = {
    val f = hashFraction(col(keyCol), salt)
    df.filter(f >= lo && f < hi)
  }

  /** Split ASSIGNMENT as a column: every row labeled train/val/test by its
    * hash fraction ([0, trainHi) / [trainHi, valHi) / [valHi, 1)) —
    * disjoint, exhaustive, stable under repartitioning, and consistent
    * across tables sharing key+salt. A pure codegen'd projection: one
    * hash per row at scan speed, no shuffle. */
  def splitAssign(df: DataFrame, keyCol: String, trainHi: Double = 0.8,
      valHi: Double = 0.9, salt: String = "graft"): DataFrame = {
    val f = hashFraction(col(keyCol), salt)
    df.withColumn("split",
      when(f < trainHi, "train").when(f < valHi, "val").otherwise("test"))
  }

  /** Fixed-SIZE deterministic sample per stratum — the distributed,
    * reproducible replacement for reservoir sampling: rank each stratum's
    * rows in hash order and keep the first `n`. Rate-based sampling can't
    * promise exact counts (a balanced training mix often must); this
    * does, while keeping every hash-sampling property above (the kept set
    * is a prefix of a stable per-stratum permutation, so n' < n samples
    * are nested). Catalyst executes the rank filter as a
    * WindowGroupLimit: each task pre-prunes to its local top-n per
    * stratum BEFORE the exchange, so the shuffle carries
    * O(n × strata × tasks) rows, never the corpus. */
  def reservoirPerStratum(df: DataFrame, keyCol: String, stratumCol: String,
      n: Int, salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(hashFraction(col(keyCol), salt), col(keyCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n).drop("rn")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row draws priority u^(1/w) from its deterministic hash uniform
    * and the global top-n by priority is a
    * probability-proportional-to-weight sample — e.g. length-weighted
    * document selection for a token-budgeted training mix. Ranked on
    * ln(u)/w (monotone in u^(1/w), numerically flat where u^(1/w) would
    * crowd toward 1.0 for heavy weights). Inherits every determinism
    * property of [[hashFraction]], and `orderBy + limit` compiles to
    * TakeOrderedAndProject: each task keeps a local n-row heap and the
    * driver merges tasks×n rows — the corpus is never globally sorted.
    * Weights must be > 0. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String, n: Int,
      salt: String = "graft"): DataFrame =
    df.withColumn("__priority",
        log(hashFraction(col(keyCol), salt)) / col(weightCol).cast("double"))
      .orderBy(col("__priority").desc, col(keyCol))
      .limit(n)
      .drop("__priority")

  /** [[weightedSample]] within each stratum (e.g. a per-language
    * length-weighted budget for a balanced training mix): rank the
    * Efraimidis–Spirakis priority per stratum and keep the top n. Same
    * WindowGroupLimit execution as [[reservoirPerStratum]] — each task
    * pre-prunes to its local top-n per stratum before the exchange, so the
    * shuffle carries O(n × strata × tasks) rows, never the corpus. */
  def weightedSamplePerStratum(df: DataFrame, keyCol: String, stratumCol: String,
      weightCol: String, n: Int, salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(
        (log(hashFraction(col(keyCol), salt)) / col(weightCol).cast("double")).desc,
        col(keyCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n).drop("rn")
  }

  /** Token-budget sampler — the mixing primitive a training-data run
    * actually stops on: per stratum (language/source), take documents in
    * the deterministic hash order until the stratum's TOKEN budget is
    * reached. A doc is kept iff the running token total BEFORE it is
    * under the budget, so the crossing doc is included and every stratum
    * with enough supply reaches ≥ budget tokens; rate- and count-based
    * sampling (`stratifiedHashSample` / `reservoirPerStratum`) can't
    * promise that, and token budgets are what mixture specs are written
    * in. The kept set is a prefix of the same stable per-stratum hash
    * permutation the other samplers draw from → nested under budget
    * changes, stable under repartitioning, engine-portable (SQL oracle).
    *
    * Scale: the naive plan is a window over each FULL stratum — one sort
    * task per language at corpus scale. Instead the hash fraction is
    * pre-bucketed into `buckets` prefix ranges: per-(stratum, bucket)
    * token totals aggregate map-side (tiny result — strata × buckets
    * rows), a window over that aggregate yields each bucket's preceding
    * total, and the broadcast join hands every row its bucket's offset,
    * so the per-row window only ranks WITHIN its (stratum, bucket) —
    * partitions are 1/`buckets` of a stratum, restoring full parallelism.
    * Because buckets are prefix ranges of the same (fraction, key) order,
    * the result is row-identical to the naive per-stratum window. */
  def tokenBudgetSample(df: DataFrame, keyCol: String, stratumCol: String,
      tokensCol: String, budgets: Map[String, Long], defaultBudget: Long = 0L,
      salt: String = "graft", buckets: Int = 256): DataFrame = {
    val budgetCol = budgets.foldLeft(lit(defaultBudget): Column) {
      case (acc, (k, b)) => when(col(stratumCol) === k, lit(b)).otherwise(acc)
    }
    val frac = hashFraction(col(keyCol), salt)
    val base = df
      .withColumn("__tb_frac", frac)
      .withColumn("__tb_bkt", floor(col("__tb_frac") * buckets).cast("int"))
    val wBkt = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("__tb_bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(stratumCol), col("__tb_bkt"))
      .agg(sum(col(tokensCol).cast("long")).as("__tb_n"))
      .withColumn("__tb_off", coalesce(sum(col("__tb_n")).over(wBkt), lit(0L)))
      .select(col(stratumCol), col("__tb_bkt"), col("__tb_off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol), col("__tb_bkt"))
      .orderBy(col("__tb_frac"), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base
      .join(broadcast(offsets), Seq(stratumCol, "__tb_bkt"))
      .withColumn("__tb_before",
        col("__tb_off") + coalesce(sum(col(tokensCol).cast("long")).over(wIn), lit(0L)))
      .filter(col("__tb_before") < budgetCol)
      .drop("__tb_frac", "__tb_bkt", "__tb_off", "__tb_before")
  }

  /** Deterministic global shuffle for reproducible training-data order:
    * every row gets a salt-keyed md5 `shuffle_key`, a `shard` (key mod
    * `nShards` — the output file a writer would send it to) and `pos`
    * (its rank within the shard). Reading shards in order replays one
    * fixed, seed-reproducible permutation of the corpus on any engine —
    * `Dataset.orderBy(rand())` can't promise that across retries, and a
    * training run that can't re-derive its data order can't be debugged.
    *
    * Scale: one shuffle, keyed by `shard`; each shard then sorts locally
    * (window per shard, no global ordering). Shard sizes are md5-uniform,
    * so pick `nShards` ≥ cluster parallelism and no task sees more than
    * ~corpus/nShards rows. Changing `salt` draws an independent epoch
    * permutation — per-epoch reshuffles without touching the data.
    *
    * The hash input is domain-separated (`":shuffle:"`) from
    * [[hashFraction]]'s sampling/split keyspace ON PURPOSE: with the raw
    * salt, `shuffle_key` order would be exactly the split-assignment hash
    * order — every shard would stream all its train docs before val
    * before test, and a pos-prefix truncation (token-budget stop, partial
    * epoch) would systematically select low-hash (train) docs. A shuffle
    * must be independent of every sampling/split decision drawn from the
    * same salt. */
  def shuffleShards(df: DataFrame, keyCol: String, nShards: Int = 64,
      salt: String = "graft"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shuffle_key"), col(keyCol))
    df.withColumn("shuffle_key",
        md5(concat(col(keyCol).cast("string"), lit(":shuffle:" + salt))))
      .withColumn("shard",
        (conv(substring(col("shuffle_key"), 1, 8), 16, 10).cast("long") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
  }
}
