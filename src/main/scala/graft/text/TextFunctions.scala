package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis operators over the documents table (SURVEY.md §2.9).
  *
  * Everything here is a pure `Column` expression over the text — no UDF,
  * no tokenizer library — so each operator runs inside whole-stage codegen
  * at scan speed and scales embarrassingly parallel: no shuffle at all
  * except the (optional) aggregations a caller adds downstream.
  *
  * Language ID uses stopword-profile counting (the classic n-gram/stopword
  * heuristic, cf. Cavnar-Trenkle-style profiling): per-language token hits
  * with a fixed argmax order for determinism.
  */
object TextFunctions {

  private def toks(c: Column): Column = split(lower(c), " ")

  /** Stopword profiles (small, public, deterministic). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "von", "mit", "zu"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "en", "que", "por"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "que", "au", "du"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** Deterministic language order for the argmax tie-break. */
  val langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  private def stopHits(c: Column, lang: String): Column =
    size(filter(toks(c), t => t.isInCollection(stopwords(lang))))

  /** Stopword-profile language ID: per-language hit counts + argmax with
    * fixed-order tie-break, compared against the labeled `lang`. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = langs.foldLeft(docs) { (df, l) =>
      df.withColumn(s"score_$l", stopHits(col("text"), l))
    }
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    val predicted = langs.tail.foldLeft(when(col(s"score_${langs.head}") === best, langs.head)) {
      (acc, l) => acc.when(col(s"score_$l") === best, l)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("is_match", (col("predicted_lang") === col("lang")).cast("int"))
      .select((Seq("doc_id", "lang", "predicted_lang", "is_match") ++
        langs.map(l => s"score_$l")).map(col): _*)
  }

  /** Quality scoring: length, token, alpha/punct/stopword ratios and a
    * bounded composite score. All ratios are exact integer divisions
    * evaluated in double precision. */
  /** The quality_score expression over a text column — shared by
    * [[quality]] and the one-pass curation report (which needs the score
    * as a FLAG on the corpus frame, not a joined projection). */
  private[graft] def qualityScoreCol(t: Column): Column = {
    val nChars = length(t)
    val nTokens = size(toks(t))
    val punct = length(regexp_replace(lower(t), "[a-z0-9 ]", ""))
    least(nTokens.cast("double") / 50.0, lit(1.0)) *
      (lit(1.0) - punct.cast("double") / nChars)
  }

  def quality(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t)
    val nTokens = size(toks(t))
    val alpha = length(regexp_replace(lower(t), "[^a-z]", ""))
    val punct = length(regexp_replace(lower(t), "[a-z0-9 ]", ""))
    val stop = stopHits(t, "en")
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      (nChars.cast("double") / nTokens).as("chars_per_token"),
      (alpha.cast("double") / nChars).as("alpha_ratio"),
      (punct.cast("double") / nChars).as("punct_ratio"),
      (stop.cast("double") / nTokens).as("stopword_ratio"),
      qualityScoreCol(t).as("quality_score"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex tokens (letter runs,
    * digit runs, other non-space symbols), distinct tokens. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      size(toks(t)).as("ws_tokens"),
      size(regexp_extract_all(lower(t), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .as("re_tokens"),
      size(array_distinct(toks(t))).as("distinct_tokens"),
      (length(t).cast("double") / size(toks(t))).as("chars_per_ws_token"))
  }

  /** Per-(doc, token) TF-IDF and Okapi BM25 scores over whitespace tokens.
    *
    * One explode feeds three aggregates (term frequency, doc length,
    * document frequency); corpus stats (N, avg doc length) are a single
    * scalar row broadcast into the scoring join. Shuffle keys are
    * (doc_id, token) and token — both grow with the corpus, so partition
    * state stays bounded at any scale; tf→df reuses the tf aggregate
    * rather than re-counting the explode.
    *
    * Formulas (ln = [[graft.functions.NativeLog]] — the Math.log variant
    * matching the oracle's glibc on 99.97% of args vs StrictMath's 97.2%;
    * expression shapes mirrored exactly in the oracle, outputs rounded at
    * 6 dp so a residual 1-ulp libm disagreement cannot surface):
    *   tfidf = tf · ln(N / df)
    *   bm25  = ln((N − df + 0.5)/(df + 0.5) + 1) ·
    *           tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) */
  def tfidfBm25(docs: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val ln = graft.functions.GraftFunctions.nativeLn _
    val toksDf = docs.select(col("doc_id"),
      explode(filter(toks(col("text")), t => t =!= "")).as("token"))
    val tf = toksDf.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = toksDf.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
    val dft = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("doc_len").as("avgdl"))
    tf.join(dl, "doc_id")
      .join(dft, "token")
      .crossJoin(broadcast(stats))
      .withColumn("tfidf", round(col("tf") * ln(col("n_docs") / col("df")), 6))
      .withColumn("bm25", round(
        ln((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("doc_len") / col("avgdl"))), 6))
      .select("doc_id", "token", "tf", "doc_len", "df", "tfidf", "bm25")
  }

  /** Unigram language-model scoring — the classic LM-based quality
    * filter: fit a unigram LM on the corpus itself (token frequencies /
    * total mass), then score every document by its per-token negative
    * log-likelihood. Gibberish and off-distribution documents score a
    * high avg_nll; boilerplate scores low. At 100 TB this is exactly two
    * shuffles on data-growing keys (token for the vocab build + join,
    * doc_id for the final roll-up) and the scalar total broadcasts.
    *
    * nll = −ln(tf / n_total), mirrored shape-for-shape in the oracle
    * ([[graft.functions.NativeLog]] for the glibc-matching ln). The
    * per-doc roll-up sums each token's nll as its ×10⁶ rounded integer
    * image — a raw double sum is accumulation-order-sensitive (the
    * round-8 exact gate caught a last-ulp drift per doc) while the
    * integer images add exactly in any order; the mean divides once. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toksDf = docs.select(col("doc_id"),
      explode(filter(toks(col("text")), t => t =!= "")).as("token"))
    val vocab = toksDf.groupBy("token").agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum("tf").as("n_total"))
    toksDf.join(vocab, "token")
      .crossJoin(broadcast(total))
      .withColumn("nll",
        -graft.functions.GraftFunctions.nativeLn(col("tf") / col("n_total")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(round(col("nll") * 1e6)) / 1e6 / count(lit(1))).as("avg_nll"),
        (sum(round(col("nll") * 1e6)) / 1e6).as("total_nll"))
  }

  /** Hashing-trick bag-of-tokens featurization (the fasttext /
    * HashingVectorizer input representation): each token maps to
    * `md5(token)[0:8] mod dim` and the document becomes sparse
    * (feature_index, count) rows — the fixed-width, vocabulary-free
    * featurization a corpus-scale quality classifier trains on (no
    * vocab build, no OOV, collisions bounded by dim).
    *
    * Engine-portable on purpose (md5 prefix, not xxhash/murmur) so any
    * system — including the DuckDB oracle — reproduces identical
    * indices. Scale: one explode + one (doc, index)-keyed aggregate;
    * output is bounded by min(tokens, dim) rows per doc. */
  def hashedFeatures(docs: DataFrame, dim: Int = 4096): DataFrame =
    docs
      .select(col("doc_id"), explode(filter(toks(col("text")), t => t =!= "")).as("token"))
      .withColumn("feat_idx",
        pmod(conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"), lit(dim.toLong)))
      .groupBy("doc_id", "feat_idx")
      .agg(count(lit(1)).as("feat_count"))

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more likely
    * its hashed-n-gram features are under a TARGET distribution than under
    * the raw corpus, then select the docs whose per-token log-ratio is
    * positive (more target-like than raw-like). The target here is the
    * `lang == targetLang` stratum — the same "small clean target vs big
    * raw pile" shape the paper uses with Wikipedia-vs-CommonCrawl.
    *
    * Both feature LMs are hashed-unigram bag models with Laplace
    * smoothing: p(f) = (n_f + α) / (n_tot + α·dim) — exact integer counts,
    * so the per-feature log-ratio is bit-identical across engines; only
    * the per-doc Σ is order-sensitive, hence the 6 dp round. Selection
    * thresholds at the CORPUS MEAN per-token log-ratio (a 1-row scalar
    * broadcast — no global sort, no quantile): because the target is a
    * subset of raw, Laplace smoothing tilts every absolute weight
    * slightly negative, so a fixed threshold at 0 would select nothing —
    * it's the relative weight that carries signal (the paper resamples
    * proportionally for the same reason). Resample by weight with
    * [[graft.sampling.Sampling]] if a fixed token budget is needed.
    *
    * Scale: one explode of the corpus builds the dim-bounded feature
    * aggregate (≤ `dim` rows), a second explode scores against the
    * broadcast log-ratios, one doc-keyed aggregate — the corpus text is
    * scanned exactly TWICE (the theoretical floor: once to fit the LM,
    * once to score). The first formulation left the reuse to Catalyst
    * and paid SIX corpus explodes at runtime (totals re-derived
    * featStats, the selection threshold re-derived the whole scored
    * frame, and per-branch column pruning defeats exchange reuse —
    * measured: zero ReusedExchange in the executed plan). Now the
    * feature totals are a single-partition window over the ≤dim-row
    * aggregate (bounded at any corpus size), the per-doc score frame is
    * persisted for the one extra pass the corpus-mean threshold needs,
    * and the output is pinned via an eager localCheckpoint before the
    * cache drops — the operator therefore EXECUTES AT CALL TIME and
    * returns a lineage-cut result (the [[graft.pipeline.Pipeline]]
    * curation-report contract); re-call it for fresh data. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
      dim: Int = 4096, alpha: Double = 1.0): DataFrame = {
    val toksDf = docs
      .select(col("doc_id"), col("lang"),
        explode(filter(toks(col("text")), t => t =!= "")).as("token"))
      .withColumn("feat_idx",
        pmod(conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"), lit(dim.toLong)))
      .select("doc_id", "lang", "feat_idx")
    // totals ride a single-partition window over the ≤dim-row feature
    // table (exact long sums — order-free, value-identical to the
    // replaced separate aggregate + crossJoin)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val ratios = toksDf
      .groupBy("feat_idx")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("lang") === targetLang, lit(1L)).otherwise(lit(0L))).as("n_tgt"))
      .withColumn("tot_raw", sum("n_raw").over(wAll))
      .withColumn("tot_tgt", sum("n_tgt").over(wAll))
      .withColumn("log_ratio",
        log((col("n_tgt") + alpha) / (col("tot_tgt") + alpha * dim))
          - log((col("n_raw") + alpha) / (col("tot_raw") + alpha * dim)))
      .select("feat_idx", "log_ratio")
    val scored = toksDf
      .join(broadcast(ratios), "feat_idx")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum("log_ratio").as("logw_raw"),
        avg("log_ratio").as("lpt_raw"))
      .persist()
    try {
      // one bounded pass over the cached scores computes the corpus-mean
      // threshold (the same avg the replaced broadcast subplan computed
      // by re-deriving the whole frame)
      val muRow = scored.agg(avg("lpt_raw")).head()
      val mu = if (muRow.isNullAt(0)) Double.NaN else muRow.getDouble(0)
      scored
        .select(
          col("doc_id"), col("n_tokens"),
          round(col("logw_raw"), 6).as("logw"),
          round(col("lpt_raw"), 6).as("logw_per_tok"),
          when(col("lpt_raw") > lit(mu), lit(1)).otherwise(lit(0)).as("selected"))
        .localCheckpoint(true)
    } finally {
      scored.unpersist()
      ()
    }
  }

  /** Bigram language-model scoring — the sharper sibling of
    * [[unigramLogProb]]: fit corpus bigram counts, then score every
    * document by per-transition negative log-likelihood
    * P(wᵢ | wᵢ₋₁) = count(wᵢ₋₁ wᵢ) / count(wᵢ₋₁ ·). The conditional
    * denominator is the PREFIX-marginal of the bigram table (so the
    * distribution sums to 1 per prefix); because the LM is fit on the
    * corpus itself every observed transition has count ≥ 1 and no
    * smoothing is needed. Word-salad documents with plausible unigram
    * mixes but improbable transitions — the ones [[unigramLogProb]]
    * can't see — score a high avg_nll here.
    *
    * Scale: the same two data-growing shuffle keys as the unigram LM
    * (bigram for the count build + join, doc_id for the roll-up). The
    * prefix-marginal is a WINDOW over the bigram COUNT table — same
    * exact long sums as a separate prefix aggregate, but one lineage:
    * the aggregate+join formulation made Catalyst evaluate the bigram
    * count build (and its corpus explode) TWICE, because the two
    * branches prune different columns and per-branch pruning defeats
    * exchange reuse (measured: zero ReusedExchange in the executed
    * plan). Corpus explodes: 3 → 2 — the count build and the scoring
    * join, the theoretical floor without persisting doc-grain bigrams.
    * NLLs round to 6 dp (engine-order double accumulation). */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val t = col("t")
    val bgRaw = transform(
      sequence(lit(1), greatest(size(t) - 1, lit(1))),
      i => concat_ws(" ", try_element_at(t, i), try_element_at(t, i + 1)))
    val docBigrams = docs
      .select(col("doc_id"), filter(toks(col("text")), x => x =!= "").as("t"))
      .select(col("doc_id"),
        explode(slice(bgRaw, lit(1), greatest(size(t) - 1, lit(0)))).as("bigram"))
    val wPrefix = org.apache.spark.sql.expressions.Window.partitionBy("prefix")
    val bigramCounts = docBigrams
      .groupBy("bigram").agg(count(lit(1)).as("pair_count"))
      .withColumn("prefix", split(col("bigram"), " ").getItem(0))
      .withColumn("c_prefix", sum(col("pair_count")).over(wPrefix))
    docBigrams
      .join(bigramCounts, "bigram")
      .withColumn("nll", -log(col("pair_count").cast("double") / col("c_prefix")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("avg_nll"),
        round(sum(col("nll")), 6).as("total_nll"))
  }

  /** Held-out perplexity under a reference-slice bigram LM with Stupid
    * Backoff (Brants et al., EMNLP 2007) — the CCNet-style quality filter:
    * score EVERY document against a language model trained on a trusted
    * slice (`lang = refLang`), so junk that [[bigramLogProb]]'s in-corpus
    * MLE would normalize itself against stands out instead. Seen bigrams
    * score their ref prefix-conditional MLE; unseen ones back off to
    * `alpha ·(c_v + 1)/(T + V)` (add-one ref unigram — OOV tokens get the
    * uniform floor, so no zero probabilities and no −∞ NLLs).
    *
    * Scale: the LM is two ref-corpus aggregates on data-growing keys
    * (bigram, token); scoring is two left equi-joins of doc bigrams
    * against them (AQE broadcasts when the LM is small, shuffles when it
    * isn't) plus one 1-row `(T, V)` scalar broadcast — the text_tfidf
    * corpus-stat pattern. avg NLL rounds at 6 dp (order-sensitive double
    * Σ); perplexity is exp of the ROUNDED avg, so both engines
    * exponentiate the same input. */
  def heldOutPerplexity(docs: DataFrame, refLang: String = "en",
      alpha: Double = 0.4): DataFrame = {
    val t = col("t")
    val bgRaw = transform(
      sequence(lit(1), greatest(size(t) - 1, lit(1))),
      i => concat_ws(" ", try_element_at(t, i), try_element_at(t, i + 1)))
    def docBigrams(d: DataFrame): DataFrame = d
      .select(col("doc_id"), filter(toks(col("text")), x => x =!= "").as("t"))
      .select(col("doc_id"),
        explode(slice(bgRaw, lit(1), greatest(size(t) - 1, lit(0)))).as("bigram"))
    val ref = docs.filter(col("lang") === refLang)
    val refUni = ref
      .select(explode(filter(toks(col("text")), x => x =!= "")).as("v_tok"))
      .groupBy("v_tok").agg(count(lit(1)).as("c_tok"))
    val scalars = refUni.agg(
      sum(col("c_tok")).as("t_total"), count(lit(1)).as("v_size"))
    val refBg = docBigrams(ref)
      .groupBy("bigram").agg(count(lit(1)).as("pair_count"))
      .withColumn("prefix", split(col("bigram"), " ").getItem(0))
    val prefixCounts = refBg
      .groupBy("prefix").agg(sum(col("pair_count")).as("c_prefix"))
    val lm = refBg.join(prefixCounts, "prefix")
      .select(col("bigram"),
        (col("pair_count").cast("double") / col("c_prefix")).as("p_bg"))
    docBigrams(docs)
      .join(lm, Seq("bigram"), "left")
      .withColumn("v_tok", split(col("bigram"), " ").getItem(1))
      .join(refUni, Seq("v_tok"), "left")
      .crossJoin(broadcast(scalars))
      .withColumn("p", coalesce(col("p_bg"),
        lit(alpha) * (coalesce(col("c_tok"), lit(0L)) + lit(1)).cast("double")
          / (col("t_total") + col("v_size"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("p"))), 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 4))
  }

  /** Adjacent character-pair statistics over in-word positions — the
    * counting step of BPE vocabulary induction (the highest-count pair
    * is the next merge). One explode chain, one pair-keyed aggregate,
    * TakeOrderedAndProject for the top-k — the full pair table is never
    * globally sorted. `when`-free: the pair array overshoots to one
    * index (a 1-char word yields a 1-char "pair") and slices back to
    * the len−1 valid prefix, which is empty for 1-char words. */
  def bpePairStats(docs: DataFrame, k: Int = 100): DataFrame = {
    val w = col("word")
    val pairsRaw = transform(
      sequence(lit(1), greatest(length(w) - 1, lit(1))),
      i => w.substr(i, lit(2)))
    val pairs = docs
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("word"))
      .select(explode(slice(pairsRaw, lit(1), greatest(length(w) - 1, lit(0)))).as("pair"))
    val top = pairs.groupBy("pair").agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair")).limit(k)
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("pair_count").desc, col("pair"))
    top.withColumn("rank", row_number().over(rw))
  }

  /** BPE merge LEARNING, bounded rounds — the tokenizer-induction loop
    * end-to-end, where [[bpePairStats]] stops at the first count table.
    * Classic Sennrich-style BPE trains on the WORD-FREQUENCY table, not
    * the corpus: the working set is vocab-sized (one row per distinct
    * word, weighted by occurrences), so each round costs a vocab-table
    * pass regardless of corpus size. Per round:
    *
    *   1. adjacent symbol-pair weighted counts over the vocab table
    *      (one explode + one aggregate);
    *   2. the top pair — deterministic tie-break (weight desc, pair asc)
    *      — collected to the driver (ONE row/round, same bounded-scalar
    *      contract as k-means centroids; `rounds` is a job-count
    *      multiplier at scale, like `iters` there);
    *   3. merge applied to every word's symbol string via a literal
    *      lookaround regex (non-consuming boundaries, so "a a a" merges
    *      left-to-right greedily — reference BPE semantics), then the
    *      vocab re-persisted and the previous round released.
    *
    * Output: one row per learned merge (round, left, right, merged,
    * weight). Merge weights are non-increasing by construction — a pair
    * born of round r's merge occurs at most as often as that merged
    * symbol does, which round r already bounded (spec-asserted along
    * with equality to a single-machine reference implementation). */
  def bpeLearn(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE persisted word-frequency table for the whole loop. Each round
    // applies the merges learned so far as a chained codegen'd regex
    // projection over this base repr inside the round's own count job —
    // the earlier shape re-persisted a rewritten vocab every round, which
    // paid a second materialization job per round (the round loop is
    // job-count bound: the vocab table is KB-to-MB-sized at any corpus
    // scale while `rounds` multiplies sequential scheduler latency).
    // The regex chain is at most `rounds` literal lookaround replaces —
    // the exact plan shape bpeEncodeWith already runs in one projection.
    val vocab = docs
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("weight"))
      .withColumn("repr", concat_ws(" ", split(col("word"), "")))
      .persist()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      // repr after the merges learned so far (identical strings to the
      // old materialize-per-round loop: same replaces, same order)
      val reprNow = merges.foldLeft(col("repr")) { case (c, (_, l, r, _)) =>
        val pat = "(?<= )" + java.util.regex.Pattern.quote(l) + " " +
          java.util.regex.Pattern.quote(r) + "(?= )"
        val rep = java.util.regex.Matcher.quoteReplacement(l + r)
        trim(regexp_replace(concat(lit(" "), c, lit(" ")), pat, rep))
      }
      val syms = split(reprNow, " ")
      val top = vocab
        .select(col("weight"), syms.as("syms"))
        .select(col("weight"), explode(transform(
          // overshoot-and-filter: 1-symbol words generate one struct with
          // a null r (try_element_at — ANSI-safe), dropped below
          sequence(lit(1), greatest(size(col("syms")) - 1, lit(1))),
          i => struct(element_at(col("syms"), i).as("l"),
            try_element_at(col("syms"), i + 1).as("r"))))
          .as("p"))
        .filter(col("p.r").isNotNull)
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("weight").as("w"))
        .orderBy(col("w").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, w) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, w))
        round += 1
      }
    }
    vocab.unpersist()
    merges.toSeq.toDF("round", "left", "right", "weight")
      .withColumn("merged", concat(col("left"), col("right")))
      .select("round", "left", "right", "merged", "weight")
  }

  /** BPE ENCODING with the merges [[bpeLearn]] induced — the apply side
    * of the tokenizer loop: per-document token counts under the learned
    * subword vocabulary, the statistic a token-budgeted pretraining mix
    * is actually written in ([[graft.sampling.Sampling]]'s budgets can
    * then count BPE tokens, not whitespace ones).
    *
    * The merge TABLE is driver-side (≤ `rounds` rows — bpeLearn already
    * collects one row per round), but the merge APPLICATION is a single
    * vocab-table projection: the ordered merges fold into one nested
    * chain of literal lookaround regexes — same left-to-right greedy
    * semantics as training — compiled once into the plan, codegen'd, no
    * per-round jobs. Word → subword-count mapping is then joined back to
    * the token stream (vocab-sized build side; AQE broadcasts it when
    * small) and summed per doc.
    *
    * Scale: corpus text is scanned once for the token stream; the merge
    * chain runs over the DISTINCT vocab only (the Sennrich trick again);
    * the mapping join shuffles at most the token stream once. Output per
    * doc: whitespace tokens, BPE tokens, chars, and the BPE-per-word
    * expansion — n_bpe/n_ws ∈ [1, max word length] by construction. */
  def bpeEncode(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val merges = bpeLearn(docs, rounds)
      .orderBy("round").select("left", "right")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    bpeEncodeWith(docs, merges)
  }

  /** [[bpeEncode]] with an externally-supplied ordered merge list (e.g. a
    * tokenizer trained on a reference corpus, applied to a new batch). */
  def bpeEncodeWith(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val toksDf = docs
      .select(col("doc_id"), explode(filter(toks(col("text")), t => t =!= "")).as("word"))
    val vocab = toksDf.groupBy("word").agg(count(lit(1)).as("n_uses"))
    val base = concat(lit(" "), concat_ws(" ", split(col("word"), "")), lit(" "))
    val applied = merges.foldLeft(base) { case (c, (l, r)) =>
      regexp_replace(c,
        "(?<= )" + java.util.regex.Pattern.quote(l) + " " +
          java.util.regex.Pattern.quote(r) + "(?= )",
        java.util.regex.Matcher.quoteReplacement(l + r))
    }
    val mapping = vocab
      .withColumn("n_bpe", size(split(trim(applied), " ")))
      .select("word", "n_bpe")
    toksDf
      .join(mapping, "word")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ws_tokens"),
        sum("n_bpe").as("n_bpe_tokens"),
        sum(length(col("word"))).as("n_chars"))
  }

  /** PMI-scored word-bigram collocations — the association statistic
    * behind phrase mining for tokenizer/vocab prep ("new york" is a unit;
    * "of the" is chance): pmi = ln(p(ab) / (p(a)·p(b))), estimated from
    * corpus bigram and unigram counts. [[bpePairStats]] ranks raw pair
    * frequency; PMI normalizes out the marginals, which is what separates
    * collocations from merely-common words.
    *
    * Scale: bigram extraction is a shuffle-free index HOF over each doc's
    * token array (overshoot-and-slice as in [[repetition]]); then one
    * aggregate keyed by bigram, one keyed by word, and two equi-joins on
    * the word marginals (vocab-sized — AQE broadcasts them when small,
    * sort-merge when a 100 TB vocab isn't). `minCount` prunes the
    * hapax tail BEFORE the joins — PMI is noise below a handful of
    * observations anyway. The ln-chain is mirrored shape-for-shape in
    * the oracle so the doubles stay bit-comparable.
    *
    * The scalar totals are a one-row `sum` aggregate over the two count
    * tables (exact long sums), broadcast and cross-joined back. The
    * aggregate is partial per partition, so only one partial row per
    * partition reaches the final single-row step: nothing vocab-sized
    * ever goes through one task (an unpartitioned window over the count
    * tables would). Without persisting, the totals reuse the unigram
    * counts' exchange but re-derive the bigram counts from the
    * repartitioned docs (the joins' inferred not-null filter on the
    * bigram's words changes that branch's exchange); at corpus scale
    * set `persistCounts = true`: the cached tables are
    * vocab-sized, not corpus-sized, and the text then scans exactly
    * twice (once per count build) — same remedy as
    * [[graft.dedup.Dedup.ngramJaccard]]'s `persistShingles`. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
      persistCounts: Boolean = false): DataFrame = {
    val t = col("t")
    val bgRaw = transform(
      sequence(lit(1), greatest(size(t) - 1, lit(1))),
      i => concat_ws(" ", try_element_at(t, i), try_element_at(t, i + 1)))
    val toksDf = docs.select(filter(toks(col("text")), x => x =!= "").as("t"))
    val bigramsRaw = toksDf
      .select(explode(slice(bgRaw, lit(1), greatest(size(t) - 1, lit(0)))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("pair_count"))
    val uniRaw = toksDf
      .select(explode(t).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_word"))
    val (bigrams, uni) =
      if (persistCounts) (bigramsRaw.persist(), uniRaw.persist())
      else (bigramsRaw, uniRaw)
    // n_bg sums ALL bigrams (the probability denominator), not just the
    // ones surviving minCount. Both totals come from ONE aggregate over
    // the union of the two count columns: one single-row stage and one
    // broadcast instead of two of each.
    val totals = bigrams.select(col("pair_count").as("n_bg"), lit(0L).as("n_uni"))
      .unionByName(uni.select(lit(0L).as("n_bg"), col("c_word").as("n_uni")))
      .agg(sum(col("n_bg")).as("n_bg"), sum(col("n_uni")).as("n_uni"))
    graft.functions.GraftFunctions.register(docs.sparkSession)
    bigrams
      .filter(col("pair_count") >= minCount)
      .withColumn("word_a", split(col("bigram"), " ").getItem(0))
      .withColumn("word_b", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("word").as("word_a"), col("c_word").as("c_a")), "word_a")
      .join(uni.select(col("word").as("word_b"), col("c_word").as("c_b")), "word_b")
      .crossJoin(broadcast(totals))
      // NativeLog + 6 dp round: the log argument is an exact-integer-ratio
      // chain (bit-identical on both engines), the ln itself rides libm —
      // Math.log matches the oracle's glibc on 99.97% of args and the
      // round keeps the residual 1-ulp disagreements from surfacing
      .select(col("word_a"), col("word_b"), col("pair_count"), col("c_a"), col("c_b"),
        round(graft.functions.GraftFunctions.nativeLn(
          (col("pair_count").cast("double") / col("n_bg"))
            / ((col("c_a").cast("double") / col("n_uni"))
              * (col("c_b").cast("double") / col("n_uni")))), 6).as("pmi"))
  }

  /** Mix-conformance check: KL divergence (nats) and total-variation
    * distance between the OBSERVED per-language token shares and a TARGET
    * mix — the number a data-mixing run gates on ("is the assembled
    * corpus within tolerance of the spec'd 60/20/... blend") before
    * training starts, complementing [[corpusMix]]'s descriptive table.
    *
    * One groupBy over the bounded lang space; shares divide exact longs.
    * The aggregate runs over the UNION of observed and target languages:
    * a spec'd language entirely absent from the corpus still contributes
    * its |0 − tgt| mass to TV (a gate that ignored it would pass a mix
    * missing a whole language) and a 0·ln(0) = 0 KL term. Languages
    * absent from `target` get `floorProb` (the psi-style guard — KL is
    * infinite against a zero target). Outputs round to 6 dp: the KL/TV
    * sums accumulate doubles in engine-specific order.
    *
    * `n_langs` counts the union — observed plus spec'd-but-absent. */
  def mixDivergence(docs: DataFrame, target: Map[String, Double],
      floorProb: Double = 1e-6): DataFrame = {
    val targetCol = target.foldLeft(lit(floorProb): Column) {
      case (acc, (k, p)) => when(col("lang") === k, lit(p)).otherwise(acc)
    }
    val spark = docs.sparkSession
    val targetLangs = spark.createDataFrame(target.keys.toSeq.map(Tuple1(_)))
      .toDF("lang")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    docs
      .select(col("lang"), size(filter(toks(col("text")), t => t =!= "")).as("n"))
      .groupBy("lang").agg(sum(col("n").cast("long")).as("lang_tokens"))
      .join(targetLangs, Seq("lang"), "full_outer")
      .withColumn("lang_tokens", coalesce(col("lang_tokens"), lit(0L)))
      .withColumn("obs", col("lang_tokens").cast("double") / sum("lang_tokens").over(w))
      .withColumn("tgt", targetCol)
      .agg(
        count(lit(1)).as("n_langs"),
        round(sum(when(col("obs") === 0, lit(0.0))
          .otherwise(col("obs") * log(col("obs") / col("tgt")))), 6).as("kl_nats"),
        round(sum(abs(col("obs") - col("tgt"))) / 2, 6).as("tv_dist"))
  }

  /** Zipf-law fit over the top-k vocabulary: OLS of ln(freq) on ln(rank).
    * Natural-language corpora sit near slope −1; a slope far from it (or
    * a poor r²) flags machine-generated / templated / tokenizer-broken
    * text at the corpus level — the one-row health check a curation run
    * reads next to [[corpusReport]].
    *
    * Scale: one token aggregate (the only data-sized shuffle), then
    * `orderBy+limit` compiles to TakeOrderedAndProject (per-task top-k
    * heap — the vocab is never globally sorted); the regression runs
    * over k rows. Outputs round to 6 dp: the OLS sums accumulate ln()
    * doubles whose addition order differs per engine. */
  def zipfFit(docs: DataFrame, topK: Int = 1000): DataFrame = {
    val freqs = docs
      .select(explode(filter(toks(col("text")), t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word")).limit(topK)
    val rw = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("word"))
    val pts = freqs
      .withColumn("r", row_number().over(rw))
      .select(log(col("r").cast("double")).as("x"), log(col("tf").cast("double")).as("y"))
    val s = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(
      col("n").cast("long").as("n_terms"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
      round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
        ((col("n") * col("sxx") - col("sx") * col("sx"))
          * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** PII redaction patterns, ordered — applied sequentially, so an email
    * is redacted before the IP pattern could fire inside its domain.
    * Every pattern is dialect-portable (ASCII classes, `\b`, bounded
    * quantifiers behave identically in Java regex and RE2/DuckDB). */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phones", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>"),
    ("ips", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("id_numbers", "\\b\\d{9,}\\b", "<NUM>"))

  /** PII redaction: regex scrub of emails / phone numbers / IPv4 / long id
    * numbers, with per-category match counts (counted on the ORIGINAL
    * text, replaced sequentially). Pure `Column` regex — codegen'd,
    * shuffle-free, scan-speed at any corpus size. */
  def redactPii(docs: DataFrame): DataFrame = {
    val t = col("text")
    val counts = piiPatterns.map { case (name, pat, _) =>
      size(regexp_extract_all(t, lit(pat), lit(0))).as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(t) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    docs.select(col("doc_id") +: redacted.as("redacted") +: counts: _*)
  }

  /** Greedy sequence packing for training-batch assembly: docs are laid
    * out in deterministic (lang, doc_id) order and cut into fixed
    * token-budget packs — pack_id = ⌊prior_tokens / budget⌋ over a
    * running per-lang token count.
    *
    * The window partitions by `lang` (in production: by shard key), so
    * the running sum never needs a global sort; per-partition state is
    * one counter. Output is one row per pack with doc span + token mass,
    * the manifest a packing writer consumes. */
  def packSequences(docs: DataFrame, budget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("lang"),
        size(filter(toks(col("text")), t => t =!= "")).as("n_tokens"))
      .withColumn("prior_tokens", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", floor(col("prior_tokens") / lit(budget)))
      .groupBy("lang", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("pack_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** Vocabulary heavy hitters: global top-k tokens by total frequency
    * (ties broken by token for determinism), with document frequency.
    *
    * The top-k is `orderBy(...).limit(k)` — Spark plans that as
    * TakeOrderedAndProject (per-partition top-k heaps merged on the
    * driver), so the full vocabulary is never globally sorted; the rank
    * window then runs over only the k surviving rows. */
  def heavyHitters(docs: DataFrame, k: Int = 100): DataFrame = {
    val toksDf = docs.select(col("doc_id"),
      explode(filter(toks(col("text")), t => t =!= "")).as("token"))
    val stats = toksDf.groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
    val top = stats.orderBy(col("tf").desc, col("token")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("token"))
    top.withColumn("rank", row_number().over(w))
  }

  /** Corpus composition report: one partial-agg pass over the documents
    * grouped by (lang, source) — doc counts, char/token mass, length
    * spread. The grouping key is tiny (languages × sources) so the
    * shuffle moves only partial aggregates; this is the curation
    * dashboard a data-mix owner reads before sampling rates are set. */
  def corpusReport(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        avg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(size(toks(col("text"))).cast("long")).as("total_tokens"))

  /** Training-mix composition: per-(split, lang) doc/token totals plus
    * each cell's share of its split's tokens — the table a data-mixing
    * run reports ("how many training tokens per language does this mix
    * contain, and is val representative"). Split assignment is the
    * deterministic [[graft.sampling.Sampling.splitAssign]] hash column,
    * so the report is reproducible anywhere. One groupBy over bounded
    * (split × lang) keys + a window over the 3-row split space — the
    * corpus scans once, the shuffle carries only the cell grid. */
  def corpusMix(docs: DataFrame): DataFrame = {
    val assigned = graft.sampling.Sampling.splitAssign(docs, "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("split")
    assigned
      .groupBy(col("split"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("total_tokens"))
      .withColumn("token_share",
        col("total_tokens").cast("double") / sum(col("total_tokens")).over(w))
  }

  /** Within-document repetition metrics — the classic repetitive-document
    * quality filter for training corpora (duplicate-word and duplicate-
    * trigram fractions; a crawl page of boilerplate lists scores high,
    * natural prose scores near zero on trigrams).
    *
    * Pure Column HOFs over the token array — shuffle-free, scan-speed,
    * and `when`-free on purpose (a CASE around a higher-order function
    * drops the projection out of codegen, ~30×): the trigram array
    * overshoots to at least one index (`try_element_at` nulls past the
    * end, `concat_ws` skips them) and slices back to the n−2 valid
    * prefix, which is empty for docs under 3 words. */
  def repetition(docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    val ws = col("ws")
    val tgRaw = transform(
      sequence(lit(1), greatest(col("n_words") - 2, lit(1))),
      i => concat_ws(" ", try_element_at(ws, i), try_element_at(ws, i + 1),
        try_element_at(ws, i + 2)))
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(ws))
      .withColumn("tg", slice(tgRaw, lit(1), greatest(col("n_words") - 2, lit(0))))
      .withColumn("dup_word_frac",
        lit(1) - size(array_distinct(ws)) / nullif(col("n_words"), lit(0)))
      .withColumn("dup_trigram_frac",
        lit(1) - size(array_distinct(col("tg"))) / nullif(size(col("tg")), lit(0)))
      .select(
        col("doc_id"), col("n_words"), size(col("tg")).as("n_trigrams"),
        col("dup_word_frac"), col("dup_trigram_frac"),
        (col("dup_trigram_frac") > threshold).as("repetitive"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    * MOSS plagiarism-detector selection rule): hash every k-token gram,
    * slide a window of `w` consecutive k-gram hashes, keep each window's
    * MINIMUM hash; a doc's fingerprint is its distinct selected hashes.
    * The guarantee local minima buy: any shared token run of at least
    * `w + k - 1` tokens spans a full window on both docs, and that
    * window's min is the same hash on both — so every sufficiently long
    * overlap is detectable from the fingerprint sets alone, at a ~1/w
    * storage fraction of all-grams fingerprinting.
    *
    * Output rows (doc_id, fp_hash), distinct per doc. Downstream overlap
    * detection is then a self-equi-join on fp_hash — the same
    * bounded-bucket join shape as MinHash banding (and like it, subject
    * to a df-cap on boilerplate hashes before the join at corpus scale).
    *
    * Scale: pure Column HOFs — per doc O(tokens × w) comparisons, no
    * shuffle, no UDF; the distinct is per-row (`array_distinct`), so the
    * only wide operation a caller adds is their own join. Ties inside a
    * window (identical repeated k-grams) collapse to one hash in the
    * fingerprint SET, so the rightmost-vs-leftmost tiebreak the paper
    * needs for positional fingerprints doesn't arise. */
  def winnow(docs: DataFrame, k: Int = 4, w: Int = 4): DataFrame = {
    val hs = col("hs")
    docs
      .withColumn("ws", toks(col("text")))
      // m = number of complete k-grams; the hash transform overshoots
      // (concat_ws skips try_element_at's out-of-range nulls) and slices
      // back to the valid prefix — the `when`-free HOF idiom used across
      // this file (a CASE around a HOF drops it out of codegen)
      .withColumn("m", greatest(size(col("ws")) - (k - 1), lit(0)))
      .withColumn("hs", slice(
        transform(sequence(lit(1), greatest(size(col("ws")), lit(1))),
          i => md5(concat_ws(" ",
            (0 until k).map(d => try_element_at(col("ws"), i + d)): _*))),
        lit(1), col("m")))
      // short docs (0 < m < w) get one window over all m hashes; slice
      // truncates at the array end so the same expression serves both
      .withColumn("nw", least(col("m"), greatest(col("m") - (w - 1), lit(1))))
      .select(col("doc_id"),
        explode(array_distinct(slice(
          transform(sequence(lit(1), greatest(col("nw"), lit(1))),
            i => array_min(slice(hs, i, lit(w)))),
          lit(1), col("nw")))).as("fp_hash"))
  }

  /** Temperature-scaled source mixing (the multilingual-LM sampling rule
    * from XLM-R / mC4: q_i ∝ p_i^T with T < 1 upweights low-resource
    * slices): per language, observed token share p, target share q under
    * `temperature`, and the resampling factor q/p a sampler applies.
    * One aggregate over lang keys + a window over the |langs|-row grid —
    * the corpus scans once. All shares round to 6 dp (double pow +
    * tiny-sum accumulation order). */
  def temperatureMix(docs: DataFrame, temperature: Double = 0.7): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("tokens"))
      .withColumn("p", col("tokens").cast("double") / sum(col("tokens")).over(all))
      .withColumn("q", pow(col("p"), lit(temperature))
        / sum(pow(col("p"), lit(temperature))).over(all))
      .select(col("lang"), col("n_docs"), col("tokens"),
        round(col("p"), 6).as("token_share"),
        round(col("q"), 6).as("target_share"),
        round(col("q") / col("p"), 6).as("sample_factor"))
  }

  /** Document fingerprinting: normalized-text md5 plus a positional
    * min-hash over character 5-grams — the global min and four
    * position-partitioned mins (i mod 4), a deterministic variant of
    * winnowing that keeps a fixed-width fingerprint. */
  def fingerprint(docs: DataFrame, k: Int = 5): DataFrame = {
    // `when`-free on purpose — a CASE around a higher-order function forces
    // the projection into interpreted eval (~30x slower). The k-gram hash
    // array `h` overshoots past the last full k-gram (short-substr hashes)
    // and slices back to the valid n_kgrams prefix (empty for docs shorter
    // than k); the stepped mins read it with try_element_at, whose
    // out-of-range nulls are skipped by array_min (all-null → null).
    val h = col("h")
    val withH = docs
      .withColumn("norm", lower(col("text")))
      .withColumn("n_kgrams", greatest(length(col("norm")) - (k - 1), lit(0)))
      .withColumn("h",
        slice(transform(sequence(lit(1), greatest(length(col("norm")), lit(1))),
          i => md5(col("norm").substr(i, lit(k)))), lit(1), col("n_kgrams")))
    def minOver(start: Int, step: Int): Column =
      array_min(transform(sequence(lit(start), greatest(size(h), lit(start)), lit(step)),
        i => try_element_at(h, i)))
    withH.select(
      col("doc_id"), md5(col("norm")).as("norm_md5"), col("n_kgrams"),
      array_min(h).as("kgram_min"),
      minOver(1, 4).as("kgram_min_0"), minOver(2, 4).as("kgram_min_1"),
      minOver(3, 4).as("kgram_min_2"), minOver(4, 4).as("kgram_min_3"))
  }

  /** Overlapping token-window chunking — the RAG / context-window prep
    * step that turns documents into retrieval units: chunks of
    * `chunkTokens` whitespace tokens starting every `stride` tokens
    * (stride < chunkTokens ⇒ the overlap that keeps sentences split
    * across a boundary recoverable from the neighbor chunk). The last
    * chunk is the natural short tail; a doc shorter than one stride
    * yields exactly one chunk. `chunk_id = start / stride` is stable
    * under re-partitioning, so chunk keys are reproducible join keys to
    * an embedding table.
    *
    * Scale shape: pure per-row narrow work (split → sequence-of-starts →
    * posexplode → slice), no shuffle, whole-stage codegen — it pipelines
    * inside the scan stage, and output size is the only cost:
    * ~`|tokens| / stride` rows per doc, the fan-out any chunker pays. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && stride <= chunkTokens,
      s"stride $stride must be in 1..$chunkTokens")
    docs
      .withColumn("__toks", split(col("text"), " "))
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as("start_tok"))
      .withColumn("__chunk",
        slice(col("__toks"), col("start_tok") + 1, lit(chunkTokens)))
      .select(
        col("doc_id"),
        (col("start_tok") / stride).cast("int").as("chunk_id"),
        col("start_tok"),
        size(col("__chunk")).as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }
}
