package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication suite: exact, MinHash-LSH, n-gram Jaccard,
  * SimHash, embedding-cosine (SURVEY.md §2.7).
  *
  * All candidate generation is *blocked* — the engine never materializes
  * the all-pairs cross product:
  *   - MinHash-LSH: shingle explode → per-doc signature aggregate → band
  *     explode → equi-join on (band, hash). Cost is linear in corpus size
  *     plus the (tiny) candidate set; the only shuffle keys are band
  *     buckets.
  *   - SimHash: 32-bit fingerprint → byte-band equi-join → popcount filter.
  *   - n-gram Jaccard: pairs only via shared-shingle equi-join (a pair with
  *     zero common shingles has Jaccard 0 and is never formed).
  *   - Embedding cosine: label-blocked equi-join.
  * At 100 TB the skew risk is hot buckets (stop-shingles, dense bands);
  * the mitigations are AQE skew-join splitting plus a document-frequency
  * cap on shingles (drop shingles appearing in > df_max docs — standard
  * stop-shingle removal, not applied at test SF where the vocabulary is
  * tiny and candidate counts are small).
  *
  * Determinism: hashes are md5 hex strings (identical in any engine);
  * "minimum hash" = lexicographic min of hex strings; all similarity
  * scores are exact integer ratios evaluated in double precision.
  */
object Dedup {

  /** Word n-gram shingle set (distinct) of the lowercased text.
    *
    * Deliberately `when`-free: wrapping a higher-order function in a CASE
    * branch drops the projection out of whole-stage codegen into
    * interpreted eval (~30x slower at sf0.1). Short-doc safety comes from
    * overshooting the position range (trailing partial shingles) and
    * slicing back to the first size-(n-1) entries, which is empty for
    * docs shorter than n words. */
  private def shingleCol(n: Int): Column = {
    val words = split(lower(col("text")), " ")
    val all = transform(sequence(lit(0), size(words) - 1), i =>
      concat_ws(" ", (0 until n).map(j => try_element_at(words, i + j + lit(1))): _*))
    array_distinct(slice(all, lit(1), greatest(size(words) - (n - 1), lit(0))))
  }

  /** Exact dedup by normalized-text hash: hash-partitioned window, min-id
    * winner per hash group. One shuffle on the (high-cardinality) hash. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("text_hash")
    docs
      .withColumn("text_hash", md5(lower(col("text"))))
      .withColumn("winner_id", min("doc_id").over(w))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("is_duplicate", (col("doc_id") =!= col("winner_id")).cast("int"))
      .select("doc_id", "text_hash", "winner_id", "dup_count", "is_duplicate")
  }

  /** Fuzzy-exact dedup on NORMALIZED text (the C4/CCNet-style first pass):
    * lowercase, squash every non-alphanumeric run to one space, trim, then
    * hash — so docs differing only in case, punctuation, or whitespace
    * collapse to one group. Strictly coarser than [[exactDedup]]'s raw
    * hash (its groups are unions of exact groups), and the same physical
    * shape: the normalization is a codegen'd scan-side projection, then
    * one shuffle on the (high-cardinality) hash for the window. Regex is
    * deliberately `[^a-z0-9]+` — identical POSIX-class semantics in Java
    * and RE2, so any SQL engine replays the normalization byte-for-byte. */
  def normalizedDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val w = Window.partitionBy("norm_hash")
    docs
      .withColumn("norm_hash", md5(norm))
      .withColumn("winner_id", min("doc_id").over(w))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("is_duplicate", (col("doc_id") =!= col("winner_id")).cast("int"))
      .select("doc_id", "norm_hash", "winner_id", "dup_count", "is_duplicate")
  }

  /** Per-source dedup-rate report — the curation-dashboard numbers a
    * data-mix owner reads before setting per-source sampling rates:
    * document count, distinct exact-text and distinct normalized-text
    * groups (same hash definitions as [[exactDedup]]/[[normalizedDedup]],
    * so the rates here equal what those passes would remove), and the
    * implied duplicate rates. The normalized rate ≥ exact rate by
    * construction (coarser groups).
    *
    * Scale: one scan; the two distinct counts plan as the standard
    * multi-distinct Expand (2× row fan-out map-side), shuffling hash
    * partials keyed by source — output is |sources| rows. */
  def dupRateReport(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(lower(col("text")))).as("n_exact"),
        countDistinct(md5(norm)).as("n_norm"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_norm"),
        (lit(1.0) - col("n_exact").cast("double") / col("n_docs")).as("exact_dup_rate"),
        (lit(1.0) - col("n_norm").cast("double") / col("n_docs")).as("norm_dup_rate"))
  }

  /** Signature hash family for [[minhashLsh]]. */
  sealed trait HashFamily
  /** Salted md5 hex slices — byte-identical in any ANSI engine, so the
    * DuckDB oracle can replay the full signature math. The parity-checked
    * path. */
  case object Md5Family extends HashFamily
  /** `xxhash64` — whole-stage-codegen'd, ~4× cheaper per shingle than md5
    * (SURVEY.md §7). The PRODUCTION path for corpora where cross-engine
    * parity isn't needed: no oracle (DuckDB has no xxhash64), identical
    * recall structure (min-hash over a uniform 64-bit family). */
  case object XxHash64Family extends HashFamily

  /** Default target Jaccard threshold for near-dup detection — drives
    * [[autoBands]] when no explicit band count is given. */
  val DefaultLshThreshold = 0.5

  /** Sentinel for "derive the band count from the threshold". */
  val AutoBands = 0

  /** Probability that a pair at Jaccard `s` becomes an LSH candidate
    * under `b` bands of `r` rows: the S-curve `1 − (1 − s^r)^b`. */
  def candidateProb(s: Double, b: Int, r: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, r), b)

  /** Integrated error of a (b, r) banding at `threshold`: the false-
    * positive area under the S-curve below the threshold plus the false-
    * negative area above it (uniform weight — datasketch's
    * `optimal_param` with equal FP/FN weights, computed by midpoint
    * quadrature). */
  def sCurveArea(k: Int, b: Int, threshold: Double): Double = {
    val r = k / b
    val n = 200
    val fp = (0 until n).map { i =>
      candidateProb(threshold * (i + 0.5) / n, b, r)
    }.sum * threshold / n
    val fn = (0 until n).map { i =>
      1.0 - candidateProb(threshold + (1.0 - threshold) * (i + 0.5) / n, b, r)
    }.sum * (1.0 - threshold) / n
    fp + fn
  }

  /** Band count minimizing [[sCurveArea]] at `threshold` over the
    * divisors of `k` the family supports (Md5Family slices at most 4
    * components per salted digest, so r ≤ 4 there).
    *
    * At the 0.5 default this derivation CONFIRMS the standing b=4/r=4
    * constant (area 0.165 vs 0.215 for b=8/r=2: b=8 catches 90% of
    * pairs at the threshold vs b=4's 23%, but pays for it in candidate
    * volume across the whole sub-threshold mass — the integrated
    * criterion trades recall-at-threshold against the quadratic cost of
    * false candidates). What the derivation ADDS is correct movement
    * when the target moves: t=0.3 → 8 bands of 2, t=0.9 → the fewest,
    * longest bands the family allows. Uniform FP/FN weighting assumes
    * near-dup mass sits well above threshold; a corpus dense exactly AT
    * the threshold wants an explicit `bands` override. */
  def autoBands(k: Int, threshold: Double = DefaultLshThreshold,
      family: HashFamily = Md5Family): Int = {
    val candidates = (1 to k).filter(k % _ == 0).filter { b =>
      family match {
        case Md5Family => k / b <= 4
        case XxHash64Family => true
      }
    }
    candidates.minBy(b => sCurveArea(k, b, threshold))
  }

  /** Banded MinHash-LSH near-dup candidate pairs with signature-estimated
    * Jaccard.
    *
    * `bands = AutoBands` (the default) derives the band count from
    * `threshold` via [[autoBands]] — pass an explicit count to pin it.
    *
    * Md5Family: the signature comes from salted md5 digests sliced into
    * 8-hex-char components (one-permutation style — k/r digest
    * computations per shingle, not k); the signature is the per-component
    * lexicographic min over the doc's shingles, and each salt's r slices
    * form one LSH band. More bands = more salted digests: the md5 family
    * is the oracle-parity path, and pays ~2× hash cost at b=8 vs b=4 —
    * the xxhash64 production family computes k hashes regardless.
    *
    * XxHash64Family: k independent seeded xxhash64 values per shingle
    * (numeric min), band key = xxhash64 over the band's r components. */
  def minhashLsh(docs: DataFrame, k: Int = 16, bands: Int = AutoBands,
      shingleN: Int = 3, family: HashFamily = Md5Family,
      threshold: Double = DefaultLshThreshold): DataFrame =
    bandSelfJoin(minhashIndex(docs, k, bands, shingleN, family, threshold), k)

  /** Oriented band-bucket self-join + signature Jaccard over a banded
    * signature table (shared by [[minhashLsh]] and [[lshEval]]). */
  private def bandSelfJoin(banded: DataFrame, k: Int): DataFrame =
    estJaccard(
      banded.alias("a")
        .join(banded.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b")),
      k)

  /** The banded signature table `(doc_id, sig[k], band_idx, band_hash)` —
    * the PERSISTABLE corpus index behind [[minhashLsh]]. At 100 TB this is
    * the table a pipeline stores next to the corpus: each daily batch is
    * signed once and [[minhashLshIncremental]] band-joins it against the
    * stored index, so corpus text is never re-scanned or re-shingled to
    * dedup a new batch. */
  def minhashIndex(docs: DataFrame, k: Int = 16, bands: Int = AutoBands,
      shingleN: Int = 3, family: HashFamily = Md5Family,
      threshold: Double = DefaultLshThreshold): DataFrame =
    minhashIndexFromShingles(shingleTable(docs, shingleN), k, bands, family, threshold)

  /** [[minhashIndex]] body over a pre-built [[shingleTable]] — so a caller
    * that also needs the shingles for something else (e.g. [[lshEval]]'s
    * exact side) can explode the text ONCE, persist it, and feed both. */
  def minhashIndexFromShingles(ex: DataFrame, k: Int = 16, bands: Int = AutoBands,
      family: HashFamily = Md5Family,
      threshold: Double = DefaultLshThreshold): DataFrame = {
    val nBands = if (bands == AutoBands) autoBands(k, threshold, family) else bands
    require(k % nBands == 0, "bands must divide k")
    val r = k / nBands
    val sigAggs = family match {
      case Md5Family =>
        require(r <= 4, "at most 4 components per salted digest")
        (0 until k).map { i =>
          val salt = i / r
          val slot = i % r
          min(substring(md5(concat(lit(s"$salt:"), col("shingle"))), slot * 8 + 1, 8))
            .as(s"sig_$i")
        }
      case XxHash64Family =>
        (0 until k).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"sig_$i"))
    }
    val sig = ex.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val sigArr = array((0 until k).map(i => col(s"sig_$i")): _*)
    val bandStructs = (0 until nBands).map { b =>
      val bandCols = (0 until r).map(j => col(s"sig_${b * r + j}"))
      val bandHash: Column = family match {
        case Md5Family => md5(concat_ws("|", bandCols: _*))
        case XxHash64Family => xxhash64(bandCols: _*).cast("string")
      }
      struct(lit(b).as("band_idx"), bandHash.as("band_hash"))
    }
    sig
      .select(col("doc_id"), sigArr.as("sig"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash"))
  }

  /** Signature-estimated Jaccard over oriented candidate pairs (shared by
    * the batch and incremental paths; symmetric in sig_a/sig_b). */
  private def estJaccard(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k)
      .select("doc_a", "doc_b", "est_jaccard")

  /** Incremental near-dup detection: candidate pairs touching a NEW batch
    * — batch×corpus plus batch×batch — via one band equi-join of the
    * batch's signatures against a stored [[minhashIndex]]. Equals the full
    * [[minhashLsh]] over (corpus ∪ batch) restricted to pairs with ≥ 1
    * batch doc (spec-asserted), but signs only the batch: the corpus
    * contributes its (tiny) index table, its text is never re-read.
    * Pairs are oriented doc_a < doc_b like the batch path. */
  def minhashLshIncremental(newDocs: DataFrame, index: DataFrame, k: Int = 16,
      bands: Int = AutoBands, shingleN: Int = 3, family: HashFamily = Md5Family,
      threshold: Double = DefaultLshThreshold): DataFrame =
    minhashLshIncrementalFromIndex(
      minhashIndex(newDocs, k, bands, shingleN, family, threshold), index, k)

  /** [[minhashLshIncremental]] body over a PRE-BUILT batch signature table
    * — so a caller that also stores the batch's signatures (the streaming
    * face, [[graft.streaming.Streams.incrementalDedupBatch]]) signs the
    * batch text exactly once and feeds both the pair join and the index
    * append from the same frame. */
  def minhashLshIncrementalFromIndex(newIndex: DataFrame, index: DataFrame,
      k: Int = 16): DataFrame = {
    val nb = newIndex
    // batch side deduped against itself AND probed into the corpus index
    // in ONE join: the right side is (batch ∪ index); a batch-batch pair
    // arrives twice with both orientations, least/greatest + the estJaccard
    // dropDuplicates collapse it (est_jaccard is symmetric in the sigs)
    val candidates = nb.alias("a")
      .join(nb.unionByName(index).alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    estJaccard(candidates, k)
  }

  /** Default stop-shingle document-frequency cap for [[ngramJaccard]]: a
    * shingle in more than this many documents is removed before the
    * candidate join. A shingle shared by d docs contributes ~d²/2 join
    * rows, so an uncapped common phrase ("terms and conditions apply") is
    * a quadratic cliff on any real corpus; 1000 bounds every shingle's
    * join contribution at ~500k rows while leaving genuine near-dup
    * signal (near-dups share many RARE shingles) untouched. */
  val DefaultStopShingleDf = 1000

  /** Exact n-gram Jaccard over shared-shingle candidate pairs. Pairs form
    * only through the shingle equi-join (zero-overlap pairs never exist);
    * the similarity is |A∩B| / (|A|+|B|-|A∩B|) on distinct shingle sets.
    *
    * Plan note: the shingle explode feeds four branches (stop-list count,
    * both self-join sides, set sizes) and Catalyst evaluates each branch
    * independently — 4 passes over the input. At test SF the explode is
    * ~0.1 s so this is irrelevant; at very large corpora build
    * [[shingleTable]] yourself, persist or write it, and call
    * [[ngramJaccardFromShingles]], so the text is scanned exactly once.
    *
    * `dfMax` (ON by default — the deployed path must be the safe one):
    * shingles appearing in more than `dfMax` documents are dropped from
    * BOTH the candidate join and the per-doc set sizes (standard
    * stop-shingle removal). Similarity is then exact Jaccard over the
    * DF-filtered shingle sets. `None` disables the cap for exact
    * whole-set Jaccard on corpora known to have no hot shingles.
    *
    * PPJoin prefix filtering (candidates from rarity-ordered prefixes,
    * exact verify against the full sets) gives byte-identical output but
    * measured slower on both 10× corpora — 51.4 vs 26.5 s dup-light,
    * 279.8 vs 66.5 s dup-dense — because verification replicates each
    * doc's full shingle set once per candidate pair (BASELINE.md "10×
    * scale stress", Corpus 1 and 2). */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      dfMax: Option[Int] = Some(DefaultStopShingleDf)): DataFrame =
    ngramJaccardFromShingles(shingleTable(docs, n), threshold, dfMax)

  /** Distinct word-n-gram shingle table `(doc_id, shingle)` — the explode
    * as a standalone frame. At corpus scale compute this ONCE, persist it
    * (or write it out), and feed [[ngramJaccardFromShingles]]: the text
    * then scans once no matter how many plan branches read shingles; the
    * caller owns the persisted table and unpersists it when done. */
  def shingleTable(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), explode(shingleCol(n)).as("shingle"))

  /** [[ngramJaccard]] body over a pre-built [[shingleTable]]. */
  def ngramJaccardFromShingles(exploded: DataFrame, threshold: Double = 0.5,
      dfMax: Option[Int] = Some(DefaultStopShingleDf)): DataFrame = {
    val ex = dfFiltered(exploded, dfMax)
    // shingles are distinct per doc, so the DF-filtered set size is a count
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = ex.alias("a")
      .join(ex.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("both_cnt"))
    // sizes is one row per doc (corpus-cardinality, tiny next to the pair
    // set) — broadcast both lookups or they sort-merge the full pair set
    inter
      .join(broadcast(sizes.alias("sa")), col("doc_a") === col("sa.doc_id"))
      .join(broadcast(sizes.alias("sb")), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("both_cnt").cast("double") /
          (col("sa.n_shingles") + col("sb.n_shingles") - col("both_cnt")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "both_cnt", "jaccard")
  }

  /** The `dfMax` stop-shingle cap as a standalone stage. Anti-join
    * against the STOP list (df > cap), not a join against the keep list:
    * the stop set is only the heavy hitters (bounded by
    * total_shingle_instances / cap), so AQE broadcasts it, while a
    * keep-list join would shuffle the full vocabulary. The filter stays
    * on the EXPLODED rows — no array re-group shuffle; sizes and the
    * candidate join both read the filtered explode. */
  private def dfFiltered(exploded: DataFrame, dfMax: Option[Int]): DataFrame =
    dfMax match {
      case None => exploded
      case Some(cap) =>
        val stop = exploded
          .groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("shingle").as("stop_shingle"))
        exploded.join(stop, col("shingle") === col("stop_shingle"), "left_anti")
    }

  /** Cross-document EXACT substring duplication: maximal runs of ≥
    * `minTokens` consecutive shared tokens between document pairs — the
    * substring-granular dedup mode (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") that catches partial
    * copies whole-document Jaccard/MinHash dilute below threshold (a long
    * doc quoting 50 tokens of another scores near-zero Jaccard).
    *
    * The suffix-array construction of the paper is a single-machine
    * algorithm; the Spark-native equivalent here is fingerprint anchoring:
    *   1. k-token rolling window fingerprints (md5) at every position;
    *   2. occurrence cap (same rationale as [[ngramJaccard]]'s stop
    *      shingles, but on TOTAL anchor occurrences, not distinct docs:
    *      anchors are positional, so a window repeated m times inside one
    *      doc contributes m join rows per partner — a padding run like
    *      "= = = = …" would be quadratic in m even at df = 2). Any
    *      fingerprint with > `dfMax` total occurrences is boilerplate /
    *      filler and is dropped before pairing, bounding every
    *      fingerprint's join contribution at ~dfMax²/2 rows;
    *   3. anchor equi-join on fingerprint (doc_a < doc_b);
    *   4. diagonal run merge: anchors of one contiguous shared substring
    *      share (doc_a, doc_b, pos_a − pos_b), and along a diagonal the
    *      island trick (pos_a − row_number) groups consecutive positions;
    *      a run of m ≥ k shared tokens yields m − k + 1 consecutive
    *      anchors, so match_len = max(pos_a) − min(pos_a) + k.
    * Every stage is an equi-join or a bounded window (per pair-diagonal);
    * nothing is all-pairs. Output: (doc_a, doc_b, start_a, start_b,
    * match_len) per maximal shared run, 1-based token offsets.
    *
    * Plan note (same shape as [[ngramJaccard]]): the occurrence cap is a
    * WINDOW over the anchor table (count per fingerprint, filter
    * ≤ dfMax) rather than a separate stop-list aggregate + anti-join —
    * the aggregate+anti-join form made each self-join side evaluate the
    * anchor explode TWICE (once directly, once under the stop list;
    * per-branch column pruning defeats exchange reuse), 4 tokenize+hash
    * corpus scans at runtime where the window form pays 2 (one per
    * self-join side — the floor without persisting anchors), and the
    * window rides the same per-fp exchange the anti-join needed anyway. */
  def substringDups(docs: DataFrame, k: Int = 10, minTokens: Int = 20,
      dfMax: Int = DefaultStopShingleDf): DataFrame = {
    require(minTokens >= k, s"minTokens ($minTokens) must be >= k ($k)")
    val t = col("t")
    // overshoot-and-slice (see ngram shingles): windows past n-k+1 hash a
    // short tail slice and are cut by the outer slice
    val fpRaw = transform(
      sequence(lit(1), greatest(size(t) - (k - 1), lit(1))),
      i => md5(concat_ws(" ", slice(t, i, lit(k)))))
    val anchors = docs
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("t"))
      .select(col("doc_id"),
        posexplode(slice(fpRaw, lit(1), greatest(size(t) - (k - 1), lit(0)))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("fp"))
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val kept = anchors
      .withColumn("occurrences", count(lit(1)).over(wFp))
      .filter(col("occurrences") <= dfMax)
      .drop("occurrences")
    val paired = kept.alias("a")
      .join(kept.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    paired
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(
        min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (max(col("pos_a")) - min(col("pos_a")) + k).as("match_len"))
      .filter(col("match_len") >= minTokens)
      .select("doc_a", "doc_b", "start_a", "start_b", "match_len")
  }

  /** Per-document duplicated-token fraction from [[substringDups]] runs —
    * the number a curation policy actually filters on ("drop docs > 50%
    * duplicated", Lee-et-al-style). Runs can overlap (the same span can
    * match several partners), so coverage counts DISTINCT duplicated
    * token positions per doc, not a sum of run lengths.
    *
    * Scale: each run explodes to its own positions (bounded by match
    * lengths, not the corpus), one distinct-count per doc, and a join
    * back to per-doc token counts. Docs with no runs report 0.0. */
  def substringCoverage(docs: DataFrame, runs: DataFrame): DataFrame = {
    val perSide = runs
      .select(col("doc_a").as("doc_id"), col("start_a").as("start"), col("match_len"))
      .unionByName(runs.select(col("doc_b").as("doc_id"), col("start_b").as("start"),
        col("match_len")))
    val covered = perSide
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + col("match_len") - 1)).as("tok_pos"))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok_pos")).as("dup_tokens"))
    docs
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), x => x =!= "")).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        col("dup_tokens").cast("double") / greatest(col("n_tokens"), lit(1)))
  }

  /** QA report for the approximate dedup path: precision / recall / F1 of
    * banded MinHash-LSH (candidates with estimated Jaccard ≥ threshold)
    * against the DEPLOYED exact path ([[ngramJaccard]], DF-capped shingle
    * Jaccard ≥ threshold) — the measurement that justifies shipping the
    * approximate dedup at corpus scale. One row out.
    *
    * Scale: both sides are blocked candidate generators (band buckets /
    * shared shingles), never all-pairs, so the eval costs what the two
    * dedup passes cost — minus one text scan: both sides consume ONE
    * persisted [[shingleTable]] (the LSH signatures and the exact Jaccard
    * shingle-set math are functions of the same (doc_id, shingle) rows),
    * so the corpus text is read and shingled exactly once for the whole
    * eval. The confusion-matrix join keys are pair ids and the final
    * aggregate is a single row. At 100 TB run it on a sampled stratum
    * ([[graft.sampling.Sampling.hashSample]]) — the ratios are what
    * matter, not the corpus-wide counts. */
  def lshEval(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val sh = shingleTable(docs, 3).persist()
    val predicted = bandSelfJoin(minhashIndexFromShingles(sh, threshold = threshold), 16)
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a").as("p_a"), col("doc_b").as("p_b"))
    val truth = ngramJaccardFromShingles(sh, threshold = threshold)
      .select(col("doc_a").as("t_a"), col("doc_b").as("t_b"))
    val cm = predicted
      .join(truth, col("p_a") === col("t_a") && col("p_b") === col("t_b"), "full_outer")
      .agg(
        sum(when(col("p_a").isNotNull && col("t_a").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p_a").isNotNull && col("t_a").isNull, 1L).otherwise(0L)).as("fp"),
        sum(when(col("p_a").isNull && col("t_a").isNotNull, 1L).otherwise(0L)).as("fn"))
    cm.select(
        col("tp"), col("fp"), col("fn"),
        (col("tp").cast("double") / greatest(col("tp") + col("fp"), lit(1L))).as("precision"),
        (col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L))).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
  }

  /** 60-bit SimHash fingerprint per doc: token hash = first 15 hex chars
    * of md5 (60 bits — the widest hex slice that stays inside a signed
    * 64-bit int in any engine), each bit votes +1/-1 weighted by token
    * frequency, fingerprint bit = sign of the vote. Shift/mask is
    * expressed as div/mod so the arithmetic is identical in any ANSI
    * engine.
    *
    * Width matters at scale: with an 8-bit band space (32-bit fingerprint,
    * 256 buckets/band) random collisions alone generate ~N²/512 candidate
    * pairs per band — measured 480 s at a 50k-doc corpus. 15-bit bands
    * (32768 buckets) keep expected random bucket occupancy ≪ 1 into the
    * tens of millions of docs while preserving the pigeonhole guarantee:
    * 4 bands still catch every pair within Hamming distance 3. */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    // one aggregate with 60 bit-vote columns instead of exploding 60 rows
    // per token: the shuffle carries 60 partial sums per doc rather than
    // tokens x 60 rows (a 60x row-explosion at corpus scale)
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"(h div ${1L << b}L) % 2") === 1, 1).otherwise(-1)).as(s"s_$b"))
    docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs via 15-bit-band blocking over the SimHash fingerprint
    * + Hamming (popcount of xor) filter. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = simhashFingerprints(docs)
      .select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(3))).as("band_idx"))
      .withColumn("band_val", expr("(simhash div cast(power(2, 15 * band_idx) as bigint)) % 32768"))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Connected-component cluster assignment over near-dup candidate pairs:
    * every doc gets `cluster_id` = the MINIMUM doc_id reachable through
    * the pair graph (singletons cluster to themselves), plus an
    * `is_canonical` flag — the standard "pairs → clusters → keep one per
    * cluster" step after MinHash/SimHash candidate generation.
    *
    * Two execution paths behind `driverCutover` (round 9, the
    * zonePageRank cutover rule): the pair list is counted once off its
    * persisted projection; at ≤ cutover edges a driver-side union-find
    * (path-compressed, min-representative) computes the same fixpoint in
    * one collect of edge endpoints ONLY — docs are never collected, the
    * component map broadcasts back onto them — because a sparse pair
    * graph never earns back 2 scheduler jobs per propagation round.
    * MEASURED at sf0.1 (dd_cc): 1.8 s → ~0.3 s. Above the cutover the
    * distributed loop below runs unchanged; both paths are spec-equal.
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels; converges in ≤ diameter
    * rounds (near-dup clusters are dense, diameter is small). Convergence
    * is detected by the label SUM going stationary (labels only ever
    * decrease) — one tiny aggregate per round, no change-join.
    *
    * Each round is one shuffle on doc_id, linear in |edges| — and exactly
    * ONE Spark job: the convergence sum rides the checkpoint
    * materialization via `Observation` instead of a second aggregate
    * action (labels only ever decrease, so a stationary exact
    * decimal(38,0) sum means no label moved). Job count is the
    * scheduling-latency exposure on a busy cluster: the round-5
    * two-actions-per-round shape measured 34 s on one contended epoch
    * purely from per-job hiccups multiplying across rounds.
    *
    * Near-dup clusters are dense (diameter 2-3), so plain propagation
    * converges in a handful of rounds; for HIGH-diameter pair graphs
    * (chained partial copies: A~B~C~…) set `pointerDoubling = true` —
    * each round then also shortcuts every label to its label's label
    * (`lbl(x) ← lbl(lbl(x))`), the classic path-halving step, and
    * convergence needs O(log diameter) rounds instead of O(diameter) at
    * the cost of one extra self-join in the round's plan (fused into the
    * same job — the label table is referenced twice within one round's
    * lineage, which stays linear because every round checkpoints).
    * Labels only decrease and every label is itself a doc_id, so the
    * shortcut preserves the fixpoint (= min reachable doc_id). */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxIter: Int = 20,
      pointerDoubling: Boolean = false, driverCutover: Long = 200000L): DataFrame = {
    // One evaluation of the (expensive — usually an LSH) candidate
    // lineage: the symmetrized edge view below references `pairs` twice,
    // and Spark has no cross-branch CSE, so an unpersisted union would
    // scan the LSH twice on fill.
    val base = pairs.select(col("doc_a"), col("doc_b")).persist()
    val nPairs = base.count()
    // The driver path collects edges as Long, so it's only taken for
    // integral doc_ids (string/decimal corpora — which the distributed
    // loop handles natively — would NPE in getLong or alias distinct
    // ids under a lossy cast); doc_id's declared type decides, since
    // both the edge casts and the broadcast map-back key on it.
    val integralIds = docs.schema("doc_id").dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (nPairs <= driverCutover && integralIds) {
      // Bounded-collect cutover (the zonePageRank precedent, m_pr round
      // 8): near-dup pair graphs are SPARSE — |pairs| is dup-volume-
      // sized, not corpus-sized — and at ≤ `driverCutover` edges
      // (16 B/row → ≤ ~3 MB at the default) a driver-side union-find
      // computes the EXACT fixpoint (min reachable doc_id) in one pass,
      // where the distributed loop pays 2 scheduler jobs per round for
      // the same answer. Docs, which ARE corpus-sized, are never
      // collected: only the edge endpoints get a driver map, broadcast
      // back and left-joined — every unpaired doc stays its own
      // canonical cluster through the coalesce. Above the cutover
      // (dup-heavy corpora) the distributed loop below runs unchanged.
      val es = base
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      base.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(rb) = ra
      }
      val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keys.foreach { x =>
        val r = find(x)
        minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), x)
      }
      val spark = docs.sparkSession
      import spark.implicits._
      val docIdType = docs.schema("doc_id").dataType
      val mapped = parent.keys.toSeq.map(x => (x, minOf(find(x))))
        .toDF("doc_id", "mapped")
        .select(col("doc_id").cast(docIdType).as("doc_id"),
          col("mapped").cast(docIdType).as("mapped"))
      // Eager localCheckpoint: the distributed loop below returns a
      // checkpointed frame by construction, so both paths keep one
      // pinned-result contract — a caller that reads the clusters more
      // than once never re-runs the docs lineage under them (e.g. a
      // quality filter and dedup window). One docs-sized 3-column
      // materialization.
      return docs.select("doc_id")
        .join(broadcast(mapped), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("mapped"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical",
          (col("doc_id") === col("cluster_id")).cast("int"))
        .localCheckpoint(true)
    }
    val edges = base.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(base.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // Eager localCheckpoint, not persist: each round's plan references the
    // previous round's labels 2-3× (propagation join + optional shortcut
    // self-join), so the LOGICAL plan grows exponentially with rounds —
    // persist caches data but keeps lineage, and ~10 rounds of doubling
    // OOM'd the driver just STRINGIFYING the plan. Checkpointing truncates
    // lineage to the materialized RDD each round (on a real cluster with
    // dynamic allocation, swap for reliable checkpoint() to survive
    // executor loss).
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint()
    // Option so an empty corpus (null sum) converges by Option equality
    // instead of NPE-ing a BigDecimal compare
    var prevSum: Option[Any] = None
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nbr_min"))
      val propagated = labels.alias("l")
        .join(nbrMin, col("l.doc_id") === col("src"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.cluster_id"), coalesce(col("nbr_min"), col("l.cluster_id"))).as("cluster_id"))
      val stepped =
        if (!pointerDoubling) propagated
        else {
          // path halving: follow each label one hop through the label
          // table itself (left join: a root label maps to itself)
          val hop = propagated.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lbl"))
          propagated.alias("l")
            .join(hop, col("l.cluster_id") === col("p_id"), "left")
            .select(col("l.doc_id").as("doc_id"),
              coalesce(col("p_lbl"), col("l.cluster_id")).as("cluster_id"))
        }
      val obs = org.apache.spark.sql.Observation(s"dup_clusters_r$i")
      // Convergence metric: for integral ids the exact label sum (labels
      // only decrease, so the sum strictly decreases until fixpoint); for
      // string/other ids, the sum of 64-bit label hashes — not monotone,
      // but a changed round colliding to the same sum is a 2^-64 event
      // and maxIter backstops it
      val lblMetric =
        if (integralIds) sum(col("cluster_id").cast("decimal(38,0)"))
        else sum(xxhash64(col("cluster_id")).cast("decimal(38,0)"))
      val next = stepped
        .observe(obs, lblMetric.as("lbl_sum"))
        .localCheckpoint() // the observe metric fires on this job
      val s = Some(obs.get("lbl_sum"))
      labels = next
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    edges.unpersist()
    base.unpersist()
    labels.withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("int"))
  }

  /** Benchmark decontamination: drop corpus docs that match an eval set —
    * the step every training-data pipeline runs so benchmark answers don't
    * leak into the training mix.
    *
    * A corpus doc is contaminated if (a) its normalized text hash equals a
    * benchmark doc's (exact leak), or (b) it shares ≥ `minOverlap`
    * distinct n-gram shingles with SOME single benchmark doc (near leak —
    * paraphrases, partial copies). Benchmarks are tiny next to corpora, so
    * both probes broadcast the benchmark side; the corpus is never
    * shuffled, cost is one scan + per-row hash/shingle work. */
  /** The distinct normalized-text hashes of a benchmark set (the exact-
    * leak probe of [[decontaminate]], shared with the one-pass curation
    * report). */
  private[graft] def benchHashSet(benchmark: DataFrame): DataFrame =
    benchmark.select(md5(lower(col("text"))).as("bench_hash")).distinct()

  /** doc_ids of `corpus` rows sharing ≥ `minOverlap` distinct n-gram
    * shingles with some single benchmark doc (the near-leak probe of
    * [[decontaminate]], shared with the one-pass curation report). */
  private[graft] def nearHitIds(corpus: DataFrame, benchmark: DataFrame,
      n: Int, minOverlap: Int): DataFrame = {
    val benchShingles = benchmark
      .select(col("doc_id").as("bench_id"), explode(shingleCol(n)).as("shingle"))
    corpus
      .select(col("doc_id"), explode(shingleCol(n)).as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minOverlap)
      .select("doc_id").distinct()
  }

  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      minOverlap: Int = 5): DataFrame = {
    corpus
      .join(broadcast(benchHashSet(benchmark)),
        md5(lower(col("text"))) === col("bench_hash"), "left_anti")
      // no broadcast hint: nearHits is usually tiny (AQE broadcasts it)
      // but is bounded by the CORPUS under heavy contamination
      .join(nearHitIds(corpus, benchmark, n, minOverlap), Seq("doc_id"), "left_anti")
  }

  /** Per-benchmark-item contamination AUDIT — the benchmark-side view of
    * [[decontaminate]] (which drops corpus docs and says nothing about
    * which benchmark items were at risk): one row per benchmark doc with
    * its shingle count, the number of corpus docs matching it exactly
    * (normalized-text hash) and nearly (≥ `minOverlap` shared n-gram
    * shingles), and the worst offender's shared-shingle count. This is
    * the artifact a training run publishes alongside its decontaminated
    * corpus — eval results are only defensible with the leak table next
    * to them (GPT-3 §4 / PaLM-style contamination analysis).
    *
    * Same plan shape as [[decontaminate]]: benchmark shingles broadcast,
    * corpus scanned once, the pair aggregate keyed on (doc, bench) —
    * bounded by true overlap, never all-pairs. Clean benchmark items
    * keep a row (zeros) so the report is always benchmark-sized. */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      minOverlap: Int = 5): DataFrame = {
    val corpusHashes = corpus.select(md5(lower(col("text"))).as("h"))
    val exact = corpusHashes
      .join(broadcast(benchmark.select(col("doc_id").as("bench_id"),
        md5(lower(col("text"))).as("h"))), "h")
      .groupBy("bench_id").agg(count(lit(1)).as("n_exact"))
    val benchShingles = benchmark
      .select(col("doc_id").as("bench_id"), explode(shingleCol(n)).as("shingle"))
    val hits = corpus
      .select(col("doc_id"), explode(shingleCol(n)).as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minOverlap)
    val near = hits.groupBy("bench_id")
      .agg(count(lit(1)).as("n_near"), max("shared").as("max_shared"))
    benchmark
      .select(col("doc_id").as("bench_id"), size(shingleCol(n)).as("n_shingles"))
      .join(exact, Seq("bench_id"), "left")
      .join(near, Seq("bench_id"), "left")
      .na.fill(0L, Seq("n_exact", "n_near", "max_shared"))
  }

  /** [[decontaminate]] with a Bloom-filter prefilter on the exact-hash
    * stage — same output (the bloom's false positives are removed by an
    * exact confirm join), cheaper at scale: the benchmark key set
    * broadcasts as a ~1.2 MB-per-million-keys bit array instead of a
    * hash-set relation, the probe is Spark's codegen'd
    * `BloomFilterMightContain` (zero shuffle, zero join on the corpus
    * side), and only the bloom-surviving sliver of the corpus — true
    * hits plus an `fpp` fraction — ever reaches the confirm join. The
    * shingle near-leak stage is byte-identical to [[decontaminate]]'s.
    *
    * The sketch build runs one count + one aggregate over the BENCHMARK
    * (tiny by the same argument that lets it broadcast); the corpus is
    * still scanned exactly once, never shuffled.
    *
    * Measured at 50k docs with a 5k-doc benchmark (BASELINE.md "10×
    * scale stress", Corpus 1): ~2.4 s SLOWER than [[decontaminate]] in
    * one epoch, parity in another — both are dominated by
    * the shared shingle stage, and the bloom adds sketch-build jobs plus
    * a second corpus filter branch. Use this variant when the benchmark
    * key set is large enough (tens of millions of rows) that the exact
    * path's hash-set broadcast pressures executor memory; below that,
    * [[decontaminate]] is the faster identical-output path. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
      minOverlap: Int = 5, fpp: Double = 0.01): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val key = xxhash64(lower(col("text")))
    // null-text guard: xxhash64 maps NULL to its seed (a real long) where
    // decontaminate's md5 yields NULL (anti-join keeps the row) — filter
    // nulls out of both sides of the exact stage so the two paths agree
    // that null-text docs are never "exact leaks"
    val benchKeys = benchmark.filter(col("text").isNotNull)
      .select(key.as("h")).distinct()
    val bf = benchKeys.stat.bloomFilter("h", math.max(benchKeys.count(), 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val exactHits = corpus
      .filter(col("text").isNotNull)
      .filter(graft.functions.GraftFunctions.bloomContains(lit(bytes), key))
      // FP-proof confirm: only the bloom survivors (≈ |true hits| +
      // fpp × |corpus|) pay the equi-join against the real key set
      .join(broadcast(benchKeys), key === col("h"), "left_semi")
      .select("doc_id")
    val benchShingles = benchmark
      .select(col("doc_id").as("bench_id"), explode(shingleCol(n)).as("shingle"))
    val nearHits = corpus
      .select(col("doc_id"), explode(shingleCol(n)).as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minOverlap)
      .select("doc_id").distinct()
    corpus
      .join(exactHits, Seq("doc_id"), "left_anti")
      .join(nearHits, Seq("doc_id"), "left_anti")
  }

  /** EMBEDDING-space decontamination — the semantic-leak counterpart of
    * [[decontaminate]]'s lexical shingle overlap: drop corpus vectors
    * whose cosine against ANY benchmark vector clears `minCosine`. A
    * paraphrased benchmark item shares no 3-gram shingles with its
    * source yet sits next to it in embedding space — lexical decontam
    * alone ships it into the training mix (the contamination mode the
    * GPT-4/phi technical-report decontamination sections call out).
    *
    * Exact by design, NOT an LSH shortcut: a missed candidate here is
    * benchmark leakage into training data, so the default path pays the
    * full scan. Benchmark suites are small by definition (10³-10⁵
    * items), so the benchmark side BROADCASTS and the corpus streams
    * through one fused-loop native-cosine scan (the v_bf/v_rad
    * declared-quadratic broadcast contract — no shuffle, scan-bound,
    * |bench| codegen'd cosines per corpus row). When the benchmark
    * outgrows one broadcast, shard it and union the hit sets (linear in
    * shards); if the scan cost itself is the constraint, run the
    * [[graft.similarity.Similarity.lshTopK]] candidate generator with a
    * measured-recall QA line (the `dd_ev` pattern) and accept the
    * QUANTIFIED leak probability — never an unmeasured one. */
  def embeddingDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      minCosine: Double = 0.95): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val b = benchmark.select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"))
    val hits = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(b))
      .filter(col("vec_id") =!= col("bench_id"))
      .filter(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("b_emb"))
        >= minCosine)
      .select("vec_id").distinct()
    corpus.join(hits, Seq("vec_id"), "left_anti")
  }

  /** Embedding-cosine near-dup pairs, blocked by label. The cosine is
    * graft's native codegen'd one-pass expression
    * ([[graft.functions.CosineSimilarity]]) — index-ordered accumulation,
    * bit-identical to the ANSI list_reduce oracle. */
  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells bound the candidate space, then
    * only pairs SHARING a cell are cosine-scored. This is the 100 TB
    * path for [[embeddingNearDups]] — all-pairs is O(n²) and unshippable
    * at corpus scale, while cluster blocking costs one multi-probe
    * assignment scan (centroids ride as codegen'd literals, shuffle-free)
    * plus per-cell self-joins of ~n·nprobe/nlist rows. Multi-probe
    * (each vector indexed into its `nprobe` nearest cells, the IVF trick)
    * is what rescues recall for pairs straddling a cell boundary: on the
    * deliberately-diffuse test corpus, single-assignment recall at 16
    * cells is ~0.27 while nprobe=2 measures ~0.63 at a 4× candidate-
    * volume cut (spec pins the floor). A pair sharing two cells is
    * scored per shared cell and deduped by one (vec_a, vec_b) hash agg.
    * Output pairs are a SUBSET of the exact all-pairs set; same
    * (vec_a, vec_b, cosine) contract as the exact path, plus the
    * lowest shared cell. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.35, nlist: Int = 16,
      nprobe: Int = 2, iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = graft.similarity.Similarity.kmeansFit(emb, nlist, iters)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      explode(graft.similarity.Similarity.nearestCells(cents, nprobe)).as("cell"))
    assigned.alias("a")
      .join(assigned.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_a", "vec_b")
      .agg(min("cell").as("cell"), max("cosine").as("cosine"))
  }

  /** QA row for embedding-level near-dup BLOCKING — [[lshEval]]'s pattern
    * on the vector side: of the TRUE near-dup pairs (exact cosine ≥
    * `threshold`, the declared-quadratic baseline over the eval slice),
    * how many does a bucketed blocking recover, and at what candidate
    * volume? The blocking measured is the hyperplane-LSH family
    * ([[graft.similarity.Similarity.bucketCol]], `tables` independent
    * tables) — SQL-expressible, so the whole row is oracle-checkable
    * end to end; [[semanticDedup]]'s k-means cells are the production
    * alternative whose recall floor is spec-asserted — this operator
    * makes the same QA a driver-visible output.
    *
    * One row: `n_cand` (distinct bucket-cohabiting pairs — the blocking
    * cost), `tp` / `fn` vs truth, `recall`, and `cand_precision`
    * (tp / n_cand — how much of the candidate volume is real). The
    * predicted set post-filters candidates by exact cosine, so fp = 0
    * by construction and recall is the whole story.
    *
    * Scale: candidates come from per-table bucket equi-joins (never
    * all-pairs); ONLY the truth side is quadratic — run the eval on a
    * sampled slice, exactly as [[lshEval]] prescribes. */
  def semanticBlockingEval(emb: DataFrame, threshold: Double = 0.35,
      nPlanes: Int = 4, tables: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col("embedding"))
    // one scan per join SIDE (not per table per side): every table's
    // (t, bucket) pair computes in a single projection and explodes,
    // the self-join keys on (t, bucket) — same candidate set as the
    // per-table union, `tables`× less scan IO (the lshTopK shape)
    val b = e.select(col("vec_id"), col("embedding"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          graft.similarity.Similarity.bucketCol(col("embedding"), nPlanes, t * nPlanes)
            .as("bucket"))
      }: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val cand = b.alias("a").join(b.alias("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.embedding").as("emb_a"), col("b.embedding").as("emb_b"))
      .dropDuplicates("vec_a", "vec_b")
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val pred = cand
      .filter(graft.functions.GraftFunctions.cosineSim(col("emb_a"), col("emb_b"))
        >= threshold)
      .select(col("vec_a").as("p_a"), col("vec_b").as("p_b"))
    val truth = e.alias("a").crossJoin(broadcast(e.alias("b")))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding"))
        >= threshold)
      .select(col("a.vec_id").as("t_a"), col("b.vec_id").as("t_b"))
    pred
      .join(truth, col("p_a") === col("t_a") && col("p_b") === col("t_b"), "full_outer")
      .agg(
        sum(when(col("p_a").isNotNull && col("t_a").isNotNull, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p_a").isNull && col("t_a").isNotNull, 1L).otherwise(0L)).as("fn"))
      .crossJoin(broadcast(nCand))
      .select(col("n_cand"), col("tp"), col("fn"),
        (col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L))).as("recall"),
        (col("tp").cast("double") / greatest(col("n_cand"), lit(1L))).as("cand_precision"))
  }

  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.35): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.alias("a")
      .join(emb.alias("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        graft.functions.GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
