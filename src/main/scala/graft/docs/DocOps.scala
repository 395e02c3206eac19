package graft.docs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
import graft.spark.{functions => gf}

/** Training-data pipeline operators over a `documents(doc_id, text, lang,
  * source, n_chars)` table — the text-side counterparts of the image dedup
  * pipeline, built from the same sketch algebra.
  *
  * Scale design: exact dedup groups on `md5(text)` (fixed 16-byte shuffle
  * key, not the full document); near-dup detection uses an inverted shingle
  * index join (exact) or banded MinHash LSH (sub-quadratic candidate
  * generation); SimHash block keys give an exact-cover channel for
  * Hamming ≤ blocks−1. All joins shuffle on short keys; AQE skew-join
  * handles hot shingles. The MinHash channel tokenizes each doc once: its
  * confirm walks the gram sets of the walk's checkpointed frame, read
  * through one side exchange that both endpoint joins share.
  */
object DocOps {

  private val toks: Column = split(col("text"), " ")

  /** docs with at least one token n-gram: #whitespace tokens ≥ n (null text
    * fails too). Applied BEFORE a tokenize projection as a cheap builtin
    * predicate: `size(token_ngrams(text, n)) > 0` collapsed into a Filter
    * that re-evaluated the token_ngrams kernel per row on top of the
    * Project's own evaluation (cross-operator subtrees get no CSE). */
  private def hasNgrams(n: Int): Column =
    size(filter(split(col("text"), "\\s+"), t => t =!= "")) >= n

  /** exact duplicate grouping: canon_id = min doc_id with identical text. */
  def exactDupGroups(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), md5(col("text")).as("k"))
    val groups = keyed.groupBy("k")
      .agg(min("doc_id").as("canon_id"), count(lit(1)).as("group_n"))
    keyed.join(groups, "k").select("doc_id", "canon_id", "group_n")
  }

  /** Exact token n-gram jaccard pairs via a PREFIX-FILTERED inverted index
    * (AllPairs/ppjoin family, Xiao et al.) — provably the same output as the
    * naive full-index self-join, at a fraction of the join volume:
    *
    *  - global gram order = (document frequency asc, gram): rare grams
    *    first, so hot boilerplate shingles sort to the END of every doc's
    *    ordered gram list and almost never enter a prefix;
    *  - prefix(d) = first |d| − ⌈τ·|d|⌉ + 1 grams of d in that order.
    *    SOUND: J(A,B) ≥ τ ⇒ |B| ≥ τ|A| ⇒ overlap ≥ τ/(1+τ)(|A|+|B|) ≥
    *    τ·max(|A|,|B|); by the positional lemma the FIRST common gram (in
    *    global order) sits at position ≤ |d| − overlap + 1 ≤ prefix length
    *    in BOTH docs, so every qualifying pair collides prefix-to-prefix.
    *    τ is nudged down by 1e-9 before the ceil so float rounding can only
    *    LENGTHEN the prefix (never unsound);
    *  - candidates are confirmed with the exact merge-walk jaccard over the
    *    full sorted gram sets, so false candidates cost one codegen'd walk.
    *
    * 100 TB shape: df is one groupBy on the gram hash; the prefix self-join
    * shuffles ~(1−τ) of the index, keyed on rare grams (near-uniform
    * buckets); AQE skew-join backstops the residue. */
  def ngramDupPairsExact(docs: DataFrame, n: Int = 3, tau: Double = 0.6): DataFrame = {
    val (pref, gramSets) = ngramPrefixIndex(docs, n, tau)
    pref.toDF("id_a", "g")
      .join(pref.toDF("id_b", "g"), "g")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(gramSets.toDF("id_a", "gs_a"), "id_a")
      .join(gramSets.toDF("id_b", "gs_b"), "id_b")
      // coalesce: a bare `jaccard >= τ` predicate lets constraint inference
      // plant `isnotnull(token_ngrams(text))` filters that re-evaluate the
      // tokenize kernel under each join side (guide §4.4 duplication; same
      // shield as Dedup.confirm). Null jaccard failed `>= τ` before, -1
      // fails now — row set identical.
      .where(coalesce(gf.exact_jaccard(col("gs_a"), col("gs_b")), lit(-1.0)) >= tau)
      .select("id_a", "id_b")
  }

  /** the n-gram channel's df-ordered prefix index `(doc_id, g)` plus the
    * per-doc gram sets — factored out so the docscale instrument
    * (BENCH/SCALE.md) can count the prefix join volume the SHIPPED query
    * shuffles, without duplicating the index construction. */
  private[graft] def ngramPrefixIndex(docs: DataFrame, n: Int = 3,
      tau: Double = 0.6): (DataFrame, DataFrame) = {
    val gramSets = docs.where(hasNgrams(n))
      .select(col("doc_id"), gf.token_ngrams(col("text"), n).as("gs"))
    val grams = gramSets.select(col("doc_id"), explode(col("gs")).as("g"))
    val dfc = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // single-pass prefix selection: one hash aggregation per doc collects the
    // (df, g) pairs, an in-row array_sort orders them (struct order = df asc,
    // g asc — identical to the former row_number window order), and slice
    // keeps the first |d| − ⌈τ·|d|⌉ + 1. Replaces TWO window functions
    // (row_number + count) over the same per-doc sort with one agg pass.
    val pref = grams.join(dfc, "g")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ordered"))
      .select(col("doc_id"),
        explode(slice(col("ordered"), lit(1),
          (size(col("ordered")) - ceil((lit(tau) - 1e-9) * size(col("ordered"))) + 1)
            .cast("int"))).as("o"))
      .select(col("doc_id"), col("o.g").as("g"))
      // materialize ONCE: both self-join sides consume the checkpointed
      // index — without this Catalyst specializes each consumer's exchange
      // so the df-groupBy + prefix subplan is computed twice (ReuseExchange
      // never fires across the pruned copies; same lesson as
      // Dedup.keyedDupPairs)
      .localCheckpoint()
    (pref, gramSets)
  }

  /** banded MinHash LSH near-dup pairs + exact n-gram jaccard confirm.
    * Sub-quadratic candidate generation; recall vs the exact pairs is a
    * tested property (≥ 0.99 at default bands).
    *
    * Candidate generation runs through the shared skew-hardened run-walk
    * ([[graft.pipeline.Dedup.saltedAllPairs]]) instead of a band self-join:
    * boilerplate-heavy text — the NORMAL 100-TB web case — puts thousands of
    * near-identical docs into one band bucket, and a plain self-join
    * materializes that bucket's full O(n²) cross product inside one skewed
    * partition (AQE can split the partition but not shrink the candidate
    * volume). The walk streams cold buckets from a tight loop and fans hot
    * buckets across salted tasks via salt-and-replicate — the same
    * machinery the image channel uses (planted-boilerplate case in
    * DocOpsSpec mirrors SaltingSpec).
    *
    * Each doc is tokenized ONCE: the confirm is the exact merge-walk jaccard
    * over the gram sets the walk's frame already holds, not a per-pair
    * re-tokenize of both texts ([[minhashPairs]]). */
  def minhashDupPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.6,
      numPerm: Int = 128, bands: Int = 64, rowsPerBand: Int = 2,
      hotThreshold: Int = Dedup.AllPairsHotCap): DataFrame =
    minhashPairs(docs, tau, gf.token_ngrams(col("text"), n),
      minhashBandKeys(numPerm, bands, rowsPerBand), hotThreshold)

  /** the minhash channel's candidate stage (distinct in-bucket pairs),
    * exposed for the docskew scale instrument (BENCH/SCALE.md). */
  private[graft] def minhashCandidates(docs: DataFrame, n: Int = 3,
      numPerm: Int = 128, bands: Int = 64, rowsPerBand: Int = 2,
      hotThreshold: Int = Dedup.AllPairsHotCap): DataFrame =
    minhashWalk(docs, gf.token_ngrams(col("text"), n),
      minhashBandKeys(numPerm, bands, rowsPerBand), hotThreshold)._2

  /** the product hash family's band keys of a gram set. */
  private def minhashBandKeys(numPerm: Int, bands: Int, rowsPerBand: Int): Column => Column =
    gs => gf.band_keys(gf.minhash_sig(gs, numPerm, 42L), bands, rowsPerBand)

  /** The doc MinHash channel in any hash family, shared by
    * [[minhashDupPairs]] and its md5 twin: `gs` is a doc's sorted distinct
    * gram-hash set (an expression over `text`) and `keys` its band keys.
    * Both endpoints join to the one `(id, gs)` side under fresh candidate
    * attributes ([[graft.pipeline.Dedup.freshCandidates]]), so the side is
    * exchanged once and the second join reuses it. */
  private[graft] def minhashPairs(docs: DataFrame, tau: Double, gs: Column,
      keys: Column => Column, hotThreshold: Int): DataFrame = {
    val (frame, cand) = minhashWalk(docs, gs, keys, hotThreshold)
    val sides = frame.select(col("id"), col("gs"))
    Dedup.freshCandidates(cand)
      .join(sides.toDF("id_a", "gs_a"), "id_a")
      .join(sides.toDF("id_b", "gs_b"), "id_b")
      // coalesce: as in ngramDupPairsExact, no isnotnull filter is inferred
      // into the side subtrees; row set unchanged, the frame's gram sets are
      // never null
      .where(coalesce(gf.exact_jaccard(col("gs_a"), col("gs_b")), lit(-1.0)) >= tau)
      .select("id_a", "id_b")
  }

  /** the channel's checkpointed frame `(id, gs, keys)` — the gram set and
    * its band keys, one tokenize per doc — and the walk's candidate pairs
    * `(id_a, id_b)` over it. */
  private def minhashWalk(docs: DataFrame, gs: Column, keys: Column => Column,
      hotThreshold: Int): (DataFrame, DataFrame) = {
    // The frame is materialized BEFORE the walk's explode: the hot path
    // re-executes its input filtered to hot buckets, and with the signature
    // inline that re-run would repeat the signature stage over the full
    // corpus (the Dedup.keyedDupPairs lesson); the confirm reads the gram
    // sets from it, and the walk's sizing job reads the band keys
    val frame = withGrams(docs.select(col("doc_id").as("id"), gs.as("gs"))
      .withColumn("keys", keys(col("gs"))), size(col("gs")))
    (frame, Dedup.saltedAllPairs(frame.select(col("id"), col("keys")), hotThreshold)
      .toDF("id_a", "id_b"))
  }

  /** `rows` checkpointed, then only those with a gram (`grams`, the row's
    * gram count, > 0). A doc with fewer than `n` tokens has no n-gram: such
    * docs would all share the empty set's signature and pair with each
    * other. Each hash family counts tokens with its own tokenizer (`\s+`
    * runs for `token_ngrams`, single spaces for the md5 family's
    * `token_ngram_strings`), so a channel tests the gram set it hashes, not
    * a token count. After the checkpoint, so Catalyst cannot push the
    * predicate below the projection and tokenize each doc twice. */
  private def withGrams(rows: DataFrame, grams: Column): DataFrame =
    rows.localCheckpoint().where(grams > 0)

  /** SimHash near-dup pairs: 64-bit SimHash over token n-grams, pigeonhole
    * block keys (exact cover of Hamming ≤ blocks−1), Hamming filter. Docs
    * with fewer than `n` tokens have no n-gram, so they are dropped (as in
    * the exact and MinHash channels) instead of all sharing the empty-set
    * simhash. */
  def simhashDupPairs(docs: DataFrame, n: Int = 3, maxHamming: Int = 3,
      hotThreshold: Int = Dedup.HammingHotCap): DataFrame =
    simhashPairs(docs, gf.token_ngrams(col("text"), n), gf.simhash64, maxHamming,
      hotThreshold)

  /** The doc SimHash channel in any hash family, shared by
    * [[simhashDupPairs]] and its md5 twin: `gs` is a doc's gram-hash set (an
    * expression over `text`) and `sig` its 64-bit simhash. Runs through the
    * full [[graft.pipeline.Dedup.saltedBucketPairs]] machinery with the
    * simhash as the walk's Hamming-filter signature: one wide shuffle,
    * in-walk pigeonhole sub-bucketing for large FALSE-collision buckets,
    * hot-bucket refinement, terminal salting for genuine mega-clusters.
    * Interleaved block keys are an exact cover like any partition of the 64
    * bit positions into `blocks` classes, so the output is every pair within
    * Hamming `maxHamming`, whatever the block layout. */
  private[graft] def simhashPairs(docs: DataFrame, gs: Column, sig: Column => Column,
      maxHamming: Int, hotThreshold: Int): DataFrame = {
    // checkpointed: the walk's hot path re-reads its input filtered to hot
    // buckets; the checkpoint keeps the gram count, not the set
    val sigs = withGrams(docs.select(col("doc_id"), gs.as("gs"))
        .select(col("doc_id"), sig(col("gs")).as("sh"), size(col("gs")).as("grams")),
        col("grams"))
      .select(col("doc_id"), col("sh"))
    val pairs = Dedup.saltedBucketPairs(
        sigs.select(col("doc_id").as("id"), col("sh").as("phash"),
          gf.phash_block_keys(col("sh"), maxHamming + 1).as("keys")),
        maxHamming, hotThreshold,
        firstAgreeBlocks = maxHamming + 1) // keys derive from sh == the carried signature
      .toDF("id_a", "id_b")
    pairs
      .join(sigs.toDF("id_a", "sh_a"), "id_a")
      .join(sigs.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  /** stopword list used by the quality heuristics (must stay in sync with
    * the oracle SQL). */
  val stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** per-document exact statistics + deterministic quality score — every
    * column derives from integer counts so the DuckDB oracle reproduces the
    * doubles bit-for-bit. */
  def docStats(docs: DataFrame): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
          .cast("long").as("token_chars"),
        size(filter(toks, t => array_contains(sw, t))).cast("long").as("n_stop"))
      .withColumn("avg_token_len", col("token_chars") / col("n_tokens"))
      .withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
      .withColumn("stopword_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("quality",
        least(col("n_tokens") / lit(64.0), lit(1.0)) * lit(0.5)
          + col("distinct_ratio") * lit(0.3)
          + col("stopword_ratio") * lit(0.2))
  }

  /** whitespace + BPE-ish regex token counts. The regex pass approximates
    * byte-pair-style subword splitting: a token is a maximal letter run, a
    * maximal digit run, or a single other non-space char — lookaround-free,
    * so the identical pattern runs under both Java regex and DuckDB's RE2
    * (oracle-checked). */
  // explicit whitespace class: Java's \s includes \x0B, RE2's does not
  val bpeIshPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r\\f]"
  def tokenCounts(docs: DataFrame): DataFrame = {
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0)))
        .cast("long").as("bpe_ish_tokens"))
  }

  /** language-ID heuristic: stopword-profile voting over a small per-language
    * marker list, falling back to charset class, else "und". Real-world
    * behavior is exercised in DocOpsSpec with natural-language samples; the
    * synthetic corpus mostly yields "und". */
  def langId(docs: DataFrame): DataFrame = {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
      "fr" -> Seq("le", "la", "les", "et", "de", "un", "une", "est"),
      "es" -> Seq("el", "la", "los", "y", "de", "que", "es", "un"),
      "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "von"))
    val t = toks
    val scores = profiles.map { case (lang, words) =>
      struct(size(filter(t, x => array_contains(array(words.map(lit): _*), lower(x))))
        .as("score"), lit(lang).as("lang"))
    }.toSeq
    docs.select(col("doc_id"),
        greatest(scores: _*).as("best"),
        col("text").rlike("[\\u4e00-\\u9fff]").as("has_cjk"))
      .withColumn("lang_pred",
        when(col("has_cjk"), lit("zh"))
          .when(col("best.score") >= 2, col("best.lang"))
          .otherwise(lit("und")))
      .select("doc_id", "lang_pred")
  }

  /** winnowing document fingerprints: minimizers (window `w`) over char
    * `k`-shingle hashes — the rolling-hash fingerprint family. */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 16): DataFrame =
    docs.select(col("doc_id"),
      explode(gf.minimizers(gf.caption_shingles(col("text"), k), w)).as("fp"))

  /** Winnowing fingerprints in an SQL-oracle-expressible form: char k-grams
    * hashed with md5 (identical hex in Spark and DuckDB), sliding-window-w
    * lexicographic minimum, distinct per document. Composed entirely from
    * built-in codegen'd functions (`transform`/`slice`/`array_min`), so the
    * whole stage is one narrow whole-stage-codegen projection — the
    * oracle-gated counterpart of the fast rolling-hash [[fingerprints]]. */
  def fingerprintsMd5(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    docs
      .where(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        expr(s"transform(sequence(1, length(text) - ${k - 1}), i -> md5(substring(text, i, $k)))")
          .as("grams"))
      .select(col("doc_id"),
        explode(array_distinct(
          expr(s"transform(sequence(1, size(grams) - ${w - 1}), j -> array_min(slice(grams, j, $w)))")))
          .as("fp"))

  /** exact + HLL distinct-token counts per source. */
  def distinctTokensBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(array_distinct(toks)).as("t"))
      .groupBy("source").agg(countDistinct(col("t")).as("n_distinct_tokens"))

  def hllTokensBySource(docs: DataFrame, np: Int = 14): DataFrame =
    docs.select(col("source"), explode(array_distinct(toks)).as("t"))
      .groupBy("source")
      .agg(gf.hll_card(gf.hll_agg(xxhash64(col("t")), np)).as("est_distinct_tokens"))
}
