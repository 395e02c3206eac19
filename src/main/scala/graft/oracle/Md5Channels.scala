package graft.oracle

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.docs.DocOps
import graft.pipeline.Dedup
import graft.spark.{functions => gf}

/** Cross-engine-deterministic dedup channels: every hash that picks a
  * signature, a candidate key or an estimator value is md5-derived (two
  * 32-bit halves of the hex digest packed into an int64), so an independent
  * SQL engine (the DuckDB oracle) reproduces them bit-for-bit.
  *
  * The four LSH twins (doc and image MinHash, doc and image SimHash) are
  * calls of the product channel cores in [[graft.docs.DocOps]] and
  * [[graft.pipeline.Dedup]] with md5 leaf kernels: the twin supplies the
  * gram hashes, minima, band keys or simhash; the filter, walk, checkpoint
  * and confirm are the product's own. So the oracle gate checks the
  * product's hash-agnostic stages, not a restatement of them. The leaf
  * kernels are codegen'd Catalyst expressions in [[graft.spark.functions]]
  * (`token_ngram_strings`, `md5_hashes63`, `xor_min_minima`,
  * `band_walk_keys`, `simhash_majority_ge64`), each byte-identical to its
  * built-ins formulation (Md5ChannelsSpec) while the oracle SQL keeps the
  * built-ins shape. The estimator, HLL and OMH twins are composed here.
  *
  * The image twins' confirm is the product's [[graft.pipeline.Dedup.confirm]]:
  * exact jaccard over `token_ngrams(caption, 1)`, murmur hashes of `\s+`
  * tokens. So only their candidate keys are md5-reproducible, and their
  * pairs equal the oracle SQL's (string tokens of `split(caption, ' ')`) on
  * non-empty captions whose tokens are separated by single spaces; on an
  * empty caption or a run, edge or non-space whitespace they may differ.
  *
  * Determinism contract (mirrored in SparkEntry.oracleSql):
  *  - element hash h(s) = (int64)(md5(s)[0:8] hex) << 32 | (md5(s)[8:16] hex);
  *    63-bit variant masks the sign bit so signed order == unsigned order in
  *    both engines.
  *  - permutation p seed = h63("perm" ++ p); slot minimum = min over
  *    features of (h63(x) XOR seed_p) — xor of 63-bit values stays
  *    nonnegative, so MIN agrees across engines.
  *  - band key = md5 of the comma-joined decimal slot minima (r slots).
  *  - SimHash bit b = majority vote 2·|{h : bit b set}| >= |hs|;
  *    bit 63 contributes Long.MinValue (engines without 1<<63 literals
  *    reproduce it as a CASE).
  *  - HLL (np=12): idx = top np bits (arith shift + mask), rho = leading
  *    zeros of the remaining 52-bit window + 1 via bin-string length,
  *    register = max rho; raw estimate = alpha_m·m²·2^64 / S where
  *    S = Σ 2^(64−M_j) is computed in EXACT integer arithmetic
  *    (decimal(38,0) / HUGEINT) so the single final division is the only
  *    rounding step.
  */
object Md5Channels {

  /** md5-derived 64-bit hash of a string column (full range). */
  def md5half(s: Column): Column =
    shiftleft(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(s), 9, 8), 16, 10).cast("long"))

  /** sign-masked 63-bit variant: signed order == unsigned order. */
  def md5half63(s: Column): Column = md5half(s).bitwiseAND(lit(Long.MaxValue))

  /** distinct char k-shingle STRINGS. */
  def charShingleStrings(text: Column, k: Int): Column =
    array_distinct(transform(sequence(lit(1), length(text) - (k - 1)),
      i => substring(text, i, lit(k))))

  /** CONTIGUOUS pigeonhole block keys of a 64-bit sig: block i's value is
    * bits [i·width, (i+1)·width), keyed `i·2^width + value`, which is
    * injective in (block, value), so bucketing on it is the oracle's (bi, bv)
    * join. Any pair within Hamming ≤ blocks−1 shares ≥ 1 block verbatim
    * (exact cover). Contiguous (not interleaved) so the SQL mirror is a
    * shift+mask. */
  def contiguousBlocks(sig: Column, blocks: Int): Column = {
    val width = 64 / blocks
    val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1)
    array((0 until blocks).map { i =>
      lit(i.toLong * (1L << width)) + shiftright(sig, i * width).bitwiseAND(mask)
    }: _*)
  }

  // ---------------------------------------------------------------- channels

  /** md5 xor-permutation MinHash band walk keys of a 63-bit hash set:
    * `numPerm` slot minima, `bands` × `r` banding, each key the md5half of
    * `i || ':' || md5(band i's comma-joined minima)` — the combined 64-bit
    * key the oracle SQL joins on. */
  private def md5BandKeys(numPerm: Int, bands: Int, r: Int): Column => Column =
    hs => gf.band_walk_keys(gf.xor_min_minima(hs, numPerm), bands, r)

  /** doc near-dup pairs, md5 family: [[graft.docs.DocOps.minhashPairs]] over
    * the sorted distinct md5 hashes of the token n-gram strings, md5
    * xor-perm MinHash band keys (numPerm slots, bands×r banding). Filter,
    * walk and exact-jaccard confirm are the product channel's; the filter
    * keeps the docs with a non-empty gram set, which for single-space
    * tokens is the oracle's `size(split(text, ' ')) >= n`. */
  def docMinhashDupPairsMd5(docs: DataFrame, n: Int = 3, tau: Double = 0.6,
      numPerm: Int = 32, bands: Int = 16, r: Int = 2,
      hotThreshold: Int = Dedup.AllPairsHotCap): DataFrame =
    DocOps.minhashPairs(docs, tau,
      array_sort(array_distinct(gf.md5_hashes63(gf.token_ngram_strings(col("text"), n)))),
      md5BandKeys(numPerm, bands, r), hotThreshold)

  /** doc near-dup pairs, md5 family: [[graft.docs.DocOps.simhashPairs]] over
    * the majority-vote SimHash of the md5 gram hashes. The product's
    * interleaved block keys are an exact cover, so the output is every pair
    * within Hamming `maxHamming`, as the oracle's contiguous blocks give.
    * The filter is the MinHash twin's: docs with a non-empty gram set. */
  def docSimhashDupPairsMd5(docs: DataFrame, n: Int = 3, maxHamming: Int = 3,
      hotThreshold: Int = Dedup.HammingHotCap): DataFrame =
    DocOps.simhashPairs(docs, gf.md5_hashes63(gf.token_ngram_strings(col("text"), n)),
      gf.simhash_majority_ge64, maxHamming, hotThreshold)

  /** the md5 63-bit hashes of a caption's distinct token strings. */
  private val captionHashes: Column =
    gf.md5_hashes63(gf.token_ngram_strings(col("caption"), 1))

  /** image banded-MinHash channel, md5 family:
    * [[graft.pipeline.Dedup.keyedDupPairs]] over the md5 xor-perm MinHash
    * band keys of the caption token set; confirm = phash Hamming ≤ ht AND
    * exact token jaccard ≥ tau (the dup_pairs predicate). */
  def imgMinhashDupPairsMd5(corpus: DataFrame, ht: Int = 3, tau: Double = 0.5,
      numPerm: Int = 32, bands: Int = 16, r: Int = 2,
      hotThreshold: Int = Dedup.HammingHotCap): DataFrame =
    Dedup.keyedDupPairs(corpus, md5BandKeys(numPerm, bands, r)(captionHashes),
      Dedup.Config(hammingThreshold = ht, tokenJaccard = tau), hotThreshold)

  /** image SimHash channel, md5 family: [[graft.pipeline.Dedup.keyedDupPairs]]
    * over contiguous blocks of the majority-vote SimHash of the caption
    * token set, as the oracle SQL buckets. The walk Hamming-filters on the
    * phash, not on the simhash, so no exact cover makes the block layout
    * free: the candidate set depends on it. */
  def imgSimhashDupPairs(corpus: DataFrame, ht: Int = 3, tau: Double = 0.5,
      simhashBlocks: Int = 4, hotThreshold: Int = Dedup.HammingHotCap): DataFrame =
    Dedup.keyedDupPairs(corpus,
      contiguousBlocks(gf.simhash_majority_ge64(captionHashes), simhashBlocks),
      Dedup.Config(hammingThreshold = ht, tokenJaccard = tau), hotThreshold)

  // ------------------------------------------------------------- HLL (md5)

  /** md5-HLL raw estimate per group: groups by `keys`, hashes `elem`
    * (a string column; pass pre-distinct rows), emits the RAW
    * alpha·m²/S estimate (no small/large-range corrections — S is computed
    * in exact integer arithmetic so the one final division is the only
    * float step, making the estimate engine-reproducible; correction-branch
    * estimators live in [[graft.sketch.Hll]]). */
  def hllRawEstimate(rows: DataFrame, keys: Seq[String], elem: Column,
      np: Int = 12, estName: String = "est"): DataFrame = {
    val m = 1 << np
    val alphaM = 0.7213 / (1.0 + 1.079 / m)
    val kConst = alphaM * m * m * math.pow(2.0, 64)
    val wBits = 64 - np
    val wMask = (1L << wBits) - 1
    val h = md5half(elem)
    val idx = shiftright(h, wBits).bitwiseAND(lit((m - 1).toLong))
    val w = h.bitwiseAND(lit(wMask))
    val rho = when(w === 0L, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w)))
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    val kc = keys.map(col)
    rows
      .select(kc :+ idx.as("idx") :+ rho.as("rho"): _*)
      .groupBy((kc :+ col("idx")): _*)
      .agg(max(col("rho")).as("regM"))
      .groupBy(kc: _*)
      .agg(
        sum(pow(lit(2.0), lit(64) - col("regM")).cast("decimal(38,0)")).as("sPres"),
        count(lit(1)).as("nPres"))
      .withColumn("sTot", col("sPres") + (lit(m.toLong) - col("nPres")) * two64)
      .withColumn(estName, lit(kConst) / col("sTot").cast("double"))
      .drop("sPres", "nPres", "sTot")
  }

  /** per-source distinct-token counts: exact + md5-HLL raw estimate. */
  def hllTokensBySourceMd5(docs: DataFrame, np: Int = 12): DataFrame = {
    // duplicates are harmless to both aggregates (register max / countDistinct)
    val toks = docs.select(col("source"),
      explode(array_distinct(split(col("text"), " "))).as("t"))
    val exact = toks.groupBy("source").agg(countDistinct(col("t")).as("n_distinct_exact"))
    val est = hllRawEstimate(toks, Seq("source"), col("t"), np, "est_distinct_tokens")
    exact.join(est, "source")
  }

  /** deterministic per-partition cluster lineage metrics: partition =
    * top-5 md5 bits of cluster_id (a deterministic 32-way hash partition of
    * the cluster space — unlike spark_partition_id, identical at any
    * parallelism), with per-partition row count, exact distinct clusters,
    * and the md5-HLL raw distinct estimate. */
  def clusterMetricsMd5(clustered: DataFrame, np: Int = 12): DataFrame = {
    val part = shiftright(md5half(col("cluster_id")), 59).bitwiseAND(lit(31L))
    val base = clustered.withColumn("part", part)
    val exact = base.groupBy("part").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("cluster_id")).as("n_clusters_exact"))
    val est = hllRawEstimate(
      base.select(col("part"), col("cluster_id")),
      Seq("part"), col("cluster_id"), np, "distinct_clusters_est")
    exact.join(est, "part")
  }

  // ------------------------------------------------------ OrderMinHash (md5)

  /** OMH strand/rotation comparison, md5-rank variant — the cross-engine
    * twin of the `dna_omh_pairs` driver query. Same selection machinery as
    * [[graft.sketch.OrderMinHash.sketch]] (occurrence-weighted k-gram
    * multiset, bottom-l ranks per permutation, winners ordered by POSITION
    * and concatenated, then the rc-aware max scoring of
    * `OrderMinHash.compareSketches`), with the per-occurrence permuted rank
    * `h63(kmer:occ) XOR h63('perm'||p)` replacing
    * `fmix64((id+occ)·w ^ mt19937seed)` — the file-level xor-permutation
    * determinism contract, so DuckDB reproduces every sketch block and
    * similarity exactly (one digest per occurrence, m long-xor rankings —
    * NOT m digests — keeps the twin within the TWINCOST bound). The
    * circular block-rotation variant stays spec-gated only (DnaParitySpec):
    * rotating CONCATENATED blocks is not SQL-window-shaped. Built entirely
    * from codegen'd Spark built-ins; gated against an independent JVM brute
    * force in Md5ChannelsSpec. sim_rc_dup's second compare leg is
    * sim(rc, rc) ≡ 1.0 by construction — exactly the rc-dup=1.0 invariant
    * the fast channel asserts (`OrderMinHash.cpp:106-150` rc mode). */
  def dnaOmhPairsMd5(docs: DataFrame, k: Int = 4, l: Int = 2, m: Int = 16,
      rot: Int = 8): DataFrame = {
    val seqc = translate(
      upper(concat(md5(col("text")), md5(concat(col("text"), lit("x"))))),
      "0123456789ABCDEF", "ACGTACGTACGTACGT")
    def blocksOf(s: Column): Column = gf.omh_md5_blocks(s, k, l, m)
    def simc(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(m.toDouble)
    // the docs parquet at gate scale is one tiny split; without a spread the
    // 3·(n−k+1) digests/row serialize on a single core. Hash-spread on
    // doc_id — per-row map, so values are partition-invariant (README probe)
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), seqc.as("seq"))
      .withColumn("rcseq", reverse(translate(col("seq"), "ACGT", "TGCA")))
      .withColumn("rotseq", concat(substring(col("seq"), rot + 1, 64 - rot),
        substring(col("seq"), 1, rot)))
      .select(col("doc_id"),
        blocksOf(col("seq")).as("fwd"),
        blocksOf(col("rcseq")).as("rcb"), // ≡ the rc-dup partner's fwd sketch
        blocksOf(col("rotseq")).as("rotb"))
      .select(col("doc_id"),
        greatest(simc(col("fwd"), col("rcb")), simc(col("rcb"), col("rcb")))
          .as("sim_rc_dup"),
        greatest(simc(col("fwd"), col("rotb")), simc(col("rcb"), col("rotb")))
          .as("sim_rot_linear"))
  }

  // ------------------------------------------- bottom-k estimators (md5)

  /** per-pair bottom-k estimator suite over md5-hashed char k-shingles,
    * for a deterministic candidate pair set: bottom-s jaccard (closed form
    * of the reference's early-stop merge walk: X = bottom-s of A∪B,
    * J = |X∩A∩B|/|X|), containment (common / min(|A|,|B|,s)), streaming
    * cardinality (|sk|·2^64/max), and mash distance (rounded to 6 dp —
    * the one ln() call; engines' ln may differ in the last ulp). */
  def docSketchEstimatesMd5(docs: DataFrame, pairs: DataFrame,
      shingleK: Int = 8, s: Int = 128): DataFrame = {
    val hs = gf.md5_hashes63(charShingleStrings(col("text"), shingleK))
    // hf = the FULL sorted distinct shingle-hash set; bk = its bottom-s
    // prefix. Carrying hf per pair lets the same oracle row expose the exact
    // per-pair set cardinalities (n_distinct_a/b, n_inter) beside the
    // bottom-k estimator columns — the cross-engine exact companions the
    // estimator specs (HLL joint-MLE, bottom-k jaccard) are gated against.
    val sk = docs
      .where(length(col("text")) >= shingleK)
      .select(col("doc_id"), array_sort(array_distinct(hs)).as("hf"))
      .select(col("doc_id"), col("hf"), slice(col("hf"), 1, s).as("bk"))
    val two64 = math.pow(2.0, 64)
    def card(bk: Column): Column = {
      val top = element_at(bk, size(bk)).cast("double")
      when(size(bk) === 0, 0.0)
        .when(top === 0.0, size(bk).cast("double"))
        .otherwise(size(bk).cast("double") * lit(two64) / top)
    }
    val joined = pairs
      .join(sk.toDF("id_a", "hf_a", "bk_a"), "id_a")
      .join(sk.toDF("id_b", "hf_b", "bk_b"), "id_b")
      .withColumn("n_distinct_a", size(col("hf_a")).cast("long"))
      .withColumn("n_distinct_b", size(col("hf_b")).cast("long"))
      .withColumn("n_inter", size(array_intersect(col("hf_a"), col("hf_b"))).cast("long"))
      .withColumn("x", slice(array_sort(array_union(col("bk_a"), col("bk_b"))), 1, s))
      .withColumn("common",
        size(array_intersect(array_intersect(col("x"), col("bk_a")), col("bk_b"))))
      .withColumn("bk_jaccard",
        when(size(col("x")) === 0, 0.0)
          .otherwise(col("common").cast("double") / size(col("x")).cast("double")))
      .withColumn("containment",
        when(least(size(col("bk_a")), size(col("bk_b"))) === 0, 0.0)
          .otherwise(col("common").cast("double") /
            least(least(size(col("bk_a")), size(col("bk_b"))), lit(s)).cast("double")))
    joined
      .withColumn("card_a", card(col("bk_a")))
      .withColumn("card_b", card(col("bk_b")))
      .withColumn("mash_dist", round(
        when(col("bk_jaccard") <= 0.0, 1.0)
          .when(col("bk_jaccard") === 1.0, 0.0)
          .otherwise(least(
            -log(col("bk_jaccard") * 2.0 / (col("bk_jaccard") + 1.0)) / shingleK,
            lit(1.0))), 6))
      .select("id_a", "id_b", "bk_jaccard", "containment", "card_a", "card_b",
        "mash_dist", "n_distinct_a", "n_distinct_b", "n_inter")
  }

  /** Estimator-accuracy gate for the two estimator families whose VALUES are
    * engine-local by design (VERDICT r4 #5/#6): CWS weighted jaccard (the
    * gamma-draw sequence is our own documented generator, SURVEY §7.4-4) and
    * HLL ERTL joint-MLE jaccard (secant solver over joint register stats).
    * Per candidate pair the row carries:
    *
    *  - `wj_exact` — EXACT weighted jaccard of the token-frequency spectra,
    *    Σ_t min(tf_a,tf_b) / Σ_t max(tf_a,tf_b): integer sums, one final
    *    double division → cross-engine-reproducible VALUE column;
    *  - `shingle_j_exact` — EXACT jaccard of the distinct char-k-shingle
    *    sets (md5-63 hashed, the [[docSketchEstimatesMd5]] companions'
    *    construction) → cross-engine-reproducible VALUE column;
    *  - `wjaccard_ok` = |cws_est − wj_exact| ≤ wjBound — the CWS sketch is
    *    built over per-OCCURRENCE md5-63 token hashes (multiplicity kept, so
    *    the jump-hash-binned spectrum approximates the token tf spectrum).
    *    wjBound=0.35 is calibrated to the reference scheme's MEASURED
    *    behavior, not the ideal-CWS σ = √(J(1−J)/s): the reference's
    *    histoSketch variant drops Ioffe's floor quantization
    *    (`histoSketch.cpp:308-357`; y = exp(ln f − c·b) with no ⌊·⌋), which
    *    makes bins PRESENT IN ONLY ONE DOC win the argmin disproportionately
    *    — tools.CwsBiasProbe isolates it (5 extra bins on a 150-bin
    *    spectrum: exact 0.969 → est 0.879; same-support weight changes
    *    track tightly). On the gate pairs the measured deviation is
    *    max 0.21 / avg 0.12 (tools.EstAccuracyProbe, sf0.001+sf0.01);
    *    a broken sketch (garbage slots → est ≈ 0 on these J≈0.9 pairs)
    *    exceeds 0.5 and fails the gate.
    *  - `hll_mle_ok` = |hll_jaccard − shingle_j_exact| ≤ hllBound — np=12
    *    (m=4096 registers) on 10²-10³-element sets keeps the joint-MLE
    *    within a few percent; hllBound=0.05 (measured max dev 0.008).
    *
    * The DuckDB oracle computes both exact VALUE columns independently and
    * asserts the booleans as literal TRUE — a hash-match therefore gates the
    * estimators' ACCURACY cross-engine while their raw draws stay
    * engine-local. */
  def docEstAccuracy(docs: DataFrame, pairs: DataFrame, shingleK: Int = 8,
      cwsSketchSize: Int = 256, cwsBins: Int = 4096, np: Int = 12,
      wjBound: Double = 0.35, hllBound: Double = 0.05): DataFrame =
    docEstAccuracyDebug(docs, pairs, shingleK, cwsSketchSize, cwsBins, np,
      wjBound, hllBound)
      .select("id_a", "id_b", "wj_exact", "shingle_j_exact",
        "wjaccard_ok", "hll_mle_ok")

  /** [[docEstAccuracy]] with the raw estimate columns kept — the bound-
    * calibration surface (tools.EstAccuracyProbe) and spec introspection. */
  private[graft] def docEstAccuracyDebug(docs: DataFrame, pairs: DataFrame,
      shingleK: Int = 8, cwsSketchSize: Int = 256, cwsBins: Int = 4096,
      np: Int = 12, wjBound: Double = 0.35, hllBound: Double = 0.05): DataFrame = {
    val occHashes = transform(split(col("text"), " "), t => md5half63(t))
    val sk = docs
      .where(length(col("text")) >= shingleK)
      .select(col("doc_id"),
        gf.cws_sketch(occHashes, cwsSketchSize, cwsBins, 1L).as("cws"),
        gf.hll_init(gf.caption_shingles(col("text"), shingleK), np).as("hll"),
        array_sort(array_distinct(gf.md5_hashes63(charShingleStrings(col("text"), shingleK))))
          .as("hf"))
    // token-frequency spectra (tok → occurrence count); the exact weighted
    // jaccard is assembled per pair via a full-outer join on (pair, tok) —
    // shuffle keys are (id, tok), never all-pairs, so the shape holds at scale
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val wa = pairs.join(tf.toDF("id_a", "tok", "ca"), "id_a")
    val wb = pairs.join(tf.toDF("id_b", "tok", "cb"), "id_b")
    val wj = wa.join(wb, Seq("id_a", "id_b", "tok"), "full_outer")
      .select(col("id_a"), col("id_b"),
        coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
      .groupBy("id_a", "id_b")
      .agg((sum(least(col("ca"), col("cb"))).cast("double") /
        sum(greatest(col("ca"), col("cb"))).cast("double")).as("wj_exact"))
    pairs
      .join(sk.toDF("id_a", "cws_a", "hll_a", "hf_a"), "id_a")
      .join(sk.toDF("id_b", "cws_b", "hll_b", "hf_b"), "id_b")
      .join(wj, Seq("id_a", "id_b"))
      .withColumn("n_inter", size(array_intersect(col("hf_a"), col("hf_b"))))
      .withColumn("shingle_j_exact", col("n_inter").cast("double") /
        (size(col("hf_a")) + size(col("hf_b")) - col("n_inter")).cast("double"))
      .withColumn("cws_est", gf.weighted_jaccard(col("cws_a"), col("cws_b")))
      .withColumn("hll_est", gf.hll_jaccard(col("hll_a"), col("hll_b")))
      .select(col("id_a"), col("id_b"), col("wj_exact"), col("shingle_j_exact"),
        col("cws_est"), col("hll_est"),
        (abs(col("cws_est") - col("wj_exact")) <= wjBound).as("wjaccard_ok"),
        (abs(col("hll_est") - col("shingle_j_exact")) <= hllBound).as("hll_mle_ok"))
  }
}
