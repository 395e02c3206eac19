package graft.oracle

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** Cross-engine-deterministic dedup channels: every per-element hash is
  * md5-derived (two 32-bit halves of the hex digest packed into an int64),
  * so an independent SQL engine (the DuckDB oracle) reproduces signatures,
  * candidate sets, and estimator values bit-for-bit. These are full-fidelity
  * counterparts of the fast murmur/fmix channels in [[graft.pipeline.Dedup]]
  * / [[graft.docs.DocOps]] — same operator shapes (xor-permutation MinHash,
  * majority-vote SimHash, pigeonhole block LSH, bottom-k estimators,
  * HLL register math), exchanged-on-short-keys, built from codegen'd Spark
  * built-ins (no UDFs) plus one codegen'd Catalyst kernel
  * ([[graft.spark.expr.XorMinMinimaExpr]], byte-identical to its built-ins
  * formulation by spec).
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

  /** xor-permutation seeds, computed with the same md5 construction the
    * oracle uses (`h63('perm' || p)`) — JVM MD5 == SQL md5 by definition. */
  def permSeeds(numPerm: Int): Array[Long] =
    graft.spark.expr.Kernels.md5PermSeeds(numPerm)

  /** distinct whitespace-token n-gram STRINGS (n=1 → token set). Codegen'd
    * one-pass kernel; byte-identical to the built-ins formulation on the
    * callers' domain (`size(split(text,' ')) >= n`) — gated in
    * Md5ChannelsSpec. The oracle SQL keeps the explicit split/slice form. */
  def tokenNgramStrings(text: Column, n: Int): Column =
    graft.spark.functions.token_ngram_strings(text, n)

  /** distinct char k-shingle STRINGS. */
  def charShingleStrings(text: Column, k: Int): Column =
    array_distinct(transform(sequence(lit(1), length(text) - (k - 1)),
      i => substring(text, i, lit(k))))

  /** 63-bit md5 hashes of a string-array column. Codegen'd one-pass kernel
    * (JVM MD5 over each gram's UTF-8 bytes == the SQL md5-hex parse by
    * definition), gated byte-identical against the built-ins formulation in
    * Md5ChannelsSpec; the oracle SQL keeps the md5-hex form. */
  def hashes63(grams: Column): Column = graft.spark.functions.md5_hashes63(grams)

  /** xor-permutation MinHash slot minima (array of numPerm nonneg longs).
    * Codegen'd one-pass fold (VERDICT r3 #8): the previous formulation built
    * numPerm full `transform` passes (and intermediate arrays) per row; the
    * [[graft.spark.expr.XorMinMinimaExpr]] kernel computes the same numPerm
    * minima in ONE traversal of the hash array — byte-identical to the
    * built-in formulation (Md5ChannelsSpec) and to the oracle SQL, which
    * keeps the per-permutation MIN shape. */
  def xorMinhashMinima(hs: Column, numPerm: Int): Column =
    graft.spark.functions.xor_min_minima(hs, numPerm)

  /** LSH band keys over the slot minima: md5 of the comma-joined decimal
    * minima of each band of `r` consecutive slots. */
  def bandKeysMd5(minima: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws(",", (0 until r).map(j =>
        element_at(minima, b * r + j + 1).cast("string")): _*))
    }: _*)

  /** majority-vote 64-bit SimHash over md5 hashes (full-range hashes).
    * Bit b set iff 2·|{h : bit b of h set}| >= |hs| (ties UP — mirrored in
    * the oracle SQL). Codegen'd one-pass kernel, gated byte-identical
    * against the 64-pass built-ins formulation in Md5ChannelsSpec. */
  def simhash64Md5(hs: Column): Column =
    graft.spark.functions.simhash_majority_ge64(hs)

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

  /** the full walk-key array (band order) via the one-pass codegen'd
    * kernel [[graft.spark.expr.BandWalkKeysExpr]]: key i = md5half of
    * `i || ':' || bandKeysMd5(i)`, mirrored VERBATIM in the oracle SQL, so
    * both engines bucket on the identical 64-bit value. Byte-identical to
    * the built-ins chain on the callers' domain (Md5ChannelsSpec).
    * The built-ins forest (bands× md5+conv trees) tripped janino's 64 KB
    * method limit, silently dropping the twins' projection stage out of
    * whole-stage codegen. */
  def bandWalkKeys(minima: Column, bands: Int, r: Int): Column =
    graft.spark.functions.band_walk_keys(minima, bands, r)

  /** doc near-dup pairs: md5 xor-perm MinHash (numPerm slots, bands×r
    * banding), exact n-gram-jaccard confirm. Both candidate generation and
    * confirm are engine-reproducible. Candidates run through the shared
    * skew-hardened all-pairs walk ([[graft.pipeline.Dedup.saltedAllPairs]]),
    * same as the fast channel — boilerplate-hot band buckets fan across
    * salted tasks instead of materializing a skewed self-join partition. */
  def docMinhashDupPairsMd5(docs: DataFrame, n: Int = 3, tau: Double = 0.6,
      numPerm: Int = 32, bands: Int = 16, r: Int = 2,
      hotThreshold: Int = Dedup.AllPairsHotCap): DataFrame = {
    val grams = tokenNgramStrings(col("text"), n)
    // `bands` keeps band order: saltedAllPairs' hot fan-out owns each pair
    // by its first agreeing band key
    val sigs = docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"), col("grams"),
        bandWalkKeys(xorMinhashMinima(hashes63(col("grams")), numPerm), bands, r)
          .as("bands"))
      // one computation of the md5 gram-hash + xor-min + band-key stage:
      // the walk's hot path re-reads its input filtered to hot buckets, and
      // both confirm joins re-read the gram sets (the Dedup.dupPairsMinhash
      // lesson — un-checkpointed, the upstream runs 3-4×)
      .localCheckpoint()
    val cand = Dedup.saltedAllPairs(sigs.select(col("doc_id").as("id"), col("bands").as("keys")),
      hotThreshold).toDF("id_a", "id_b")
    val gsets = sigs.select(col("doc_id"), col("grams"))
    cand
      .join(gsets.toDF("id_a", "g_a"), "id_a")
      .join(gsets.toDF("id_b", "g_b"), "id_b")
      .withColumn("c", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("g_a")) + size(col("g_b")) - col("c")))
      .where(col("jaccard") >= tau)
      .select("id_a", "id_b")
  }

  /** doc near-dup pairs: md5 majority-vote SimHash, contiguous pigeonhole
    * blocks (exact cover of Hamming ≤ blocks−1), Hamming filter. Runs
    * through the full salted run-walk with the simhash as the Hamming
    * signature, bucketed on the injective [[contiguousBlocks]] keys. */
  def docSimhashDupPairsMd5(docs: DataFrame, n: Int = 3, maxHamming: Int = 3,
      hotThreshold: Int = Dedup.HammingHotCap): DataFrame = {
    val sigs = docs
      .where(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"),
        simhash64Md5(hashes63(tokenNgramStrings(col("text"), n))).as("sh"))
      .localCheckpoint() // the walk's hot path re-reads its input filtered to hot buckets
    Dedup.saltedBucketPairs(
        sigs.select(col("doc_id").as("id"), col("sh").as("phash"),
          contiguousBlocks(col("sh"), maxHamming + 1).as("keys")),
        maxHamming, hotThreshold)
      .toDF("id_a", "id_b")
      .join(sigs.toDF("id_a", "sh_a"), "id_a")
      .join(sigs.toDF("id_b", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
  }

  /** image banded-MinHash channel, md5 variant: xor-perm MinHash over the
    * distinct caption token set; confirm = phash Hamming ≤ ht AND exact
    * token jaccard ≥ tau (the dup_pairs predicate). */
  def imgMinhashDupPairsMd5(corpus: DataFrame, ht: Int = 3, tau: Double = 0.5,
      numPerm: Int = 32, bands: Int = 16, r: Int = 2,
      hotThreshold: Int = Dedup.AllPairsHotCap): DataFrame = {
    import Dedup.{idNum, idStr}
    // `bands` keeps band order: saltedAllPairs' hot fan-out owns each pair
    // by its first agreeing band key
    val sigs = corpus.select(col("image_id"), col("phash"),
      tokenNgramStrings(col("caption"), 1).as("toks"))
      .select(col("image_id"), col("phash"), col("toks"),
        bandWalkKeys(xorMinhashMinima(hashes63(col("toks")), numPerm), bands, r)
          .as("bands"))
      // one computation of the md5 token-hash + xor-min + band-key stage
      // (walk hot-path re-read + both confirm joins re-consume it)
      .localCheckpoint()
    val cand = Dedup.saltedAllPairs(
        sigs.select(idNum(col("image_id")).as("id"), col("bands").as("keys")), hotThreshold)
      .select(idStr(col("id_a")).as("id_a"), idStr(col("id_b")).as("id_b"))
    confirmTokens(cand, sigs.select(col("image_id"), col("phash"), col("toks")), ht, tau)
  }

  /** image SimHash channel, md5 variant: majority-vote SimHash over the
    * distinct caption token set, contiguous blocks; candidates additionally
    * Hamming-filtered on phash (mirrors Dedup.candidatesSimhash, which
    * Hamming-filters inside the bucket walk); confirm = dup_pairs predicate. */
  def imgSimhashDupPairs(corpus: DataFrame, ht: Int = 3, tau: Double = 0.5,
      simhashBlocks: Int = 4, hotThreshold: Int = Dedup.HammingHotCap): DataFrame = {
    import Dedup.{idNum, idStr}
    val sigs = corpus.select(col("image_id"), col("phash"),
      tokenNgramStrings(col("caption"), 1).as("toks"))
      .withColumn("sh", simhash64Md5(hashes63(col("toks"))))
      .localCheckpoint() // the walk's hot path re-reads its input filtered to hot buckets
    // the walk Hamming-filters on the PHASH (mirroring Dedup.candidatesSimhash)
    // while bucketing on the md5-simhash blocks
    val cand = Dedup.saltedBucketPairs(
        sigs.select(idNum(col("image_id")).as("id"), col("phash"),
          contiguousBlocks(col("sh"), simhashBlocks).as("keys")), ht, hotThreshold)
      .select(idStr(col("id_a")).as("id_a"), idStr(col("id_b")).as("id_b"))
    confirmTokens(cand, sigs.select(col("image_id"), col("phash"), col("toks")), ht, tau)
  }

  /** dup_pairs confirm predicate over (image_id, phash, toks). */
  private def confirmTokens(cand: DataFrame, rows: DataFrame,
      ht: Int, tau: Double): DataFrame =
    cand
      .join(rows.toDF("id_a", "ph_a", "t_a"), "id_a")
      .join(rows.toDF("id_b", "ph_b", "t_b"), "id_b")
      .where(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))) <= ht)
      .withColumn("c", size(array_intersect(col("t_a"), col("t_b"))))
      .where(col("c").cast("double") / (size(col("t_a")) + size(col("t_b")) - col("c")) >= tau)
      .select("id_a", "id_b")

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
    def blocksOf(s: Column): Column = graft.spark.functions.omh_md5_blocks(s, k, l, m)
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
    val hs = hashes63(charShingleStrings(col("text"), shingleK))
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
    import graft.spark.{functions => gf}
    val occHashes = transform(split(col("text"), " "), t => md5half63(t))
    val sk = docs
      .where(length(col("text")) >= shingleK)
      .select(col("doc_id"),
        gf.cws_sketch(occHashes, cwsSketchSize, cwsBins, 1L).as("cws"),
        gf.hll_init(gf.caption_shingles(col("text"), shingleK), np).as("hll"),
        array_sort(array_distinct(hashes63(charShingleStrings(col("text"), shingleK))))
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
