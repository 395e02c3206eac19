package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spark.{functions => gf}

/** The near-duplicate detection pipeline (SURVEY.md §3 "Our Spark
  * lifecycle"): signatures → candidate generation → exact confirm →
  * connected-components clustering. Replaces the reference's O(N²)
  * all-vs-all loop (`/root/reference/examples/main.cpp:98-106`) with LSH
  * joins.
  *
  * Two candidate channels:
  *  - [[candidatesPhashBlocks]] — pigeonhole multi-index over the 64-bit
  *    pHash: `blocks` disjoint INTERLEAVED bit-blocks; any pair within
  *    Hamming ≤ blocks−1 shares at least one block verbatim, so for the
  *    duplicate predicate `hamming ≤ blocks−1 AND tokenJaccard ≥ τ` the
  *    channel is an **exact cover** (no recall loss; the confirm filter
  *    removes false positives). Interleaving spreads correlated adjacent
  *    pHash bits across blocks, keeping bucket sizes near-uniform.
  *  - [[candidatesMinhash]] — banded 128-perm MinHash LSH over combined
  *    pHash-bitgram + caption-shingle features; probabilistic recall ≥ 0.99
  *    at the default band config, scales to arbitrary similarity predicates.
  *
  * Hot-path engineering (100 TB design):
  *  - string image ids are converted ONCE to numeric surrogates; every
  *    join/distinct/propagation shuffles fixed-width longs, and ids are
  *    formatted back to strings only at the output boundary;
  *  - caption token sets are hashed ONCE per row into a sorted array; the
  *    per-pair confirm is a codegen'd merge walk (`exact_jaccard`), never a
  *    re-tokenization;
  *  - candidate pairs are `distinct`-ed before the confirm join; the
  *    confirm join carries only (id, phash, tok);
  *  - bucket skew is handled EXPLICITLY by salt-and-replicate
  *    ([[saltedBucketPairs]]) plus AQE skew-join as a backstop;
  *  - the input scan prunes `bytes` (asserted in PipelineSpec).
  */
object Dedup {

  case class Config(
      hammingThreshold: Int = 3,
      tokenJaccard: Double = 0.5,
      numPerm: Int = 128,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      shingleK: Int = 5,
      seed: Long = 42L)

  val defaultConfig: Config = Config()

  /** "img_%010d" ⇄ numeric surrogate. */
  private[graft] def idNum(c: Column): Column = substring(c, 5, 10).cast("bigint")
  private[graft] def idStr(c: Column): Column = format_string("img_%010d", c)

  /** once-per-row prep: numeric id, phash, sorted token-hash set. */
  private[pipeline] def prepared(corpus: DataFrame): DataFrame =
    corpus.select(
      idNum(col("image_id")).as("id"),
      col("phash"),
      gf.token_ngrams(col("caption"), 1).as("tok"))

  /** narrow per-row signature stage; input needs only (image_id, phash, caption). */
  def signatures(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val features = gf.caption_shingles(col("caption"), cfg.shingleK)
    val combined = concat(gf.phash_bitgrams(col("phash")), features)
    corpus
      .select(col("image_id"), col("phash"), col("caption"))
      .withColumn("features", combined)
      .withColumn("minhash", gf.minhash_sig(col("features"), cfg.numPerm, cfg.seed))
      .withColumn("simhash", gf.simhash64(col("features")))
      .drop("features")
  }

  /** number of pigeonhole blocks for the configured Hamming threshold. */
  def blocksFor(cfg: Config): Int = cfg.hammingThreshold + 1

  /** Scale-adaptive partition count for the walk's wide exchange (r6).
    * The session default (`spark.sql.shuffle.partitions` = core count in
    * the bench sessions) leaves each in-partition bv-sort with
    * bandedRows/cores rows — at sf0.1's 136M banded rows that is 4.25M
    * rows ≈ 200 MB of sorter pages PER TASK, all 32 tasks concurrently,
    * which brushes the execution-memory share and intermittently spills
    * (FloorProbe: exchange+sort at 32 parts measured 6.9-20 s vs 4.2-4.6 s
    * at 96). Deriving the width from the DATA (rows/‘rowsPerSortTask’,
    * floored at the session default) keeps per-task sorts at a bounded
    * ~45-70 MB at every scale — the guide §2 rule that a cluster sizes
    * shuffle partitions to the data, not the executor count. The knob is
    * conf-overridable for cluster tuning; partition count never affects the
    * output set (hash partitioning by bv co-locates each bucket at any
    * width, and everything downstream is order-insensitive).
    * `keyedRows < 0` (unknown) keeps the session default. */
  private def walkPartitions(spark: org.apache.spark.sql.SparkSession,
      keyedRows: Long): Int = {
    val dflt = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (keyedRows < 0) dflt
    else {
      val perTask = spark.conf.getOption("graft.walk.rowsPerSortTask")
        .map(_.toLong).getOrElse(1500000L)
      math.min(100000L, math.max(dflt.toLong, (keyedRows + perTask - 1) / perTask)).toInt
    }
  }

  /** Pair generation over an LSH-keyed frame `(id, phash, bv)`.
    *
    * ONE wide shuffle: `repartition(bv)` co-locates every bucket, a
    * bv-sort within each partition makes buckets contiguous *runs*, and a
    * streaming per-partition walk ([[BucketRunPairs]]) emits each run's
    * Hamming-filtered cross product from a tight primitive loop. Singleton
    * runs (typically 90%+ of banded rows) are skipped with ZERO allocation,
    * and the raw cross product (10-100× the surviving pairs) never
    * materializes — earlier formulations paid for both (a self-join
    * shuffled the banded set four times and materialized every in-bucket
    * pair; a `collect_list` aggregation built buffers for tens of millions
    * of singleton buckets it then threw away).
    *
    * Popular band values (bucket size grows ∝ corpus size) never take a raw
    * O(n²) walk: runs past [[BucketRunPairs.SubBucketMin]] are pigeonhole
    * sub-bucketed IN the walk, up to the `hotThreshold` buffer cap (2^20
    * members ≈ 16 MB/task — at the 42.5M-row corpus the largest bucket is
    * 135k members, so every bucket is handled inline). Buckets past the cap
    * marker out to a REFINEMENT pass: members re-keyed by (bv,
    * interleaved-phash-class key) and walked again, collapsing false
    * collisions to ~output-size work; only genuine mega-duplicate clusters
    * (a phash class shared verbatim past the cap, output inherently O(n²)
    * pairs) fall through to a terminal salt-and-replicate self-join fanned
    * across `saltChunks` tasks. All branches emit exactly the
    * Hamming-filtered per-bucket cross product — correctness unchanged,
    * verified by SaltingSpec and the DuckDB oracle gate.
    *
    * ALL-PAIRS mode (`maxHamming >= 64`, see [[saltedAllPairs]]): the
    * Hamming predicate passes every pair, turning the walk into a
    * skew-hardened in-bucket cross product — the candidate generator the
    * doc LSH channels need (their confirm predicate lives downstream over
    * token sets the walk never sees). The pigeonhole refinement pass is a
    * no-op there (no signature to re-key by), so hot buckets route STRAIGHT
    * to the terminal salt-and-replicate join — output-bound fan-out across
    * `saltChunks` tasks, the StreamingDedup.SaltChunks pattern. */
  private[graft] def saltedBucketPairs(keyed: DataFrame, maxHamming: Int,
      hotThreshold: Int, saltChunks: Int, keyedRows: Long = -1L,
      firstAgreeBlocks: Int = 0): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val walkParts = walkPartitions(spark, keyedRows)
    // ONE pass of the expensive upstream in the common case: the walk
    // consumes the single wide shuffle and, when it meets an oversized run,
    // emits a MARKER row (id_a = Long.MinValue, id_b = bv) instead of that
    // run's pairs. The walk STREAMS straight into the dedup exchange and only
    // the DEDUPED pair set is checkpointed: the raw emission stream (389M
    // pairs at the 42.5M-row corpus) is ~11× the distinct set, and
    // checkpointing it cost more block I/O than the walk itself once the
    // storage pool was under pressure — WalkStats measured the walk+count at
    // ~136 s vs 439 s for the walk+checkpoint+distinct stage. Markers pass
    // through distinct unharmed (id_a = Long.MinValue never collides with a
    // real id), so hot detection still needs no extra pass. The upstream
    // re-executes only in the pathological hot case, filtered to hot buckets.
    // (Earlier designs either re-ran the upstream per consumer — Catalyst's
    // column pruning specializes each consumer's exchange subplan so
    // ReuseExchange never fires — or checkpointed the full keyed frame or the
    // raw emission stream, whose extra GBs of block I/O erased the win in the
    // bandwidth-bound 32-core regime.)
    def runWalk(kf: DataFrame, fab: Int): (Array[Long], DataFrame) = {
      // marker count travels back on an accumulator (populated by the eager
      // localCheckpoint of the DEDUPED frame). Task retries can only inflate
      // the count (the walk is deterministic), and it is only tested against
      // zero; the hot bv collect scans the small deduped checkpoint.
      val markers = spark.sparkContext.longAccumulator("graft.dedup.hotMarkers")
      val deduped = kf.select(col("bv"), col("id"), col("phash"))
        .repartition(walkParts, col("bv"))
        .sortWithinPartitions(col("bv"))
        .as[BandedRow]
        .mapPartitions(it => new BucketRunPairs(it, maxHamming, hotThreshold,
          markers = markers, firstAgreeBlocks = fab))
        .toDF("id_a", "id_b")
        .distinct()
        .localCheckpoint()
      val hotBvs = if (markers.value == 0L) Array.empty[Long]
        else deduped.where(col("id_a") === Long.MinValue)
          .select(col("id_b")).as[Long].collect()
      (hotBvs, deduped.where(col("id_a") =!= Long.MinValue))
    }
    // the terminal salt-and-replicate self-join over a (bv, id, phash) frame
    // of pair-dense buckets: each bucket's full Hamming-filtered cross
    // product, fanned across `saltChunks` tasks (work is output-bound)
    def denseSaltedJoin(dense: DataFrame): DataFrame = {
      val denseLeft = dense
        .select(col("bv"), col("id").as("id_a"), col("phash").as("phash_a"),
          pmod(col("id"), lit(saltChunks.toLong)).as("salt"))
      val denseRight = dense
        .select(col("bv"), col("id").as("id_b"), col("phash").as("phash_b"),
          explode(sequence(lit(0L), lit(saltChunks.toLong - 1))).as("salt"))
      // the dense self-join sides are the same order of magnitude — force a
      // shuffled hash join so Catalyst never tries to broadcast-build them
      denseLeft.hint("shuffle_hash").join(denseRight, Seq("bv", "salt"))
        .where(col("id_a") < col("id_b") &&
          bit_count(col("phash_a").bitwiseXOR(col("phash_b"))) <= maxHamming)
        .select("id_a", "id_b")
    }
    // first-agreeing-band dedup of the all-pairs dense fan-out (engaged when
    // the caller's keyed frame carries a `bands` column — the walk's select
    // prunes it off the wide exchange, so only this small dense re-read
    // materializes the arrays): a pair whose members share k of the b band
    // keys is otherwise emitted from ALL k of its hot buckets — b× the
    // distinct-exchange volume for a boilerplate mega-cluster hot in every
    // band. Each pair is owned by its FIRST agreeing band key; this join
    // emits it only from the owning bucket (`first_agree_key == bv`).
    // LOSSLESS: the owning key is a shared band value, so both members sit
    // in the owning bucket — if that bucket is hot, its own dense join emits
    // the pair; if cold, the streaming walk already emitted it. The filter
    // fuses into the join under whole-stage codegen, so suppressed
    // duplicates never reach the exchange. DocOpsSpec asserts the pair set
    // against brute force with the dense path forced.
    def denseFirstAgreeJoin(dense: DataFrame): DataFrame = {
      val left = dense
        .select(col("bv"), col("id").as("id_a"), col("bands").as("bands_a"),
          pmod(col("id"), lit(saltChunks.toLong)).as("salt"))
      val right = dense
        .select(col("bv"), col("id").as("id_b"), col("bands").as("bands_b"),
          explode(sequence(lit(0L), lit(saltChunks.toLong - 1))).as("salt"))
      left.hint("shuffle_hash").join(right, Seq("bv", "salt"))
        .where(col("id_a") < col("id_b") &&
          gf.first_agree_key(col("bands_a"), col("bands_b")) === col("bv"))
        .select("id_a", "id_b")
    }
    val (hotBvs, small) = runWalk(keyed, firstAgreeBlocks)
    if (hotBvs.isEmpty) return small
    if (maxHamming >= 64) {
      // all-pairs mode: no signature to pigeonhole-refine by — every hot
      // bucket is pair-dense by definition (its output IS the cross
      // product), so skip the refinement pass and fan it out directly
      val dense = keyed.where(col("bv").isInCollection(hotBvs)).localCheckpoint()
      val fanned = if (keyed.columns.contains("bands")) denseFirstAgreeJoin(dense)
        else denseSaltedJoin(dense)
      // checkpoint: like every other branch, hand back a materialized pair
      // set, so a consumer that reads it more than once never re-executes
      // the dense join
      return small.union(fanned).distinct().localCheckpoint()
    }
    // Hot path: bucket sizes for POPULAR band values grow ∝ corpus size, so
    // any raw per-bucket cross product is quadratic in N (measured at sf1:
    // 249 hot buckets, 7.1M members, 142e9 raw pairs — 62× the sf0.1 walk
    // cost for 10× the rows). Instead, refine each hot bucket by the same
    // pigeonhole classes the in-walk sub-bucket pass uses: a pair within
    // Hamming ≤ maxHamming agrees verbatim on ≥1 of the maxHamming+1
    // interleaved phash bit classes, so walking the refined buckets
    // (bv, classKey) emits every surviving pair. FALSE band collisions carry
    // near-random phashes — refined runs are near-singletons and the
    // quadratic term collapses to ~output size. xxhash64 collisions across
    // (bv, ck) merely merge buckets (extra Hamming checks, never lost
    // pairs). The keyed frame is recomputed ONCE, filtered to the hot
    // buckets, and checkpointed (tiny: only hot-bucket members).
    val hotKeyed = keyed.where(col("bv").isInCollection(hotBvs)).localCheckpoint()
    val refined = hotKeyed
      .select(col("bv").as("obv"), col("id"), col("phash"),
        explode(gf.phash_block_keys(col("phash"), maxHamming + 1)).as("ck"))
      .select(xxhash64(col("obv"), col("ck")).as("bv"), col("id"), col("phash"))
    // each pass is internally deduped; the cross-pass distinct below removes
    // pairs that collide both in a cold bucket (pass 1) and a hot one (pass 2)
    // refinement pass: bucket keys are xxhash64(obv, ck) — NOT block keys —
    // so the first-agree ownership check must stay off here (it is also the
    // pass that re-emits pairs whose owning bucket was hot)
    val (denseBvs, small2) = runWalk(refined, 0)
    if (denseBvs.isEmpty) return small.union(small2).distinct().localCheckpoint()
    // Terminal path: a refined bucket only stays hot when >hotThreshold
    // members share a phash class verbatim — a genuine mega-duplicate
    // cluster, whose OUTPUT is inherently O(n²) pairs. Salt-and-replicate
    // fans each such cluster across `saltChunks` tasks; the work is
    // output-bound, not an avoidable cross product.
    val dense = refined.where(col("bv").isInCollection(denseBvs)).localCheckpoint()
    small.union(small2).union(denseSaltedJoin(dense)).distinct().localCheckpoint()
  }

  /** Skew-hardened in-bucket ALL-PAIRS generation over an LSH-keyed frame
    * `(id, phash, bv)` — [[saltedBucketPairs]] in all-pairs mode (the
    * `phash` column is carried but never filters; pass the row's signature
    * or `lit(0L)`). The candidate stage of the doc LSH channels: one wide
    * shuffle, streaming run-walk for the common case, hot buckets (the
    * boilerplate-text regime, where one band value's membership grows ∝
    * corpus size) fan out through the terminal salt-and-replicate join
    * instead of serializing one task or materializing a skewed self-join
    * partition. Output = exactly the distinct per-bucket cross product
    * (DocOpsSpec planted-boilerplate case). */
  private[graft] def saltedAllPairs(keyed: DataFrame,
      hotThreshold: Int = 1 << 12, saltChunks: Int = 16,
      keyedRows: Long = -1L): DataFrame =
    saltedBucketPairs(keyed, maxHamming = 64, hotThreshold, saltChunks, keyedRows)

  /** primitive-field rows for the walk's encoder boundaries: scala Tuple3 is
    * UNSPECIALIZED, so a `Dataset[(Long, Long, Long)]` decode allocates a
    * Tuple3 plus three boxed Longs per row (4 allocations × 1.36B banded
    * rows at the 42.5M-row corpus ≈ 130 GB of nursery churn — GC pauses
    * alone measured 134 s of a 620 s candidate stage); a case class with
    * primitive fields decodes and serializes as one allocation per row with
    * no boxing. */
  private[graft] final case class BandedRow(bv: Long, id: Long, phash: Long)
  private[graft] final case class PairRow(id_a: Long, id_b: Long)

  /** dev-only walk instrumentation: per-task local longs flushed into these
    * accumulators when the iterator exhausts (zero per-event accumulator
    * traffic; the local adds are noise next to the bitCount they sit beside).
    * Shipped paths pass null. */
  private[graft] final class WalkCounters(
      val rows: org.apache.spark.util.LongAccumulator,
      val runs: org.apache.spark.util.LongAccumulator,
      val subRuns: org.apache.spark.util.LongAccumulator,
      val subSortedElems: org.apache.spark.util.LongAccumulator,
      val subChecks: org.apache.spark.util.LongAccumulator,
      val cursorChecks: org.apache.spark.util.LongAccumulator,
      val emitted: org.apache.spark.util.LongAccumulator,
      val subSortNanos: org.apache.spark.util.LongAccumulator) extends Serializable

  /** Streaming walk of bv-sorted rows: buffers one bucket run at a time
    * (bounded by `hotThreshold`), emits its Hamming-filtered pairs, skips
    * singleton runs, and reports each oversized run as one MARKER pair
    * `(Long.MinValue, bv)` so the caller can route it to the salted hot
    * path. Input must be sorted by bv within the partition; every row of a
    * bv is in this partition (hash partitioned).
    *
    * Runs of ≥ [[BucketRunPairs.SubBucketMin]] members take a pigeonhole
    * SUB-BUCKET pass instead of the O(n²) cursor walk: the 64 phash bits are
    * partitioned into `maxHamming+1` interleaved classes, members are
    * grouped by each class value, and only within-group pairs are compared
    * (a pair within Hamming ≤ maxHamming must agree on ≥ 1 class — same
    * pigeonhole as the block channel, applied recursively inside a bucket).
    * Pairs are deduped by their FIRST agreeing class, so output equals the
    * full cross-product walk exactly (BucketRunPairsSpec). Large LSH buckets
    * are dominated by FALSE band collisions with near-random phashes, where
    * class groups are near-singletons: measured 3.59B raw in-bucket pairs at
    * the 4.25M-row corpus collapse to ~collision count work.
    *
    * `firstAgreeBlocks` (r6): when > 0, the walk's bucket keys are the
    * `firstAgreeBlocks` interleaved block keys of the SAME signature carried
    * in the `phash` field (candidatesPhashBlocks; doc simhashDupPairs), and
    * a pair within Hamming ≤ maxHamming shares ≥ blocks−maxHamming of them
    * — so without dedup each surviving pair is emitted from EVERY shared
    * block's bucket (~3-4× the distinct-exchange volume at the shipped
    * Hamming-3 / 4-block config). The walk then emits a pair only from the
    * bucket whose key equals the pair's FIRST agreeing block key. LOSSLESS
    * by the same ownership argument as denseFirstAgreeJoin: both members
    * carry the owning key, so they share that bucket; if it is cold the walk
    * emits the pair there, and if it is hot the refinement pass (which runs
    * with firstAgreeBlocks = 0) emits it. 0 disables the check (banded LSH
    * keys are hashes of band slices, not derivable from `phash`;
    * candidatesSimhash keys derive from simhash while `phash` carries the
    * pHash). */
  private[graft] final class BucketRunPairs(
      rows: Iterator[BandedRow], maxHamming: Int, hotThreshold: Int,
      maxBufferedPairs: Int = BucketRunPairs.MaxBufferedPairs,
      markers: org.apache.spark.util.LongAccumulator = null,
      counters: WalkCounters = null,
      firstAgreeBlocks: Int = 0)
      extends Iterator[PairRow] {
    import BucketRunPairs.SubBucketMin
    // the sub-bucket pass packs the member index into 20 bits of its sort key
    require(hotThreshold <= (1 << 20), s"run cap $hotThreshold exceeds 2^20")
    private val cap = hotThreshold
    // grown geometrically toward `cap` — only partitions that actually meet
    // a large run pay its footprint (cap 2^20 = 2 × 8 MB when fully grown)
    private var ids = new Array[Long](math.min(cap, 16384))
    private var phs = new Array[Long](ids.length)
    // eager pair buffer for the sub-bucketed path (surviving pairs only —
    // the dense worst case is bounded by the hotThreshold member cap)
    private var bufA = new Array[Long](BucketRunPairs.InitialPairBuf)
    private var bufB = new Array[Long](BucketRunPairs.InitialPairBuf)
    private var bufN = 0
    private var bufI = 0
    private var n = 0 // buffered run length
    private var a = 0 // pair cursor over the buffered run
    private var b = 1
    // one-row lookahead: the first row of the next run
    private var hasHeld = false
    private var heldBv = 0L
    private var heldId = 0L
    private var heldPh = 0L
    // dev counters (local longs; flushed once at input end — see WalkCounters)
    private var cRows = 0L
    private var cRuns = 0L
    private var cSubRuns = 0L
    private var cSubSorted = 0L
    private var cSubChecks = 0L
    private var cCursorChecks = 0L
    private var cEmitted = 0L
    private var cSubSortNs = 0L
    private var nextPair: PairRow = _
    // run-state fields MUST be declared (and thus initialized) BEFORE the
    // constructor's advance() call below: a declaration after it would have
    // its `= 0L` initializer run AFTER advance() already buffered the first
    // run, wiping state that outlives the call — curBv would read 0 for
    // every later emission from the first run (the r6 first-agree check
    // tripped exactly this; same constructor-ordering trap radixAux
    // documents)
    private var markerBv = 0L
    private var curBv = 0L // bv of the currently buffered run
    advance()

    /** buffer the next complete run into ids/phs. Returns -1 at input end,
      * 0 for a buffered run, 1 for an oversized run (fully consumed, not
      * buffered; its bv is reported via markerBv). */
    private def fillRun(): Int = {
      if (!hasHeld) {
        if (!rows.hasNext) return -1
        val r = rows.next()
        cRows += 1
        heldBv = r.bv; heldId = r.id; heldPh = r.phash
      }
      val bv = heldBv
      curBv = bv
      ids(0) = heldId; phs(0) = heldPh
      n = 1
      cRuns += 1
      hasHeld = false
      var overflow = false
      var done = false
      while (!done && rows.hasNext) {
        val r = rows.next()
        cRows += 1
        if (r.bv != bv) {
          heldBv = r.bv; heldId = r.id; heldPh = r.phash; hasHeld = true; done = true
        } else if (n == cap) overflow = true
        else {
          if (n == ids.length) {
            val ns = math.min(cap.toLong, ids.length * 2L).toInt
            ids = java.util.Arrays.copyOf(ids, ns)
            phs = java.util.Arrays.copyOf(phs, ns)
          }
          ids(n) = r.id; phs(n) = r.phash; n += 1
        }
      }
      if (overflow) { n = 0; markerBv = bv; 1 } else 0
    }

    private def advance(): Unit = {
      while (true) {
        if (bufI < bufN) {
          nextPair = PairRow(bufA(bufI), bufB(bufI))
          bufI += 1
          return
        }
        // a drained dense run can leave two grown pair buffers (up to
        // 2 × 64 MB at MaxBufferedPairs); shrink back so concurrent tasks
        // hold only the initial footprint between dense runs
        if (bufA.length > BucketRunPairs.InitialPairBuf) {
          bufA = new Array[Long](BucketRunPairs.InitialPairBuf)
          bufB = new Array[Long](BucketRunPairs.InitialPairBuf)
          bufN = 0; bufI = 0
        }
        while (a < n - 1) {
          val pa = phs(a)
          while (b < n) {
            val j = b
            b += 1
            cCursorChecks += 1
            if (java.lang.Long.bitCount(pa ^ phs(j)) <= maxHamming &&
                (firstAgreeBlocks == 0 ||
                  firstAgreeBlockKey(pa, phs(j)) == curBv)) {
              val x = ids(a)
              val y = ids(j)
              cEmitted += 1
              nextPair = if (x < y) PairRow(x, y) else PairRow(y, x)
              return
            }
          }
          a += 1; b = a + 1
        }
        a = 0; b = 1
        fillRun() match {
          case -1 =>
            if (counters != null) {
              counters.rows.add(cRows); counters.runs.add(cRuns)
              counters.subRuns.add(cSubRuns); counters.subSortedElems.add(cSubSorted)
              counters.subChecks.add(cSubChecks); counters.cursorChecks.add(cCursorChecks)
              counters.emitted.add(cEmitted); counters.subSortNanos.add(cSubSortNs)
            }
            nextPair = null; return
          case 1  =>
            if (markers != null) markers.add(1)
            nextPair = PairRow(Long.MinValue, markerBv); return
          case _  =>
            if (n >= SubBucketMin && maxHamming + 1 <= 8) {
              val runBv = curBv
              if (!subBucketRun()) {
                // PAIR-dense run (a true giant duplicate cluster): buffering
                // its surviving pairs would hold O(n²) longs in one task —
                // route it to the salted hot path, which streams the same
                // pair set through the shuffle instead
                if (markers != null) markers.add(1)
                nextPair = PairRow(Long.MinValue, runBv)
                n = 0
                return
              }
              n = 0 // the lazy cursor walk must not re-walk this run
            }
          // small run: loop back into the lazy pair walk
        }
      }
    }

    // LSD radix scratch, allocated on first radix-path use (the constructor
    // calls advance() before later field initializers would run, so an eager
    // `val` here would still be null inside the first run's sort) and lazily
    // sized to the largest sub-bucketed run so far (≤ cap = 8 MB); the
    // 256-counter array is trivially cache-resident
    private var radixAux: Array[Long] = null
    private var radixCnt: Array[Int] = null

    /** Sort the packed `(classKey << 20 | member)` run. Class keys are
      * `floor(63/classes)+1` bits wide; for classes ≥ 4 (≤ 16 key bits —
      * the shipped Hamming-3 config is 4) a large run takes a 2-pass stable
      * LSD radix over the key bytes instead of `Arrays.sort`'s O(n log n)
      * dual-pivot: the comparison sort's log factor grows with run size
      * (max pHash occupancy 64 → 690 across sf0.1 → sf1, BENCH/SCALE.md),
      * which was one of the two candidate explanations for the sf1 per-unit
      * walk drift (VERDICT r3 #4). Stability makes the result IDENTICAL to
      * `Arrays.sort`: within equal keys the input order is ascending member
      * index, which is exactly the packed low-bit order (BucketRunPairsSpec
      * crosses the radix threshold). Small runs and wide keys (classes ≤ 3)
      * keep `Arrays.sort` — radix's fixed 2×256-counter overhead loses
      * below ~256 members, and classes ≤ 3 keys exceed the 16 bits two
      * byte passes cover. */
    private def sortPacked(packed: Array[Long], classes: Int): Unit = {
      val n = packed.length
      if (classes >= 4 && n >= BucketRunPairs.RadixMin) {
        if (radixAux == null || radixAux.length < n) radixAux = new Array[Long](n)
        if (radixCnt == null) radixCnt = new Array[Int](256)
        radixPass(packed, radixAux, n, 20)
        radixPass(radixAux, packed, n, 28)
      } else java.util.Arrays.sort(packed)
    }

    /** one stable counting pass on byte `shift..shift+7` of src into dst. */
    private def radixPass(src: Array[Long], dst: Array[Long], n: Int, shift: Int): Unit = {
      val cnt = radixCnt
      java.util.Arrays.fill(cnt, 0)
      var i = 0
      while (i < n) { cnt(((src(i) >>> shift) & 0xffL).toInt) += 1; i += 1 }
      var sum = 0
      i = 0
      while (i < 256) { val c = cnt(i); cnt(i) = sum; sum += c; i += 1 }
      i = 0
      while (i < n) {
        val v = src(i)
        val d = ((v >>> shift) & 0xffL).toInt
        dst(cnt(d)) = v
        cnt(d) += 1
        i += 1
      }
    }

    /** value of the first block key on which both signatures agree — the
      * pair's owning bucket under the firstAgreeBlocks dedup. A pair within
      * Hamming ≤ blocks−1 always has one (pigeonhole), and this walk only
      * evaluates it for pairs that already passed the Hamming filter. */
    @inline private def firstAgreeBlockKey(pa: Long, pb: Long): Long = {
      var c = 0
      while (c < firstAgreeBlocks) {
        val ka = BucketRunPairs.blockKey(pa, firstAgreeBlocks, c)
        if (ka == BucketRunPairs.blockKey(pb, firstAgreeBlocks, c)) return ka
        c += 1
      }
      Long.MinValue // unreachable for Hamming-passed pairs; never equals a bv tag
    }

    /** emit a surviving pair into the eager buffer (ids normalized). */
    private def appendPair(x: Long, y: Long): Unit = {
      cEmitted += 1
      if (bufN == bufA.length) {
        bufA = java.util.Arrays.copyOf(bufA, bufN * 2)
        bufB = java.util.Arrays.copyOf(bufB, bufN * 2)
      }
      if (x < y) { bufA(bufN) = x; bufB(bufN) = y }
      else { bufA(bufN) = y; bufB(bufN) = x }
      bufN += 1
    }

    /** pigeonhole sub-bucket pass over the buffered run (see class doc).
      * Returns false — with the buffer cleared — when the run's surviving
      * pairs exceed `maxBufferedPairs` (pair-dense giant duplicate cluster):
      * the caller then markers the run to the salted hot path. */
    private def subBucketRun(): Boolean = {
      bufN = 0; bufI = 0
      val classes = maxHamming + 1
      cSubRuns += 1
      cSubSorted += classes.toLong * n
      // per-class per-member key: gather bits j ≡ c (mod classes). The
      // shipped config (hammingThreshold 3 ⇒ 4 classes) takes the ~12-op
      // perfect-unshuffle kernel; other class counts keep the per-bit loop.
      val keys = new Array[Long](classes * n)
      var m = 0
      if (classes == 4) {
        import graft.hash.HashKernels.unzip4
        while (m < n) {
          val ph = phs(m)
          keys(m) = unzip4(ph, 0)
          keys(n + m) = unzip4(ph, 1)
          keys(2 * n + m) = unzip4(ph, 2)
          keys(3 * n + m) = unzip4(ph, 3)
          m += 1
        }
      } else
      while (m < n) {
        val ph = phs(m)
        var j = 0
        while (j < 64) {
          val c = j % classes
          keys(c * n + m) |= ((ph >>> j) & 1L) << (j / classes)
          j += 1
        }
        m += 1
      }
      val packed = new Array[Long](n)
      var c = 0
      while (c < classes) {
        val off = c * n
        // key-packing invariant: class keys occupy ceil(64/classes) bits, so
        // for classes >= 2 a key fits 32 bits and `key << 20 | member` is an
        // EXACT sort key (member index <= cap = 2^20, enforced in the ctor).
        // classes == 1 (maxHamming = 0) would truncate the 64-bit key to 44
        // bits — lossy but SAFE (truncation only merges groups, adding
        // Hamming re-checks; pairs are still emitted once because class 0 is
        // the only class), and with a single class the walk is equivalent to
        // grouping by the full phash anyway.
        m = 0
        while (m < n) { packed(m) = (keys(off + m) << 20) | m; m += 1 }
        val tSort = if (counters != null) System.nanoTime() else 0L
        sortPacked(packed, classes)
        if (counters != null) cSubSortNs += System.nanoTime() - tSort
        // walk equal-key groups
        var lo = 0
        while (lo < n) {
          var hi = lo + 1
          val key = packed(lo) >>> 20
          while (hi < n && (packed(hi) >>> 20) == key) hi += 1
          var i1 = lo
          while (i1 < hi - 1) {
            val ma = (packed(i1) & 0xFFFFF).toInt
            val pa = phs(ma)
            var i2 = i1 + 1
            while (i2 < hi) {
              val mb = (packed(i2) & 0xFFFFF).toInt
              cSubChecks += 1
              if (java.lang.Long.bitCount(pa ^ phs(mb)) <= maxHamming) {
                // dedup: emit only at the FIRST agreeing class
                var cc = 0
                var first = true
                while (first && cc < c) {
                  if (keys(cc * n + ma) == keys(cc * n + mb)) first = false
                  cc += 1
                }
                if (first && (firstAgreeBlocks == 0 ||
                    firstAgreeBlockKey(pa, phs(mb)) == curBv)) {
                  if (bufN >= maxBufferedPairs) { bufN = 0; bufI = 0; return false }
                  appendPair(ids(ma), ids(mb))
                }
              }
              i2 += 1
            }
            i1 += 1
          }
          lo = hi
        }
        c += 1
      }
      true
    }

    override def hasNext: Boolean = nextPair != null
    override def next(): PairRow = { val r = nextPair; advance(); r }
  }

  private[graft] object BucketRunPairs {
    /** single interleaved block key — must stay BIT-IDENTICAL to
      * `Kernels.interleavedBlockKeys(phash, blocks)(i)` (the key generator
      * of the block channels); equality is spec-gated in BucketRunPairsSpec. */
    @inline def blockKey(phash: Long, blocks: Int, i: Int): Long =
      if (blocks == 4) (i.toLong << 56) | graft.hash.HashKernels.unzip4(phash, i)
      else {
        val width = 64 / blocks
        var v = 0L
        var j = 0
        while (j < width) { v |= ((phash >>> (j * blocks + i)) & 1L) << j; j += 1 }
        (i.toLong << 56) | v
      }

    /** run size at which the pigeonhole sub-bucket pass beats the O(n²)
      * cursor walk (sort cost ≈ classes·n·log n vs n²/2 comparisons). */
    val SubBucketMin = 64

    /** initial (and post-dense-run) capacity of the surviving-pair buffers. */
    val InitialPairBuf = 1024

    /** run size at which the 2-pass LSD radix beats `Arrays.sort` (fixed
      * 2×(256-counter fill + prefix) overhead vs the n log n comparisons). */
    val RadixMin = 256

    /** surviving-pair buffer cap per run (8M pairs = 128 MB of id longs);
      * beyond it the run markers to the salted hot path. */
    val MaxBufferedPairs = 8 << 20
  }

  /** exact-cover candidate pairs (numeric ids): same interleaved block key,
    * Hamming-filtered in the join stage. */
  def candidatesPhashBlocks(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val keyed = prepared(corpus)
      .select(col("id"), col("phash"),
        explode(gf.phash_block_keys(col("phash"), blocksFor(cfg))).as("bv"))
    // keyedRows: cheap parquet count × blocks, sizing the walk exchange;
    // firstAgreeBlocks: keys derive from the carried phash, so the walk can
    // emit each pair only from its owning (first-agreeing) block bucket
    saltedBucketPairs(keyed, cfg.hammingThreshold, hotThreshold = 1 << 20, saltChunks = 16,
      keyedRows = corpus.count() * blocksFor(cfg), firstAgreeBlocks = blocksFor(cfg))
  }

  /** SimHash pigeonhole candidates (numeric ids): interleaved block keys
    * over the 64-bit SimHash signature — exact cover of simhash-Hamming ≤
    * blocks−1; same one-shuffle run-walk + hot-bucket salting.
    *
    * This channel fits the NEAR-IDENTICAL regime only (e.g. boilerplate
    * docs, doc_simhash_dup_pairs): ~10% caption churn moves enough
    * weighted bit votes that dup-pair simhash Hamming is wide on the image
    * corpus (measured p50=11, p99=20 — BandTune), so recall there is 0.85
    * at blocks=8 vs ≥0.99 for the banded-MinHash channel, which remains
    * the general-similarity path. Block width shrinks with block count
    * (8 blocks ⇒ 8-bit keys), so bucket sizes grow ~ n/2^width — past
    * ~10^6 rows use [[candidatesMinhash]] instead. */
  def candidatesSimhash(sigs: DataFrame, cfg: Config = defaultConfig,
      simhashBlocks: Int = 8): DataFrame = {
    val keyed = sigs
      .select(idNum(col("image_id")).as("id"), col("phash"),
        explode(gf.phash_block_keys(col("simhash"), simhashBlocks)).as("bv"))
    // keyedRows: callers hand a materialized sigs frame, so the count is cheap
    saltedBucketPairs(keyed, cfg.hammingThreshold, hotThreshold = 1 << 20, saltChunks = 16,
      keyedRows = sigs.count() * simhashBlocks)
  }

  /** full simhash-channel dup-pair query (same confirm predicate). */
  def dupPairsSimhash(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val sigs = signatures(corpus, cfg)
      .select(col("image_id"), col("phash"), col("simhash"))
      .localCheckpoint()
    confirm(candidatesSimhash(sigs, cfg), corpus, cfg).select("id_a", "id_b")
  }

  /** banded MinHash LSH candidates (numeric ids, probabilistic channel);
    * Hamming pre-filter applies the same confirm predicate early. */
  def candidatesMinhash(sigs: DataFrame, cfg: Config = defaultConfig): DataFrame =
    candidatesFromBands(
      sigs.select(col("image_id"), col("phash"),
        gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("bands")), cfg)

  /** banded candidates from a PRE-COMPUTED `bands` array column. Callers
    * that materialize an intermediate should prefer this shape: the band
    * keys are 256 B/row vs 1 KB/row for the 128-perm signature, so the
    * persisted snapshot (and its re-read on the hot-bucket path) moves 4×
    * fewer bytes — the bandwidth that dominates past ~8 local cores. */
  def candidatesFromBands(sigs: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val keyed = sigs
      .select(idNum(col("image_id")).as("id"), col("phash"), explode(col("bands")).as("bv"))
    // keyedRows: every shipped caller (dupPairsMinhash, Bench.pipelineE2E,
    // ResumablePipeline) hands a materialized sigs frame, so the count is a
    // cheap cached-block pass, not a recompute of the signature stage
    saltedBucketPairs(keyed, cfg.hammingThreshold, hotThreshold = 1 << 20, saltChunks = 16,
      keyedRows = sigs.count() * cfg.bands)
  }

  /** exact confirm of (already Hamming-filtered) candidate pairs: recheck
    * Hamming, then exact token jaccard over pre-hashed token sets.
    * Both candidate channels pre-filter Hamming inside the bucket join, so
    * the surviving pair set is already tiny — fetch (phash, tok) together,
    * ONE shuffle join per side, instead of a phash-only pre-shrink pass
    * that would double the join count for no reduction.
    * Output ids formatted back to strings. Building the frame runs no
    * Spark job. */
  def confirm(candidates: DataFrame, corpus: DataFrame,
      cfg: Config = defaultConfig): DataFrame = {
    val rows = prepared(corpus)
    candidates
      // shuffle_hash: broadcast builds are single-threaded driver work and
      // sort-merge would sort the fat token arrays
      .hint("shuffle_hash").join(rows.toDF("id_a", "phash_a", "tok_a"), "id_a")
      .hint("shuffle_hash").join(rows.toDF("id_b", "phash_b", "tok_b"), "id_b")
      .withColumn("hamming", bit_count(col("phash_a").bitwiseXOR(col("phash_b"))))
      .where(col("hamming") <= cfg.hammingThreshold)
      .withColumn("jaccard", gf.exact_jaccard(col("tok_a"), col("tok_b")))
      // coalesce makes the predicate null-INTOLERANT-free: a bare
      // `jaccard >= τ` lets InferFiltersFromConstraints plant
      // `isnotnull(token_ngrams(caption))` under each join side, where the
      // pushed-through alias re-evaluates the tokenize kernel in the scan
      // FILTER on top of the Project's own evaluation (guide §4.4 shape —
      // measured ~2 extra full tokenize passes per confirm). Row semantics
      // are identical: a null jaccard failed `>= τ` before and -1 fails now.
      .where(coalesce(col("jaccard"), lit(-1.0)) >= cfg.tokenJaccard)
      .select(idStr(col("id_a")).as("id_a"), idStr(col("id_b")).as("id_b"),
        col("hamming"), col("jaccard"))
  }

  /** suffix-array substring confirm (north_star: "suffix-array substring
    * pass confirming caption near-dups"): keep Hamming-close candidate pairs
    * whose captions share a common substring of length ≥ `minLen`, computed
    * by the suffix-array LCS kernel ([[graft.sketch.SuffixArrays]], exposed
    * as the `lcs_len` column function). SQL-oracle-equivalent predicate:
    * lcs(a,b) ≥ L  ⇔  the char L-gram sets of a and b intersect. */
  def confirmSubstring(candidates: DataFrame, corpus: DataFrame,
      cfg: Config = defaultConfig, minLen: Int = 12): DataFrame = {
    val rows = corpus.select(idNum(col("image_id")).as("id"), col("phash"), col("caption"))
    candidates
      .hint("shuffle_hash").join(rows.toDF("id_a", "phash_a", "cap_a"), "id_a")
      .hint("shuffle_hash").join(rows.toDF("id_b", "phash_b", "cap_b"), "id_b")
      .where(bit_count(col("phash_a").bitwiseXOR(col("phash_b"))) <= cfg.hammingThreshold)
      .withColumn("lcs", gf.lcs_len(col("cap_a"), col("cap_b")))
      // coalesce: same InferFiltersFromConstraints shield as `confirm` —
      // a bare `lcs >= minLen` would re-evaluate nothing expensive here
      // (cap_a/b are raw columns), but keeps the suffix-array kernel out of
      // any inferred isnotnull should the plan shape change
      .where(coalesce(col("lcs"), lit(-1)) >= minLen)
      .select(idStr(col("id_a")).as("id_a"), idStr(col("id_b")).as("id_b"), col("lcs"))
  }

  /** full oracle-exact dup-pair query. */
  def dupPairs(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame =
    confirm(candidatesPhashBlocks(corpus, cfg), corpus, cfg).select("id_a", "id_b")

  /** full minhash-channel dup-pair query. The signature projection is
    * materialized FIRST: the salted-bucket hot path re-executes its input
    * frame filtered to hot buckets, and with signatures inline that re-run
    * repeats the entire 128-perm signature stage over the full corpus —
    * measured 65-70 s vs 19 s at the 4.25M-row corpus (StageProbe,
    * local[32]). One localCheckpoint of (id, phash, minhash) turns the
    * re-run into a cached-block filter and also cuts the walk's lineage. */
  def dupPairsMinhash(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val banded = signatures(corpus, cfg)
      .select(col("image_id"), col("phash"),
        gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("bands"))
      .localCheckpoint()
    confirm(candidatesFromBands(banded, cfg), corpus, cfg).select("id_a", "id_b")
  }

  /** connected components over the edge list (the distributed union-find of
    * SURVEY.md §4.2): min-label propagation WITH per-round pointer jumping
    * (`label ← label(label)`), which converges in O(log diameter) rounds —
    * plain one-hop propagation is O(diameter), and dedup graphs contain
    * drift-chains (A≈B≈C≈…) whose diameter grows with cluster size, so the
    * hop-only loop is exactly the path that degrades at scale. Each round is
    * two shuffle joins; `localCheckpoint` cuts lineage. Only vertices that
    * appear in an edge participate in the loop — singletons (the vast
    * majority in a dedup workload) are appended unlabeled-as-themselves at
    * the end, so per-round work is proportional to the duplicate subgraph,
    * not the corpus. Throws if `maxIter` rounds do not converge (silently
    * emitting unconverged labels would corrupt downstream dedup); at the
    * default 50 that needs a component diameter past ~2^49. */
  def clusters(edges: DataFrame, vertices: DataFrame, maxIter: Int = 50,
      localThreshold: Long = clustersLocalThreshold()): DataFrame =
    clustersInstrumented(edges, vertices, maxIter, localThreshold)._1

  /** [[clusters]] plus the distributed loop's round count (0 on the driver
    * fast path) — the measurement surface of tools.ScaleBench's `cc` leg. */
  private[graft] def clustersInstrumented(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 50, localThreshold: Long = clustersLocalThreshold()): (DataFrame, Int) = {
    val e = edges.select(idNum(col("id_a")).as("src"), idNum(col("id_b")).as("dst"))
      .localCheckpoint()
    // the dup subgraph is usually tiny relative to the corpus: size the
    // per-round shuffles to the EDGE count, not the session default, so the
    // latency-bound propagation rounds don't drown in task overhead
    val nEdges = e.count()
    if (nEdges <= localThreshold) return (clustersLocal(e, vertices), 0)
    val (labels, rounds) = propagateLabels(e, maxIter,
      math.max(2, math.min(
        vertices.sparkSession.sparkContext.defaultParallelism,
        (nEdges / 250000L).toInt + 1)))
    val verts = vertices.select(idNum(col("image_id")).as("vid"))
    val all = verts.join(labels, Seq("vid"), "left")
      .select(col("vid"), coalesce(col("label"), col("vid")).as("label"))
    (all.select(idStr(col("vid")).as("image_id"), idStr(col("label")).as("cluster_id")),
      rounds)
  }

  /** Distributed label loop over numeric edges `(src, dst)`. Returns the
    * converged `(vid, label)` frame and the round count (spec-asserted:
    * a planted 10k-vertex chain converges in ~15 rounds, not 10k).
    *
    * Round = (1) one-hop neighbor-min propagate; (2) pointer jump
    * `label ← label(label)` — sound because a label is always the vid of a
    * member of the same component (inductively: labels start as own vids and
    * only ever travel along edges or to a labelled member's own label), and
    * monotone because labels only decrease. The jump doubles how far
    * information has travelled each round (reach r → ≥ 2r+1), hence the
    * logarithmic bound; the component minimum is a fixpoint of both steps. */
  private[graft] def propagateLabels(e: DataFrame, maxIter: Int, parts: Int): (DataFrame, Int) = {
    val sc = e.sparkSession.sparkContext
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src")).localCheckpoint()
    val beforeInit = sc.getPersistentRDDs.keySet.toSet
    var labels = sym.select(col("src").as("vid")).distinct()
      .select(col("vid"), col("vid").as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    // checkpoint blocks the next round frees (seeded with the initial labels)
    var prevRoundIds = sc.getPersistentRDDs.keySet.toSet -- beforeInit
    while (iter < maxIter && !converged) {
      val beforeIds = sc.getPersistentRDDs.keySet.toSet
      val neighborMin = sym
        .join(labels.withColumnRenamed("vid", "dst"), "dst")
        .groupBy(col("src"))
        .agg(min(col("label")).as("nlabel"))
        .withColumnRenamed("src", "vid")
      // checkpoint before the self-join: hopped feeds BOTH sides, and
      // Catalyst specializes each consumer's subplan so ReuseExchange never
      // fires (see saltedBucketPairs) — un-materialized, the expensive
      // sym⋈labels shuffle-aggregate would execute twice every round
      val hopped = labels
        .join(neighborMin, Seq("vid"), "left")
        .select(col("vid"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint()
      // pointer jump: follow the label's own (hopped) label. The jump target
      // set is keyed by vid, so rename and left-join; a label pointing at a
      // vertex outside the frame cannot happen (labels are member vids).
      val jumped = hopped
        .join(hopped.select(col("vid").as("label"), col("label").as("jlabel")),
          Seq("label"), "left")
        .select(col("vid"), col("old"),
          least(col("label"), coalesce(col("jlabel"), col("label"))).as("label"))
        .localCheckpoint()
      converged = jumped.where(col("label") < col("old")).isEmpty
      labels = jumped.drop("old")
      // free dead checkpoint blocks: this round's hopped and last round's
      // labels. Both localCheckpoints are eager and this loop is the only
      // writer in the session's driver thread, so the round's new persisted
      // RDD ids are exactly {hopped, jumped} with jumped's the LARGEST
      // (RDD ids are monotonic) — keep it, release the rest.
      val newIds = sc.getPersistentRDDs.keySet.toSet -- beforeIds
      val keepId = if (newIds.isEmpty) -1 else newIds.max
      val dead = (newIds - keepId) ++ prevRoundIds
      sc.getPersistentRDDs.filter { case (id, _) => dead(id) }
        .values.foreach(_.unpersist(blocking = false))
      prevRoundIds = if (keepId >= 0) Set(keepId) else Set.empty
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "component diameter exceeds 2^rounds; raise maxIter")
    (labels, iter)
  }

  /** Driver-memory-scaled cap for the [[clustersLocal]] fast path, instead
    * of a fixed constant. The edge list is collected as per-partition PACKED
    * primitive long arrays (no per-edge tuple boxing), so the peak driver
    * working set is ~64 B/edge: 16 B packed chunks + 16 B vid copies + the
    * sorted vid / parent / label arrays + copy headroom. Admit edge sets
    * whose working set stays under 1/8 of `maxHeapBytes`, floored at the
    * field-proven 20M (safe even on small driver heaps). A 24 GB driver
    * admits ~47M edges (the 42.5M-row corpus confirms ~37M — it rides the
    * fast path); a 64 GB driver ~125M; past that the distributed
    * label-propagation loop takes over. */
  def clustersLocalThreshold(maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    // upper cap: the local path packs 2 longs/edge into ONE JVM array
    // (vids), so edge sets past ~2^30 can't be indexed by Int no matter the
    // heap — a ≥ ~550 GB driver must take the distributed loop, not an
    // Int-wrapped allocation
    math.min(1000000000L, math.max(20000000L, maxHeapBytes / 8 / 64))

  /** Hybrid fast path: when the duplicate subgraph fits on the driver (edge
    * lists are 16 bytes/edge; 20M edges ≈ 320 MB), collect ONLY the edges,
    * run in-memory union-find, and broadcast the labels back — O(E α(E))
    * with zero per-round scheduling latency. Singletons (the bulk of the
    * corpus) never leave the executors. The distributed label-propagation
    * loop above remains the path for edge sets past the threshold. */
  private def clustersLocal(e: DataFrame, vertices: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // collect the edges as per-partition PACKED long arrays
    // [src0,dst0,src1,dst1,…]: one boxed object per PARTITION on the wire
    // instead of a (Long,Long) tuple per edge — the transient tuple boxing
    // (~48 B/edge) used to dominate the driver's peak footprint and forced
    // the admission cap below what the flat union-find arrays need
    val chunks: Array[Array[Long]] = e.select(col("src"), col("dst"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) { val p = it.next(); buf += p._1; buf += p._2 }
        Iterator.single(buf.result())
      }
      .collect()
    val totalLongs = chunks.iterator.map(_.length.toLong).sum
    // Long math until proven Int-safe: a silent .toInt here would wrap for
    // edge sets past 2^30 and build a wrong vid table (the admission
    // threshold is capped below this, so the guard is belt-and-braces)
    require(totalLongs <= Int.MaxValue - 8,
      s"clustersLocal admitted $totalLongs packed longs — past the Int-safe " +
        "array limit; raise the distributed path's share instead")
    val nEdges2 = totalLongs.toInt / 2
    // dense-index primitive union-find (no boxing): vids → sorted unique ids
    val vids = new Array[Long](nEdges2 * 2)
    var i = 0
    var ci = 0
    while (ci < chunks.length) {
      val ch = chunks(ci)
      System.arraycopy(ch, 0, vids, i, ch.length)
      i += ch.length
      ci += 1
    }
    java.util.Arrays.sort(vids)
    var nv = 0
    i = 0
    while (i < vids.length) {
      if (nv == 0 || vids(i) != vids(nv - 1)) { vids(nv) = vids(i); nv += 1 }
      i += 1
    }
    val parent = Array.tabulate(nv)(identity)
    @annotation.tailrec
    def find(x: Int): Int = {
      val p = parent(x)
      if (p == x) x
      else { parent(x) = parent(p); find(parent(x)) }
    }
    // r6: vid → dense-index lookup. The surrogate ids are near-dense by
    // construction (substring of img_%010d), so when the id RANGE is within
    // 4× the vertex count a direct-index int table (4·range bytes ≤ 16 B per
    // vertex — under the vids array's own 8 B/entry × 2 budget) replaces the
    // per-endpoint binary search: 2 searches × nEdges × log(nv) ≈ 1 s of
    // single-threaded driver wall at the sf0.1 edge set drop to O(1) loads.
    // Sparse id spaces keep the binary search — same results either way.
    val minVid = if (nv > 0) vids(0) else 0L
    val range = if (nv > 0) vids(nv - 1) - minVid + 1 else 0L
    val dense: Array[Int] =
      if (nv > 0 && range <= math.max(nv.toLong * 4, 1L << 16) && range <= Int.MaxValue - 8) {
        val d = new Array[Int](range.toInt)
        java.util.Arrays.fill(d, -1)
        var k = 0
        while (k < nv) { d((vids(k) - minVid).toInt) = k; k += 1 }
        d
      } else null
    @inline def idxOf(vid: Long): Int =
      if (dense != null) {
        val off = vid - minVid
        if (off < 0 || off >= range) -1 else dense(off.toInt)
      } else java.util.Arrays.binarySearch(vids, 0, nv, vid)
    ci = 0
    while (ci < chunks.length) {
      val ch = chunks(ci)
      i = 0
      while (i < ch.length) {
        val a = find(idxOf(ch(i)))
        val b = find(idxOf(ch(i + 1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b } // min-index = min-id (vids sorted)
        i += 2
      }
      ci += 1
    }
    val labelArr = new Array[Long](nv)
    i = 0
    while (i < nv) { labelArr(i) = vids(find(i)); i += 1 }
    val vidsTrim = java.util.Arrays.copyOf(vids, nv)
    // broadcast the primitive (sorted vids → labels) arrays and resolve each
    // vertex with a binary search in a narrow map stage — no join, no
    // shuffle, no driver-side row materialization
    val bcV = spark.sparkContext.broadcast(vidsTrim)
    val bcL = spark.sparkContext.broadcast(labelArr)
    vertices.select(idNum(col("image_id")).as("vid")).as[Long]
      .mapPartitions { it =>
        val v = bcV.value
        val l = bcL.value
        it.map { vid =>
          val idx = java.util.Arrays.binarySearch(v, vid)
          val label = if (idx >= 0) l(idx) else vid
          (f"img_$vid%010d", f"img_$label%010d")
        }
      }
      .toDF("image_id", "cluster_id")
  }

  /** per-partition HLL lineage metric: distinct-cluster cardinality estimate
    * per shuffle partition of the cluster assignment (north_star). */
  def partitionMetrics(clustered: DataFrame, np: Int = 12): DataFrame = {
    clustered
      .withColumn("part", spark_partition_id())
      .groupBy(col("part"))
      .agg(
        count(lit(1)).as("rows"),
        gf.hll_card(gf.hll_agg(xxhash64(col("cluster_id")), np)).as("distinct_clusters_est"))
  }
}
