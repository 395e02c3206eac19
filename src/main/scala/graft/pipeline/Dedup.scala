package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import org.apache.spark.broadcast.Broadcast
import graft.hash.HashKernels
import graft.sketch.{Hll, KeyPrefixSketch}
import graft.spark.expr.{Kernels, SharedKeyExpr}
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
  *    confirm shuffles the corpus side (id, phash, tok) ONCE, and that one
  *    exchange feeds both endpoint joins;
  *  - every channel hands the walk one shape, `(id, phash, keys)` with
  *    `keys` the row's bucket-key array ([[saltedBucketPairs]], Hamming
  *    walks) or `(id, keys)` ([[saltedAllPairs]]); one map-only job plans
  *    the walk ([[planWalk]]): a mergeable sketch of the keys drops every
  *    keyed row alone in its bucket before the one wide exchange, which is
  *    sized from the rows that survive;
  *  - bucket skew is handled EXPLICITLY by salt-and-replicate (one
  *    [[saltedSelfJoin]] serves the hot route of both walk modes) plus AQE
  *    skew-join as a backstop;
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

  /** the signatures' feature set: pHash bit-grams plus caption shingles. */
  private def features(cfg: Config): Column =
    concat(gf.phash_bitgrams(col("phash")), gf.caption_shingles(col("caption"), cfg.shingleK))

  /** narrow per-row signature stage; input needs only (image_id, phash, caption). */
  def signatures(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame =
    corpus
      .select(col("image_id"), col("phash"), col("caption"))
      .withColumn("features", features(cfg))
      .withColumn("minhash", gf.minhash_sig(col("features"), cfg.numPerm, cfg.seed))
      .withColumn("simhash", gf.simhash64(col("features")))
      .drop("features")

  /** number of pigeonhole blocks for the configured Hamming threshold. */
  def blocksFor(cfg: Config): Int = cfg.hammingThreshold + 1

  /** The walk's plan: its exchange width, and the sketch that drops every
    * keyed row alone in its bucket before the exchange (null: the walk runs
    * unpruned). Built by [[planWalk]]; [[release]] frees the broadcast once
    * the walk's output is materialized. */
  private[graft] final case class WalkPlan(parts: Int, sketch: Broadcast[Array[Long]], log2: Int) {
    /** the keyed rows the walk keeps: non-null keys, and with a sketch only
      * those whose prefix bit is set (a null key evaluates to null) */
    def keep(bv: Column): Column =
      if (sketch == null) bv.isNotNull
      else Bridge.column(SharedKeyExpr(Bridge.expression(bv), sketch, log2))
    def release(): Unit = if (sketch != null) sketch.destroy()
  }

  /** The walk's planning step, ONE map-only job over the frame it explodes
    * (an RDD pass over the frame's rows: a cached-block pass over the
    * materialized frames most callers hand in, a read of the pHash column
    * for the raw corpus). A value only the driver reads, so no SQL
    * aggregate: that would plan a partial→final exchange, a second stage
    * and an AQE re-plan around it.
    *
    * Each task returns its keyed-row count and a [[KeyPrefixSketch]]
    * payload: its keys' distinct 31-bit hash prefixes with their counts.
    * The driver merges the payloads into a broadcast bitmap of the prefixes
    * that at least two keyed rows carry, and [[explodeKeys]] keeps only the
    * rows whose bit is set. A row it drops shares its key with no other
    * keyed row of the frame, so it sits alone in its bucket, where
    * [[BucketRunPairs]] would shuffle, sort and then skip it (61% of the
    * img_e2e and 69% of the doc_skew banded rows at perfbench seed 1, 90%+
    * at scale). Pair sets, hot routing and probes are unchanged; a prefix
    * collision only keeps an extra singleton.
    *
    * The payloads together may take half of `spark.driver.maxResultSize`
    * and at most a quarter of the driver heap, split evenly over the tasks
    * (about 2 bytes per distinct key). A task past its share returns no
    * payload, and the walk then runs unpruned, sized from all keyed rows,
    * with one WARN naming the skip. Both driver bitmaps together stay under
    * 1/8 of the heap; a narrower bitmap only keeps more singletons.
    *
    * The width is scale-adaptive (r6): the session default
    * (`spark.sql.shuffle.partitions` = core count in the bench sessions)
    * leaves each in-partition bv-sort with bandedRows/cores rows — at
    * sf0.1's 136M banded rows that is 4.25M rows ≈ 200 MB of sorter pages
    * PER TASK, all 32 tasks concurrently, which brushes the
    * execution-memory share and intermittently spills (an r6 probe, since
    * removed: exchange+sort at 32 parts measured 6.9-20 s vs 4.2-4.6 s at
    * 96). Deriving the width from the rows that cross the exchange
    * (rows/[[WalkRowsPerSortTask]], floored at the session default) keeps
    * per-task sorts at a bounded ~45-70 MB at every scale — the guide §2
    * rule that a cluster sizes shuffle partitions to the data, not the
    * executor count. Partition count never affects the output set (hash
    * partitioning by bv co-locates each bucket at any width, and everything
    * downstream is order-insensitive). A null key array or a null key
    * explodes to no keyed row and counts for none. */
  private[graft] def planWalk(frame: DataFrame): WalkPlan = {
    val spark = frame.sparkSession
    val dflt = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def width(rows: Long): Int = math.min(100000L, math.max(dflt.toLong,
      (rows + WalkRowsPerSortTask - 1) / WalkRowsPerSortTask)).toInt
    val heap = Runtime.getRuntime.maxMemory()
    val cap = driverMaxResultSize()
    val budget = math.min(if (cap > 0) cap else Long.MaxValue, heap / 2) / 2
    val rdd = frame.select(col("keys")).queryExecution.toRdd
    val taskBudget = budget / math.max(1, rdd.getNumPartitions)
    val tasks = rdd.mapPartitions { it =>
      var ps = new Array[Int](1024)
      var n = 0
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val keys = r.getArray(0)
          var i = 0
          while (i < keys.numElements()) {
            if (!keys.isNullAt(i)) {
              if (n == ps.length) ps = java.util.Arrays.copyOf(ps, n * 2)
              ps(n) = KeyPrefixSketch.prefix(keys.getLong(i))
              n += 1
            }
            i += 1
          }
        }
      }
      val (entries, payload) = KeyPrefixSketch.encode(ps, n, taskBudget)
      Iterator.single((n.toLong, entries, payload))
    }.collect()
    val rows = tasks.iterator.map(_._1).sum
    if (tasks.exists(_._3 == null)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"walk runs unpruned: a task's key sketch passed its $taskBudget-byte share " +
          s"(half of spark.driver.maxResultSize, at most a quarter of the driver heap, " +
          s"over ${tasks.length} tasks), so the singleton buckets of $rows keyed rows " +
          "cross the walk exchange")
      WalkPlan(width(rows), null, 0)
    } else {
      // two bitmaps of 2^log2 bits (2^(log2-3) bytes each) within heap/8
      val maxLog2 = 63 - java.lang.Long.numberOfLeadingZeros(heap) - 1
      val m = KeyPrefixSketch.merge(tasks.map(_._3).toSeq, tasks.iterator.map(_._2).sum, maxLog2)
      WalkPlan(width(m.kept), spark.sparkContext.broadcast(m.bits), m.log2)
    }
  }

  /** banded rows per walk sort task (see [[planWalk]]). */
  private val WalkRowsPerSortTask = 1500000L

  /** Hot-bucket policy of every channel: a walk buffers at most
    * `hotThreshold` members of one bucket run, and a longer run is hot.
    * Hamming walks afford 2^20 (≈ 16 MB/task); all-pairs walks emit every
    * in-run pair from ONE task, so runs past 2^12 take the salted fan-out
    * across `SaltChunks` tasks. The salt count only spreads work; it never
    * changes a pair set. */
  private[graft] val HammingHotCap: Int = 1 << 20
  private[graft] val AllPairsHotCap: Int = 1 << 12
  private[graft] val SaltChunks: Int = 16

  /** One streaming walk over a keyed frame `(bv, id, phash)`: ONE wide
    * shuffle (`repartition(bv)` co-locates every bucket), a bv-sort within
    * each partition makes buckets contiguous runs, and [[BucketRunPairs]]
    * emits each run's Hamming-filtered pairs. Returns the hot bucket keys
    * (runs past `hotThreshold`) and the deduped, checkpointed pair set of
    * every other run.
    *
    * The walk STREAMS straight into the dedup exchange and only the DEDUPED
    * pair set is checkpointed: the raw emission stream (389M pairs at the
    * 42.5M-row corpus) is ~11× the distinct set, and checkpointing it cost
    * more block I/O than the walk itself once the storage pool was under
    * pressure — a dev probe (since removed) measured the walk+count at
    * ~136 s vs 439 s for the walk+checkpoint+distinct stage. An oversized
    * run is emitted as one MARKER row (id_a = Long.MinValue, id_b = bv),
    * which passes distinct unharmed (never collides with a real id), so hot
    * detection needs no extra pass; the caller re-reads its input only in
    * the hot case, filtered to hot buckets. */
  private def runWalk(kf: DataFrame, maxHamming: Int, hotThreshold: Int,
      walkParts: Int, firstAgreeBlocks: Int, probes: Array[Long]): (Array[Long], DataFrame) = {
    val spark = kf.sparkSession
    import spark.implicits._
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
        markers = markers, firstAgreeBlocks = firstAgreeBlocks, probes = probes))
      .toDF("id_a", "id_b")
      .distinct()
      .localCheckpoint()
    val hotBvs = if (markers.value == 0L) Array.empty[Long]
      else deduped.where(col("id_a") === Long.MinValue)
        .select(col("id_b")).as[Long].collect()
    (hotBvs, deduped.where(col("id_a") =!= Long.MinValue))
  }

  /** The walk's keyed rows `(id, phash, bv, extra...)`, one per element of
    * the frame's `keys` array that the plan keeps ([[WalkPlan.keep]]: a
    * codegen'd read of the broadcast sketch, so the exchange carries only
    * rows that share their bucket). explode_outer, not explode: an inner explode
    * of the `keys` attribute makes Catalyst infer `size(keys) > 0 AND
    * isnotnull(keys)` below it and push that through the caller's
    * projection, where it evaluates the key kernel twice more per row
    * (cross-operator subtrees get no CSE). The outer form infers nothing;
    * the null bv it emits for an empty or null array is dropped here. */
  private[graft] def explodeKeys(frame: DataFrame, plan: WalkPlan, phash: Column,
      extra: Column*): DataFrame =
    frame.select(Seq(col("id"), phash, explode_outer(col("keys")).as("bv")) ++ extra: _*)
      .where(plan.keep(col("bv")))

  /** Hamming-filtered pair generation over an LSH-keyed frame
    * `(id, phash, keys)`, `keys` the row's array of bucket keys: every pair
    * that shares a bucket and lies within `maxHamming` of each other on
    * `phash`, deduped. The walk plans itself from the keys ([[planWalk]]):
    * it explodes only the keys another keyed row shares and sizes its
    * exchange from them.
    *
    * One [[runWalk]] in the common case. Singleton buckets (typically 90%+
    * of banded rows at scale) never cross the exchange, a prefix collision's
    * stray singleton run is skipped with ZERO allocation, and the raw cross
    * product (10-100× the surviving pairs) never materializes — earlier
    * formulations paid for both (a self-join shuffled the banded set four
    * times and materialized every in-bucket pair; a `collect_list`
    * aggregation built buffers for tens of millions of singleton buckets it
    * then threw away).
    *
    * Popular band values (bucket size grows ∝ corpus size) never take a raw
    * O(n²) walk: runs past [[BucketRunPairs.SubBucketMin]] are pigeonhole
    * sub-bucketed IN the walk, up to the `hotThreshold` buffer cap. Buckets
    * past the cap go to a REFINEMENT pass: members re-keyed by (bv,
    * interleaved-phash-class key) and walked again, collapsing false
    * collisions to ~output-size work; only genuine mega-duplicate clusters
    * (a phash class shared verbatim past the cap, output inherently O(n²)
    * pairs) fall through to the terminal [[saltedSelfJoin]] fanned across
    * [[SaltChunks]] tasks. All branches emit exactly the Hamming-filtered
    * per-bucket cross product — verified by SaltingSpec and the DuckDB
    * oracle gate.
    *
    * `probes` (sorted numeric ids, null for all pairs): only pairs with at
    * least one endpoint among them are wanted, as when new rows are matched
    * against an index. Every walk then compares only such pairs
    * ([[BucketRunPairs]]), so a bucket of H indexed members and f probes
    * costs f·H checks, not (H+f)²/2; the terminal self-join's output is
    * filtered to them. */
  private[graft] def saltedBucketPairs(frame: DataFrame, maxHamming: Int,
      hotThreshold: Int = HammingHotCap, firstAgreeBlocks: Int = 0,
      probes: Array[Long] = null): DataFrame = {
    require(maxHamming < 64, "all-pairs generation runs through saltedAllPairs")
    val plan = planWalk(frame)
    try bucketPairs(explodeKeys(frame, plan, col("phash")), maxHamming, hotThreshold,
      plan.parts, firstAgreeBlocks, probes)
    finally plan.release()
  }

  /** [[saltedBucketPairs]] over the planned keyed rows; every frame it
    * returns is materialized. */
  private def bucketPairs(keyed: DataFrame, maxHamming: Int, hotThreshold: Int,
      walkParts: Int, firstAgreeBlocks: Int, probes: Array[Long]): DataFrame = {
    val (hotBvs, small) = runWalk(keyed, maxHamming, hotThreshold, walkParts, firstAgreeBlocks, probes)
    if (hotBvs.isEmpty) return small
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
    val (denseBvs, small2) = runWalk(refined, maxHamming, hotThreshold, walkParts, 0, probes)
    if (denseBvs.isEmpty) return small.union(small2).distinct().localCheckpoint()
    // Terminal path: a refined bucket only stays hot when >hotThreshold
    // members share a phash class verbatim — a genuine mega-duplicate
    // cluster, whose OUTPUT is inherently O(n²) pairs; the work is
    // output-bound, not an avoidable cross product.
    val dense = refined.where(col("bv").isInCollection(denseBvs)).localCheckpoint()
    val densePairs = saltedSelfJoin(dense, "phash", (a, b, _) => bit_count(a.bitwiseXOR(b)) <= maxHamming)
    small.union(small2)
      .union(if (probes == null) densePairs
        else densePairs.where(col("id_a").isInCollection(probes) || col("id_b").isInCollection(probes)))
      .distinct().localCheckpoint()
  }

  /** The terminal salt-and-replicate self-join of both hot routes, over a
    * checkpointed frame `(bv, id, <payload>)` of pair-dense buckets: every
    * in-bucket pair whose payloads pass `keep(payload_a, payload_b, bv)`.
    * The left side lands each row in its one salt chunk (`id` mod
    * [[SaltChunks]]), the right side replicates each row into every chunk,
    * so a bucket's cross product spreads over [[SaltChunks]] tasks (the
    * work is output-bound) and each pair meets in exactly one of them. */
  private def saltedSelfJoin(dense: DataFrame, payload: String,
      keep: (Column, Column, Column) => Column): DataFrame = {
    def side(s: String, salt: Column): DataFrame =
      dense.select(col("bv"), col("id").as(s"id_$s"), col(payload).as(s"${payload}_$s"),
        salt.as("salt"))
    // the dense self-join sides are the same order of magnitude — force a
    // shuffled hash join so Catalyst never tries to broadcast-build them
    side("a", pmod(col("id"), lit(SaltChunks.toLong))).hint("shuffle_hash")
      .join(side("b", explode(sequence(lit(0L), lit(SaltChunks.toLong - 1)))), Seq("bv", "salt"))
      .where(col("id_a") < col("id_b") &&
        keep(col(s"${payload}_a"), col(s"${payload}_b"), col("bv")))
      .select("id_a", "id_b")
  }

  /** Skew-hardened in-bucket ALL-PAIRS generation over a banded frame
    * `(id, keys)`: every distinct pair that shares at least one band key.
    * The candidate stage of the doc MinHash channel, in both hash families
    * (its confirm predicate lives downstream over gram sets the walk never
    * sees). Band keys must mix the band index (MinHash.bandKeys,
    * `band_walk_keys`), so a bucket's key IS the shared band value.
    *
    * One [[runWalk]] whose Hamming predicate (`maxHamming` 64) passes every
    * pair streams the cold buckets; the walk plans, explodes and sizes the
    * keys as in [[saltedBucketPairs]]. A hot bucket — the boilerplate-text regime,
    * where one band value's membership grows ∝ corpus size — is pair-dense
    * by definition and there is no signature to refine it by, so it goes
    * straight to the [[saltedSelfJoin]] fan-out. That fan-out dedups at the
    * source: a pair sharing k band keys would otherwise leave ALL k of its
    * hot buckets (b× the distinct-exchange volume for a mega-cluster hot in
    * every band), so the join keeps it only in the bucket of its FIRST
    * agreeing band key. LOSSLESS: both members sit in that bucket — if it is
    * hot, its own dense join emits the pair; if cold, the streaming walk
    * did. The walk's select prunes `keys` off the wide exchange, so only
    * the small dense re-read materializes the arrays. DocOpsSpec asserts the
    * pair set against brute force with the hot path forced. */
  private[graft] def saltedAllPairs(frame: DataFrame,
      hotThreshold: Int = AllPairsHotCap): DataFrame = {
    val plan = planWalk(frame)
    try {
      val keyed = explodeKeys(frame, plan, lit(0L).as("phash"), col("keys"))
      val (hotBvs, small) = runWalk(keyed, maxHamming = 64, hotThreshold,
        plan.parts, firstAgreeBlocks = 0, probes = null)
      if (hotBvs.isEmpty) small
      else {
        val dense = keyed.where(col("bv").isInCollection(hotBvs)).localCheckpoint()
        // checkpoint: like every other branch, hand back a materialized pair
        // set, so a consumer that reads it more than once never re-executes
        // the dense join (nor reads the released sketch)
        small.union(saltedSelfJoin(dense, "keys", (a, b, bv) => gf.first_agree_key(a, b) === bv))
          .distinct().localCheckpoint()
      }
    } finally plan.release()
  }

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
    * SUB-BUCKET pass instead of the O(n²) cursor walk: members are grouped
    * by each of the `maxHamming+1` interleaved phash class keys
    * ([[graft.hash.HashKernels.classKey]]), and only within-group pairs are
    * compared (a pair within Hamming ≤ maxHamming must agree on ≥ 1 class —
    * same pigeonhole as the block channel, applied recursively inside a
    * bucket).
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
    * by the same ownership argument as [[saltedAllPairs]]: both members
    * carry the owning key, so they share that bucket; if it is cold the walk
    * emits the pair there, and if it is hot the refinement pass (which runs
    * with firstAgreeBlocks = 0) emits it. 0 disables the check (banded LSH
    * keys are hashes of band slices, not derivable from `phash`;
    * dupPairsSimhash keys derive from simhash while `phash` carries the
    * pHash).
    *
    * `probes` (sorted ids; null = every member): only pairs with at least
    * one probe endpoint are compared. Each buffered run moves its probe
    * members to the front, so the pairs (i, j), i < j, with i among the
    * leading `lead` members are exactly the wanted ones; both the cursor
    * walk and the sub-bucket groups (sorted by member index within a key)
    * stop their outer loop at `lead`. A run without probes is skipped. */
  private[graft] final class BucketRunPairs(
      rows: Iterator[BandedRow], maxHamming: Int, hotThreshold: Int,
      maxBufferedPairs: Int = BucketRunPairs.MaxBufferedPairs,
      markers: org.apache.spark.util.LongAccumulator = null,
      counters: WalkCounters = null,
      firstAgreeBlocks: Int = 0,
      probes: Array[Long] = null)
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
    private var lead = 0 // leading members whose pairs are compared (n without probes)
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
    // tripped exactly this)
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
      if (overflow) { n = 0; markerBv = bv; 1 }
      else {
        lead = if (probes == null) n else leadProbes()
        0
      }
    }

    /** move the run's probe members to the front; returns their count. */
    private def leadProbes(): Int = {
      var k = 0
      var m = 0
      while (m < n) {
        if (java.util.Arrays.binarySearch(probes, ids(m)) >= 0) {
          val ti = ids(k); ids(k) = ids(m); ids(m) = ti
          val tp = phs(k); phs(k) = phs(m); phs(m) = tp
          k += 1
        }
        m += 1
      }
      k
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
        while (a < n - 1 && a < lead) {
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
            if (lead == 0) n = 0 // no probe member: nothing to compare
            else if (n >= SubBucketMin && maxHamming + 1 <= 8) {
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

    /** value of the first block key on which both signatures agree — the
      * pair's owning bucket under the firstAgreeBlocks dedup. A pair within
      * Hamming ≤ blocks−1 always has one (pigeonhole), and this walk only
      * evaluates it for pairs that already passed the Hamming filter. */
    @inline private def firstAgreeBlockKey(pa: Long, pb: Long): Long = {
      var c = 0
      while (c < firstAgreeBlocks) {
        val ka = HashKernels.blockKey(pa, firstAgreeBlocks, c)
        if (ka == HashKernels.blockKey(pb, firstAgreeBlocks, c)) return ka
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
      // per-class per-member keys, class-major; class c's are filled on its
      // own pass (the first-agree check reads only the classes before it)
      val keys = new Array[Long](classes * n)
      val packed = new Array[Long](n)
      var m = 0
      var c = 0
      while (c < classes) {
        val off = c * n
        // key-packing invariant: class keys occupy 64/classes bits, so
        // for classes >= 2 a key fits 32 bits and `key << 20 | member` is an
        // EXACT sort key (member index <= cap = 2^20, enforced in the ctor).
        // classes == 1 (maxHamming = 0) would truncate the 64-bit key to 44
        // bits — lossy but SAFE (truncation only merges groups, adding
        // Hamming re-checks; pairs are still emitted once because class 0 is
        // the only class), and with a single class the walk is equivalent to
        // grouping by the full phash anyway.
        m = 0
        while (m < n) {
          val k = HashKernels.classKey(phs(m), classes, c)
          keys(off + m) = k
          packed(m) = (k << 20) | m
          m += 1
        }
        val tSort = if (counters != null) System.nanoTime() else 0L
        java.util.Arrays.sort(packed)
        if (counters != null) cSubSortNs += System.nanoTime() - tSort
        // walk equal-key groups
        var lo = 0
        while (lo < n) {
          var hi = lo + 1
          val key = packed(lo) >>> 20
          while (hi < n && (packed(hi) >>> 20) == key) hi += 1
          // members sort by index within a key, so the group's probes lead
          var i1 = lo
          while (i1 < hi - 1 && (packed(i1) & 0xFFFFF) < lead) {
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
    /** run size at which the pigeonhole sub-bucket pass beats the O(n²)
      * cursor walk (sort cost ≈ classes·n·log n vs n²/2 comparisons). */
    val SubBucketMin = 64

    /** initial (and post-dense-run) capacity of the surviving-pair buffers. */
    val InitialPairBuf = 1024

    /** surviving-pair buffer cap per run (8M pairs = 128 MB of id longs);
      * beyond it the run markers to the salted hot path. */
    val MaxBufferedPairs = 8 << 20
  }

  /** exact-cover candidate pairs (numeric ids): same interleaved block key,
    * Hamming-filtered in the join stage. */
  def candidatesPhashBlocks(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame = {
    val blocks = blocksFor(cfg)
    // firstAgreeBlocks: keys derive from the carried phash, so the walk can
    // emit each pair only from its owning (first-agreeing) block bucket
    saltedBucketPairs(
      prepared(corpus).select(col("id"), col("phash"),
        gf.phash_block_keys(col("phash"), blocks).as("keys")),
      cfg.hammingThreshold, firstAgreeBlocks = blocks)
  }

  /** full simhash-channel dup-pair query ([[keyedDupPairs]] over 8
    * interleaved block keys of the 64-bit caption SimHash; same confirm
    * predicate). The walk Hamming-filters on the pHash; the block keys are
    * an exact cover of simhash-Hamming ≤ 7.
    *
    * This channel fits the NEAR-IDENTICAL regime only (e.g. boilerplate
    * docs, doc_simhash_dup_pairs): ~10% caption churn moves enough
    * weighted bit votes that dup-pair simhash Hamming is wide on the image
    * corpus (measured p50=11, p99=20 by a dev probe, since removed), so
    * recall there is 0.85 at 8 blocks vs ≥0.99 for the banded-MinHash
    * channel, which remains the general-similarity path. Block width
    * shrinks with block count (8 blocks ⇒ 8-bit keys), so bucket sizes grow
    * ~ n/2^width — past ~10^6 rows use [[dupPairsMinhash]] instead. */
  def dupPairsSimhash(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame =
    keyedDupPairs(corpus, gf.phash_block_keys(gf.simhash64(features(cfg)), 8), cfg)

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
  def candidatesFromBands(sigs: DataFrame, cfg: Config = defaultConfig): DataFrame =
    // every shipped caller (dupPairsMinhash, Bench.pipelineE2E,
    // ResumablePipeline) hands a materialized sigs frame, so the walk's
    // sizing job is a cheap cached-block pass, not a recompute of the
    // signature stage
    keyedCandidates(sigs, col("bands"), cfg.hammingThreshold)

  /** The image channels' walk: every pair of `sigs(image_id, phash, ...)`
    * rows that shares a `keys` bucket and lies within `maxHamming` on the
    * pHash (numeric ids). */
  private def keyedCandidates(sigs: DataFrame, keys: Column, maxHamming: Int,
      hotThreshold: Int = HammingHotCap, probes: Array[Long] = null): DataFrame =
    saltedBucketPairs(
      sigs.select(idNum(col("image_id")).as("id"), col("phash"), keys.as("keys")),
      maxHamming, hotThreshold, probes = probes)

  /** One image LSH channel in any hash family: `keys` (an expression over
    * the corpus columns) is checkpointed beside `(image_id, phash)`, walked
    * with the pHash Hamming filter and confirmed ([[confirm]]). The md5
    * twins ([[graft.oracle.Md5Channels]]) pass md5-family keys, so the
    * DuckDB oracle checks this walk and confirm, not a copy of them.
    * Checkpointed FIRST: the walk's hot path re-executes its input filtered
    * to hot buckets, and with the keys inline that re-run repeats the
    * signature stage over the full corpus (65-70 s vs 19 s for the 128-perm
    * MinHash at the 4.25M-row corpus, local[32]). `probes` (sorted
    * [[idNum]] ids, null for all pairs) keeps only the pairs with an
    * endpoint among them, from the walk on ([[saltedBucketPairs]]), so the
    * confirm never sees another pair. */
  private[graft] def keyedDupPairs(corpus: DataFrame, keys: Column, cfg: Config,
      hotThreshold: Int = HammingHotCap, probes: Array[Long] = null): DataFrame = {
    val keyed = corpus.select(col("image_id"), col("phash"), keys.as("keys")).localCheckpoint()
    confirm(keyedCandidates(keyed, col("keys"), cfg.hammingThreshold, hotThreshold, probes),
      corpus, cfg)
      .select("id_a", "id_b")
  }

  /** The candidate pairs under fresh attributes, for a confirm that joins
    * both endpoints to ONE side table and wants the side read once.
    *
    * The two endpoint subtrees differ only in column names, which plan
    * canonicalization erases, so AQE reuses the first side exchange for the
    * second join. That needs both subtrees to carry the same filters, and
    * constraint inference would plant the candidate frame's own predicates
    * on the endpoint they name: the walk's marker filter
    * `id_a =!= Long.MinValue` ([[runWalk]]) reaches side A alone, and a
    * hot-path union (kept through `localCheckpoint`) plants a disjunction on
    * it. The identity map hands the join fresh candidate attributes that
    * carry no constraints, so each endpoint infers only its join key's
    * `isnotnull` and both canonicalize identically whatever produced the
    * candidates. */
  private[graft] def freshCandidates(candidates: DataFrame): DataFrame =
    candidates.map((r: Row) => r)(Encoders.row(candidates.schema))

  /** Both endpoints of every candidate pair joined to ONE side table
    * `(id, phash, payload)`: side columns come back suffixed `_a` / `_b`.
    * The side is scanned, projected and shuffled ONCE ([[freshCandidates]]).
    *
    * shuffle_hash: broadcast builds are single-threaded driver work and
    * sort-merge would sort the fat payload arrays. */
  private def joinEndpoints(candidates: DataFrame, side: DataFrame): DataFrame = {
    def endpoint(s: String): DataFrame = side.toDF(side.columns.map(c => s"${c}_$s"): _*)
    freshCandidates(candidates)
      .hint("shuffle_hash").join(endpoint("a"), "id_a")
      .hint("shuffle_hash").join(endpoint("b"), "id_b")
  }

  /** exact confirm of (already Hamming-filtered) candidate pairs: recheck
    * Hamming, then exact token jaccard over pre-hashed token sets.
    * Both candidate channels pre-filter Hamming inside the bucket join, so
    * the surviving pair set is already tiny — fetch (phash, tok) together
    * in ONE side exchange that feeds both endpoint joins
    * ([[joinEndpoints]]), instead of a phash-only pre-shrink pass that
    * would double the join count for no reduction.
    * Output ids formatted back to strings. Building the frame runs no
    * Spark job. */
  def confirm(candidates: DataFrame, corpus: DataFrame,
      cfg: Config = defaultConfig): DataFrame =
    joinEndpoints(candidates, prepared(corpus))
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

  /** suffix-array substring confirm (north_star: "suffix-array substring
    * pass confirming caption near-dups"): keep Hamming-close candidate pairs
    * whose captions share a common substring of length ≥ `minLen`, computed
    * by the suffix-array LCS kernel ([[graft.sketch.SuffixArrays]], exposed
    * as the `lcs_len` column function). SQL-oracle-equivalent predicate:
    * lcs(a,b) ≥ L  ⇔  the char L-gram sets of a and b intersect. */
  def confirmSubstring(candidates: DataFrame, corpus: DataFrame,
      cfg: Config = defaultConfig, minLen: Int = 12): DataFrame =
    joinEndpoints(candidates,
        corpus.select(idNum(col("image_id")).as("id"), col("phash"), col("caption").as("cap")))
      .where(bit_count(col("phash_a").bitwiseXOR(col("phash_b"))) <= cfg.hammingThreshold)
      .withColumn("lcs", gf.lcs_len(col("cap_a"), col("cap_b")))
      // coalesce: same InferFiltersFromConstraints shield as `confirm` —
      // a bare `lcs >= minLen` would re-evaluate nothing expensive here
      // (cap_a/b are raw columns), but keeps the suffix-array kernel out of
      // any inferred isnotnull should the plan shape change
      .where(coalesce(col("lcs"), lit(-1)) >= minLen)
      .select(idStr(col("id_a")).as("id_a"), idStr(col("id_b")).as("id_b"), col("lcs"))

  /** full oracle-exact dup-pair query. */
  def dupPairs(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame =
    confirm(candidatesPhashBlocks(corpus, cfg), corpus, cfg).select("id_a", "id_b")

  /** full minhash-channel dup-pair query ([[keyedDupPairs]] over the
    * 128-perm MinHash band keys). */
  def dupPairsMinhash(corpus: DataFrame, cfg: Config = defaultConfig): DataFrame =
    keyedDupPairs(corpus,
      gf.band_keys(gf.minhash_sig(features(cfg), cfg.numPerm, cfg.seed), cfg.bands, cfg.rowsPerBand),
      cfg)

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
    // each partition's numeric edges packed ONCE into a primitive chunk
    // [src0,dst0,src1,dst1,…] and cached by the one job that also returns
    // the chunk sizes: that job is the edge count, and the driver path
    // collects the same chunks, so no separate count job runs
    val packed = edges.select(idNum(col("id_a")), idNum(col("id_b")))
      .queryExecution.toRdd
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) { val r = it.next(); buf += r.getLong(0); buf += r.getLong(1) }
        Iterator.single(buf.result())
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (labels, rounds) = try {
      // the dup subgraph is usually tiny relative to the corpus: size the
      // per-round shuffles to the EDGE count, not the session default, so
      // the latency-bound propagation rounds don't drown in task overhead
      val nEdges = packed.map(_.length / 2L).fold(0L)(_ + _)
      if (nEdges <= localThreshold) return (clustersLocal(packed.collect(), vertices), 0)
      val spark = vertices.sparkSession
      import spark.implicits._
      propagateLabels(
        packed.flatMap(ch => Iterator.range(0, ch.length, 2).map(i => (ch(i), ch(i + 1))))
          .toDF("src", "dst"),
        maxIter,
        math.max(2, math.min(spark.sparkContext.defaultParallelism, (nEdges / 250000L).toInt + 1)))
    } finally packed.unpersist(blocking = false)
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
    val beforeSym = sc.getPersistentRDDs.keySet.toSet
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
      ((newIds - keepId) ++ prevRoundIds).foreach(Bridge.unpersistRDD(sc, _))
      prevRoundIds = if (keepId >= 0) Set(keepId) else Set.empty
      iter += 1
    }
    // the labels' own checkpoint cut their lineage to the edge checkpoint
    (beforeInit -- beforeSym).foreach(Bridge.unpersistRDD(sc, _))
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
    * fast path); past that the distributed label-propagation loop takes
    * over.
    *
    * The collect also has to fit `spark.driver.maxResultSize`
    * (`maxResultBytes`, 1 GiB by default; 0 means unlimited): at 16 B per
    * edge, an admitted edge set past it would abort the job instead of
    * taking the distributed loop. So a positive cap also bounds admission,
    * floor included, less 1/64 for the task results' own headers: the 1 GiB
    * default admits ~66M edges, below the ~125M a 64 GB heap alone would. */
  def clustersLocalThreshold(maxHeapBytes: Long = Runtime.getRuntime.maxMemory(),
      maxResultBytes: Long = driverMaxResultSize()): Long = {
    // upper cap: the local path packs 2 longs/edge into ONE JVM array
    // (vids), so edge sets past ~2^30 can't be indexed by Int no matter the
    // heap — a ≥ ~550 GB driver must take the distributed loop, not an
    // Int-wrapped allocation
    val byHeap = math.min(1000000000L, math.max(20000000L, maxHeapBytes / 8 / 64))
    if (maxResultBytes > 0) math.min(byHeap, maxResultBytes / 16 / 64 * 63) else byHeap
  }

  /** the session's `spark.driver.maxResultSize` in bytes (Spark's 1 GiB
    * default when no session is up). */
  private def driverMaxResultSize(): Long =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(1L << 30)(_.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g"))

  /** Hybrid fast path: when the duplicate subgraph fits on the driver (edge
    * lists are 16 bytes/edge; 20M edges ≈ 320 MB), collect ONLY the edges,
    * run in-memory union-find, and broadcast the labels back — O(E α(E))
    * with zero per-round scheduling latency. Singletons (the bulk of the
    * corpus) never leave the executors. The distributed label-propagation
    * loop above remains the path for edge sets past the threshold.
    *
    * `chunks` are the collected per-partition PACKED long arrays
    * [src0,dst0,src1,dst1,…]: one boxed object per PARTITION on the wire
    * instead of a (Long,Long) tuple per edge — the transient tuple boxing
    * (~48 B/edge) used to dominate the driver's peak footprint and forced
    * the admission cap below what the flat union-find arrays need. */
  private def clustersLocal(chunks: Array[Array[Long]], vertices: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
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
  def partitionMetrics(clustered: DataFrame, np: Int = 12): DataFrame =
    partitionSketches(clustered, col("cluster_id"), np)
      .toDF("part", "rows", "distinct_clusters_est")

  /** `(part, rows, est)` for each non-empty partition of `frame`: its
    * `spark_partition_id`, row count and the HLL estimate (`np` precision)
    * of its distinct `key` values. HLL registers are mergeable sketches, so
    * each partition builds its own where its rows already are: one fold per
    * partition in the frame's own stage, no exchange. Values equal the
    * `groupBy(spark_partition_id()).agg(count, hll_card(hll_agg(...)))`
    * aggregate (PipelineSpec, SnapshotSpec), whose exchange would ship one
    * register blob per partition only to regroup rows that already share
    * one. */
  private[graft] def partitionSketches(frame: DataFrame, key: Column, np: Int): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.select(spark_partition_id(), xxhash64(key)).as[(Int, Long)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val regs = Hll.init(np)
          var part = 0
          var rows = 0L
          it.foreach { case (p, h) => part = p; rows += 1; Hll.add(regs, h, np) }
          Iterator.single((part, rows, Kernels.hllCard(regs)))
        }
      }
      .toDF("part", "rows", "est")
  }
}
