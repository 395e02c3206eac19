package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sketch.KeyPrefixSketch

/** The walk drops every keyed row alone in its bucket before its exchange
  * (`Dedup.planWalk`'s shared-key sketch). The drop must never lose a pair:
  * both walk modes are checked against brute force on every route (plain,
  * probes, first-agree blocks, forced hot and refinement), over frames that
  * mix singleton and shared keys with null and empty key arrays. */
class WalkPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private type Keyed = (Long, Long, Seq[java.lang.Long]) // (id, phash, keys or null)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false),
    StructField("keys", ArrayType(LongType, containsNull = true), nullable = true)))

  private def frame(rows: Seq[Keyed], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, ph, ks) => Row(id, ph, ks) }, parts), schema)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** every pair sharing a non-null key within `maxHamming` on the pHash */
  private def brute(rows: Seq[Keyed], maxHamming: Int): Set[(Long, Long)] = {
    val keyed = rows.map { case (id, ph, ks) =>
      (id, ph, Option(ks).fold(Set.empty[Long])(_.filter(_ != null).map(_.longValue).toSet)) }
    (for {
      (ia, pa, ka) <- keyed; (ib, pb, kb) <- keyed
      if ia < ib && (ka & kb).nonEmpty && java.lang.Long.bitCount(pa ^ pb) <= maxHamming
    } yield (ia, ib)).toSet
  }

  private def box(ks: Long*): Seq[java.lang.Long] = ks.map(java.lang.Long.valueOf)

  /** singleton keys everywhere, plus a dense bucket (40 rows of one pHash),
    * a false-collision bucket (100 near-random pHashes, 10 planted near
    * dups), small shared buckets, null and empty key arrays, and null keys
    * inside an array */
  private val mixed: Seq[Keyed] = {
    val g = new scala.util.Random(17)
    def unique(): java.lang.Long = java.lang.Long.valueOf(g.nextLong())
    val noise = (0 until 200).map(i => (i.toLong, g.nextLong(), Seq(unique(), unique(), unique())))
    val dense = (0 until 40).map(i => (1000L + i, 0x1234567890abcdefL ^ (i % 2).toLong,
      Seq[java.lang.Long](0xd0d0L, unique())))
    val popular = (0 until 100).map(i => (2000L + i, g.nextLong(), Seq[java.lang.Long](0xf00dL, unique())))
    val planted = (0 until 10).map { i =>
      (2500L + i, popular(i * 9)._2 ^ (1L << i), Seq[java.lang.Long](0xf00dL, unique())) }
    val small = (0 until 30).map { i =>
      val base = 0x0f0f0f0f0f0f0f0fL * (i / 3 + 1)
      (3000L + i, base ^ (if (i % 3 == 2) 0xffffL else 1L << (i % 3)),
        Seq[java.lang.Long](java.lang.Long.valueOf(0x5000L + i / 3), unique()))
    }
    val nulls = (0 until 5).map(i => (4000L + i, 0x1234567890abcdefL, null: Seq[java.lang.Long]))
    val empties = (0 until 5).map(i => (4100L + i, 0x1234567890abcdefL, Seq.empty[java.lang.Long]))
    val nullInside = (0 until 5).map(i => (4200L + i, 0x1234567890abcdefL,
      Seq[java.lang.Long](null, 0xd0d0L)))
    noise ++ dense ++ popular ++ planted ++ small ++ nulls ++ empties ++ nullInside
  }

  /** the rows the walk's exchange carries under the frame's own plan */
  private def keptRows(df: DataFrame): Long = {
    val plan = Dedup.planWalk(df)
    try Dedup.explodeKeys(df, plan, col("phash")).count() finally plan.release()
  }

  /** shuffle records written by the jobs `body` starts */
  private def shuffleRecords[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val written = new java.util.concurrent.atomic.AtomicLong()
    val sentinel = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "sentinel")) sentinel.set(true)
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      // the listener bus is asynchronous: wait for a later job's start
      sc.setJobGroup("sentinel", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinel.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get, "listener never saw the sentinel job")
      (result, written.get)
    } finally sc.removeSparkListener(listener)
  }

  test("saltedBucketPairs with the prune == brute force on every route") {
    spark.sparkContext.setLogLevel("WARN")
    val df = frame(mixed)
    val want = brute(mixed, 3)
    assert(want.size > 100)
    assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3)) === want, "plain walk")
    // hot threshold 16: the dense bucket stays hot after refinement (one
    // pHash class) and takes the salted self-join; the popular bucket's
    // refined runs are near-singletons
    assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3, hotThreshold = 16)) === want,
      "forced hot and refinement routes")
    val probes = mixed.map(_._1).filter(_ % 7 == 3).sorted.toArray
    val wantProbed = want.filter { case (a, b) => probes.contains(a) || probes.contains(b) }
    assert(wantProbed.nonEmpty)
    assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3, probes = probes)) === wantProbed, "probes")
    assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3, hotThreshold = 16, probes = probes))
      === wantProbed, "probes on the hot routes")
    // the prune really dropped rows: the noise keys are singletons
    val banded = mixed.map(r => Option(r._3).fold(0)(_.count(_ != null))).sum
    assert(keptRows(df) < banded / 2, s"kept ${keptRows(df)} of $banded keyed rows")
  }

  test("first-agree block keys with the prune == brute force, plain and hot") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val g = new scala.util.Random(23)
    val base = (0 until 300).map(i => (i.toLong, g.nextLong()))
    val near = (0 until 60).map(i => (1000L + i, base(i * 5)._2 ^ (0x11L << (i % 50))))
    val twins = (0 until 30).map(i => (2000L + i, base(7)._2))
    val rows = base ++ near ++ twins
    val df = rows.toDF("id", "phash")
      .select(col("id"), col("phash"), graft.spark.functions.phash_block_keys(col("phash"), 4).as("keys"))
    val want = (for {
      (ia, pa) <- rows; (ib, pb) <- rows
      if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (ia, ib)).toSet
    assert(want.size > 60)
    for (hot <- Seq(Dedup.HammingHotCap, 16))
      assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3, hotThreshold = hot,
        firstAgreeBlocks = 4)) === want, s"hotThreshold $hot")
  }

  test("saltedAllPairs with the prune == brute force, plain and forced hot") {
    spark.sparkContext.setLogLevel("WARN")
    // band-aligned keys (the band index in the top byte, as band keys mix
    // it): one 30-member bucket in band 0, small shared buckets, singletons
    val g = new scala.util.Random(29)
    def band(b: Int, v: Long): java.lang.Long = java.lang.Long.valueOf((b.toLong << 56) | (v & 0xffffffffffffL))
    val rows: Seq[Keyed] = (0 until 200).map { i =>
      val keys = (0 until 4).map { b =>
        if (b == 0 && i < 30) band(0, 77L)
        else if (b == 1 && i % 10 == 0) band(1, i / 20)
        else if (b == 2 && i >= 150 && i < 160) band(2, 5L)
        else band(b, g.nextLong())
      }
      (i.toLong, 0L, keys)
    } ++ Seq((500L, 0L, null), (501L, 0L, Seq.empty[java.lang.Long]))
    val df = frame(rows).select(col("id"), col("keys"))
    val want = brute(rows, 64)
    assert(want.size === 30 * 29 / 2 + 9 + 10 * 9 / 2) // band 1 adds 9 pairs outside band 0's
    assert(pairs(Dedup.saltedAllPairs(df)) === want, "plain")
    assert(pairs(Dedup.saltedAllPairs(df, hotThreshold = 8)) === want, "forced hot first-agree route")
  }

  test("empty frames and all-null keys: no pairs, no keyed rows") {
    spark.sparkContext.setLogLevel("WARN")
    val empty = frame(Seq.empty, parts = 2)
    assert(Dedup.saltedBucketPairs(empty, maxHamming = 3).count() === 0L)
    assert(Dedup.saltedAllPairs(empty.select(col("id"), col("keys"))).count() === 0L)
    val blank = frame(Seq((1L, 0L, null), (2L, 0L, Seq.empty), (3L, 0L, Seq(null))))
    assert(keptRows(blank) === 0L)
    assert(Dedup.saltedBucketPairs(blank, maxHamming = 3).count() === 0L)
  }

  test("all-singleton frame: the walk exchange writes 0 rows") {
    spark.sparkContext.setLogLevel("WARN")
    // 8,000 singleton keys whose hashes differ in their top 16 bits, the
    // bitmap width of 8,000 entries, so no two share a bit (random keys
    // would keep ~1/8 of the rows through bit collisions; checked below)
    val g = new scala.util.Random(31)
    val rows = (0 until 2000).map(i => (i.toLong, 0L,
      (0 until 4).map(b => java.lang.Long.valueOf(unmix(((i * 4L + b) << 48) | (g.nextLong() >>> 16))))))
    val (got, written) = shuffleRecords(pairs(Dedup.saltedBucketPairs(frame(rows), maxHamming = 3)))
    assert(got.isEmpty)
    assert(written === 0L)
    // control: one shared key makes its two rows (and their pair) cross
    val shared = rows.updated(1, (1L, 0L, rows(1)._3.updated(0, rows(0)._3.head)))
    val (got2, written2) = shuffleRecords(pairs(Dedup.saltedBucketPairs(frame(shared), maxHamming = 3)))
    assert(got2 === Set((0L, 1L)))
    assert(written2 === 3L, "two keyed rows and one pair")
    val random = (0 until 2000).map(i => (i.toLong, 0L, Seq.fill(4)(java.lang.Long.valueOf(g.nextLong()))))
    val (got3, written3) = shuffleRecords(pairs(Dedup.saltedBucketPairs(frame(random), maxHamming = 3)))
    assert(got3.isEmpty)
    assert(written3 < 8000 / 5, s"$written3 of 8000 random singleton rows crossed")
  }

  /** a key whose mixed hash is `h` (fmix64 is a bijection) */
  private def unmix(h0: Long): Long = {
    def inverse(c: Long): Long = { var x = c; for (_ <- 0 until 6) x *= 2 - c * x; x }
    var h = h0
    h ^= h >>> 33
    h *= inverse(0xc4ceb9fe1a85ec53L)
    h ^= h >>> 33
    h *= inverse(0xff51afd7ed558ccdL)
    h ^= h >>> 33
    h
  }

  test("prefix collisions keep extra singletons and never drop a shared row") {
    spark.sparkContext.setLogLevel("WARN")
    // five distinct keys with one 31-bit prefix: k0 and k1 are singletons,
    // k2 is shared by rows 3 and 4, k3/k4 by rows 5, 6 and 7 (one of them
    // on another pHash)
    val hi = 0x5bd1e995L << 33
    val ks = (0 until 5).map(i => unmix(hi | (i.toLong * 0x10001L)))
    assert(ks.distinct.size === 5 && ks.map(KeyPrefixSketch.prefix).distinct.size === 1)
    val ph = 0x0123456789abcdefL
    val rows: Seq[Keyed] = Seq((1L, ph, box(ks(0))), (2L, ph, box(ks(1))),
      (3L, ph, box(ks(2))), (4L, ph, box(ks(2))),
      (5L, ph, box(ks(3), ks(4))), (6L, ph, box(ks(3))), (7L, ~ph, box(ks(4))))
    val df = frame(rows)
    assert(keptRows(df) === 8L) // every keyed row shares the one set bit
    assert(pairs(Dedup.saltedBucketPairs(df, maxHamming = 3)) === Set((3L, 4L), (5L, 6L)))
    // the sketch alone, squeezed to 64 bits: 2,000 singleton keys and 50
    // shared ones (one of them seen by one task only) over three tasks
    val g = new scala.util.Random(37)
    val single = Array.fill(2000)(g.nextLong())
    val sharedKeys = Array.fill(50)(g.nextLong())
    val tasks = Seq(
      single.take(1000) ++ sharedKeys,
      single.drop(1000) ++ sharedKeys.take(49),
      sharedKeys.take(1) ++ Array(sharedKeys(49), sharedKeys(49)))
    val sketches = tasks.map { t =>
      val ps = t.map(KeyPrefixSketch.prefix)
      KeyPrefixSketch.encode(ps, ps.length, Long.MaxValue)
    }
    assert(sketches.map(_._1) === tasks.map(t => t.map(KeyPrefixSketch.prefix).distinct.length.toLong))
    val (payloads, entries) = (sketches.map(_._2), sketches.map(_._1).sum)
    val m = KeyPrefixSketch.merge(payloads, entries, maxLog2 = 6)
    assert(m.log2 === 6)
    assert(sharedKeys.forall(KeyPrefixSketch.keeps(m.bits, 31 - m.log2, _)))
    assert(m.kept === tasks.map(_.count(KeyPrefixSketch.keeps(m.bits, 31 - m.log2, _)).toLong).sum)
    // a wide bitmap keeps about the shared keys only
    val wide = KeyPrefixSketch.merge(payloads, entries, maxLog2 = 31)
    assert(sharedKeys.forall(KeyPrefixSketch.keeps(wide.bits, 31 - wide.log2, _)))
    assert(single.count(KeyPrefixSketch.keeps(wide.bits, 31 - wide.log2, _)) < 400)
  }

  test("task payloads: sorted round trip with counts, null past the byte budget") {
    val g = new scala.util.Random(41)
    // distinct 31-bit prefixes, some repeated, in random order
    val distinct = Array.fill(20000)(g.nextInt() & Int.MaxValue).distinct
    val repeats = distinct.take(300).flatMap(p => Array.fill(2 + g.nextInt(200))(p))
    val ps = g.shuffle((distinct ++ repeats).toSeq).toArray
    assert(KeyPrefixSketch.encode(ps.clone(), ps.length, 1000L)._2 == null)
    val (entries, full) = KeyPrefixSketch.encode(ps.clone(), ps.length, Long.MaxValue)
    assert(entries === distinct.length.toLong && full != null && full.length < 4 * distinct.length)
    val got = Array.newBuilder[(Int, Long)]
    KeyPrefixSketch.foreach(full)((p, c) => got += ((p, c)))
    assert(got.result().toSeq === ps.groupBy(identity).view.mapValues(_.length.toLong).toSeq.sorted)
  }
}
