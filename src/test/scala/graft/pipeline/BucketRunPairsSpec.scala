package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM property test of the streaming run-walk pair generator: against
  * a brute-force reference over randomized bv-sorted inputs, covering
  * singleton runs, run transitions, the exact-cap boundary, and oversized
  * (skipped) runs. */
class BucketRunPairsSpec extends AnyFunSuite {

  /** tuple-friendly wrapper: the walk consumes/emits primitive-field case
    * classes (encoder efficiency); tests speak tuples. */
  private def walk(rows: Seq[(Long, Long, Long)], maxHamming: Int, cap: Int,
      maxBufferedPairs: Int = Dedup.BucketRunPairs.MaxBufferedPairs): Iterator[(Long, Long)] =
    new Dedup.BucketRunPairs(rows.iterator.map(r => Dedup.BandedRow(r._1, r._2, r._3)),
      maxHamming, cap, maxBufferedPairs).map(p => (p.id_a, p.id_b))

  private def brute(rows: Seq[(Long, Long, Long)], maxHamming: Int, cap: Int): Set[(Long, Long)] = {
    rows.groupBy(_._1).valuesIterator.flatMap { run =>
      if (run.size < 2) Nil
      else if (run.size > cap) Seq((Long.MinValue, run.head._1)) // hot marker
      else for {
        (a, i) <- run.zipWithIndex
        b <- run.drop(i + 1)
        if java.lang.Long.bitCount(a._3 ^ b._3) <= maxHamming
      } yield (math.min(a._2, b._2), math.max(a._2, b._2))
    }.toSet
  }

  test("run-walk == brute force over randomized sorted runs (incl. cap boundary)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 50) {
      val cap = 1 + rnd.nextInt(6) // small caps hit the boundary often
      val nRuns = 1 + rnd.nextInt(8)
      var id = 0L
      val rows = (0 until nRuns).flatMap { r =>
        val runLen = 1 + rnd.nextInt(cap + 3) // spans under, at, and over cap
        (0 until runLen).map { _ =>
          id += 1
          // phashes within hamming 0..8 of zero so the filter both passes
          // and rejects
          (r.toLong, id, rnd.nextLong() & 0xFFL)
        }
      }
      val got = walk(rows, 3, cap).toSet
      val want = brute(rows, 3, cap)
      assert(got === want, s"trial=$trial cap=$cap rows=${rows.size}")
    }
  }

  test("sub-bucketed big runs == brute force (planted near-dups + random)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 10) {
      var id = 0L
      val rows = (0 until 3).flatMap { r =>
        val runLen = Dedup.BucketRunPairs.SubBucketMin + rnd.nextInt(200)
        val base = rnd.nextLong()
        (0 until runLen).map { k =>
          id += 1
          // ~25% of members near-dup of the run base (hamming 0..5, so the
          // filter both passes and rejects); rest random
          val ph =
            if (k % 4 == 0) (0 until rnd.nextInt(6)).foldLeft(base)((h, _) => h ^ (1L << rnd.nextInt(64)))
            else rnd.nextLong()
          (r.toLong, id, ph)
        }
      }
      val got = walk(rows, 3, 4096).toSet
      val want = brute(rows, 3, 4096)
      assert(got === want, s"trial=$trial rows=${rows.size} got=${got.size} want=${want.size}")
    }
    // boundary: run exactly at SubBucketMin, run of all-identical phashes
    // (every pair survives -> densest buffer), and maxHamming=0 (classes=1,
    // 64-bit class key exercises the truncated-key grouping)
    val m = Dedup.BucketRunPairs.SubBucketMin
    val atMin = (1 to m).map(i => (9L, i.toLong, 0L))
    assert(walk(atMin, 3, 4096).toSet === brute(atMin, 3, 4096))
    val dense = (1 to 100).map(i => (10L, i.toLong, 42L))
    assert(walk(dense, 3, 4096).size === 100 * 99 / 2)
    val h0 = (1 to 80).map(i => (11L, i.toLong, if (i % 2 == 0) 7L else 9L))
    assert(walk(h0, 0, 4096).toSet === brute(h0, 0, 4096))
  }

  test("sub-sorted large runs == brute force across 255-768 members") {
    // large sub-bucketed runs with HEAVY class-key duplication — phashes
    // drawn from a tiny pool so most sub-bucket groups have many members
    // (within-group member order must stay ascending for the
    // first-agreeing-class dedup to mirror the sorted walk)
    val rnd = new scala.util.Random(13)
    val rm = 256
    for ((runLen, trial) <- Seq(rm - 1, rm, rm + 1, rm * 3).zipWithIndex) {
      val pool = Array.fill(8)(rnd.nextLong())
      var id = 0L
      val rows = (0 until runLen).map { _ =>
        id += 1
        val base = pool(rnd.nextInt(pool.length))
        val flips = rnd.nextInt(6)
        val ph = (0 until flips).foldLeft(base)((h, _) => h ^ (1L << rnd.nextInt(64)))
        (1L, id, ph)
      }
      val got = walk(rows, 3, 1 << 20).toSet
      val want = brute(rows, 3, 1 << 20)
      assert(got === want, s"trial=$trial runLen=$runLen")
    }
  }

  test("pair-dense big run overflows the buffer and markers to the hot path") {
    val m = Dedup.BucketRunPairs.SubBucketMin
    // 100 identical phashes -> 4950 surviving pairs > the tiny cap
    val dense = (1 to 100).map(i => (21L, i.toLong, 42L))
    val got = walk(dense, 3, 4096, maxBufferedPairs = 100).toSet
    assert(got === Set((Long.MinValue, 21L)))
    // a mixed partition: the dense run markers, later runs still emit
    val mixed = dense ++ Seq((23L, 5000L, 1L), (23L, 5001L, 1L))
    val got2 = walk(mixed, 3, 4096, maxBufferedPairs = 100).toSet
    assert(got2 === Set((Long.MinValue, 21L), (5000L, 5001L)))
    // a sparse big run (no surviving pairs) must NOT marker under a tiny cap
    val sparse = (0 until m).map(i => (24L, 6000L + i, (6000L + i) * 0x9E3779B97F4A7C15L))
    val got3 = walk(sparse, 3, 4096, maxBufferedPairs = 10).toSet
    assert(got3 === brute(sparse, 3, 4096))
    assert(!got3.exists(_._1 == Long.MinValue))
  }

  test("a run past 2^16 members sub-buckets correctly (20-bit index packing)") {
    // 70,000 members in one run — beyond the old 16-bit member-index space,
    // inside the 2^20 cap. Random phashes produce zero Hamming<=3 pairs at
    // this scale (P ~ 44k/2^64 per pair), so the expected set is exactly the
    // planted near-dups; any index-packing corruption would surface as
    // missing/garbage pairs.
    val rnd = new scala.util.Random(101)
    val n = 70000
    val base = Array.fill(n)(rnd.nextLong())
    val rows = (0 until n).map(i => (1L, i.toLong, base(i))) ++
      (0 until 200).map { i =>
        val src = i * 349 // spread over the run
        (1L, (n + i).toLong, base(src) ^ (1L << (i % 64)))
      }
    val want = (0 until 200).map { i =>
      val src = i * 349
      (src.toLong, (n + i).toLong)
    }.toSet
    val got = walk(rows, 3, 1 << 20).toSet
    assert(got === want, s"missing=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("run buffers grow past their initial 16384 capacity without loss") {
    // one 20k-member run (past the initial buffer) ending with a planted pair
    val rows = (0 until 20000).map(i => (5L, i.toLong, i.toLong * 0x9E3779B97F4A7C15L)) ++
      Seq((5L, 30000L, 0xF0F0L), (5L, 30001L, 0xF0F1L))
    val got = walk(rows, 3, 1 << 20).toSet
    assert(got.contains((30000L, 30001L)))
  }

  test("first-agree block dedup: exactly-once emission, set equals brute force (r6)") {
    // walk the REAL block-keyed layout (every row exploded to its `blocks`
    // bucket keys, hash-co-located per key): with firstAgreeBlocks on, the
    // multiset of emitted pairs must have NO duplicates and its set must
    // equal the firstAgree=0 walk's distinct set — for runs on both sides
    // of SubBucketMin (cursor and sub-bucket paths)
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 20) {
      val blocks = 4
      val n = 40 + rnd.nextInt(200)
      val base = rnd.nextLong()
      val rows = (1L to n.toLong).flatMap { id =>
        // cluster of near-identical phashes so Hamming<=3 pairs are dense
        var ph = base
        val flips = rnd.nextInt(4)
        (0 until flips).foreach(_ => ph ^= 1L << rnd.nextInt(64))
        (0 until blocks).map { i =>
          (graft.hash.HashKernels.blockKey(ph, blocks, i), id, ph)
        }
      }.sortBy(_._1)
      def run(fab: Int) =
        new Dedup.BucketRunPairs(
          rows.iterator.map(r => Dedup.BandedRow(r._1, r._2, r._3)),
          3, 1 << 20, firstAgreeBlocks = fab)
          .map(p => (p.id_a, p.id_b)).toSeq
      val once = run(blocks)
      assert(once.distinct.size === once.size, s"trial=$trial: duplicate emissions")
      assert(once.toSet === run(0).toSet, s"trial=$trial: pair set changed")
    }
  }

  test("sub-bucketed runs == brute force at every class count (maxHamming 0-7)") {
    // class counts that do not divide 64 (3, 5, 6, 7) leave the top bits in
    // no class: keys merge more, but a pair within maxHamming must still
    // agree on a class, and must be emitted once
    val rnd = new scala.util.Random(17)
    for (maxHamming <- 0 to 7) {
      val base = rnd.nextLong()
      val rows = (1 to 150).map { i =>
        val ph = if (i % 3 == 0) rnd.nextLong()
          else (0 until rnd.nextInt(maxHamming + 3))
            .foldLeft(base) { (h, _) =>
              h ^ (1L << (if (rnd.nextBoolean()) 60 + rnd.nextInt(4) else rnd.nextInt(64)))
            }
        (1L, i.toLong, ph)
      }
      val got = walk(rows, maxHamming, 4096).toSeq
      assert(got.distinct.size === got.size, s"maxHamming=$maxHamming: duplicate emissions")
      assert(got.toSet === brute(rows, maxHamming, 4096), s"maxHamming=$maxHamming")
    }
  }

  test("probes: exactly the brute-force pairs with a probe endpoint, each once") {
    // runs on both sides of SubBucketMin take the cursor walk and the
    // sub-bucket pass; probes sit anywhere in a run, some runs hold none
    val rnd = new scala.util.Random(19)
    for (trial <- 0 until 20) {
      var id = 0L
      val rows = (0 until 5).flatMap { r =>
        val runLen = 1 + rnd.nextInt(2 * Dedup.BucketRunPairs.SubBucketMin)
        val base = rnd.nextLong()
        (0 until runLen).map { _ =>
          id += 1
          val ph = if (rnd.nextInt(4) == 0) rnd.nextLong()
            else base ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64))
          (r.toLong, id, ph)
        }
      }
      val probes = rows.map(_._2).filter(_ => rnd.nextInt(10) == 0).toArray.sorted
      val got = new Dedup.BucketRunPairs(rows.iterator.map(r => Dedup.BandedRow(r._1, r._2, r._3)),
        3, 4096, probes = probes).map(p => (p.id_a, p.id_b)).toSeq
      val want = brute(rows, 3, 4096)
        .filter { case (a, b) => probes.contains(a) || probes.contains(b) }
      assert(got.distinct.size === got.size, s"trial=$trial: duplicate emissions")
      assert(got.toSet === want, s"trial=$trial probes=${probes.length}")
    }
  }

  test("probes: one probe in a run of H identical members costs O(H) checks") {
    // an indexed duplicate cluster met by one new member: all H+1 share
    // every class key, so an unrestricted pass compares ~(H+1)²/2 pairs
    // per class
    val h = 3000
    val rows = (1L to h.toLong + 1).map(i => Dedup.BandedRow(0L, i, 0x0F0F0F0F12345678L))
    def acc = new org.apache.spark.util.LongAccumulator
    val ctrs = new Dedup.WalkCounters(acc, acc, acc, acc, acc, acc, acc, acc)
    val got = new Dedup.BucketRunPairs(rows.iterator, 3, 1 << 20, counters = ctrs,
      probes = Array(1500L)).map(p => (p.id_a, p.id_b)).toSet
    assert(got === rows.map(_.id).filter(_ != 1500L)
      .map(i => (math.min(i, 1500L), math.max(i, 1500L))).toSet)
    val checks = ctrs.subChecks.value + ctrs.cursorChecks.value
    assert(checks <= 4L * (h + 1), s"$checks pair checks for one probe in ${h + 1} members")
  }

  test("empty input and all-singleton input emit nothing") {
    assert(walk(Nil, 3, 8).isEmpty)
    val singles = (1L to 5L).map(i => (i, i, 0L))
    assert(walk(singles, 3, 8).isEmpty)
  }
}
