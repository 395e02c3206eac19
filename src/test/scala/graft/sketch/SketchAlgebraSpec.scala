package graft.sketch

import org.scalatest.funsuite.AnyFunSuite
import graft.hash.HashKernels
import graft.hash.HashKernels.SplitMix64

/** Property/accuracy tests mirroring the reference's implicit contracts
  * (SURVEY.md §5.2, FIXTURES.md §F2): estimator accuracy, monotonicity,
  * merge laws. All inputs synthesized with fixed seeds. */
class SketchAlgebraSpec extends AnyFunSuite {

  def randSet(seed: Long, n: Int): Array[Long] = {
    val g = new SplitMix64(seed)
    val s = new java.util.HashSet[java.lang.Long]()
    while (s.size < n) s.add(g.nextLong())
    val out = new Array[Long](n)
    val it = s.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** two sets with exact jaccard ~ j: share `c` elements, each has `n` total */
  def overlappingSets(seed: Long, n: Int, common: Int): (Array[Long], Array[Long], Double) = {
    val shared = randSet(seed, common)
    val onlyA = randSet(seed + 1, n - common)
    val onlyB = randSet(seed + 2, n - common)
    val a = shared ++ onlyA
    val b = shared ++ onlyB
    val exactJ = common.toDouble / (2 * n - common)
    (a, b, exactJ)
  }

  // ---- bottom-k MinHash ----

  test("bottomK returns sorted distinct unsigned-smallest") {
    val in = Array(5L, -1L, 5L, 3L, Long.MinValue, 0L)
    val bk = MinHash.bottomK(in, 4)
    assert(bk.toSeq === Seq(0L, 3L, 5L, Long.MinValue)) // unsigned order: 0,3,5,2^63
  }

  test("bottomK jaccard estimate within c/sqrt(s) of exact") {
    val s = 1000
    for ((n, common) <- Seq((20000, 10000), (20000, 16000), (20000, 2000))) {
      val (a, b, exactJ) = overlappingSets(42 + n + common, n, common)
      val ska = MinHash.bottomK(a.map(HashKernels.fmix64), s)
      val skb = MinHash.bottomK(b.map(HashKernels.fmix64), s)
      val est = MinHash.jaccardBottomK(ska, skb, s)
      val tol = 4.0 / math.sqrt(s.toDouble)
      assert(math.abs(est - exactJ) <= tol, s"exact=$exactJ est=$est n=$n common=$common")
    }
  }

  test("bottomK merge: associative, commutative, equals single-pass") {
    val xs = randSet(7, 5000).map(HashKernels.fmix64)
    val s = 500
    val parts = xs.grouped(1111).toArray
    val merged = parts.map(p => MinHash.bottomK(p, s)).reduce((a, b) => MinHash.mergeBottomK(a, b, s))
    val single = MinHash.bottomK(xs, s)
    assert(merged.toSeq === single.toSeq)
    val m1 = MinHash.mergeBottomK(MinHash.bottomK(parts(0), s), MinHash.bottomK(parts(1), s), s)
    val m2 = MinHash.mergeBottomK(MinHash.bottomK(parts(1), s), MinHash.bottomK(parts(0), s), s)
    assert(m1.toSeq === m2.toSeq)
  }

  test("identical sets → jaccard 1, mash distance 0") {
    val a = MinHash.bottomK(randSet(9, 3000).map(HashKernels.fmix64), 1000)
    assert(MinHash.jaccardBottomK(a, a, 1000) === 1.0)
    assert(MinHash.mashDistance(1.0, 21) === 0.0)
  }

  test("bottomK cardinality estimate within 10% for n >= 10k") {
    for (n <- Seq(10000, 100000)) {
      val sk = MinHash.bottomK(randSet(11 + n, n).map(HashKernels.fmix64), 1000)
      val est = MinHash.cardinalityBottomK(sk)
      assert(math.abs(est - n) / n < 0.10, s"n=$n est=$est")
    }
  }

  // ---- k-perm signature ----

  test("containment-mode sketch: proportional size, containJaccard accurate on nested sets") {
    val g = new SplitMix64(991)
    val b = randSet(97, 60000)
    val aContained = b.take(12000)
    for (c <- Seq(1.0, 0.5, 0.2)) {
      val nIn = (12000 * c).toInt
      val a = aContained.take(nIn) ++ randSet(991 + nIn, 12000 - nIn)
      val exact = {
        val sa = a.toSet; val sb = b.toSet
        sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size)
      }
      val f = 20
      val skA = MinHash.containmentSketch(a, f)
      val skB = MinHash.containmentSketch(b, f)
      // size proportional to the stream length — the containment-mode
      // contract (Sketch.h:63-66); unequal sizes are the point
      assert(skA.length === a.length / f)
      assert(skB.length === b.length / f)
      val est = MinHash.containJaccard(skA, skB)
      assert(math.abs(est - exact) <= 4.0 / math.sqrt(12000.0 / f),
        s"c=$c exact=$exact est=$est")
    }
    // degenerate: empty side → 0, factor larger than stream → size 1
    assert(MinHash.containJaccard(Array.emptyLongArray, Array(1L)) === 0.0)
    assert(MinHash.containmentSketch(Array(3L, 1L), 100).length === 1)
  }

  test("128-perm signature jaccard estimate within 4/sqrt(128)") {
    val seeds = MinHash.permAffine(128, 42)
    val (a, b, exactJ) = overlappingSets(13, 5000, 3000)
    val est = MinHash.sigJaccard(MinHash.minhashSig(a, seeds), MinHash.minhashSig(b, seeds))
    assert(math.abs(est - exactJ) <= 4.0 / math.sqrt(128.0), s"exact=$exactJ est=$est")
  }

  test("SIMD minhash kernel is bit-identical to the scalar loop (r6)") {
    // the forked test JVM carries --add-modules jdk.incubator.vector
    // (build.sbt), so the vector path must actually engage here — a silent
    // fallback would leave the shipped kernel untested
    assert(MinHash.vectorKernelUsable,
      "vector kernel not usable in the test JVM — check --add-modules jdk.incubator.vector")
    val rnd = new SplitMix64(7L)
    // perm counts off the 8-lane multiple exercise the vector tail loop;
    // empty/singleton features exercise the sentinel path
    for (numPerm <- Seq(1, 7, 8, 13, 64, 128); nFeat <- Seq(0, 1, 5, 143, 1000)) {
      val affine = MinHash.permAffine(numPerm, 42L)
      val feats = Array.fill(nFeat)(rnd.nextLong())
      assert(VectorMinHash.sig(feats, affine).toSeq
        === MinHash.minhashSigScalar(feats, affine).toSeq,
        s"numPerm=$numPerm nFeat=$nFeat")
    }
  }

  test("SIMD kernel fallback names its cause") {
    assert(MinHash.vectorKernelProblem(modulePresent = true, VectorMinHash.sig) === None)
    val missing = MinHash.vectorKernelProblem(modulePresent = false, VectorMinHash.sig)
    assert(missing.exists(_.contains("module jdk.incubator.vector is missing")), missing)
    val wrong = MinHash.vectorKernelProblem(modulePresent = true,
      (f, a) => MinHash.minhashSigScalar(f, a).map(_ ^ 1L))
    assert(wrong.exists(_.contains("self-test mismatched")), wrong)
    val thrown = MinHash.vectorKernelProblem(modulePresent = true,
      (_, _) => throw new NoClassDefFoundError("jdk/incubator/vector/LongVector"))
    assert(thrown.exists(_.contains("self-test threw")), thrown)
    // every cause says what the JVM falls back to
    for (p <- Seq(missing, wrong, thrown)) assert(p.exists(_.contains("scalar kernel")), p)
  }

  test("signature merge law: sig(A ∪ B) = mergeSig(sig(A), sig(B))") {
    val seeds = MinHash.permAffine(128, 42)
    val a = randSet(15, 1000)
    val b = randSet(16, 1000)
    assert(MinHash.mergeSig(MinHash.minhashSig(a, seeds), MinHash.minhashSig(b, seeds)).toSeq
      === MinHash.minhashSig(a ++ b, seeds).toSeq)
  }

  test("band keys: equal sigs share all bands; disjoint rarely collide") {
    val seeds = MinHash.permAffine(128, 42)
    val a = MinHash.minhashSig(randSet(17, 500), seeds)
    val b = MinHash.minhashSig(randSet(18, 500), seeds)
    assert(MinHash.bandKeys(a, 32, 4).toSeq === MinHash.bandKeys(a, 32, 4).toSeq)
    val shared = MinHash.bandKeys(a, 32, 4).toSet intersect MinHash.bandKeys(b, 32, 4).toSet
    assert(shared.isEmpty)
  }

  // ---- SimHash ----

  test("simhash: identical → hamming 0; near sets → small hamming; far → ~32") {
    val (a, b, _) = overlappingSets(21, 4000, 3800)
    val ha = SimHash.simhash64(a)
    val hb = SimHash.simhash64(b)
    assert(SimHash.hamming(ha, ha) === 0)
    assert(SimHash.hamming(ha, hb) < 16, s"near hamming=${SimHash.hamming(ha, hb)}")
    val far = SimHash.simhash64(randSet(23, 4000))
    assert(SimHash.hamming(ha, far) > 16, s"far hamming=${SimHash.hamming(ha, far)}")
  }

  test("simhash block keys: hamming<=3 with 4 blocks shares a key") {
    val h = 0x0123456789abcdefL
    val h2 = h ^ (1L << 5) ^ (1L << 40) ^ (1L << 63)
    assert(SimHash.blockKeys(h, 4).toSet.intersect(SimHash.blockKeys(h2, 4).toSet).nonEmpty)
  }

  // ---- HLL ----

  test("HLL relative error ~1.04/sqrt(m) for np in {10,12,14}") {
    for (np <- Seq(10, 12, 14); n <- Seq(1000, 100000)) {
      val regs = Hll.init(np)
      val g = new SplitMix64(31 + np + n)
      var i = 0
      while (i < n) { Hll.add(regs, g.nextLong(), np); i += 1 }
      val est = Hll.estimate(regs, np)
      val tol = 5 * 1.04 / math.sqrt((1 << np).toDouble)
      assert(math.abs(est - n) / n <= tol, s"np=$np n=$n est=$est")
    }
  }

  test("HLL merge = union; merge laws hold") {
    val np = 12
    val a = Hll.init(np); val b = Hll.init(np); val u = Hll.init(np)
    val g = new SplitMix64(37)
    val xs = Array.fill(50000)(g.nextLong())
    xs.take(30000).foreach(Hll.add(a, _, np))
    xs.drop(20000).foreach(Hll.add(b, _, np))
    xs.foreach(Hll.add(u, _, np))
    val m = a.clone()
    Hll.mergeInto(m, b)
    assert(m.toSeq === u.toSeq)
    val m2 = b.clone(); Hll.mergeInto(m2, a)
    assert(m2.toSeq === m.toSeq)
  }

  test("HLL joint MLE jaccard within tolerance of exact overlap") {
    val np = 14
    val n = 40000; val common = 20000
    val (xs, ys, exactJ) = overlappingSets(41, n, common)
    val a = Hll.init(np); val b = Hll.init(np)
    xs.foreach(Hll.add(a, _, np))
    ys.foreach(Hll.add(b, _, np))
    val est = Hll.jaccardMle(a, b, np)
    assert(math.abs(est - exactJ) < 0.05, s"exact=$exactJ est=$est")
    val estIE = Hll.jaccardIncExc(a, b, np)
    assert(math.abs(estIE - exactJ) < 0.05, s"exact=$exactJ estIE=$estIE")
  }

  test("HLL estimators: ORIGINAL and ERTL_IMPROVED also in range") {
    val np = 12; val n = 75000
    val regs = Hll.init(np)
    val g = new SplitMix64(43)
    (0 until n).foreach(_ => Hll.add(regs, g.nextLong(), np))
    for (m <- Seq(Hll.EstOriginal, Hll.EstErtlImproved, Hll.EstErtlMle)) {
      val est = Hll.estimate(regs, np, m)
      assert(math.abs(est - n) / n < 0.1, s"method=$m est=$est")
    }
  }

  test("HLL empty sketch estimates ~0") {
    assert(Hll.estimate(Hll.init(12), 12) <= 1.0)
  }

  // ---- OrderMinHash ----

  def mutate(s: String, edits: Int, seed: Long): String = {
    val g = new SplitMix64(seed)
    val chars = s.toCharArray
    val alphabet = "abcdefghijklmnopqrstuvwxyz "
    var i = 0
    while (i < edits) {
      val pos = ((g.nextLong() >>> 1) % chars.length).toInt
      chars(pos) = alphabet(((g.nextLong() >>> 1) % alphabet.length).toInt)
      i += 1
    }
    new String(chars)
  }

  test("OMH: identical → 1.0; similarity monotone in edit count") {
    val g = new SplitMix64(47)
    val base = (0 until 2000).map(_ => ('a' + ((g.nextLong() >>> 1) % 4).toInt).toChar).mkString
    val bytes = base.getBytes("UTF-8")
    val sk = OrderMinHash.sketch(bytes, 8, 2, 128, 32)
    assert(OrderMinHash.similarity(sk, sk) === 1.0)
    val sims = Seq(5, 50, 500).map { e =>
      val sk2 = OrderMinHash.sketch(mutate(base, e, 100 + e).getBytes("UTF-8"), 8, 2, 128, 32)
      OrderMinHash.similarity(sk, sk2)
    }
    assert(sims(0) > sims(1) && sims(1) > sims(2), s"sims=$sims")
    assert(sims(0) > 0.5 && sims(2) < 0.2, s"sims=$sims")
  }

  test("OMH is order-sensitive where plain MinHash is not") {
    val a = "the quick brown fox jumps over the lazy dog " * 20
    val b = a.split(' ').reverse.mkString(" ") + " " // same word multiset, reversed order
    val ska = OrderMinHash.sketch(a.getBytes("UTF-8"), 6, 2, 128, 32)
    val skb = OrderMinHash.sketch(b.getBytes("UTF-8"), 6, 2, 128, 32)
    assert(OrderMinHash.similarity(ska, skb) < 0.6)
  }

  // ---- CWS / weighted minhash ----

  test("CWS weighted jaccard tracks exact weighted jaccard") {
    val dim = 256
    val s = 200
    val draws = Cws.genDraws(s, dim, 1)
    val g = new SplitMix64(53)
    val histA = Array.tabulate(64)(i => (i, 1.0 + ((g.nextLong() >>> 1) % 10).toDouble))
    // B: same bins, perturbed weights on half of them
    val histB = histA.map { case (b, w) =>
      (b, if (b % 2 == 0) w else w + ((g.nextLong() >>> 1) % 5).toDouble)
    }
    def exactWJ(a: Array[(Int, Double)], b: Array[(Int, Double)]): Double = {
      val bm = b.toMap
      val am = a.toMap
      val keys = am.keySet ++ bm.keySet
      val inter = keys.toSeq.map(k => math.min(am.getOrElse(k, 0.0), bm.getOrElse(k, 0.0))).sum
      val uni = keys.toSeq.map(k => math.max(am.getOrElse(k, 0.0), bm.getOrElse(k, 0.0))).sum
      inter / uni
    }
    val (sa, wa) = Cws.cwsSketch(histA.iterator, draws)
    val (sb, wb) = Cws.cwsSketch(histB.iterator, draws)
    val est = Cws.weightedJaccard(sa, wa, sb, wb)
    val exact = exactWJ(histA, histB)
    assert(math.abs(est - exact) < 0.15, s"exact=$exact est=$est")
    assert(Cws.weightedJaccard(sa, wa, sa, wa) === 1.0)
  }

  // ---- minimizers ----

  test("DNA minimizers: deterministic, subset stability under window") {
    val g = new SplitMix64(59)
    val s = (0 until 5000).map(_ => "ACGT"(((g.nextLong() >>> 1) % 4).toInt)).mkString
    val m1 = Minimizers.dnaMinimizers(s, 21, 20)
    val m2 = Minimizers.dnaMinimizers(s, 21, 20)
    assert(m1.toSeq === m2.toSeq)
    assert(m1.nonEmpty && m1.length < s.length)
    // identical prefix shares most minimizers
    val m3 = Minimizers.dnaMinimizers(s.substring(0, 4000), 21, 20)
    val shared = m1.toSet.intersect(m3.toSet).size.toDouble / m3.length
    assert(shared > 0.95, s"shared=$shared")
  }

  test("DNA minimizers == unsigned brute-force windowed min (incl. w > k and k ≥ 28)") {
    // reference semantics (histoSketch.cpp:95-216): x = hash64 << 8 |
    // (uint64_t)kmerSpan compared as uint64. The two regimes that make
    // signedness observable: w > k (early kmerSpan ≤ 0 sign-extends to a
    // huge uint64 that must NEVER win a window) and k ≥ 28 (hash << 8 can
    // set bit 63). A brute-force windowed min over the same key stream,
    // compared unsigned, is the oracle.
    def brute(s: String, k: Int, w: Int): Set[Long] = {
      val len = s.length
      if (len < 1 || len < w + k - 1) return Set.empty
      val nt = Map('A' -> 0L, 'C' -> 1L, 'G' -> 2L, 'T' -> 3L)
      var fwd = 0L
      var rev = 0L
      val bitmask = (1L << (2 * k)) - 1
      val bitshift = 2L * (k - 1)
      val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      val out = scala.collection.mutable.Set.empty[Long]
      for (i <- 0 until len) {
        val windowIndex = i - w + 1
        val c = nt(s.charAt(i))
        val kmerSpan = if (windowIndex + 1 < k) windowIndex + 1 else k
        fwd = ((fwd << 2) | c) & bitmask
        rev = (rev >>> 2) | ((3L ^ c) << bitshift)
        if (i >= k - 1 && fwd != rev) {
          val strand = if (java.lang.Long.compareUnsigned(fwd, rev) > 0) rev else fwd
          val x = (HashKernels.wangHash64(strand, bitmask) << 8) | kmerSpan.toLong
          entries += ((x, i))
          if (windowIndex >= 0) {
            val window = entries.filter(_._2 > i - w).map(_._1)
            out += window.min(Ordering.fromLessThan[Long](
              (a, b) => java.lang.Long.compareUnsigned(a, b) < 0))
          }
        }
      }
      out.toSet
    }
    val g = new SplitMix64(101)
    val s = (0 until 800).map(_ => "ACGT"(((g.nextLong() >>> 1) % 4).toInt)).mkString
    for ((k, w) <- Seq((4, 20), (7, 31), (21, 20), (30, 12), (28, 40)))
      assert(Minimizers.dnaMinimizers(s, k, w).toSet === brute(s, k, w),
        s"divergence at k=$k w=$w")
  }

  test("kmer spectrum: total frequency = minimizer count") {
    val m = Minimizers.dnaMinimizers("ACGTTGCAACGGTTAACCGGTTAA" * 50, 7, 5)
    val spec = Minimizers.kmerSpectrum(m, 1024)
    assert(spec.map(_._2).sum === m.length.toDouble)
  }

  // ---- suffix arrays ----

  test("LCS via suffix array matches brute force") {
    val cases = Seq(
      ("banana", "ananas", 5),     // "anana"
      ("abcdef", "ghijkl", 0),
      ("hello world", "world hello", 5), // "hello" or "world"
      ("aaaa", "aaaa", 4),
      ("", "abc", 0))
    for ((a, b, expect) <- cases)
      assert(SuffixArrays.longestCommonSubstring(a, b) === expect, s"a=$a b=$b")
  }

  test("LCS confirm on near-dup captions") {
    val a = "a photo of a red car parked near the beach at sunset"
    val b = "one photo of a red car parked near the beach at sundown"
    assert(SuffixArrays.lcsConfirm(a, b, 0.5, 10))
    assert(!SuffixArrays.lcsConfirm(a, "completely different text here", 0.5, 10))
  }

  // ---- union find ----

  test("union-find components with min-id labels") {
    val uf = new UnionFind
    uf.union(1, 2); uf.union(2, 3); uf.union(10, 11); uf.find(99)
    val c = uf.components()
    assert(c(1) === 1 && c(2) === 1 && c(3) === 1)
    assert(c(10) === 10 && c(11) === 10)
    assert(c(99) === 99)
  }

  test("byte-path shingle kernels are bit-identical to the String path") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val g = new SplitMix64(99L)
    val alphabets = Seq(
      "abcdefgh ",                  // plain ASCII with single spaces
      "ab  \t\n\f\r xyz",     // every \s class byte, runs of ws
      "abcäöü日本語 ",               // multi-byte UTF-8
      "a😀b ",            // astral (surrogate pair, 4-byte UTF-8)
      " ")                          // ws-only
    val cases = Seq("", " ", "  ", "a", "ab", "a b", " a b ", "ä", "日本 語 本") ++
      (1 to 400).map { i =>
        val alpha = alphabets(i % alphabets.length)
        val len = (g.nextLong() >>> 58).toInt // 0..63
        val sb = new StringBuilder
        var j = 0
        while (j < len) {
          sb.append(alpha(((g.nextLong() >>> 1) % alpha.length).toInt))
          j += 1
        }
        sb.toString
      }
    for (s <- cases; k <- Seq(1, 2, 5, 8); n <- Seq(1, 2, 3)) {
      val bytes = s.getBytes(utf8)
      assert(java.util.Arrays.equals(
        Shingles.charShinglesBytes(bytes, k), Shingles.charShingles(s, k)),
        s"charShingles mismatch on '$s' k=$k")
      assert(java.util.Arrays.equals(
        Shingles.tokenNgramsBytes(bytes, n), Shingles.tokenNgrams(s, n)),
        s"tokenNgrams mismatch on '$s' n=$n")
    }
  }
}
