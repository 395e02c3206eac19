package graft.sketch

import graft.hash.HashKernels._

/** Bottom-k MinHash algebra + fixed-width k-permutation signatures.
  *
  * Semantics mirrored from the reference (re-expressed, not translated):
  *  - bottom-k sketch = the `s` smallest **distinct** 64-bit hashes in
  *    unsigned order (`/root/reference/src/MinHash.cpp:754-803` heapToList:
  *    sort → dedup → truncate to s → sort).
  *  - merge = concat, sort, dedup, keep smallest s
  *    (`/root/reference/src/MinHash.cpp:824-863`) — an associative,
  *    commutative, idempotent monoid, i.e. a Spark partial+final aggregate.
  *  - jaccard = merge-walk of two sorted lists with early stop once the
  *    union walk has consumed `s` elements, then a union-completion clamp
  *    (`/root/reference/src/MinHash.cpp:937-1055`).
  *  - mash distance d = −ln(2J/(1+J))/k clamped to [0,1]
  *    (`/root/reference/src/MinHash.cpp:1057-1085`).
  *  - cardinality ≈ 2^64·|sketch|/maxHash (`/root/reference/src/Sketch.h:89`).
  *
  * The k-permutation signature (`minhashSig`) is the fixed-width variant the
  * LSH pipeline uses (north_star: 128 permutations): slot p holds the
  * unsigned-min of `fmix64(x ^ seed_p)` over the feature set. Unlike
  * bottom-k it is slot-wise mergeable and band-sliceable.
  */
object MinHash {

  /** smallest `s` distinct values of `hashes` in unsigned order (ascending). */
  def bottomK(hashes: Array[Long], s: Int): Array[Long] = {
    if (hashes.isEmpty) return Array.emptyLongArray
    val sorted = hashes.map(unsignedSortKey)
    java.util.Arrays.sort(sorted)
    val out = new Array[Long](math.min(s, sorted.length))
    var n = 0
    var i = 0
    var prev = 0L
    while (i < sorted.length && n < s) {
      val v = sorted(i)
      if (n == 0 || v != prev) { out(n) = v ^ Long.MinValue; n += 1; prev = v }
      i += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** merge two sorted-unsigned distinct lists, keep smallest s. */
  def mergeBottomK(a: Array[Long], b: Array[Long], s: Int): Array[Long] = {
    val out = new Array[Long](math.min(s, a.length + b.length))
    var i = 0; var j = 0; var n = 0
    while (n < s && (i < a.length || j < b.length)) {
      val takeA =
        j >= b.length || (i < a.length && !unsignedLess(b(j), a(i)))
      val v =
        if (takeA) { val x = a(i); i += 1; if (j < b.length && b(j) == x) j += 1; x }
        else { val x = b(j); j += 1; x }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** Reference jaccard: early-stop merge walk bounded by sketchSize. */
  def jaccardBottomK(a: Array[Long], b: Array[Long], sketchSize: Int): Double = {
    var i = 0; var j = 0
    var common = 0L; var denom = 0L
    while (denom < sketchSize && i < a.length && j < b.length) {
      if (unsignedLess(a(i), b(j))) i += 1
      else if (unsignedLess(b(j), a(i))) j += 1
      else { i += 1; j += 1; common += 1 }
      denom += 1
    }
    if (denom < sketchSize) {
      if (i < a.length) denom += a.length - i
      if (j < b.length) denom += b.length - j
      if (denom > sketchSize) denom = sketchSize
    }
    if (denom == 0) 0.0 else common.toDouble / denom.toDouble
  }

  /** Containment: common / min(|A|, |B|) with the same early-stop walk
    * (`/root/reference/src/MinHash.cpp:865-934`). */
  def containmentBottomK(a: Array[Long], b: Array[Long], sketchSize: Int): Double = {
    var i = 0; var j = 0
    var common = 0L; var denom = 0L
    while (denom < sketchSize && i < a.length && j < b.length) {
      if (unsignedLess(a(i), b(j))) i += 1
      else if (unsignedLess(b(j), a(i))) j += 1
      else { i += 1; j += 1; common += 1 }
      denom += 1
    }
    val minLen = math.min(a.length, b.length)
    if (minLen == 0) 0.0 else common.toDouble / math.min(minLen.toLong, sketchSize.toLong)
  }

  /** CONTAINMENT-MODE sketch (`/root/reference/src/Sketch.h:63-66`,
    * `MinHash.cpp:817-823`): sketch size is PROPORTIONAL to the feature
    * stream length (the reference constructs `MinHash(k, size = len/factor)`
    * for genome containment), so a long reference genome keeps
    * proportionally more hashes than a short query. NON-MERGEABLE by
    * design, exactly like the reference (`MinHash.cpp:822`: "does not
    * support merge operation since the sketchSize is not fixed size") —
    * merging two proportional sketches under either length would bias the
    * containment denominator; re-sketch the concatenated stream instead. */
  def containmentSketch(hashes: Array[Long], factor: Int): Array[Long] =
    bottomK(hashes, math.max(1, hashes.length / math.max(1, factor)))

  /** reference `containJaccard` (`/root/reference/src/MinHash.cpp:865-934`):
    * FULL merge walk of both sorted lists — unlike [[jaccardBottomK]] there
    * is no early stop at a fixed sketch size — common / min(|A|, |B|). */
  def containJaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0
    var common = 0L
    while (i < a.length && j < b.length) {
      if (unsignedLess(a(i), b(j))) i += 1
      else if (unsignedLess(b(j), a(i))) j += 1
      else { i += 1; j += 1; common += 1 }
    }
    val denom = math.min(a.length, b.length)
    if (denom == 0) 0.0 else common.toDouble / denom
  }

  def mashDistance(jaccard: Double, kmerSize: Int): Double = {
    if (jaccard <= 0.0) 1.0
    else if (jaccard == 1.0) 0.0
    else {
      val d = -math.log(2 * jaccard / (1.0 + jaccard)) / kmerSize
      if (d > 1.0) 1.0 else d
    }
  }

  @inline def unsignedToDouble(x: Long): Double =
    if (x >= 0) x.toDouble else ((x >>> 1).toDouble * 2.0) + (x & 1L)

  /** streaming cardinality: 2^64 · |sketch| / maxHash */
  def cardinalityBottomK(sorted: Array[Long]): Double = {
    if (sorted.isEmpty) 0.0
    else {
      val top = unsignedToDouble(sorted(sorted.length - 1))
      if (top == 0.0) sorted.length.toDouble
      else sorted.length.toDouble * math.pow(2.0, 64) / top
    }
  }

  /** affine permutation constants: splitmix64 stream from `seed`
    * (deterministic). Layout: first half multipliers (forced odd ⇒ each
    * `a_p·x + b_p mod 2^64` is a bijection of the hash space), second half
    * addends. */
  def permAffine(numPerm: Int, seed: Long): Array[Long] = {
    val g = new SplitMix64(seed)
    val out = new Array[Long](2 * numPerm)
    var p = 0
    while (p < numPerm) { out(p) = g.nextLong() | 1L; p += 1 }
    while (p < 2 * numPerm) { out(p) = g.nextLong(); p += 1 }
    out
  }

  /** One-time per-JVM probe of the Panama SIMD kernel ([[VectorMinHash]]):
    * usable iff the incubator module is on the module path (build.sbt adds
    * `--add-modules jdk.incubator.vector` to forked run/test JVMs; plain
    * spark-submit executors without the flag fall back to the scalar loop)
    * AND a self-test reproduces the scalar path bit-for-bit on a planted
    * input. The kernel is exact integer arithmetic per permutation slot, so
    * agreement on any input implies agreement on all — the self-test guards
    * against classloading/species surprises, not arithmetic. A JVM that
    * falls back logs one WARN naming the cause ([[vectorKernelProblem]]). */
  private[graft] lazy val vectorKernelUsable: Boolean = {
    val problem = vectorKernelProblem(
      ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent,
      (f, a) => VectorMinHash.sig(f, a))
    problem.foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    problem.isEmpty
  }

  /** Why the SIMD kernel is unusable, or None when it is usable: the
    * incubator module is not loaded, or `kernel` does not reproduce the
    * scalar loop bit-for-bit on a planted input. */
  private[graft] def vectorKernelProblem(modulePresent: Boolean,
      kernel: (Array[Long], Array[Long]) => Array[Long]): Option[String] = {
    val fallback = "MinHash signatures use the scalar kernel (~5x slower)"
    if (!modulePresent)
      Some(s"$fallback: module jdk.incubator.vector is missing; " +
        "add --add-modules jdk.incubator.vector to the JVM options")
    else try {
      val feats = Array.tabulate(67)(i => fmix64(i * 0x9e3779b97f4a7c15L))
      val aff = permAffine(128, 42L)
      if (java.util.Arrays.equals(kernel(feats, aff), minhashSigScalar(feats, aff))) None
      else Some(s"$fallback: the SIMD kernel self-test mismatched the scalar loop")
    } catch {
      case t: Throwable => Some(s"$fallback: the SIMD kernel self-test threw $t")
    }
  }

  /** k-permutation signature over 64-bit affine permutations:
    * `sig(p) = min_x (a_p·fmix64(x) + b_p)` (mod 2^64; a_p odd ⇒ bijection) —
    * the same construction as Spark MLlib's `MinHashLSH`, widened to 64 bits.
    * The fmix64 pre-mix decorrelates raw features once per feature, so the
    * cheap affine family behaves as independent permutations (accuracy
    * property-tested in SketchAlgebraSpec). Empty feature set → all-(-1L)
    * (unsigned max) sentinel.
    *
    * Dispatches to the Panama SIMD kernel when usable (r6: C2 on JDK 17
    * does NOT auto-vectorize the long-min inner loop — measured 28.7 µs/row
    * scalar vs 3-8 µs vectorized at 128 perms × ~143 features, the largest
    * kernel of the signature stage); both paths are bit-identical (per-JVM
    * self-test + SketchAlgebraSpec property). */
  def minhashSig(features: Array[Long], affine: Array[Long]): Array[Long] =
    if (vectorKernelUsable) VectorMinHash.sig(features, affine)
    else minhashSigScalar(features, affine)

  /** the scalar loop — fallback for JVMs without the incubator module. */
  private[graft] def minhashSigScalar(features: Array[Long], affine: Array[Long]): Array[Long] = {
    val m = affine.length >> 1
    val sig = new Array[Long](m)
    java.util.Arrays.fill(sig, Long.MaxValue) // == unsigned max, sign-biased
    var i = 0
    while (i < features.length) {
      val h0 = fmix64(features(i))
      var p = 0
      while (p < m) {
        val v = (affine(p) * h0 + affine(m + p)) ^ Long.MinValue
        sig(p) = Math.min(sig(p), v)
        p += 1
      }
      i += 1
    }
    var p = 0
    while (p < m) { sig(p) ^= Long.MinValue; p += 1 } // un-bias
    sig
  }

  /** slot-wise monoid merge of k-perm signatures (unsigned min). */
  def mergeSig(a: Array[Long], b: Array[Long]): Array[Long] = {
    require(a.length == b.length, s"signature width mismatch: ${a.length} != ${b.length}")
    val out = new Array[Long](a.length)
    var i = 0
    while (i < a.length) { out(i) = if (unsignedLess(a(i), b(i))) a(i) else b(i); i += 1 }
    out
  }

  /** J estimate from k-perm signatures = fraction of matching slots. */
  def sigJaccard(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length, s"signature width mismatch: ${a.length} != ${b.length}")
    if (a.length == 0) return 0.0
    var eq = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  /** LSH band keys: one 64-bit hash per band of `rowsPerBand` consecutive
    * slots; band index is mixed in so identical row-content in different
    * bands cannot collide. */
  def bandKeys(sig: Array[Long], numBands: Int, rowsPerBand: Int): Array[Long] = {
    require(numBands * rowsPerBand <= sig.length,
      s"bands($numBands)×rows($rowsPerBand) exceeds signature width ${sig.length}")
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = fmix64(0x9e3779b97f4a7c15L ^ b.toLong)
      var r = 0
      while (r < rowsPerBand) {
        h = fmix64(h ^ sig(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = h
      b += 1
    }
    keys
  }
}
