package graft.spark.expr

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch._

/** Static per-row kernels invoked from generated code (whole-stage codegen
  * emits `graft.spark.expr.Kernels.method(...)` — Scala top-level objects get
  * static forwarders). Keeping the kernels out of the Expression classes
  * keeps `doGenCode` to a single call and the JIT free to inline.
  */
object Kernels {

  @inline def toLongArray(a: ArrayData): Array[Long] = a.toLongArray()
  /** primitive-array ArrayData: `GenericArrayData(Array[Long])` boxes every
    * element (its constructor is `toArray[Any]`) — at ~460 array slots per
    * signature row that boxing dominated the narrow stages;
    * `UnsafeArrayData.fromPrimitiveArray` is one allocation + one memcpy and
    * `toLongArray()` on it is a bulk copy back (r6 optimization). */
  @inline def longs(a: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)
  @inline def doubles(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  def captionShingles(text: UTF8String, k: Int): ArrayData =
    longs(Shingles.charShinglesBytes(text.getBytes, k))

  def tokenNgrams(text: UTF8String, n: Int): ArrayData =
    longs(Shingles.tokenNgramsBytes(text.getBytes, n))

  def phashBitgrams(phash: Long, gram: Int, step: Int): ArrayData =
    longs(Shingles.phashBitgrams(phash, gram, step))

  def simhash64(features: ArrayData): Long = SimHash.simhash64(features.toLongArray())

  def bottomK(features: ArrayData, s: Int): ArrayData =
    longs(MinHash.bottomK(features.toLongArray(), s))

  def jaccardSorted(a: ArrayData, b: ArrayData, s: Int): Double =
    MinHash.jaccardBottomK(a.toLongArray(), b.toLongArray(), s)

  def containmentSorted(a: ArrayData, b: ArrayData, s: Int): Double =
    MinHash.containmentBottomK(a.toLongArray(), b.toLongArray(), s)

  def containmentSketch(features: ArrayData, factor: Int): ArrayData =
    longs(MinHash.containmentSketch(features.toLongArray(), factor))

  def containJaccard(a: ArrayData, b: ArrayData): Double =
    MinHash.containJaccard(a.toLongArray(), b.toLongArray())

  def sigJaccard(a: ArrayData, b: ArrayData): Double =
    MinHash.sigJaccard(a.toLongArray(), b.toLongArray())

  def mashDist(j: Double, k: Int): Double = MinHash.mashDistance(j, k)

  def cardinalityBottomK(a: ArrayData): Double = MinHash.cardinalityBottomK(a.toLongArray())

  def minimizers(features: ArrayData, w: Int): ArrayData =
    longs(Minimizers.minimizers(features.toLongArray(), w))

  /** exact token n-gram jaccard of two strings (the LSH confirm kernel). */
  def ngramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = Shingles.tokenNgramsBytes(a.getBytes, n)
    val sb = Shingles.tokenNgramsBytes(b.getBytes, n)
    exactJaccardSorted(sa, sb)
  }

  /** exact char k-shingle jaccard. */
  def charShingleJaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = Shingles.charShinglesBytes(a.getBytes, k)
    val sb = Shingles.charShinglesBytes(b.getBytes, k)
    exactJaccardSorted(sa, sb)
  }

  def exactJaccardSortedAD(a: ArrayData, b: ArrayData): Double =
    exactJaccardSorted(a.toLongArray(), b.toLongArray())

  /** exact jaccard of two unsigned-sorted distinct arrays (full walk, no
    * sketch-size bound). */
  def exactJaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      if (graft.hash.HashKernels.unsignedLess(a(i), b(j))) i += 1
      else if (graft.hash.HashKernels.unsignedLess(b(j), a(i))) j += 1
      else { common += 1; i += 1; j += 1 }
    }
    common.toDouble / (a.length + b.length - common)
  }

  def lcsLen(a: UTF8String, b: UTF8String): Int =
    SuffixArrays.longestCommonSubstring(a.toString, b.toString)

  def lcsConfirm(a: UTF8String, b: UTF8String, frac: Double, minAbs: Int): Boolean =
    SuffixArrays.lcsConfirm(a.toString, b.toString, frac, minAbs)

  /** interleaved pigeonhole block keys of a 64-bit hash
    * ([[graft.hash.HashKernels.blockKey]]): interleaving keeps block values
    * near-uniform and LSH buckets near-balanced, and the blocks are an exact
    * cover of Hamming ≤ blocks−1. One packed value per block, with the block
    * index in the high byte. */
  def interleavedBlockKeys(phash: Long, blocks: Int): ArrayData = {
    val out = new Array[Long](blocks)
    var i = 0
    while (i < blocks) { out(i) = graft.hash.HashKernels.blockKey(phash, blocks, i); i += 1 }
    longs(out)
  }

  // ---- DNA domain (reference parity) ----

  def dnaCanonicalKmers(seq: UTF8String, k: Int): ArrayData =
    longs(Dna.canonicalKmerHashes(seq.getBytes, k))

  def dnaRevComp(seq: UTF8String): UTF8String =
    UTF8String.fromBytes(Dna.reverseComplement(seq.getBytes))

  def dnaMinimizers(seq: UTF8String, k: Int, w: Int): ArrayData =
    longs(Minimizers.dnaMinimizers(seq.toString, k, w))

  // ---- vector kernels (ANN hot path) ----

  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  // ---- HLL scalars ----

  def hllFromFeatures(features: ArrayData, np: Int): Array[Byte] = {
    val regs = Hll.init(np)
    val xs = features.toLongArray()
    var i = 0
    while (i < xs.length) { Hll.add(regs, xs(i), np); i += 1 }
    regs
  }

  /** md5-derived xor-permutation seeds (`h63("perm" || p)`): the JVM twin of
    * the oracle SQL's seed derivation — JVM MD5 == SQL md5 by definition. */
  def md5PermSeeds(numPerm: Int): Array[Long] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) {
      val hex = digest.digest(s"perm$p".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      out(p) = ((hi << 32) | lo) & Long.MaxValue
      p += 1
    }
    out
  }

  /** one-pass xor-permutation minima: out(p) = min over hs of (h XOR
    * seeds(p)). Fold of the numPerm `array_min(transform(...))` built-in
    * formulation (byte-identical, incl. the all-null row for empty input —
    * `array_min` of an empty array is null): one traversal of the hash
    * array and zero intermediate arrays instead of numPerm of each. */
  def xorMinMinima(hs: ArrayData, seeds: Array[Long]): ArrayData = {
    val n = hs.numElements()
    val p = seeds.length
    val mins = new Array[Long](p)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    var nonNull = 0
    while (i < n) {
      // transform maps a null slot to null and array_min SKIPS nulls —
      // reading the slot as data would poison every permutation's minimum
      if (!hs.isNullAt(i)) {
        nonNull += 1
        val h = hs.getLong(i)
        var j = 0
        while (j < p) {
          val v = h ^ seeds(j)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    // array_min of an empty (or all-null) array is null
    if (nonNull == 0) return new GenericArrayData(new Array[Any](p))
    longs(mins)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of the oracle's md5half63 column (hex chars 1-8 as the high
    * 32 bits, 9-16 as the low, sign bit masked): digest bytes 0-7 directly,
    * no hex-string materialization — JVM MD5 == SQL md5 by definition, and
    * the hex-substring parse is just these bytes. */
  def md5Half63(s: UTF8String): Long = half63(md5Digest.get().digest(s.getBytes))

  /** [[md5Half63]] over a raw byte slice — the allocation-free entry for
    * kernels that assemble the digest input themselves (ASCII input ⇒ the
    * bytes ARE the UTF-8 encoding, so this is byte-identical to the
    * UTF8String path). */
  def md5Half63(buf: Array[Byte], len: Int): Long = {
    val md = md5Digest.get()
    md.update(buf, 0, len)
    half63(md.digest())
  }

  private def half63(b: Array[Byte]): Long = {
    val hi = ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
    val lo = ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
    ((hi << 32) | lo) & Long.MaxValue
  }

  /** element-wise [[md5Half63]] over a string array (null elements stay
    * null, mirroring `transform(grams, md5half63)`). */
  def md5Hashes63(grams: ArrayData): ArrayData = {
    val n = grams.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!grams.isNullAt(i)) out(i) = md5Half63(grams.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** one-pass LSH band walk keys — the codegen'd fold of the built-ins
    * chain `bandKeysMd5 ∘ bandWalkKey` (Md5ChannelsSpec):
    * per band b, content = that band's r slot minima as decimal strings
    * joined by ',' (concat_ws semantics: null slots skipped, no doubled
    * separator), bk = lowercase md5 hex of content, key =
    * md5half("b" ++ ":" ++ bk) over the FULL 64-bit range (the walk key is
    * a bucket id, not a rank — the built-ins use the unmasked md5half).
    * Two digests per band instead of a bands-wide md5+conv expression
    * forest, which blew janino's 64 KB method limit and silently dropped
    * the twins' projection stage out of whole-stage codegen to interpreted
    * eval. Domain: minima length ≥ bands·r (callers produce exactly
    * numPerm = bands·r slots). */
  def bandWalkKeys(minima: ArrayData, bands: Int, r: Int): ArrayData = {
    val md = md5Digest.get()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(r * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < r) {
        val idx = b * r + j
        if (!minima.isNullAt(idx)) {
          if (!first) sb.append(',')
          sb.append(minima.getLong(idx))
          first = false
        }
        j += 1
      }
      val d = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sb.setLength(0)
      sb.append(b).append(':')
      var i = 0
      while (i < 16) {
        val v = d(i) & 0xff
        sb.append(HexDigits(v >>> 4)).append(HexDigits(v & 0xf))
        i += 1
      }
      val d2 = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hi = ((d2(0) & 0xffL) << 24) | ((d2(1) & 0xffL) << 16) |
        ((d2(2) & 0xffL) << 8) | (d2(3) & 0xffL)
      val lo = ((d2(4) & 0xffL) << 24) | ((d2(5) & 0xffL) << 16) |
        ((d2(6) & 0xffL) << 8) | (d2(7) & 0xffL)
      out(b) = (hi << 32) | lo
      b += 1
    }
    longs(out)
  }

  /** distinct whitespace-token n-gram STRINGS in first-occurrence order —
    * the one-pass fold of the oracle twins' built-ins chain
    * `array_distinct(transform(sequence(...), i => concat_ws(" ",
    * slice(split(text, " "), i, n))))`. Split mirrors SQL `split(text, ' ')`
    * (Java regex, limit −1: consecutive spaces yield empty tokens, trailing
    * empties kept); n = 1 is the distinct token set. The built-ins form is
    * undefined below `size(split(text,' ')) >= n` (`sequence(1, k<1)`
    * descends into a slice error); there this kernel returns an empty
    * array. */
  def tokenNgramStringsDistinct(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[String]()
    if (n == 1) {
      var i = 0
      while (i < toks.length) { seen.add(toks(i)); i += 1 }
    } else {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** one-pass md5-rank OMH blocks — the codegen'd fold of the built-ins
    * formulation Md5ChannelsSpec gates it against:
    * per k-gram occurrence ONE digest h63(kmer:occ); per permutation p the
    * rank is h ^ seeds(p), the l unsigned-smallest (63-bit ⇒ signed order;
    * rank ties break on position, mirroring array_sort's struct order) win,
    * and the block is their k-grams concatenated in POSITION order.
    * Domain: single-byte-char strings of length ≥ k (the ACGT alphabet the
    * callers derive; the built-ins substr is codepoint-based so the gate in
    * Md5ChannelsSpec runs on the callers' domain). */
  def omhXorBlocks(seq: UTF8String, k: Int, l: Int, seeds: Array[Long]): ArrayData = {
    val bytes = seq.getBytes
    val n = bytes.length - k + 1
    val m = seeds.length
    val out = new Array[Any](m)
    if (n <= 0) {
      var p = 0
      while (p < m) { out(p) = UTF8String.EMPTY_UTF8; p += 1 }
      return new GenericArrayData(out)
    }
    val hs = new Array[Long](n)
    val seen = new java.util.HashMap[String, Integer](n * 2)
    // digest input assembled in place: kmer bytes, ':', occ digits — the
    // single-byte-char domain makes these bytes the UTF-8 encoding the
    // oracle SQL digests, so the hash stream is byte-identical to
    // md5(kmer || ':' || occ) in DuckDB
    val buf = new Array[Byte](k + 12)
    var i = 0
    while (i < n) {
      val km = new String(bytes, i, k, java.nio.charset.StandardCharsets.ISO_8859_1)
      val c = seen.merge(km, 1, (a, b) => a + b) - 1
      System.arraycopy(bytes, i, buf, 0, k)
      buf(k) = ':'
      var len = k + 1
      if (c == 0) { buf(len) = '0'; len += 1 }
      else {
        val start = len
        var c2 = c
        while (c2 > 0) { buf(len) = ('0' + c2 % 10).toByte; c2 /= 10; len += 1 }
        var a = start; var b = len - 1
        while (a < b) { val t = buf(a); buf(a) = buf(b); buf(b) = t; a += 1; b -= 1 }
      }
      hs(i) = md5Half63(buf, len)
      i += 1
    }
    val ll = math.min(l, n)
    val winRank = new Array[Long](ll)
    val winPos = new Array[Int](ll)
    var p = 0
    while (p < m) {
      val sd = seeds(p)
      // l-slot buffer of the smallest (rank, pos) pairs; maxIdx = current worst
      var size = 0
      var maxIdx = 0
      i = 0
      while (i < n) {
        val r = hs(i) ^ sd
        if (size < ll) {
          winRank(size) = r; winPos(size) = i
          size += 1
          if (size == ll) {
            maxIdx = 0
            var t = 1
            while (t < ll) {
              if (winRank(t) > winRank(maxIdx) ||
                (winRank(t) == winRank(maxIdx) && winPos(t) > winPos(maxIdx))) maxIdx = t
              t += 1
            }
          }
        } else if (r < winRank(maxIdx)) {
          // strict '<': on a rank tie the EARLIER position (already held)
          // wins, matching the built-ins' (rnk, pos) struct sort
          winRank(maxIdx) = r; winPos(maxIdx) = i
          maxIdx = 0
          var t = 1
          while (t < ll) {
            if (winRank(t) > winRank(maxIdx) ||
              (winRank(t) == winRank(maxIdx) && winPos(t) > winPos(maxIdx))) maxIdx = t
            t += 1
          }
        }
        i += 1
      }
      // position order = insertion-order sort of the ≤l winners
      java.util.Arrays.sort(winPos, 0, size)
      val blk = new Array[Byte](size * k)
      var j = 0
      while (j < size) { System.arraycopy(bytes, winPos(j), blk, j * k, k); j += 1 }
      out(p) = UTF8String.fromBytes(blk)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** ties-UP majority-vote 64-bit SimHash (bit set iff 2·ones ≥ n): the md5
    * oracle twin's rule, distinct from [[graft.sketch.SimHash.simhash64]]'s
    * strict 2·ones > n. One pass over the hash array — the fold of the
    * twin's former 64 `size(filter(...))` built-in passes, byte-identical
    * incl. the empty-input all-bits-set row (2·0 ≥ 0). */
  def simhashMajorityGe64(hs: ArrayData): Long = {
    val n = hs.numElements()
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      // the builtins twin's `size(filter(hs, bit-set))` drops null slots
      // from the bit counts while `size(hs)` keeps them in the denominator —
      // mirror exactly: skip nulls here, threshold against total n below
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var b = 0
        while (b < 64) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (2L * ones(b) >= n) out |= 1L << b; b += 1 }
    out
  }

  /** first band key SHARED by the two arrays — the ownership predicate of
    * the first-agreeing-band dedup in [[graft.pipeline.Dedup]]'s all-pairs
    * dense join. Fast path: one positionwise scan (two docs normally share
    * a bucket because band i's key agrees at index i). Fallback: if no
    * index agrees, an O(n²) membership scan finds the first value of `a`
    * present anywhere in `b` — the pair can still share a bucket through a
    * CROSS-band 64-bit key collision (~2⁻⁶⁴ per band pair), and without the
    * fallback a hot collision bucket would suppress the pair's only
    * emission while the oracle's value-equality join emits it. The fallback
    * makes ownership total over genuinely shared values, so the dedup is
    * lossless by construction, not just with high probability; it runs only
    * in the astronomically rare no-positionwise-agreement case. Returns 0L
    * when the arrays share no value at all (callers compare against a band
    * key that IS a shared value, so the sentinel can never spuriously
    * match). */
  def firstAgreeKey(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      if (v == b.getLong(i)) return v
      i += 1
    }
    val na = a.numElements()
    val nb = b.numElements()
    i = 0
    while (i < na) {
      val v = a.getLong(i)
      var j = 0
      while (j < nb) {
        if (v == b.getLong(j)) return v
        j += 1
      }
      i += 1
    }
    0L
  }

  @inline private def npOf(regs: Array[Byte]): Int =
    63 - java.lang.Long.numberOfLeadingZeros(regs.length.toLong)

  def hllCard(regs: Array[Byte]): Double = Hll.estimate(regs, npOf(regs))

  def hllJaccard(a: Array[Byte], b: Array[Byte]): Double = Hll.jaccardMle(a, b, npOf(a))

  def hllMergeScalar(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = a.clone()
    Hll.mergeInto(out, b)
    out
  }
}
