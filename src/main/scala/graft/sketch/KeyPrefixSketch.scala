package graft.sketch

import graft.hash.HashKernels.fmix64

/** Which bucket keys of a frame more than one keyed row carries: a bitmap
  * over the keys' 31-bit hash prefixes whose bit is set when at least two
  * keyed rows map to it. A row whose bit is clear shares its key with no
  * other row, so it sits alone in its bucket and can never pair; the walk
  * drops it before its exchange. A prefix collision only sets an extra bit
  * (a singleton is kept), never clears one, so the filter is lossless.
  *
  * The sketch is mergeable, as SetSketch's register arrays are (VLDB 2021):
  * each task encodes its own keys ([[encode]]), and the driver merges the
  * task payloads into one bitmap ([[merge]]). A task's payload is its
  * distinct prefixes, ascending, each with the number of its keys that
  * carry it, as varint gaps `gap << 1 | several` followed, when several, by
  * `count - 2`: about 2-3 bytes per distinct key, where a raw bitmap per
  * task would cost the full bitmap width. */
object KeyPrefixSketch {

  /** a key's 31-bit hash prefix (keys such as pHash block keys are not
    * uniform, so the prefix comes from a mix of the whole key) */
  @inline def prefix(key: Long): Int = (fmix64(key) >>> 33).toInt

  /** One task's sketch over the first `n` of `prefixes` (sorted in place):
    * its number of distinct prefixes and its payload, null when the
    * encoding would pass `maxBytes0`. */
  def encode(prefixes: Array[Int], n: Int, maxBytes0: Long): (Long, Array[Byte]) = {
    sort(prefixes, n)
    val maxBytes = math.min(maxBytes0, Int.MaxValue - 16L)
    var out = new Array[Byte](math.min(math.max(16L, n * 3L), math.max(16L, maxBytes)).toInt)
    var len = 0
    def put(v0: Long): Boolean = {
      if (len + 10 > out.length) {
        if (out.length >= maxBytes) return false
        out = java.util.Arrays.copyOf(out, math.min(maxBytes, out.length * 2L + 10).toInt)
      }
      var v = v0
      while ((v & ~0x7fL) != 0) { out(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      out(len) = v.toByte; len += 1
      true
    }
    var entries = 0L
    var i = 0
    var last = 0
    while (i < n) {
      val p = prefixes(i)
      var j = i + 1
      while (j < n && prefixes(j) == p) j += 1
      val count = j - i
      if (!put(((p - last).toLong << 1) | (if (count > 1) 1L else 0L)) ||
          (count > 1 && !put(count - 2L)) || len > maxBytes) return (0L, null)
      entries += 1
      last = p
      i = j
    }
    (entries, java.util.Arrays.copyOf(out, len))
  }

  /** Sorts the first `n` of non-negative 31-bit `a` ascending: an LSD radix
    * sort over three 11-bit digits. A comparison sort of a task's prefixes
    * took ~70 ns per key, most of the planning job's task time. */
  private def sort(a: Array[Int], n: Int): Unit =
    if (n < 1024) java.util.Arrays.sort(a, 0, n)
    else {
      var src = a
      var dst = new Array[Int](n)
      val start = new Array[Int](2048)
      var shift = 0
      while (shift < 31) {
        java.util.Arrays.fill(start, 0)
        var i = 0
        while (i < n) { start((src(i) >>> shift) & 2047) += 1; i += 1 }
        var sum = 0
        var d = 0
        while (d < 2048) { val c = start(d); start(d) = sum; sum += c; d += 1 }
        i = 0
        while (i < n) {
          val v = src(i)
          val k = (v >>> shift) & 2047
          dst(start(k)) = v
          start(k) += 1
          i += 1
        }
        val t = src; src = dst; dst = t
        shift += 11
      }
      System.arraycopy(src, 0, a, 0, n) // three passes leave the keys in the scratch array
    }

  /** calls `f(prefix, count)` for each entry of a payload, ascending */
  @inline def foreach(payload: Array[Byte])(f: (Int, Long) => Unit): Unit = {
    var pos = 0
    def varint(): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        val b = payload(pos)
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
        more = b < 0
      }
      v
    }
    var last = 0
    while (pos < payload.length) {
      val v = varint()
      last += (v >>> 1).toInt
      f(last, if ((v & 1L) == 0L) 1L else varint() + 2L)
    }
  }

  /** The merged sketch: the bitmap words of `2^log2` bits, indexed by a
    * prefix's top `log2` bits, and how many of the merged keys it keeps. */
  final case class Merged(bits: Array[Long], log2: Int, kept: Long)

  /** Merges task payloads that hold `entries` entries in all into a bitmap
    * of about 8 bits per entry (a power of two, at most `2^maxLog2` bits and
    * never past the 31-bit prefix): a bit is set when an entry at its index
    * counts several keys or a second entry maps there. One pass: a bit that
    * is seen but not set was seen once, by an entry of one key, so the
    * entry that sets it adds that key to the kept count. */
  def merge(payloads: Seq[Array[Byte]], entries: Long, maxLog2: Int): Merged = {
    val want = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, entries * 8 - 1))
    val log2 = math.max(6, math.min(math.min(31, maxLog2), want))
    val shift = 31 - log2
    val seen = new Array[Long](1 << (log2 - 6))
    val shared = new Array[Long](seen.length)
    var kept = 0L
    payloads.foreach(foreach(_) { (p, count) =>
      val i = p >>> shift
      val w = i >>> 6
      val m = 1L << i
      if ((shared(w) & m) != 0) kept += count
      else if ((seen(w) & m) != 0) { shared(w) |= m; kept += count + 1 }
      else {
        seen(w) |= m
        if (count > 1) { shared(w) |= m; kept += count }
      }
    })
    Merged(shared, log2, kept)
  }

  /** whether a key's bit is set in a merged bitmap (`shift` = 31 − log2):
    * the walk's keep test */
  @inline def keeps(bits: Array[Long], shift: Int, key: Long): Boolean = {
    val i = prefix(key) >>> shift
    (bits(i >>> 6) & (1L << i)) != 0
  }
}
