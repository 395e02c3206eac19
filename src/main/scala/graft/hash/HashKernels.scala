package graft.hash

/** Bit-exact reimplementations of the hash kernels the reference engine is
  * built on (all public-domain / well-published algorithms):
  *
  *  - MurmurHash3 x64 128 (Austin Appleby, public domain) — semantics of
  *    `/root/reference/src/MurmurHash3.cpp:259-338` (seed 42 everywhere in the
  *    reference, `/root/reference/src/MinHash.cpp:350-377`).
  *  - `fmix64Seeded` — the seeded 64-bit finalizer used per-permutation by
  *    OrderMinHash (`/root/reference/src/hash_int.h:78-87`).
  *  - `wangHash64` — Thomas Wang's invertible 64-bit mix with mask
  *    (`/root/reference/src/histoSketch.cpp:26-35`).
  *  - `jumpConsistentHash` — Lamping–Veach (`/root/reference/src/histoSketch.cpp:219-227`).
  *  - `splitmix64` — Vigna (`/root/reference/src/hash_int.h:104-116`); also our
  *    deterministic seed-stream generator.
  *
  * JVM `Long` is signed but 2's-complement, so multiply/add/xor/shl match
  * `uint64_t` exactly; logical right shifts use `>>>`. Unsigned *comparisons*
  * (needed for bottom-k order) go through [[HashKernels.unsignedLess]].
  */
object HashKernels {

  @inline def rotl64(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)

  @inline def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** Seeded finalizer: `murmur3_fmix(x, seed)` of the reference. */
  @inline def fmix64Seeded(x: Long, seed: Long): Long = fmix64(x ^ seed)

  /** MurmurHash3_x64_128; returns (h1, h2). Reference uses h1 (low word). */
  def murmur3_x64_128(data: Array[Byte], off: Int, len: Int, seed: Int): (Long, Long) = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    var h1 = seed.toLong & 0xffffffffL
    var h2 = seed.toLong & 0xffffffffL
    val nblocks = len / 16
    var i = 0
    while (i < nblocks) {
      var k1 = getLongLE(data, off + i * 16)
      var k2 = getLongLE(data, off + i * 16 + 8)
      k1 *= c1; k1 = rotl64(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl64(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = rotl64(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl64(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    val tail = off + nblocks * 16
    var k1 = 0L
    var k2 = 0L
    val rem = len & 15
    if (rem >= 9) {
      var j = rem - 1
      while (j >= 8) { k2 ^= (data(tail + j).toLong & 0xffL) << ((j - 8) * 8); j -= 1 }
      k2 *= c2; k2 = rotl64(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 ^= (data(tail + j).toLong & 0xffL) << (j * 8); j -= 1 }
      k1 *= c1; k1 = rotl64(k1, 31); k1 *= c2; h1 ^= k1
    }
    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  /** Low 64 bits of murmur3_x64_128 — the reference's `getHash(...).hash64`. */
  @inline def murmur3_low64(data: Array[Byte], seed: Int): Long =
    murmur3_x64_128(data, 0, data.length, seed)._1

  @inline def murmur3_low64(s: String, seed: Int): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    murmur3_x64_128(b, 0, b.length, seed)._1
  }

  @inline private def getLongLE(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | (b(i + 1) & 0xffL) << 8 | (b(i + 2) & 0xffL) << 16 |
      (b(i + 3) & 0xffL) << 24 | (b(i + 4) & 0xffL) << 32 | (b(i + 5) & 0xffL) << 40 |
      (b(i + 6) & 0xffL) << 48 | (b(i + 7) & 0xffL) << 56

  /** Thomas Wang invertible 64-bit hash with mask (reference `hash64`). */
  @inline def wangHash64(key0: Long, mask: Long): Long = {
    var key = key0
    key = (~key + (key << 21)) & mask
    key = key ^ (key >>> 24)
    key = ((key + (key << 3)) + (key << 8)) & mask
    key = key ^ (key >>> 14)
    key = ((key + (key << 2)) + (key << 4)) & mask
    key = key ^ (key >>> 28)
    key = (key + (key << 31)) & mask
    key
  }

  /** Lamping–Veach jump consistent hash; unsigned `key >>> 33` semantics. */
  def jumpConsistentHash(key0: Long, numBuckets: Int): Int = {
    var key = key0
    var b = -1L
    var j = 0L
    while (j < numBuckets) {
      b = j
      key = key * 2862933555777941757L + 1
      j = ((b + 1) * ((1L << 31).toDouble / (((key >>> 33) + 1).toDouble))).toLong
    }
    b.toInt
  }

  @inline def splitmix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Sequential splitmix64 stream (Vigna's splitmix64 PRNG). */
  final class SplitMix64(seed: Long) {
    private var state = seed
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    /** uniform in [0,1) using top 53 bits */
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** unsigned 64-bit a < b */
  @inline def unsignedLess(a: Long, b: Long): Boolean =
    (a ^ Long.MinValue) < (b ^ Long.MinValue)

  /** key usable with signed sort to obtain unsigned order */
  @inline def unsignedSortKey(x: Long): Long = x ^ Long.MinValue

  /** Gather the bits of `x` at positions ≡ `c` (mod 4), compressed into the
    * low 16 bits in position order (source bit 4k+c → bit k): a 4-way
    * perfect unshuffle by shift-or folding — ~12 ALU ops, replacing the
    * 64-iteration per-bit gather loop on the pigeonhole hot paths (the
    * interleaved block-key channel and the in-walk sub-bucket pass both use
    * 4 classes at the shipped Hamming threshold of 3). */
  @inline def unzip4(x: Long, c: Int): Long = {
    var v = (x >>> c) & 0x1111111111111111L // bits at 0,4,…,60
    v = (v | (v >>> 3)) & 0x0303030303030303L // 2 bits per byte
    v = (v | (v >>> 6)) & 0x000F000F000F000FL // 4 bits per 16
    v = (v | (v >>> 12)) & 0x000000FF000000FFL // 8 bits per 32
    (v | (v >>> 24)) & 0xFFFFL // 16 contiguous bits
  }

  /** Interleaved bit-class key: bit j of class `c` (of `classes`) is source
    * bit `j·classes + c`, for j < 64/classes, so correlated ADJACENT bits
    * (neighboring DCT coefficients in a pHash) land in different classes.
    * The classes cover every bit position when `classes` divides 64 and
    * otherwise drop the top 64 mod `classes` bits, which only merges keys:
    * a pair within Hamming ≤ classes−1 still agrees on ≥ 1 class verbatim
    * (pigeonhole). The one implementation behind the block-key channels
    * (`phash_block_keys`), the walk's first-agree ownership check and its
    * in-run sub-bucket pass; 4 classes (the shipped Hamming-3 config) take
    * the [[unzip4]] kernel. */
  @inline def classKey(x: Long, classes: Int, c: Int): Long =
    if (classes == 4) unzip4(x, c)
    else {
      val width = 64 / classes
      var v = 0L
      var j = 0
      while (j < width) { v |= ((x >>> (j * classes + c)) & 1L) << j; j += 1 }
      v
    }

  /** [[classKey]] tagged with its block index in the high byte: the bucket
    * key of block `i`, distinct across blocks of one signature. */
  @inline def blockKey(x: Long, blocks: Int, i: Int): Long =
    (i.toLong << 56) | classKey(x, blocks, i)
}

/** MT19937-64 (Matsumoto & Nishimura, public specification) — reproduces the
  * C++ `std::mt19937_64` output stream used for the OrderMinHash permutation
  * seeds (`/root/reference/src/OrderMinHash.cpp:190-200`, seed 32).
  */
final class MT19937_64(seed: Long) {
  private val NN = 312
  private val mt = new Array[Long](NN)
  private var mti = NN + 1
  mt(0) = seed
  private var i0 = 1
  while (i0 < NN) {
    mt(i0) = 6364136223846793005L * (mt(i0 - 1) ^ (mt(i0 - 1) >>> 62)) + i0
    i0 += 1
  }
  mti = NN

  def nextLong(): Long = {
    val MM = 156
    val MATRIX_A = 0xB5026F5AA96619E9L
    val UM = 0xFFFFFFFF80000000L
    val LM = 0x7FFFFFFFL
    if (mti >= NN) {
      var i = 0
      while (i < NN - MM) {
        val x = (mt(i) & UM) | (mt(i + 1) & LM)
        mt(i) = mt(i + MM) ^ (x >>> 1) ^ (if ((x & 1L) != 0) MATRIX_A else 0L)
        i += 1
      }
      while (i < NN - 1) {
        val x = (mt(i) & UM) | (mt(i + 1) & LM)
        mt(i) = mt(i + (MM - NN)) ^ (x >>> 1) ^ (if ((x & 1L) != 0) MATRIX_A else 0L)
        i += 1
      }
      val x = (mt(NN - 1) & UM) | (mt(0) & LM)
      mt(NN - 1) = mt(MM - 1) ^ (x >>> 1) ^ (if ((x & 1L) != 0) MATRIX_A else 0L)
      mti = 0
    }
    var x = mt(mti)
    mti += 1
    x ^= (x >>> 29) & 0x5555555555555555L
    x ^= (x << 17) & 0x71D67FFFEDA60000L
    x ^= (x << 37) & 0xFFF7EEE000000000L
    x ^= (x >>> 43)
    x
  }
}
