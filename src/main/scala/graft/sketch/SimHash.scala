package graft.sketch

/** 64-bit SimHash (Charikar random-hyperplane sketch over feature hashes).
  * North_star addition — the reference has no SimHash; semantics follow the
  * published algorithm: each feature votes ±1 on each of the 64 bits of its
  * hash; the sketch bit is 1 iff the vote total is positive.
  */
object SimHash {

  /** byte-spread table: bit j of v lands in byte j, so one long add
    * accumulates 8 bit-counters at once (8-bit lanes). */
  private val Spread: Array[Long] = {
    val t = new Array[Long](256)
    var v = 0
    while (v < 256) {
      var x = 0L
      var j = 0
      while (j < 8) { x |= ((v >>> j) & 1L) << (8 * j); j += 1 }
      t(v) = x
      v += 1
    }
    t
  }

  def simhash64(features: Array[Long]): Long = {
    if (features.isEmpty) return 0L
    // `votes(b) > 0` ⟺ `2·ones(b) > n`, so counting set bits suffices.
    // 64 counters packed as 8×8-bit lanes in 8 longs: 8 table-adds per
    // feature instead of a 64-iteration bit loop; lanes hold ≤ 255 before a
    // flush into the wide counters.
    val ones = new Array[Int](64)
    val acc = new Array[Long](8)
    var pending = 0
    var i = 0
    while (i < features.length) {
      val h = features(i)
      acc(0) += Spread((h & 255L).toInt)
      acc(1) += Spread(((h >>> 8) & 255L).toInt)
      acc(2) += Spread(((h >>> 16) & 255L).toInt)
      acc(3) += Spread(((h >>> 24) & 255L).toInt)
      acc(4) += Spread(((h >>> 32) & 255L).toInt)
      acc(5) += Spread(((h >>> 40) & 255L).toInt)
      acc(6) += Spread(((h >>> 48) & 255L).toInt)
      acc(7) += Spread(((h >>> 56) & 255L).toInt)
      pending += 1
      if (pending == 255) { flushLanes(acc, ones); pending = 0 }
      i += 1
    }
    if (pending > 0) flushLanes(acc, ones)
    val n = features.length
    var out = 0L
    var b = 0
    while (b < 64) { if (2 * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }

  private def flushLanes(acc: Array[Long], ones: Array[Int]): Unit = {
    var k = 0
    while (k < 8) {
      val a = acc(k)
      var j = 0
      while (j < 8) { ones(8 * k + j) += ((a >>> (8 * j)) & 255L).toInt; j += 1 }
      acc(k) = 0L
      k += 1
    }
  }

  @inline def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash LSH block keys: split the 64 bits into `blocks` contiguous
    * chunks; two hashes within hamming distance `blocks-1` share ≥1 key
    * (pigeonhole). Key packs (block index, chunk bits). */
  def blockKeys(h: Long, blocks: Int): Array[Long] = {
    val width = 64 / blocks
    val out = new Array[Long](blocks)
    var i = 0
    while (i < blocks) {
      val chunk = (h >>> (i * width)) & ((1L << width) - 1)
      out(i) = (i.toLong << 56) | chunk
      i += 1
    }
    out
  }
}
