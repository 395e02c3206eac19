package graft.hash

import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors derived from the published algorithms as implemented by the
  * reference (`/root/reference/src/MurmurHash3.cpp:259-338`,
  * `src/hash_int.h:78-87`, `src/histoSketch.cpp:26-35,219-227`) and C++
  * `std::mt19937_64`. */
class HashKernelsSpec extends AnyFunSuite {
  val m128Vectors: Seq[(String, Long, Long)] = Seq(
    ("", -1140915396076141277L, -3386313222241793095L),
    ("a", 2892890568104748720L, 2732500323686427413L),
    ("ab", -3134239147634227163L, 2674117675500839764L),
    ("abcdefg", -4712238092897612452L, -3582979961589229690L),
    ("abcdefgh", -3287295052886898686L, 5435426428719231264L),
    ("abcdefghijklmno", -2623473959512195819L, -3526923686395553990L),
    ("abcdefghijklmnop", 89032927946649868L, 1033721054950585278L),
    ("abcdefghijklmnopq", -5198778736060967917L, 74496396903751358L),
    ("The quick brown fox jumps over the lazy dog", 8362568317626209751L, -4299691945037374321L),
    ("ACGTACGTACGTACGTACGTA", -5410577330022919289L, 4543100632486228299L),
  )
  val fmixVectors: Seq[(Long, Long, Long)] = Seq(
    (0L, 0L, 0L),
    (0L, 32L, -3740933217424859267L),
    (0L, 42L, -9148929187392628276L),
    (0L, 3735928559L, -3293303821363962452L),
    (1L, 0L, -5451962507482445012L),
    (1L, 32L, 7950204180317231375L),
    (1L, 42L, 2323475623862523413L),
    (1L, 3735928559L, -6919440680315299059L),
    (-1L, 0L, 7256831767414464289L),
    (-1L, 32L, -5566334976243213605L),
    (-1L, 42L, 1504683213200391175L),
    (-1L, 3735928559L, -4414762432484017068L),
    (-9223372036854775808L, 0L, -8108722261328812909L),
    (-9223372036854775808L, 32L, -915895522062870696L),
    (-9223372036854775808L, 42L, -6116407330888501106L),
    (-9223372036854775808L, 3735928559L, -8854622183975796182L),
    (123456789L, 0L, -8107560010088384378L),
    (123456789L, 32L, -664375668592829147L),
    (123456789L, 42L, 136299408676884149L),
    (123456789L, 3735928559L, 394866382412234277L),
  )
  val h64Vectors: Seq[(Long, Long, Long)] = Seq(
    (0L, 16383L, 10819L),
    (0L, 4398046511103L, 2057405897664L),
    (0L, -1L, 8633297058295171728L),
    (1L, 16383L, 5254L),
    (1L, 4398046511103L, 454051559630L),
    (1L, -1L, 6614235796240398542L),
    (-1L, 16383L, 0L),
    (-1L, 4398046511103L, 953226187199L),
    (-1L, -1L, 2272383144869939092L),
    (-9223372036854775808L, 16383L, 10819L),
    (-9223372036854775808L, 4398046511103L, 2057405897664L),
    (-9223372036854775808L, -1L, 4316648529147585864L),
    (123456789L, 16383L, 2242L),
    (123456789L, 4398046511103L, 900621528218L),
    (123456789L, -1L, -1864789099685094664L),
  )
  val jchVectors: Seq[(Long, Int, Int)] = Seq(
    (0L, 1, 0),
    (0L, 16, 0),
    (0L, 2000, 0),
    (0L, 194481, 0),
    (1L, 1, 0),
    (1L, 16, 6),
    (1L, 2000, 1160),
    (1L, 194481, 94075),
    (-1L, 1, 0),
    (-1L, 16, 10),
    (-1L, 2000, 1921),
    (-1L, 194481, 119375),
    (-9223372036854775808L, 1, 0),
    (-9223372036854775808L, 16, 12),
    (-9223372036854775808L, 2000, 453),
    (-9223372036854775808L, 194481, 185360),
    (123456789L, 1, 0),
    (123456789L, 16, 7),
    (123456789L, 2000, 294),
    (123456789L, 194481, 172707),
  )
  val mt32First10: Seq[Long] = Seq(
    -1410769519475593701L,
    -561198485204709499L,
    945711441809070636L,
    -5872778448010950824L,
    7931638248083442303L,
    -7366679284681630921L,
    8850494342971294284L,
    -3514036206466265348L,
    -299824248264135761L,
    -3434481770093872300L,
  )
  val mt42First5: Seq[Long] = Seq(
    -4516583221451431210L,
    -6658695496206056792L,
    -4572114049241810166L,
    2513787319205155662L,
    -1784372620281112235L,
  )

  test("MurmurHash3_x64_128 seed=42 matches golden vectors") {
    for ((s, h1, h2) <- m128Vectors) {
      val b = s.getBytes("UTF-8")
      assert(HashKernels.murmur3_x64_128(b, 0, b.length, 42) === ((h1, h2)), s"input=$s")
    }
  }
  test("fmix64Seeded matches golden vectors") {
    for ((x, seed, out) <- fmixVectors)
      assert(HashKernels.fmix64Seeded(x, seed) === out, s"x=$x seed=$seed")
  }
  test("wangHash64 matches golden vectors") {
    for ((x, mask, out) <- h64Vectors)
      assert(HashKernels.wangHash64(x, mask) === out, s"x=$x mask=$mask")
  }
  test("jumpConsistentHash matches golden vectors") {
    for ((x, nb, out) <- jchVectors)
      assert(HashKernels.jumpConsistentHash(x, nb) === out, s"x=$x nb=$nb")
  }
  test("MT19937_64 matches std::mt19937_64 stream") {
    val g = new MT19937_64(32)
    assert((0 until 10).map(_ => g.nextLong()) === mt32First10)
    val g2 = new MT19937_64(42)
    assert((0 until 5).map(_ => g2.nextLong()) === mt42First5)
  }
  test("unsigned helpers") {
    assert(HashKernels.unsignedLess(0L, -1L))          // 0 < 2^64-1
    assert(!HashKernels.unsignedLess(-1L, 0L))
    assert(HashKernels.unsignedLess(Long.MaxValue, Long.MinValue)) // 2^63-1 < 2^63
  }
  test("unzip4 == per-bit gather of positions ≡ c (mod 4)") {
    def gather(x: Long, c: Int): Long = {
      var v = 0L
      var j = c
      while (j < 64) { v |= ((x >>> j) & 1L) << (j / 4); j += 4 }
      v
    }
    val rnd = new scala.util.Random(5)
    val cases = Seq(0L, -1L, Long.MinValue, Long.MaxValue,
      0x1111111111111111L, 0x8888888888888888L) ++ Seq.fill(200)(rnd.nextLong())
    for (x <- cases; c <- 0 until 4)
      assert(HashKernels.unzip4(x, c) === gather(x, c), f"x=$x%016x c=$c")
  }
  test("classKey/blockKey == per-bit interleaved gather for 1-8 classes") {
    // the block-key definition the channels bucket on: bit j of class c is
    // source bit j*classes + c, j < 64/classes; block index in the high byte
    def gather(x: Long, classes: Int, c: Int): Long = {
      var v = 0L
      var j = 0
      while (j < 64 / classes) { v |= ((x >>> (j * classes + c)) & 1L) << j; j += 1 }
      v
    }
    val rnd = new scala.util.Random(9)
    val cases = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(200)(rnd.nextLong())
    for (x <- cases; classes <- 1 to 8; c <- 0 until classes) {
      assert(HashKernels.classKey(x, classes, c) === gather(x, classes, c),
        f"x=$x%016x classes=$classes c=$c")
      assert(HashKernels.blockKey(x, classes, c) === ((c.toLong << 56) | gather(x, classes, c)))
    }
  }
}
