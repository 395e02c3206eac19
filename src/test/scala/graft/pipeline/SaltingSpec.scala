package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The salt-and-replicate path only activates past `hotThreshold`; this spec
  * plants a pathological bucket (one shared pHash across thousands of rows —
  * the "giant duplicate cluster" case of SURVEY §7.4 item 6) and checks the
  * generated pair set is exactly the brute-force cross product. */
class SaltingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("hot bucket salting preserves the exact pair set") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // 60 rows share one phash (hot bucket at threshold 16), 40 unique
    val hot = (0 until 60).map(i => (f"img_$i%010d", 0x1234567890abcdefL, s"caption $i"))
    val cold = (100 until 140).map(i => (f"img_$i%010d", 0x0f0f0f0f0f0f0f0fL ^ (i.toLong << 16), s"caption $i"))
    val corpus = (hot ++ cold).toDF("image_id", "phash", "caption")

    val keyed = Dedup.prepared(corpus)
      .select(col("id"), col("phash"),
        explode(graft.spark.functions.phash_block_keys(col("phash"), 4)).as("bv"))

    val salted = Dedup.saltedBucketPairs(keyed, maxHamming = 3, hotThreshold = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = Dedup.saltedBucketPairs(keyed, maxHamming = 3, hotThreshold = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: every pair within hamming <= 3 (exact-cover guarantee)
    val all = (hot ++ cold).map { case (id, ph, _) => (id.drop(4).toLong, ph) }
    val brute = (for {
      (ia, pa) <- all; (ib, pb) <- all
      if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (ia, ib)).toSet
    assert(unsalted === brute)
    assert(salted === brute, s"salted diff: missing=${(brute -- salted).size} extra=${(salted -- brute).size}")
  }

  test("hot FALSE-collision bucket routes through the pigeonhole refinement with the exact pair set") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // one shared band value over 500 near-random phashes (the popular-band
    // regime that grows ∝ corpus size), plus a few planted near-dup pairs
    // inside it; hotThreshold 64 forces the refinement path while staying
    // far from the terminal dense path (no phash class repeats 64×)
    val g = new scala.util.Random(7)
    val base = (0 until 500).map(i => (i.toLong, g.nextLong()))
    val planted = (0 until 20).map { i =>
      val (_, ph) = base(i * 7)
      (1000L + i, ph ^ (1L << (i % 64))) // Hamming 1 from an existing member
    }
    val all = base ++ planted
    val keyed = all.toDF("id", "phash").select(col("id"), col("phash"), lit(0x42L).as("bv"))
    val got = Dedup.saltedBucketPairs(keyed, maxHamming = 3, hotThreshold = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (ia, pa) <- all; (ib, pb) <- all
      if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3
    } yield (ia, ib)).toSet
    assert(got === brute, s"refined diff: missing=${(brute -- got).size} extra=${(got -- brute).size}")
  }
}
