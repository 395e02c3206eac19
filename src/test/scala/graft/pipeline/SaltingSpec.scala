package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SessionConf.{atPartitions4And8, withConf}

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

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** brute force: every pair within hamming <= 3 (exact-cover guarantee) */
  private def brute(all: Seq[(Long, Long)]): Set[(Long, Long)] = (for {
    (ia, pa) <- all; (ib, pb) <- all
    if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3
  } yield (ia, ib)).toSet

  // 60 rows share one phash (hot bucket at threshold 16), 40 unique
  private val denseRows =
    (0 until 60).map(i => (f"img_$i%010d", 0x1234567890abcdefL, s"caption $i")) ++
      (100 until 140).map(i => (f"img_$i%010d", 0x0f0f0f0f0f0f0f0fL ^ (i.toLong << 16), s"caption $i"))

  private def denseKeyed: DataFrame = {
    import spark.implicits._
    Dedup.prepared(denseRows.toDF("image_id", "phash", "caption"))
      .select(col("id"), col("phash"),
        graft.spark.functions.phash_block_keys(col("phash"), 4).as("keys"))
  }

  // one shared band value over 500 near-random phashes (the popular-band
  // regime that grows ∝ corpus size), plus a few planted near-dup pairs
  // inside it; hotThreshold 64 forces the refinement path while staying
  // far from the terminal dense path (no phash class repeats 64×)
  private val refinedRows = {
    val g = new scala.util.Random(7)
    val base = (0 until 500).map(i => (i.toLong, g.nextLong()))
    val planted = (0 until 20).map { i =>
      val (_, ph) = base(i * 7)
      (1000L + i, ph ^ (1L << (i % 64))) // Hamming 1 from an existing member
    }
    base ++ planted
  }

  private def refinedKeyed: DataFrame = {
    import spark.implicits._
    refinedRows.toDF("id", "phash").select(col("id"), col("phash"), array(lit(0x42L)).as("keys"))
  }

  test("hot bucket salting preserves the exact pair set") {
    spark.sparkContext.setLogLevel("WARN")
    val keyed = denseKeyed
    val salted = pairs(Dedup.saltedBucketPairs(keyed, maxHamming = 3, hotThreshold = 16))
    val unsalted = pairs(Dedup.saltedBucketPairs(keyed, maxHamming = 3, hotThreshold = 1000000))
    val brute = this.brute(denseRows.map { case (id, ph, _) => (id.drop(4).toLong, ph) })
    assert(unsalted === brute)
    assert(salted === brute, s"salted diff: missing=${(brute -- salted).size} extra=${(salted -- brute).size}")
  }

  test("hot FALSE-collision bucket routes through the pigeonhole refinement with the exact pair set") {
    spark.sparkContext.setLogLevel("WARN")
    val got = pairs(Dedup.saltedBucketPairs(refinedKeyed, maxHamming = 3, hotThreshold = 64))
    val brute = this.brute(refinedRows)
    assert(got === brute, s"refined diff: missing=${(brute -- got).size} extra=${(got -- brute).size}")
  }

  test("dense and refinement hot paths: pair set independent of the shuffle-partition count") {
    spark.sparkContext.setLogLevel("WARN")
    for ((name, keyed, hotThreshold) <-
        Seq(("dense", () => denseKeyed, 16), ("refinement", () => refinedKeyed, 64))) {
      val (at4, at8) = atPartitions4And8(spark)(
        pairs(Dedup.saltedBucketPairs(keyed(), maxHamming = 3, hotThreshold = hotThreshold)))
      assert(at4.nonEmpty, name)
      assert(at4 === at8, s"$name: missing at 8=${(at4 -- at8).size} extra at 8=${(at8 -- at4).size}")
    }
  }

  test("the walk sizes its exchange from the keys it explodes") {
    spark.sparkContext.setLogLevel("WARN")
    // 400k rows × 4 keys = 1.6M keyed rows: two sort tasks of ≤ 1.5M rows
    val frame = spark.range(400000L).select(col("id"), lit(0L).as("phash"),
      array(lit(1L), lit(2L), lit(3L), lit(4L)).as("keys"))
    def width(): Int = { val plan = Dedup.planWalk(frame); plan.release(); plan.parts }
    assert(withConf(spark, "spark.sql.shuffle.partitions", "1")(width()) === 2)
    // a derived width below the session default keeps the default
    assert(withConf(spark, "spark.sql.shuffle.partitions", "4")(width()) === 4)
  }
}
