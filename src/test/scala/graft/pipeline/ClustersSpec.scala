package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed connected-components loop must converge in O(log d)
  * rounds, not O(d): dedup graphs contain drift-chains (A≈B≈C≈…) whose
  * diameter grows with cluster size, and the distributed path exists FOR
  * the beyond-driver-memory scale where those chains are longest. */
class ClustersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("10k-vertex chain converges in ~log2(d) rounds with pointer jumping") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 10000
    val e = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.propagateLabels(e, maxIter = 50, parts = 4)
    // pure one-hop propagation needs d = 9999 rounds; the jump's reach
    // doubles per round (2^k - 1 ≥ 9999 ⇒ k = 14) plus one no-change
    // detection round
    assert(rounds <= 17, s"took $rounds rounds — pointer jumping not effective")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === n)
    assert(got.forall(_._2 === 0L), "every chain vertex must label to the minimum id")
  }

  test("distributed path (localThreshold=0) matches driver union-find on a planted graph") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // several chains + a star + singletons, as img-id string edges
    val chain = (0 until 500).sliding(2).map(p => (p(0).toLong, p(1).toLong)).toSeq
    val star = (600 until 640).map(i => (599L, i.toLong))
    val extra = Seq((700L, 701L), (702L, 703L), (701L, 702L))
    val edges = (chain ++ star ++ extra)
      .map { case (a, b) => (f"img_$a%010d", f"img_$b%010d") }
      .toDF("id_a", "id_b")
    val vertices = (0 until 800).map(i => f"img_$i%010d").toDF("image_id")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val distFrame = Dedup.clusters(edges, vertices, localThreshold = 0)
    // the loop frees every checkpoint it made except the labels it returns
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.size <= 1, s"the label loop left ${left.size} persisted RDDs behind")
    val dist = distFrame.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val local = Dedup.clusters(edges, vertices, localThreshold = Long.MaxValue)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist === local)
    assert(dist(f"img_${499}%010d") === f"img_${0}%010d")
    assert(dist(f"img_${639}%010d") === f"img_${599}%010d")
    assert(dist(f"img_${703}%010d") === f"img_${700}%010d")
    assert(dist(f"img_${750}%010d") === f"img_${750}%010d") // singleton
  }

  test("non-convergence fails loudly instead of emitting unconverged labels") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val e = (0 until 99).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    assertThrows[IllegalStateException] {
      Dedup.propagateLabels(e, maxIter = 2, parts = 2)
    }
  }
}
