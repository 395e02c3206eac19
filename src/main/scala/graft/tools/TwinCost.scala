package graft.tools

import java.nio.file.{Files, Paths}
import graft.{Bench, SparkEntry}

/** Measurement instrument for the md5 oracle-twin overhead (VERDICT r3 #8):
  * times each fast LSH channel against its md5-derived oracle twin on the
  * SAME corpus in the SAME session, warm best-of-2, and writes
  * `BENCH/TWINCOST.md`. The twins are correctness instruments, not product
  * paths — but if the driver gate ever moves past sf0.01 their wall must
  * stay within a small factor of the channel they gate; the acceptance
  * bound recorded here is twin ≤ 3× fast at sf0.1.
  *
  * Usage: `sbt "runMain graft.tools.TwinCost [sfDir]"` (default
  * /root/testdata/sf0.1). Uses graft.Bench's session settings (tmpfs
  * shuffle dirs, AQE, 32 shuffle partitions at local[32]).
  */
object TwinCost {

  /** (fast, twin, sfDir override). The image pair measures at the sf0.01
    * DRIVER-GATE scale: the twin's DuckDB-reproducible feature space is the
    * distinct 1-gram caption token set (low entropy by construction, so the
    * oracle can re-derive every hash), and on the synthetic caption
    * distribution its band-bucket occupancy grows ∝ corpus size — at sf0.1
    * the dense fan-out emits billions of sub-threshold candidate pairs and
    * the run measures tmpfs exhaustion, not the operators. That is a
    * saturation of the oracle-instrument CONFIG, not of the product path:
    * the fast channel's 128-perm/64-band signature over phash bitgrams +
    * caption shingles keeps bucket occupancy bounded at every measured
    * scale (BENCH/SCALE.md workload table). */
  private val Pairs = Seq(
    ("doc_minhash_dup_pairs", "doc_minhash_dup_pairs_md5", ""),
    ("doc_simhash_dup_pairs", "doc_simhash_dup_pairs_md5", ""),
    ("dup_pairs_minhash", "dup_pairs_minhash_md5", "/root/testdata/sf0.01"),
    ("dna_omh_pairs", "dna_omh_pairs_md5", ""))

  /** one timed run of a query in ITS OWN session. Session teardown deletes
    * that run's tmpfs shuffle dirs deterministically — a 4.25M-row image
    * channel run writes ~20 GB of shuffle, and several runs in one session
    * outlive the async ContextCleaner and fill the 126 GB tmpfs (the walls
    * then measure memory starvation, not the queries). Page cache and JIT
    * stay warm across sessions, so the best-of-2 is still a warm protocol. */
  private def timedRun(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
      sfDir: String): Double = {
    val s = Bench.session(32, partitions = 32)
    s.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime(); q(s, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    } finally s.stop()
  }

  def main(args: Array[String]): Unit = {
    Bench.sweepStaleLocalDirs()
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = new StringBuilder
    out ++= "# BENCH/TWINCOST — md5 oracle-twin overhead (written by graft.tools.TwinCost, not by hand)\n\n"
    out ++= s"Default corpus: `$sfDir` (docs table + synthetic image corpus); the\n"
    out ++= "image pair runs at the sf0.01 driver-gate scale — its twin's\n"
    out ++= "DuckDB-reproducible feature space (distinct 1-gram caption tokens,\n"
    out ++= "low-entropy by construction so the oracle can re-derive every hash)\n"
    out ++= "saturates band buckets ∝ N on the synthetic caption distribution, an\n"
    out ++= "instrument-config limit, not a product-path one (the fast channel's\n"
    out ++= "128-perm/64-band signature over phash bitgrams + caption shingles\n"
    out ++= "stays bounded at every measured scale, BENCH/SCALE.md).\n"
    out ++= "Protocol: warm best-of-2 per query at local[32], one session per run\n"
    out ++= "(teardown frees that run's tmpfs shuffle dirs; page cache + JIT stay\n"
    out ++= "warm), fast and twin runs interleaved so a noisy window cannot\n"
    out ++= "flatter the ratio only one way. Acceptance bound (VERDICT r3 #8):\n"
    out ++= "twin wall <= 3x the fast channel it gates.\n\n"
    out ++= "| fast channel | wall (s) | md5 twin | wall (s) | twin/fast | corpus |\n"
    out ++= "|---|---|---|---|---|---|\n"
    var worst = 0.0
    Pairs.foreach { case (fast, twin, dirOverride) =>
      val dir = if (dirOverride.isEmpty) sfDir else dirOverride
      val qFast = SparkEntry.queries(fast)
      val qTwin = SparkEntry.queries(twin)
      // one throwaway run of the fast channel warms the corpus page cache
      // both variants read (the twin must not pay the cold-scan cost alone)
      timedRun(qFast, dir)
      val walls = Seq(timedRun(qFast, dir), timedRun(qTwin, dir),
        timedRun(qFast, dir), timedRun(qTwin, dir))
      val tFast = math.min(walls(0), walls(2))
      val tTwin = math.min(walls(1), walls(3))
      val ratio = tTwin / tFast
      worst = math.max(worst, ratio)
      out ++= f"| $fast | $tFast%.2f | $twin | $tTwin%.2f | $ratio%.2f | $dir |\n"
      println(f"TWINCOST $fast=$tFast%.2f $twin=$tTwin%.2f ratio=$ratio%.2f dir=$dir")
    }
    out ++= f"""
      |Worst twin/fast ratio: **$worst%.2f** (bound 3.0). The md5 twins run the
      |same operator shapes as the channels they gate (xor-permutation
      |MinHash via the one-pass `xor_min_minima` kernel, majority-vote
      |SimHash, the shared salted run-walk, the same confirm joins; for the
      |OMH twin, the same occurrence-weighted bottom-l selection and
      |rc-aware max scoring at m=16 vs the fast channel's m=64); the
      |residual overhead is the md5 digest per gram vs murmur/fmix.
      |""".stripMargin
    // relative: the checkout the tool runs in (sbt forks in the project root)
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH", "TWINCOST.md"), out.toString)
  }
}
