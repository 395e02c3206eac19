package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SyntheticImages
import graft.docs.DocOps
import graft.oracle.Md5Channels
import graft.spark.{functions => gf}

/** Empty, single-row, null/empty-caption and exact-twin inputs through the
  * image channels and the doc channels: none may throw, and each yields the
  * pair and cluster counts pinned below. */
class DegenerateInputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** one real generated row: a caption and pHash the channels accept. */
  private lazy val sample = SyntheticImages.family(7L, 42L, 0L).head

  private def images(rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("image_id", "phash", "caption")
  }

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private lazy val empty = images(Seq.empty)
  private lazy val single = images(Seq(("img_0000000001", sample.phash, sample.caption)))
  private lazy val blankCaptions = images(Seq(
    ("img_0000000001", sample.phash, null), ("img_0000000002", sample.phash, null),
    ("img_0000000003", sample.phash, ""), ("img_0000000004", sample.phash, "")))
  private lazy val twins = images(Seq(
    ("img_0000000001", sample.phash, sample.caption),
    ("img_0000000002", sample.phash, sample.caption)))

  private def pairCount(df: DataFrame): Long = df.select("id_a", "id_b").count()

  /** the north-star chain as `Bench.pipelineE2E` runs it:
    * (confirmed pairs, cluster rows, rows summed over the partition metrics). */
  private def northStar(corpus: DataFrame): (Long, Long, Long) = {
    val cfg = Dedup.defaultConfig
    val sigs = Dedup.signatures(corpus)
      .select(col("image_id"), col("phash"), col("simhash"),
        gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("bands"))
      .cache()
    try {
      val edges = Dedup.confirm(Dedup.candidatesFromBands(sigs, cfg), corpus)
        .select("id_a", "id_b")
      val clustered = Dedup.clusters(edges, corpus.select("image_id"))
      val metricRows = Dedup.partitionMetrics(clustered)
        .agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)
      (edges.count(), clustered.count(), metricRows)
    } finally sigs.unpersist()
  }

  /** pair counts of the six image pair queries (the last two the md5
    * twins) beside the north-star chain. */
  private def channels(corpus: DataFrame): Seq[Long] = Seq(
    pairCount(Dedup.dupPairs(corpus)),
    pairCount(Dedup.dupPairsMinhash(corpus)),
    pairCount(Dedup.dupPairsSimhash(corpus)),
    pairCount(Dedup.confirmSubstring(Dedup.candidatesPhashBlocks(corpus), corpus)),
    pairCount(Md5Channels.imgMinhashDupPairsMd5(corpus)),
    pairCount(Md5Channels.imgSimhashDupPairs(corpus)))

  test("empty corpus: no pairs, no cluster rows") {
    assert(northStar(empty) === ((0L, 0L, 0L)))
    assert(channels(empty) === Seq.fill(6)(0L))
  }

  test("single-row corpus: one cluster row, no pairs") {
    assert(northStar(single) === ((0L, 1L, 1L)))
    assert(channels(single) === Seq.fill(6)(0L))
  }

  test("null and empty captions on one pHash: no pairs") {
    assert(northStar(blankCaptions) === ((0L, 4L, 4L)))
    // the md5 twins too: the two empty captions share every md5 key, and
    // the shared confirm's jaccard of two empty token sets is 0
    assert(channels(blankCaptions) === Seq.fill(6)(0L))
  }

  test("two identical rows: exactly one pair in every channel") {
    assert(northStar(twins) === ((1L, 2L, 2L)))
    assert(channels(twins) === Seq.fill(6)(1L))
    val clusterIds = Dedup.clusters(Dedup.dupPairs(twins), twins.select("image_id"))
      .select("cluster_id").distinct().collect().map(_.getString(0))
    assert(clusterIds.toSeq === Seq("img_0000000001"))
  }

  test("doc channels on an empty and a single-row table: no pairs") {
    // plus a table whose docs all have fewer than n = 3 tokens (or null
    // text) beside one real doc: no n-gram, so no channel may pair them
    val short = docs(Seq((1L, ""), (2L, "a b"), (3L, "x"), (4L, null),
      (5L, "one two three four five")))
    for (d <- Seq(docs(Seq.empty), docs(Seq((1L, "the quick brown fox jumps over it"))), short)) {
      assert(DocOps.ngramDupPairsExact(d).count() === 0L)
      assert(DocOps.minhashDupPairs(d).count() === 0L)
      assert(DocOps.simhashDupPairs(d).count() === 0L)
    }
  }

  test("doc channels filter with their own family's tokenizer") {
    // the product splits on whitespace runs, the md5 twins (like the oracle
    // SQL's `len(string_split(text, ' ')) >= 3`) on single spaces: a
    // tab-joined doc is 3-4 product tokens but 1 md5-family token, "x y " 2
    // product tokens but 3 md5-family tokens ("x", "y", "")
    val d = docs(Seq((1L, "a\tb\tc\td"), (2L, "x\ty\tz\tw"),
      (3L, "x y "), (4L, "x y "), (5L, "p\tq\tr"), (6L, "p\tq\tr")))
    def ids(df: DataFrame): Seq[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(ids(DocOps.minhashDupPairs(d)) === Seq((5L, 6L)))
    assert(ids(DocOps.simhashDupPairs(d)) === Seq((5L, 6L)))
    // the md5 family: the tab docs have no 3-gram, so they neither share the
    // empty set's simhash nor reach the walk; the trailing-space docs do
    assert(ids(Md5Channels.docMinhashDupPairsMd5(d)) === Seq((3L, 4L)))
    assert(ids(Md5Channels.docSimhashDupPairsMd5(d)) === Seq((3L, 4L)))
  }

  test("minhash candidates skip docs with fewer than n tokens") {
    // without the filter "", "a b" and "x" share the empty n-gram set's
    // signature, so one bucket per band: 3 candidate pairs the confirm drops
    val short = docs(Seq((1L, ""), (2L, "a b"), (3L, "x"), (4L, null),
      (5L, "one two three four five")))
    assert(DocOps.minhashCandidates(short).count() === 0L)
    assert(DocOps.minhashDupPairs(short).count() === 0L)
    // beside two identical real docs, the twin pair alone survives both stages
    val withTwins = docs(Seq((1L, ""), (2L, "a b"), (3L, "x"),
      (6L, "the quick brown fox jumps over it"), (7L, "the quick brown fox jumps over it")))
    assert(DocOps.minhashCandidates(withTwins).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((6L, 7L)))
    assert(DocOps.minhashDupPairs(withTwins).collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((6L, 7L)))
  }
}
