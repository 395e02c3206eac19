package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SyntheticImages
import graft.sketch.UnionFind
import graft.spark.{functions => gf}

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  lazy val corpus = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.createDataset(
      (0L until 400L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    ).toDF().cache()
  }

  test("payload fidelity: PNG lossless roundtrip, JPEG PSNR >= 40 dB") {
    val rows = (0L until 20L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    assert(rows.exists(_.fmt == "png") && rows.exists(_.fmt == "jpeg"))
    // regenerate the family deterministically → same bytes (generator determinism)
    val again = (0L until 20L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    assert(rows.map(_.caption) == again.map(_.caption))
    assert(rows.zip(again).forall { case (a, b) => java.util.Arrays.equals(a.bytes, b.bytes) })
    // decoded pixels of a JPEG vs its PNG sibling of the same underlying raster
    // are not comparable directly; instead check encode→decode PSNR per row
    for (r <- rows.take(40)) {
      val px = SyntheticImages.decodePixels(r.bytes)
      assert(px.length === r.w * r.h)
      // re-encode decoded pixels losslessly and decode again → identical (decode is stable)
      val px2 = SyntheticImages.decodePixels(SyntheticImages.encode(px, "png"))
      assert(SyntheticImages.psnr(px, px2).isInfinity)
    }
  }

  test("JPEG encode quality preserves pixels at PSNR >= 40 dB") {
    // access a known raster via family(): decode a png row as the raster
    val rows = (100L until 120L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    val pngRow = rows.find(_.fmt == "png").get
    val raster = SyntheticImages.decodePixels(pngRow.bytes)
    val jpegBytes = SyntheticImages.encode(raster, "jpeg")
    val decoded = SyntheticImages.decodePixels(jpegBytes)
    val p = SyntheticImages.psnr(raster, decoded)
    assert(p >= 40.0, s"psnr=$p")
  }

  test("minhash LSH candidate recall >= 0.99 vs exact dup pairs") {
    val exact = Dedup.dupPairs(corpus).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lsh = Dedup.confirm(Dedup.candidatesMinhash(Dedup.signatures(corpus)), corpus)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.99, s"recall=$recall (${lsh.size} lsh vs ${exact.size} exact)")
    // LSH+confirm must never produce a pair outside the exact predicate
    assert(lsh.subsetOf(exact))
  }

  test("simhash channel: exact-subset pairs, recall in the measured regime") {
    val exact = Dedup.dupPairs(corpus).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val sh = Dedup.dupPairsSimhash(corpus)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // confirm applies the same exact predicate, so precision is 1.0
    assert(sh.subsetOf(exact))
    // image captions churn ~10% of tokens → wide simhash Hamming (a dev
    // probe, since removed, measured p50=11); the channel is documented as
    // near-identical-regime only, and its measured recall there is ~0.85 —
    // assert it stays in that band
    val recall = sh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"simhash-channel recall $recall (${sh.size} vs ${exact.size})")
  }

  test("clusters match local union-find over the same edges") {
    val edges = Dedup.dupPairs(corpus).collect().map(r => (r.getString(0), r.getString(1)))
    val ids = corpus.select("image_id").collect().map(_.getString(0))
    val num = ids.map(s => s -> s.drop(4).toLong).toMap
    val uf = new UnionFind
    ids.foreach(id => uf.find(num(id)))
    edges.foreach { case (a, b) => uf.union(num(a), num(b)) }
    val expect = uf.components().map { case (k, v) => (f"img_$k%010d", f"img_$v%010d") }
    val got = Dedup.clusters(Dedup.dupPairs(corpus), corpus.select("image_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got === expect)
    // distributed label-propagation path (localThreshold = 0) must agree
    val gotDist = Dedup.clusters(Dedup.dupPairs(corpus), corpus.select("image_id"),
        localThreshold = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(gotDist === expect)
  }

  test("clustersLocalThreshold: floored at 20M edges, scales with driver heap") {
    // heap rule alone (maxResultSize 0 = unlimited): small heaps keep the
    // field-proven floor
    assert(Dedup.clustersLocalThreshold(1L << 30, 0L) === 20000000L)
    assert(Dedup.clustersLocalThreshold(8L << 30, 0L) === 20000000L)
    // big heaps admit proportionally more (1/8 heap at ~64 B/edge —
    // packed-primitive collect, see clustersLocal)
    val at64g = Dedup.clustersLocalThreshold(64L << 30, 0L)
    assert(at64g === (64L << 30) / 8 / 64)
    assert(at64g > 20000000L)
    assert(Dedup.clustersLocalThreshold(256L << 30, 0L) === (256L << 30) / 8 / 64)
    // the collected 16 B/edge must fit spark.driver.maxResultSize: Spark's
    // 1 GiB default caps a 64 GB heap's 134M edges below 2^26 ...
    val oneGiB = 1L << 30
    val capped = Dedup.clustersLocalThreshold(64L << 30, oneGiB)
    assert(capped === oneGiB / 16 / 64 * 63)
    assert(capped < (1L << 26) && capped * 16 < oneGiB)
    // ... a cap under 320 MB takes the admission below the 20M floor ...
    val small = Dedup.clustersLocalThreshold(1L << 30, 256L << 20)
    assert(small < 20000000L && small * 16 < (256L << 20))
    // ... and a cap past the heap rule leaves it alone
    assert(Dedup.clustersLocalThreshold(64L << 30, 64L << 30) === at64g)
    // defaults read the live heap and the session's maxResultSize (1 GiB
    // here): at least the floor, and within the result cap
    val live = Dedup.clustersLocalThreshold()
    assert(live >= 20000000L && live * 16 < oneGiB)
  }

  test("spark aggregate merge laws: sig_merge / minhash_merge / hll union") {
    import spark.implicits._
    val docs = (0 until 64).map(i => (i % 4, s"grp${i % 4} token$i payload $i content")).toDF("g", "text")
    val sigs = docs.select(col("g"), gf.minhash_sig(gf.caption_shingles(col("text"), 4)).as("sig"),
      gf.bottomk_sketch(gf.caption_shingles(col("text"), 4), 64).as("bk"))
    // distributed merge (partial+final over 4 partitions)
    val merged = sigs.repartition(4).groupBy("g")
      .agg(gf.sig_merge(col("sig")).as("msig"), gf.minhash_merge(col("bk"), 64).as("mbk"))
      .collect().map(r => r.getInt(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    // single-pass per group: concat text features group-wise then sketch once
    val single = docs.as[(Int, String)].collect().groupBy(_._1).map { case (g, rows) =>
      val feats = rows.flatMap(r => graft.sketch.Shingles.charShingles(r._2, 4)).toArray
      g -> (graft.sketch.MinHash.minhashSig(feats, graft.sketch.MinHash.permAffine(128, 42)).toSeq,
        graft.sketch.MinHash.bottomK(feats, 64).toSeq)
    }
    assert(merged === single)
  }

  test("hll_agg ~ approx distinct; merge across partitions consistent") {
    import spark.implicits._
    val n = 50000
    val df = spark.range(n).select(xxhash64(col("id")).as("h"))
    val est = df.repartition(8).agg(gf.hll_card(gf.hll_agg(col("h"), 14))).head().getDouble(0)
    assert(math.abs(est - n) / n < 0.05, s"est=$est")
  }

  test("SQL registration: expressions usable from spark.sql") {
    gf.registerAll(spark)
    corpus.limit(50).createOrReplaceTempView("imgs")
    val out = spark.sql(
      """SELECT image_id,
        |  simhash64(caption_shingles(caption, 5)) AS sh,
        |  hll_card(hll_init(caption_shingles(caption, 5), 12)) AS card,
        |  sig_jaccard(minhash_sig(caption_shingles(caption, 5), 128, 42),
        |              minhash_sig(caption_shingles(caption, 5), 128, 42)) AS selfj
        |FROM imgs""".stripMargin).collect()
    assert(out.length === 50)
    assert(out.forall(_.getDouble(3) === 1.0))
    assert(out.forall(r => r.getDouble(2) > 0))
  }

  test("plan quality: signature stage prunes bytes and stays codegen'd") {
    val path = java.nio.file.Files.createTempDirectory("planq").toString
    corpus.write.mode("overwrite").parquet(path)
    val sigs = Dedup.signatures(spark.read.parquet(path))
    val plan = sigs.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), "signature stage not codegen'd")  // *(N) marks a WholeStageCodegen stage
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("bytes"), s"bytes column not pruned from scan: $scanLine")
  }

  test("plan quality: candidate generation is one wide shuffle, no hot branch when no hot buckets") {
    val path = java.nio.file.Files.createTempDirectory("planq2").toString
    corpus.write.mode("overwrite").parquet(path)
    val cand = Dedup.candidatesPhashBlocks(spark.read.parquet(path))
    // the eager checkpoint inside already ran the walk; the remaining plan
    // must be: scan of the checkpointed walk output -> filter markers ->
    // distinct (one exchange) -- the expensive upstream appears nowhere
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("phash_block_keys"), "upstream re-executed past the checkpoint")
    assert(!plan.contains("Scan parquet"), "corpus re-scanned past the checkpoint")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most the distinct's exchange, got $exchanges:\n$plan")
  }

  test("substring confirm == char-L-gram brute force (lcs >= L identity)") {
    val minLen = 12
    val got = Dedup.confirmSubstring(Dedup.candidatesPhashBlocks(corpus), corpus, minLen = minLen)
      .select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val rows = corpus.select("image_id", "phash", "caption").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def grams(s: String): Set[String] =
      (0 to s.length - minLen).map(i => s.substring(i, i + minLen)).toSet
    val gramsById = rows.map { case (id, _, c) => id -> grams(c) }.toMap
    val brute = (for {
      (ia, pa, _) <- rows; (ib, pb, _) <- rows
      if ia < ib && java.lang.Long.bitCount(pa ^ pb) <= 3 &&
        gramsById(ia).intersect(gramsById(ib)).nonEmpty
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty)
    assert(got === brute)
  }

  test("GraftExtensions injects the SQL functions at the extension point") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new SparkSessionExtensions
    new graft.spark.GraftExtensions().apply(ext)
    val reg = spark.sessionState.functionRegistry.clone()
    org.apache.spark.sql.graft.Bridge.applyInjectedFunctions(ext, reg)
    for (name <- graft.spark.functions.sqlBuilders.map(_._1))
      assert(reg.functionExists(FunctionIdentifier(name)), s"$name not injected")
  }

  test("suffix-array LCS confirm column works on pipeline captions") {
    val pairs = Dedup.confirm(Dedup.candidatesPhashBlocks(corpus), corpus)
      .limit(20)
    val withLcs = pairs
      .join(corpus.select(col("image_id").as("id_a"), col("caption").as("ca")), "id_a")
      .join(corpus.select(col("image_id").as("id_b"), col("caption").as("cb")), "id_b")
      .withColumn("lcs", gf.lcs_len(col("ca"), col("cb")))
      .collect()
    assert(withLcs.forall(r => r.getAs[Int]("lcs") > 0))
  }

  /** `body`'s result and the stage count of each Spark job it starts, in
    * start order. The listener is fenced by a sentinel job: events arrive
    * in post order, so once the sentinel's start is seen, every job `body`
    * started has been seen too. */
  private def jobsOf[T](body: => T): (T, Seq[Int]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "jobs-under-test"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") -> e.stageInfos.size)
    }
    def sentinelSeen = started.asScala.exists(_._1 == "sentinel")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs under test")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup("sentinel", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
      (result, started.asScala.collect { case (`group`, stages) => stages }.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("confirm and confirmSubstring build their plans without starting a Spark job") {
    val cands = Dedup.candidatesPhashBlocks(corpus) // eager: its jobs run before the window
    val (_, jobs) = jobsOf {
      Dedup.confirm(cands, corpus)
      Dedup.confirmSubstring(cands, corpus)
    }
    assert(jobs.isEmpty, s"building a confirm plan started ${jobs.size} Spark jobs")
  }

  test("driver-side scalars run as one map-only job: walk sizing, the clusters edge count") {
    // an exchange-free frame: 4,000 rows × 3 keys. The walk's plan (its
    // width and the shared-key sketch) comes from one 1-stage job
    val frame = spark.range(0L, 4000L, 1L, 4).select(col("id"), lit(0L).as("phash"),
      array(lit(1L), lit(2L), lit(3L)).as("keys"))
    val (plan, planJobs) = jobsOf(Dedup.planWalk(frame))
    try {
      assert(planJobs === Seq(1))
      assert(plan.parts === 4)
      assert(plan.sketch != null, "the sketch was skipped")
    } finally plan.release()
    // the driver path: one job packs, caches and sizes the edge chunks,
    // one collects them; no count job runs between
    val edges = Dedup.dupPairs(corpus).localCheckpoint()
    val vertices = corpus.select("image_id")
    val (clustered, jobs) = jobsOf(Dedup.clusters(edges, vertices))
    assert(jobs === Seq(1, 1))
    assert(clustered.collect().toSet ===
      Dedup.clusters(edges, vertices, localThreshold = 0L).collect().toSet)
  }

  test("partitionMetrics == the groupBy(spark_partition_id()) formulation, with no exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.Exchange
    // five partitions, the third one empty; 400 rows in 58 clusters
    val clustered = spark.sparkContext.parallelize(0 until 400, 5)
      .mapPartitionsWithIndex((i, it) => if (i == 2) Iterator.empty else it)
      .map(i => (f"img_$i%010d", f"img_${i / 7}%010d"))
      .toDF("image_id", "cluster_id")
    val bySql = clustered.withColumn("part", spark_partition_id())
      .groupBy(col("part"))
      .agg(count(lit(1)).as("rows"),
        gf.hll_card(gf.hll_agg(xxhash64(col("cluster_id")), 12)).as("distinct_clusters_est"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val metrics = Dedup.partitionMetrics(clustered)
    assert(metrics.columns.toSeq === Seq("part", "rows", "distinct_clusters_est"))
    val (rows, jobs) = jobsOf(metrics.collect())
    assert(jobs === Seq(1))
    val byFold = rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byFold.keySet === Set(0, 1, 3, 4))
    assert(byFold === bySql)
    val exchanges = metrics.queryExecution.executedPlan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty, metrics.queryExecution.executedPlan.toString)
  }

  test("confirm and confirmSubstring shuffle the corpus side once, reused by both joins") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
    object Plans extends AdaptiveSparkPlanHelper
    // the corpus scan feeds this exchange directly, not through another one
    def sideOf(exchangeInput: SparkPlan): Boolean = exchangeInput match {
      case _: FileSourceScanExec => true
      case _: Exchange | _: QueryStageExec => false
      case p => p.children.exists(sideOf)
    }
    // (live corpus-side shuffles, reused corpus-side exchanges) in the final
    // AQE plan; a reused stage is a leaf, so it never counts as a live one
    def sideExchanges(df: DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      (Plans.collect(plan) { case s: ShuffleExchangeExec if sideOf(s.child) => s }.size,
        Plans.collect(plan) { case r: ReusedExchangeExec if sideOf(r.child.child) => r }.size)
    }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(source: String, cands: DataFrame, side: DataFrame): Unit =
      for ((name, df) <- Seq("confirm" -> Dedup.confirm(cands, side),
          "confirmSubstring" -> Dedup.confirmSubstring(cands, side))) {
        val (live, reused) = sideExchanges(df)
        if (live != 1 || reused != 1) failures +=
          s"$name over $source: $live live corpus shuffles, $reused reused:\n" +
            df.queryExecution.executedPlan
      }
    // cold walk outputs (marker-filtered deduped checkpoints)
    val path = java.nio.file.Files.createTempDirectory("confirmside").toString
    corpus.write.mode("overwrite").parquet(path)
    val pq = spark.read.parquet(path)
    check("candidatesPhashBlocks", Dedup.candidatesPhashBlocks(pq), pq)
    val banded = Dedup.signatures(pq)
      .select(col("image_id"), col("phash"), gf.band_keys(col("minhash"), 32, 4).as("bands"))
      .localCheckpoint()
    check("candidatesFromBands", Dedup.candidatesFromBands(banded), pq)
    // a hot-path frame: 60 rows share one phash, hot at threshold 16
    val hot = hotCorpus
    check("saltedBucketPairs (hot)", Dedup.saltedBucketPairs(hotKeyed, maxHamming = 3, hotThreshold = 16), hot)
    if (failures.nonEmpty) fail(failures.mkString("\n"))
  }

  /** 60 rows share one phash (hot at walk threshold 16) beside 40 unique
    * ones, read back from parquet. */
  private lazy val hotCorpus = {
    import spark.implicits._
    val hotPath = java.nio.file.Files.createTempDirectory("confirmsidehot").toString
    ((0 until 60).map(i => (f"img_$i%010d", 0x1234567890abcdefL, s"caption $i")) ++
      (100 until 140).map(i => (f"img_$i%010d", 0x0f0f0f0f0f0f0f0fL ^ (i.toLong << 16), s"caption $i")))
      .toDF("image_id", "phash", "caption").write.mode("overwrite").parquet(hotPath)
    spark.read.parquet(hotPath)
  }

  private def hotKeyed = Dedup.prepared(hotCorpus)
    .select(col("id"), col("phash"), gf.phash_block_keys(col("phash"), 4).as("keys"))

  test("hot saltedBucketPairs frame: pair set independent of the shuffle-partition count") {
    val (at4, at8) = graft.SessionConf.atPartitions4And8(spark)(
      Dedup.saltedBucketPairs(hotKeyed, maxHamming = 3, hotThreshold = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(at4.size >= 60 * 59 / 2)
    assert(at4 === at8, s"missing at 8=${(at4 -- at8).size} extra at 8=${(at8 -- at4).size}")
  }
}
