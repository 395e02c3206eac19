package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SyntheticImages
import graft.pipeline.Dedup

/** Incremental streaming dedup == batch dedup on the same corpus: the
  * stream's pair set, summed over its micro-batches, EQUALS the batch
  * MinHash channel's pair set, across micro-batch boundaries, index
  * compaction and replayed index appends. */
class StreamingDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def families(n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.createDataset((0L until n).flatMap(fid => SyntheticImages.family(fid, seed, fid * 8))).toDF()
  }

  /** run the stream over everything in `srcDir` until idle, then stop it. */
  private def runStream(srcDir: String, outDir: String): Unit = {
    val q = StreamingDedup.start(spark, srcDir, outDir)
    q.processAllAvailable()
    q.stop()
  }

  private def pairSet(df: DataFrame): Set[(String, String)] =
    df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def streamed(outDir: String): Set[(String, String)] =
    pairSet(spark.read.parquet(s"$outDir/dup_pairs"))

  /** the batch MinHash channel over the whole corpus. */
  private def batchPairs(corpus: DataFrame): Set[(String, String)] =
    pairSet(Dedup.dupPairsMinhash(corpus))

  /** the index holds exactly one row per image of the corpus. */
  private def assertOneIndexRowPerImage(outDir: String, corpus: DataFrame): Unit = {
    val index = spark.read.parquet(s"$outDir/index")
    val ids = corpus.select("image_id").collect().map(_.getString(0)).toSet
    val indexIds = index.select("image_id").collect().map(_.getString(0))
    assert(indexIds.length === ids.size, "index row count != image count")
    assert(indexIds.toSet === ids, "index image set != corpus image set")
  }

  private def sinkHasNoDuplicates(outDir: String): Unit = {
    val sink = spark.read.parquet(s"$outDir/dup_pairs")
    assert(sink.columns.contains("batch"), "pairs sink is not batchId-partitioned")
    assert(sink.select("id_a", "id_b").count() ===
      sink.select("id_a", "id_b").distinct().count(),
      "duplicate pair rows in the sink")
  }

  test("streaming incremental dedup matches batch minhash channel") {
    spark.sparkContext.setLogLevel("WARN")
    val corpus = families(250L)
    val srcDir = tmp("stream-src")
    val outDir = tmp("stream-out")
    // 10 input files → several micro-batches (maxFilesPerTrigger=4)
    corpus.repartition(10).write.mode("overwrite").parquet(srcDir)
    runStream(srcDir, outDir)

    val batch = batchPairs(corpus)
    assert(batch.nonEmpty)
    assert(streamed(outDir) === batch)
    // the index is flat: one row per image, no partition dirs
    assertOneIndexRowPerImage(outDir, corpus)
    assert(!new java.io.File(s"$outDir/index").listFiles()
      .exists(f => f.isDirectory && !f.getName.startsWith(".")), "index has partition dirs")
  }

  test("~20 micro-batches: bounded index files, pair set unchanged") {
    spark.sparkContext.setLogLevel("WARN")
    val corpus = families(250L)
    val srcDir = tmp("stream-cpt-src")
    val outDir = tmp("stream-cpt-out")
    // 80 input files → 20 micro-batches (maxFilesPerTrigger=4): one index
    // file per batch, so without compaction the index ends at 20 files
    corpus.repartition(80).write.mode("overwrite").parquet(srcDir)
    runStream(srcDir, outDir)

    // bounded: the index is compacted right after the append that grows it
    // past the threshold, so it never ends above it
    val indexDir = new java.io.File(s"$outDir/index")
    val all = indexDir.listFiles()
    val parquets = all.count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquets > 0)
    assert(parquets <= StreamingDedup.CompactAfterFiles,
      s"index has $parquets files after compaction")

    // the TOTAL listing is bounded too, not just the *.parquet view:
    // compaction must delete each input's Hadoop .crc sibling (an orphaned
    // checksum per compacted file would re-grow exactly the listing cost
    // compaction bounds) and leave no stale .compact-* tmp dirs behind
    val crcs = all.count(_.getName.endsWith(".parquet.crc"))
    assert(crcs <= parquets, s"$crcs orphan .crc files beside $parquets parquet files")
    assert(!all.exists(f => f.isDirectory && f.getName.startsWith(".compact-")),
      "stale .compact-* tmp dir left in the index root")

    // lossless and duplicate-free: compaction neither drops nor repeats rows
    assertOneIndexRowPerImage(outDir, corpus)

    // exactly-once pairs sink contract: batchId-keyed partitions (so a
    // crash-replayed micro-batch overwrites its own output) and no
    // duplicate pair rows anywhere in the sink
    sinkHasNoDuplicates(outDir)
    assert(streamed(outDir) === batchPairs(corpus))
  }

  test("planted hot cluster: streamed pairs equal the batch channel's") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // one giant duplicate cluster (identical caption + phash ⇒ every band
    // value collides for every member) spread across micro-batches, so each
    // batch's members confirm against already-indexed members sharing every
    // band key. Correctness bar: the streamed pair set must be EXACTLY the
    // batch channel's pair set, and must contain all C(n,2) planted pairs.
    val hotN = 120
    val cap = (0 until 12).map(i => SyntheticImages.vocab(i * 7)).mkString(" ")
    val hot = (0 until hotN).map { i =>
      SyntheticImages.Row(f"img_${5000000L + i}%010d", Array.empty[Byte], 32, 32,
        "png", cap, 0x0F0F0F0F12345678L, 999999L)
    }
    val bg = (0L until 50L).flatMap(fid => SyntheticImages.family(fid, 7L, fid * 8))
    val corpus = spark.createDataset(hot ++ bg).toDF()
    val srcDir = tmp("stream-hot-src")
    val outDir = tmp("stream-hot-out")
    corpus.repartition(8).write.mode("overwrite").parquet(srcDir)
    runStream(srcDir, outDir)

    val got = streamed(outDir)
    val hotIds = hot.map(_.image_id).sorted
    val planted = (for {
      i <- hotIds.indices; j <- (i + 1) until hotIds.length
    } yield (hotIds(i), hotIds(j))).toSet
    assert(planted.subsetOf(got), s"missing planted pairs: ${(planted -- got).take(5)}")
    assert(got === batchPairs(corpus))
  }

  test("exact twins split across micro-batches beside null and empty captions") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val s = SyntheticImages.family(7L, 42L, 0L).head
    def row(id: Long, caption: String) =
      SyntheticImages.Row(f"img_$id%010d", Array.empty[Byte], 32, 32, "png", caption, s.phash, 0L)
    // each phase is a separate run of the stream over the files present, so
    // the twins land in two different micro-batches; the null- and
    // empty-caption rows share the twins' pHash (and the two empty ones
    // every band key) but must pair with nothing. The first batch, which
    // finds no index, carries one twin twice: it must pair with neither
    // itself nor the other twin twice.
    val twin = row(1L, s.caption)
    val first = Seq(twin, twin, row(2L, null), row(3L, ""))
    val second = Seq(row(4L, s.caption), row(5L, null), row(6L, ""))
    val srcDir = tmp("stream-twin-src")
    val outDir = tmp("stream-twin-out")
    first.toDF().coalesce(1).write.mode("overwrite").parquet(srcDir)
    runStream(srcDir, outDir)
    second.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    runStream(srcDir, outDir)

    val batch = batchPairs((first.tail ++ second).toDF())
    assert(batch === Set(("img_0000000001", "img_0000000004")))
    assert(streamed(outDir) === batch)
    sinkHasNoDuplicates(outDir)
    // emitted by the second micro-batch, the one that brought the second twin
    assert(pairSet(spark.read.parquet(s"$outDir/dup_pairs").where(col("batch") === 1)) === batch)
  }

  test("a replayed index append (one batch's index file twice) changes no pair") {
    spark.sparkContext.setLogLevel("WARN")
    val corpus = families(120L)
    // the two halves of every family arrive in two runs, so the second run's
    // rows pair with indexed first-run rows through the duplicated file
    val first = corpus.where(col("image_id").substr(-1, 1).isin("0", "2", "4", "6", "8"))
    val second = corpus.except(first)
    val srcDir = tmp("stream-replay-src")
    val outDir = tmp("stream-replay-out")
    first.repartition(4).write.mode("overwrite").parquet(srcDir)
    runStream(srcDir, outDir)
    // a crash after the index append but before the offset commit replays
    // that batch, which appends its index file a second time
    val indexDir = new java.io.File(s"$outDir/index")
    val file = indexDir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(file.toPath,
      new java.io.File(indexDir, s"replayed-${file.getName}").toPath): Unit
    second.repartition(8).write.mode("append").parquet(srcDir)
    runStream(srcDir, outDir)

    sinkHasNoDuplicates(outDir)
    val batch = batchPairs(corpus)
    assert(batch.nonEmpty)
    assert(streamed(outDir) === batch)
  }

  test("an index in the old bucket=N layout fails fast at start") {
    spark.sparkContext.setLogLevel("WARN")
    val srcDir = tmp("stream-bucket-src")
    val outDir = tmp("stream-bucket-out")
    families(4L).write.mode("overwrite").parquet(srcDir)
    new java.io.File(s"$outDir/index/bucket=17").mkdirs()
    val e = intercept[IllegalStateException](StreamingDedup.start(spark, srcDir, outDir))
    assert(e.getMessage.contains("bucket="), e.getMessage)
    assert(!new java.io.File(s"$outDir/checkpoint").exists(), "the stream started anyway")
  }
}
