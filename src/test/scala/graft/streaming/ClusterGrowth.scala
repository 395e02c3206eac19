package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.data.SyntheticImages
import graft.util.Fs

/** Stream cost instrument for an indexed duplicate cluster: one planted
  * cluster (identical caption and pHash, so every member shares every band
  * key, as in StreamingDedupSpec's planted case) grows by `perBatch`
  * members per micro-batch, beside `bgFamilies` background families per
  * batch. Each batch's new members must pair with every indexed member, so
  * a walk that also compares the indexed members with each other pays
  * ~H²/2 per batch at cluster size H. Prints one `CG` line: stream wall,
  * per-batch wall p50/max and the last five, sink rows, distinct pairs and
  * an order-free digest of the pair set (equal digests ⇒ equal pair sets,
  * up to hash collisions).
  *
  * usage: Test/runMain graft.streaming.ClusterGrowth nBatches perBatch bgFamilies
  * (e.g. 30 100 20: the cluster ends at 3,000 members, 4,498,500 pairs)
  */
object ClusterGrowth {
  def main(args: Array[String]): Unit = {
    val Array(nBatches, perBatch, bgFamilies) = args.take(3).map(_.toInt)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val src = Files.createTempDirectory("cg-src").toString
    val out = Files.createTempDirectory("cg-out").toString
    val cap = (0 until 12).map(i => SyntheticImages.vocab(i * 7)).mkString(" ")
    // one append of 4 files per batch: maxFilesPerTrigger=4 makes each
    // append one micro-batch
    (0 until nBatches).foreach { b =>
      val hot = (0 until perBatch).map { i =>
        SyntheticImages.Row(f"img_${5000000L + b * perBatch + i}%010d", Array.empty[Byte], 32, 32,
          "png", cap, 0x0F0F0F0F12345678L, 999999L)
      }
      val bg = (0 until bgFamilies).flatMap { f =>
        val fid = (b * bgFamilies + f).toLong
        SyntheticImages.family(fid, 42L, fid * 8)
      }
      spark.createDataset(hot ++ bg).toDF().repartition(4).write.mode("append").parquet(src)
    }
    val walls = new scala.collection.concurrent.TrieMap[Long, Double]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          walls.put(p.batchId, p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000): Unit
      }
    })
    val t0 = System.nanoTime()
    val q = StreamingDedup.start(spark, src, out)
    q.processAllAvailable()
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val sink = spark.read.parquet(s"$out/dup_pairs").select("id_a", "id_b")
    val rows = sink.count()
    val pairs = sink.distinct()
    val distinct = pairs.count()
    val digest = pairs.select(sum(xxhash64(col("id_a"), col("id_b")).cast("decimal(38,0)"))).head().get(0)
    val w = walls.toSeq.sortBy(_._1).map(_._2)
    println(f"CG batches=${w.length} wall=$wall%.1f p50=${w.sorted.apply(w.length / 2)}%.2f " +
      f"max=${w.max}%.2f last5=${w.takeRight(5).map(x => f"$x%.2f").mkString(",")} " +
      s"rows=$rows distinct=$distinct digest=$digest")
    spark.stop()
    Fs.deleteRecursively(new java.io.File(src))
    Fs.deleteRecursively(new java.io.File(out))
  }
}
