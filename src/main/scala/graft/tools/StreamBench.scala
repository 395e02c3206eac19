package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.{Files, Paths}
import graft.Bench
import graft.data.SyntheticImages

/** Sustained streaming-ingest benchmark (VERDICT r4 #4): StreamingDedupSpec
  * proves correctness and bounded file counts at ~20 micro-batches; this
  * instrument runs 200+ micro-batches of the incremental dedup pipeline and
  * measures how the per-batch wall moves as the index grows. Each batch
  * reads the whole flat index (`StreamingDedup` scaladoc), so the curve
  * shows what that read costs at this index size; compaction pauses show
  * as bounded spikes. Writes `BENCH/STREAM.md` (relative to the checkout it
  * runs in) + one JSON line on stdout.
  *
  * usage: StreamBench [nBatches] [familiesPerBatch]   (defaults 220, 60)
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    Bench.sweepStaleLocalDirs()
    val nBatches = args.headOption.map(_.toInt).getOrElse(220)
    val familiesPerBatch = if (args.length > 1) args(1).toInt else 60
    val filesPerBatch = 4 // StreamingDedup pins maxFilesPerTrigger=4

    val spark = Bench.session(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val srcDir = Files.createTempDirectory("streambench-src").toString
    val outDir = Files.createTempDirectory("streambench-out").toString
    val indexDir = new java.io.File(outDir, "index")

    // source: nBatches * filesPerBatch parquet files of deterministic
    // image+caption families (the spec's generator), written up front —
    // generation is excluded from all timings. Families are batch-local plus
    // a 10% overlap stride so cross-batch dup pairs exist at every point of
    // the run (the new-vs-index join does real work in every batch).
    // ONE WRITE PER BATCH GROUP (not a single round-robin repartition, which
    // stripes every family across all files and would dissolve the
    // batch-locality the bench documents): sequential appends give the file
    // source's timestamp ordering the same grouping the generator intends.
    var nRows = 0L
    (0 until nBatches).foreach { b =>
      val base = b.toLong * familiesPerBatch * 9 / 10 // 10% family overlap with the previous batch
      val rows = (0 until familiesPerBatch).flatMap { f =>
        SyntheticImages.family(base + f, 42L, (base + f) * 8)
      }
      nRows += rows.size
      spark.createDataset(rows).toDF()
        .repartition(filesPerBatch)
        .write.mode("append").parquet(srcDir)
    }

    // instrument: per-batch trigger wall from the streaming progress bus,
    // index file count + bytes sampled at each progress event (the listener
    // thread is off the hot path; listing ≤ CompactAfterFiles files is
    // microseconds)
    final case class B(batchId: Long, rows: Long, wallSec: Double,
      indexFiles: Int, indexMB: Double)
    val batches = new scala.collection.concurrent.TrieMap[Long, B]()
    def indexStat(): (Int, Double) = {
      val files = Option(indexDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      (files.length, files.map(_.length()).sum / 1e6)
    }
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val (nf, mb) = indexStat()
          batches.put(p.batchId, B(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000, nf, mb)): Unit
        }
      }
    })

    val t0 = System.nanoTime()
    val q = graft.streaming.StreamingDedup.start(spark, srcDir, outDir)
    q.processAllAvailable()
    q.stop()
    val totalWall = (System.nanoTime() - t0) / 1e9

    // the progress listener is an ASYNC bus: processAllAvailable guarantees
    // batch processing, not event delivery — drain until the recorded batch
    // set stops growing so the final deciles describe the run's actual tail
    var prevSeen = -1
    var quiet = 0
    var waited = 0
    while (quiet < 4 && waited < 60) { // 1 s of silence, 15 s cap
      Thread.sleep(250); waited += 1
      val cur = batches.size
      if (cur == prevSeen) quiet += 1 else { quiet = 0; prevSeen = cur }
    }

    val bs = batches.values.toSeq.sortBy(_.batchId)
    val nPairs = spark.read.parquet(s"$outDir/dup_pairs").count()
    spark.stop()

    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else s(math.min(s.size - 1, (p * s.size).toInt))
    }
    // warmup window excluded from the flatness comparison: the first batches
    // pay JIT + the index-bootstrap path
    val warm = bs.drop(10)
    val walls = warm.map(_.wallSec)
    val early = warm.slice(0, 30).map(_.wallSec)
    val late = warm.takeRight(30).map(_.wallSec)
    val flatness = mean(late) / math.max(1e-9, mean(early))
    val deciles = warm.grouped(math.max(1, warm.size / 10)).toSeq
      .map(g => (g.head.batchId, mean(g.map(_.wallSec)), g.last.indexFiles, g.last.indexMB))

    val md = new StringBuilder
    md ++= "# BENCH/STREAM — sustained streaming-ingest run (written by graft.tools.StreamBench, not by hand)\n\n"
    md ++= "Job: the incremental LSH dedup stream (StreamingDedup.start) — per\n"
    md ++= "micro-batch: signature stage, a broadcast band-key semi-join that picks\n"
    md ++= "the index rows able to pair with the batch (full read of the flat index,\n"
    md ++= "one row per image), the batch MinHash channel's walk and confirm\n"
    md ++= "(Dedup.keyedDupPairs) over batch + picked rows, comparing only pairs\n"
    md ++= "with a batch endpoint, exactly-once pairs sink, one index file\n"
    md ++= "appended, size-tiered merge of the index files.\n\n"
    md ++= f"Input: $nRows rows / ${bs.size} non-empty micro-batches (maxFilesPerTrigger=4,\n"
    md ++= f"10%% family overlap between consecutive batches so cross-batch dup pairs\n"
    md ++= f"exist throughout). Total wall ${totalWall}%.1f s (${nRows / totalWall}%.0f rows/s\n"
    md ++= f"end-to-end incl. stream scheduling); $nPairs dup pairs emitted. Host:\n"
    md ++= f"${Runtime.getRuntime.availableProcessors} cores, local[32] session.\n\n"
    md ++= "## Per-batch wall vs accumulated index\n\n"
    md ++= "| batches (decile start) | mean batch wall (s) | index files | index MB |\n|---|---|---|---|\n"
    deciles.foreach { case (bid, w, nf, mb) =>
      md ++= f"| $bid | $w%.2f | $nf | $mb%.1f |\n"
    }
    md ++= f"""
      |Flatness: mean wall of the LAST 30 warm batches / FIRST 30 warm batches
      |= ${flatness}%.2f (first 10 batches excluded as JIT/bootstrap). The
      |index grows monotonically in bytes (final ${bs.lastOption.map(_.indexFiles).getOrElse(0)} files,
      |${bs.lastOption.map(_.indexMB).getOrElse(0.0)}%.1f MB) while compaction keeps its file
      |count ≤ ${graft.streaming.StreamingDedup.CompactAfterFiles}. Every batch reads the whole index, so the
      |ratio carries the cost of that read as the index grows; a batch's band
      |keys hash into nearly every slot of any key-partitioned layout, so
      |partitioning the index would not shrink the read at this batch size.
      |Batch wall p50 ${pct(walls, 0.50)}%.2f s, p90 ${pct(walls, 0.90)}%.2f s,
      |p99 ${pct(walls, 0.99)}%.2f s, max ${if (walls.isEmpty) 0.0 else walls.max}%.2f s —
      |the tail above p90 is the compaction pauses (the size-tiered merge runs
      |inside the owning batch by design: a crash-safe serial writer, no
      |background compactor to coordinate with at this scale).
      |""".stripMargin
    // relative: the checkout the tool runs in (sbt forks in the project root)
    val out = Paths.get("BENCH", "STREAM.md").toAbsolutePath
    Files.createDirectories(out.getParent)
    Files.writeString(out, md.toString)

    println(f"""{"stream_bench":{"rows":$nRows,"batches":${bs.size},"total_wall_sec":$totalWall%.1f,"rows_per_sec":${nRows / totalWall}%.0f,"pairs":$nPairs,"flatness_last30_over_first30":$flatness%.3f,"batch_wall_p50":${pct(walls, 0.5)}%.3f,"batch_wall_p90":${pct(walls, 0.9)}%.3f,"batch_wall_p99":${pct(walls, 0.99)}%.3f,"index_files_final":${bs.lastOption.map(_.indexFiles).getOrElse(0)},"index_mb_final":${bs.lastOption.map(_.indexMB).getOrElse(0.0)}%.1f}}""")
    System.err.println(s"[stream] wrote $out")
  }
}
