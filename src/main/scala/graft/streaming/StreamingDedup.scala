package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup
import graft.spark.{functions => gf}
import graft.util.Fs

/** Incremental (streaming) near-duplicate detection.
  *
  * The reference is batch-only (SURVEY.md §2.5 "Streaming: none"), but a
  * training-data ingest pipeline sees documents/images arrive continuously.
  * This module processes an append-only stream of image+caption rows and
  * maintains a persistent LSH index:
  *
  *  - `readStream` source → the same narrow signature stage as batch
  *    (sketches are row-local, so batch/stream parity is free);
  *  - `foreachBatch`: the micro-batch's fresh rows `(image_id, phash,
  *    caption, keys)`, `keys` their MinHash band keys, plus the index rows
  *    that share at least one band key with them, run through the batch
  *    channel's own walk and confirm ([[Dedup.keyedDupPairs]]), with the
  *    fresh ids as its probes: the walk compares only pairs with at least
  *    one fresh endpoint, so an indexed duplicate cluster of H members
  *    costs a batch f·H checks for its f fresh members, not H²/2. Those
  *    pairs go to a `dup_pairs` sink, then the fresh rows are appended to
  *    the index. Every pair surfaces in the batch that brings its second
  *    member, so the sink's union equals the batch MinHash channel's pair
  *    set over the whole stream.
  *
  * The index is a flat parquet dir, one row per image and one file per
  * micro-batch, kept at ≤ [[CompactAfterFiles]] files by a size-tiered
  * merge ([[compactIndex]]). A batch reads it in full: a micro-batch's
  * ~25 rows × 32 bands (~800 keys) hash into nearly every slot of any
  * key-partitioned layout (≈245 of 256 buckets), so partition pruning
  * would not cut the read, while each partition would cost a file per
  * append and its own compaction. StreamBench measures the per-batch wall
  * against the growing index (BENCH/STREAM.md: 220 micro-batches of ~127
  * rows on a 4-core host, p50 1.39 s per batch, last-30/first-30 wall
  * ratio 1.17 while the index grows to 8.3 MB in 8 files).
  *
  * State lives in parquet (restart-safe together with the checkpointLocation
  * offsets), keeping the pattern identical to what an Iceberg-backed index
  * table would do at production scale. foreachBatch delivery is
  * at-least-once, so each sink states its replay contract explicitly: the
  * `dup_pairs` sink is EXACTLY-once (each micro-batch overwrites its own
  * batchId-keyed partition, so a crash-replayed batch rewrites rather than
  * re-appends); the index append is at-least-once by design — a replayed
  * append, or an image the source repeats within a batch, leaves an
  * image's row twice, which the per-batch read and compaction both
  * collapse on `image_id`, so it never changes a pair.
  */
object StreamingDedup {

  /** index file-count compaction threshold: once the index directory holds
    * more than this many parquet files, its smallest ⌈n/2⌉ files are merged
    * into one (size-tiered — see [[compactIndex]]). Without this,
    * long-running ingest appends one file per micro-batch forever, and
    * every later batch pays ever-growing listing + open cost. */
  val CompactAfterFiles = 8

  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** delete a data file TOGETHER with the `.name.crc` sibling the local
    * Hadoop ChecksumFileSystem committed next to it — File.delete bypasses
    * Hadoop, and an orphaned .crc per compacted input would otherwise grow
    * the index listing forever (the exact cost compaction bounds). */
  private def deleteWithCrc(f: java.io.File): Boolean = {
    val ok = f.delete()
    if (ok) new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
    ok
  }

  /** sweep tmp dirs orphaned by a crash mid-compaction. Called from the
    * single-writer foreachBatch thread BEFORE that batch's compaction: any
    * `.compact-*` dir present then is stale (its moved-in files, if any,
    * are already part of the index), and no live compaction exists to race
    * with. */
  private def sweepStaleCompactionDirs(indexDir: String): Unit =
    Option(new java.io.File(indexDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".compact-"))
      // recursive: a crash mid-write leaves nested `_temporary/...` trees
      .foreach(Fs.deleteRecursively)

  /** merge the index's SMALLEST ⌈n/2⌉ files into one once it holds more
    * than [[CompactAfterFiles]] — size-tiered, not a full rewrite. Rewriting
    * the whole index to one file each time it crossed the threshold would
    * re-read and re-write all accumulated data every compaction — O(N²/K)
    * total write amplification. Merging the smallest half keeps the file
    * count ≤ CompactAfterFiles while a row's file roughly doubles each time
    * it participates, so each row is rewritten O(log N) times over an
    * unbounded ingest. One job per compaction.
    *
    * Crash-safe WITHOUT a manifest, by write-then-delete ordering: the
    * merged file is fully written and moved into the index directory
    * BEFORE any input file is deleted, so a crash at any point leaves the
    * index's row multiset a SUPERSET of the true data. Duplicate index rows
    * are harmless to the pair output (each batch collapses the index rows
    * it reads on `image_id`); LOST rows would silently drop pairs — hence
    * this ordering rather than an in-place overwrite. foreachBatch is a
    * single serial writer and runs this inline, so no compaction outlives
    * its batch. */
  private def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    val dir = new java.io.File(indexDir)
    val all = dataFiles(dir)
    if (all.length <= CompactAfterFiles) return
    // smallest ⌈n/2⌉ files (ties by name for determinism)
    val olds = all.sortBy(f => (f.length(), f.getName))
      .take((all.length + 1) / 2)
    val tmp = new java.io.File(indexDir, s".compact-${java.util.UUID.randomUUID()}")
    // read exactly the listed merge set (never the moved-in result).
    // dropDuplicates on the natural key (one index row per image): if an
    // earlier pass's input-file delete failed, or a replayed batch appended
    // its file twice, the rows exist in two files — deduping here keeps
    // duplication from COMPOUNDING (a duplicate collapses whenever its two
    // holders land in the same merge set, which smallest-half selection
    // eventually forces), while the write-then-delete ordering still
    // guarantees rows are never lost.
    spark.read.parquet(olds.map(_.getPath).toIndexedSeq: _*)
      .dropDuplicates("image_id")
      .coalesce(1).write.parquet(tmp.getPath)
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).foreach { p =>
      // move the DATA file first, the .crc sibling second: a crash between
      // the two moves then leaves the orphan .crc in tmp, where the
      // `.compact-*` sweep at next entry removes it. (A crc-first order
      // would strand the .crc in the index dir — a place no sweep touches —
      // whenever the crash hit between the moves.) A data file briefly
      // lacking its .crc is safe: ChecksumFileSystem skips verification
      // when the sibling is absent, and the defensive orphan sweep below
      // clears any .crc that still loses its data file.
      java.nio.file.Files.move(p.toPath,
        new java.io.File(dir, p.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      val crc = new java.io.File(tmp, s".${p.getName}.crc")
      if (crc.isFile) java.nio.file.Files.move(crc.toPath,
        new java.io.File(dir, crc.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    }
    // defensive sweep: remove any `.name.crc` whose data file is gone
    // (e.g. left by a crash under a crc-first move order) so the index
    // listing — the exact cost compaction bounds — cannot grow stale
    // checksum entries forever
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(".") && f.getName.endsWith(".crc"))
      .filterNot(f => new java.io.File(dir,
        f.getName.stripPrefix(".").stripSuffix(".crc")).isFile)
      .foreach(_.delete(): Unit)
    // eager per-file delete (no short-circuit): a failure leaves that file's
    // rows duplicated until a later compaction both dedups and deletes it —
    // bounded, logged, and harmless to pair output (reads dedup on image_id)
    val failed = olds.filterNot(deleteWithCrc)
    if (failed.nonEmpty) System.err.println(
      s"[streaming-dedup] ${failed.length} index file(s) " +
        "could not be deleted after compaction; rows stay duplicated until " +
        "a later compaction pass dedups and removes them")
    Fs.deleteRecursively(tmp)
  }

  /** The index moved from `bucket=N` partition dirs (one row per image and
    * band) to flat files (one row per image). A checkpoint resumed over the
    * old layout would read partition dirs beside flat files, so `start`
    * refuses it instead of mixing the two. */
  private def requireFlatIndex(indexDir: String): Unit = {
    val buckets = Option(new java.io.File(indexDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    if (buckets.nonEmpty) throw new IllegalStateException(
      s"index $indexDir has the bucket=N partitioned layout (${buckets.length} bucket " +
        "dirs, one row per image and band) of an older StreamingDedup; this version " +
        "reads a flat index of one row per image. Start the stream on a new outDir.")
  }

  /** run the incremental pipeline over a parquet-backed stream.
    * Returns the started query; results accumulate under `outDir/dup_pairs`,
    * the LSH index under `outDir/index` (flat, one row per image). */
  def start(spark: SparkSession, sourceDir: String, outDir: String,
      cfg: Dedup.Config = Dedup.defaultConfig): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val schema = spark.read.parquet(sourceDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(sourceDir)

    val indexDir = s"$outDir/index"
    val pairsDir = s"$outDir/dup_pairs"
    requireFlatIndex(indexDir)
    stream.writeStream
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fresh = Dedup.signatures(batch, cfg)
          .select(col("image_id"), col("phash"), col("caption"),
            gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("keys"))
          .localCheckpoint()
        // the walk's input: the fresh rows plus every index row sharing a
        // band key with one (no other index row can pair with a fresh one).
        // One row per image, in the first batch too: a batch may carry an
        // image twice, a replayed batch's rows sit in the index too, and a
        // replayed append leaves an index row twice.
        val side = (
          if (!new java.io.File(indexDir, "_SUCCESS").exists()) fresh
          else {
            val freshKeys = fresh.select(explode(col("keys")).as("bv")).distinct()
            fresh.unionByName(spark.read.parquet(indexDir)
              .select(col("*"), explode(col("keys")).as("bv"))
              .join(broadcast(freshKeys), Seq("bv"), "left_semi")
              .drop("bv"))
          }).dropDuplicates("image_id").localCheckpoint()
        // only pairs with a fresh endpoint, from the walk on: old-old pairs
        // were emitted by the batch that brought their second member, and
        // an indexed duplicate cluster of H members would cost H²/2 of them
        val probes = fresh.select(Dedup.idNum(col("image_id")).as("id"))
          .where(col("id").isNotNull).as[Long].collect().sorted
        val pairs = Dedup.keyedDupPairs(side, col("keys"), cfg, probes = probes)
        // IDEMPOTENT pairs sink: foreachBatch is at-least-once — a crash
        // between this write and the streaming checkpoint's offset commit
        // replays the whole micro-batch, and a plain append would then
        // duplicate its pair rows PERMANENTLY (nothing downstream dedups
        // the sink). Keying the output directory on batchId and overwriting
        // makes the replay rewrite its own partition instead: exactly-once
        // pairs. (The index append below stays at-least-once by design.)
        // Readers of the sink see `batch` as an extra trailing partition
        // column.
        pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
        // append the fresh rows as ONE index file (read-before-overwrite is
        // unsafe; the index is append-only like an Iceberg append commit),
        // then merge files past the threshold. Stale `.compact-*` tmp dirs
        // are swept first, while no compaction is live.
        fresh.coalesce(1).write.mode("append").parquet(indexDir)
        sweepStaleCompactionDirs(indexDir)
        compactIndex(spark, indexDir)
      }
      .start()
  }
}
