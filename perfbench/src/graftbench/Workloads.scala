package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.{SyntheticDocs, SyntheticImages}
import graft.docs.DocOps
import graft.multimodal.Decode
import graft.pipeline.Dedup
import graft.spark.{functions => gf}

/** Order-independent digest of a row set: row count, a sum of 32-bit
  * hashes (cannot overflow a long) and an xor of 64-bit hashes. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum, xor ^ o.xor)
  override def toString: String = s"$rows:$sum:$xor"
}

object Digest {
  def cols(cs: Column*): Seq[Column] = Seq(count(lit(1)),
    coalesce(sum(hash(cs: _*)), lit(0L)), coalesce(bit_xor(xxhash64(cs: _*)), lit(0L)))
  def of(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  def over(df: DataFrame, cs: Column*): Digest = {
    val c = cols(cs: _*)
    of(df.agg(c.head, c.tail: _*).head)
  }
}

/** The outcome of checking one pass's output. `recall`/`precision` are NaN
  * when the check did not compute them. */
final case class Verdict(digest: Digest, recall: Double, precision: Double,
    problems: Seq[String])

/** Counts must repeat exactly across passes and runs of one seed; timings
  * are reported as medians. */
final case class Layers(counts: Map[String, Double], timings: Map[String, Double])

/** One workload: a seeded corpus, the untraced pass that end-to-end metrics
  * time, and the traced pass that splits it by layer. A pass returns the
  * check of its own output; the caller runs it outside the timed interval
  * (`full` adds the ground-truth join that yields recall and precision). */
trait Workload {
  def name: String
  /** the cached input, which also keeps per-seed facts */
  def corpus: Corpus
  /** input rows of one pass */
  def rows: Long
  /** the layers the traced pass measures (prefixes of per-layer metrics) */
  def layers: Seq[String]
  /** whether the corpus and its ground truth are cached */
  def ready: Boolean = corpus.ready
  /** load generator, untimed: writes the corpus and computes its ground
    * truth */
  def prepare(spark: SparkSession): Unit
  /** the input-load part of set-up */
  def load(spark: SparkSession): Unit
  def pass(): Boolean => Verdict
  def traced(tr: Tracer, cores: Int): (Boolean => Verdict, Layers)
}

/** Seeded corpora, cached by (kind, seed, size) under the benchmark's own
  * state directory. Each is written to a temporary directory and renamed,
  * so an interrupted generation is never read back. Small derived facts
  * (ground truth, digests of earlier runs) sit beside the parquet parts in
  * `_`-prefixed files, which Spark's reader skips. */
final class Corpus(root: File, fileName: String) {
  val dir = new File(root, s"corpus/$fileName")

  private val factsFile = new File(dir, "_truth")

  /** the facts are written after the parquet parts, so they mark a
    * complete corpus */
  def ready: Boolean = factsFile.exists()

  /** writes the parquet parts unless they exist, then the ground-truth
    * facts computed from them */
  def generate(write: String => Unit)(facts: => Map[String, Long]): Unit = {
    if (!new File(dir, "_SUCCESS").exists()) {
      val tmp = new File(dir.getPath + ".tmp")
      Fs.delete(tmp)
      Fs.delete(dir)
      write(tmp.getPath)
      if (!tmp.renameTo(dir)) sys.error(s"cannot move $tmp to $dir")
    }
    val body = facts.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val tmp = new File(dir, "_truth.tmp").toPath
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, factsFile.toPath, StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(dir.getPath)

  lazy val truth: Map[String, Long] =
    new String(Files.readAllBytes(factsFile.toPath), UTF_8).split("\n").filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("=", 2)
      k -> v.toLong
    }.toMap

  /** `value` must equal what an earlier run of the same build stored under
    * `key`; the first run stores it. */
  def repeats(key: String, value: String): Option[String] = {
    val f = new File(dir, s"_repeat_$key")
    if (f.exists()) {
      val prev = new String(Files.readAllBytes(f.toPath), UTF_8)
      if (prev == value) None else Some(s"$key: '$value' differs from an earlier run's '$prev'")
    } else {
      Files.write(f.toPath, value.getBytes(UTF_8))
      None
    }
  }
}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    Files.deleteIfExists(f.toPath): Unit
  }
}

/** Σ C(n, 2) over a column of group sizes. */
private object PairsIn {
  def apply(groups: DataFrame): Long =
    groups.agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0))).head.getDouble(0).toLong
}

/** The dup-dense image+caption corpus (`SyntheticImages.family`): about
  * 2.1 rows per family. Shared by both image workloads. */
final class ImageCorpus(root: File, seed: Long, families: Int) {
  val corpus = new Corpus(root, s"images_s${seed}_f$families.parquet")

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus.generate { path =>
      val s = seed // the closure captures the seed, not this class
      spark.range(0L, families.toLong, 1L, 8)
        .flatMap(fid => SyntheticImages.family(fid, s, fid * 8))
        .write.parquet(path)
    } {
      val df = corpus.read(spark)
      val dims = Digest.over(df, col("image_id"), col("w"), col("h"))
      Map("rows" -> df.count(), "truth_pairs" -> PairsIn(df.groupBy("truth_cluster").count()),
        "dims_rows" -> dims.rows, "dims_sum" -> dims.sum, "dims_xor" -> dims.xor)
    }
  }
}

/** The sketch→cluster job: the chain of public `Dedup` calls the frozen
  * end-to-end bench runs (signatures → band keys, persisted → banded walk
  * → exact confirm → connected components → per-partition HLL metrics). */
final class ImgE2E(images: ImageCorpus) extends Workload {
  val name = "img_e2e"
  def corpus: Corpus = images.corpus
  val layers = Seq("sign", "walk", "confirm", "cluster", "metrics")
  private val cfg = Dedup.defaultConfig
  private def truth = images.corpus.truth
  private var df: DataFrame = _

  def rows: Long = truth("rows")
  def prepare(spark: SparkSession): Unit = images.prepare(spark)
  def load(spark: SparkSession): Unit = df = images.corpus.read(spark)

  private def signed(): DataFrame =
    Dedup.signatures(df)
      .select(col("image_id"), col("phash"), col("simhash"),
        gf.band_keys(col("minhash"), cfg.bands, cfg.rowsPerBand).as("bands"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  def pass(): Boolean => Verdict = {
    val sigs = signed()
    val (clustered, metricRows) =
      try {
        val edges = Dedup.confirm(Dedup.candidatesFromBands(sigs, cfg), df).select("id_a", "id_b")
        val clustered = Dedup.clusters(edges, df.select("image_id"))
        (clustered, Dedup.partitionMetrics(clustered).agg(sum("rows")).head.getLong(0))
      } finally sigs.unpersist()
    full => verdict(clustered, metricRows, full)
  }

  /** `clustered` recomputes cheaply: the union-find labels it reads were
    * computed and broadcast during the pass. */
  private def verdict(clustered: DataFrame, metricRows: Long, full: Boolean): Verdict = {
    val d = Digest.over(clustered, col("image_id"), col("cluster_id"))
    val problems = Seq(
      Option.when(d.rows != rows)(s"$name: ${d.rows} rows clustered, corpus has $rows"),
      Option.when(metricRows != rows)(s"$name: partition metrics cover $metricRows of $rows rows")
    ).flatten
    if (!full) Verdict(d, Double.NaN, Double.NaN, problems)
    else {
      val tp = PairsIn(clustered.join(df.select("image_id", "truth_cluster"), "image_id")
        .groupBy("cluster_id", "truth_cluster").count())
      val found = PairsIn(clustered.groupBy("cluster_id").count())
      val recall = tp.toDouble / truth("truth_pairs")
      val precision = if (found == 0) 1.0 else tp.toDouble / found
      Verdict(d, recall, precision,
        problems ++ Option.when(recall < 0.99)(f"$name: recall $recall%.5f is below 0.99"))
    }
  }

  def traced(tr: Tracer, cores: Int): (Boolean => Verdict, Layers) = {
    val sc = df.sparkSession.sparkContext
    val cachedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    val ((sigs, signedRows), sign) = tr.span("sign") { val s = signed(); (s, s.count()) }
    val cachedMb = sc.getRDDStorageInfo.filterNot(i => cachedBefore(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
    try {
      val (cand, walk) = tr.span("walk")(Dedup.candidatesFromBands(sigs, cfg))
      val pairs = cand.count()
      val (edges, confirm) = tr.span("confirm") {
        Dedup.confirm(cand, df).select("id_a", "id_b").localCheckpoint()
      }
      val nEdges = edges.count()
      val (clustered, cluster) = tr.span("cluster") {
        Dedup.clusters(edges, df.select("image_id")).localCheckpoint()
      }
      val nClusters = clustered.select("cluster_id").distinct().count()
      val (pm, metrics) = tr.span("metrics")(Dedup.partitionMetrics(clustered).collect())
      // partitionMetrics estimates distinct clusters per partition of its
      // input; the exact figure groups the same checkpointed partitions
      val exact = clustered.groupBy(spark_partition_id().as("part"))
        .agg(countDistinct("cluster_id")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val hllErr = pm.map(r => math.abs(r.getAs[Double]("distinct_clusters_est") -
        exact.getOrElse(r.getAs[Int]("part"), 0L))).sum / math.max(1L, exact.values.sum)
      val metricRows = pm.map(_.getAs[Long]("rows")).sum
      val simd = if (ModuleLayer.boot().findModule("jdk.incubator.vector").isPresent) 1.0 else 0.0
      val counts = Map(
        "sign.rows" -> signedRows.toDouble, "sign.simd_module" -> simd,
        "walk.banded_rows" -> signedRows.toDouble * cfg.bands, "walk.pairs" -> pairs.toDouble,
        "walk.jobs" -> walk.tally.jobs.toDouble,
        "confirm.pairs_in" -> pairs.toDouble, "confirm.edges" -> nEdges.toDouble,
        "confirm.jobs" -> confirm.tally.jobs.toDouble,
        "cluster.edges" -> nEdges.toDouble, "cluster.clusters" -> nClusters.toDouble,
        "cluster.driver_path" -> (if (nEdges <= Dedup.clustersLocalThreshold()) 1.0 else 0.0),
        "cluster.jobs" -> cluster.tally.jobs.toDouble)
      val timings = Map(
        "sign.wall_s" -> sign.wallS, "sign.task_s" -> sign.taskS,
        "sign.core_util" -> sign.coreUtil(cores), "sign.cached_mb" -> cachedMb,
        "walk.wall_s" -> walk.wallS, "walk.task_s" -> walk.taskS,
        "walk.core_util" -> walk.coreUtil(cores), "walk.shuffle_mb" -> walk.shuffleMb,
        "walk.spill_mb" -> walk.spillMb,
        "confirm.wall_s" -> confirm.wallS, "confirm.task_s" -> confirm.taskS,
        "confirm.core_util" -> confirm.coreUtil(cores), "confirm.shuffle_mb" -> confirm.shuffleMb,
        "confirm.yield" -> (if (pairs == 0) 1.0 else nEdges.toDouble / pairs),
        "cluster.wall_s" -> cluster.wallS, "cluster.task_s" -> cluster.taskS,
        "metrics.wall_s" -> metrics.wallS, "metrics.hll_rel_err" -> hllErr)
      ((full: Boolean) => verdict(clustered, metricRows, full), Layers(counts, timings))
    } finally sigs.unpersist()
  }
}

/** The `img_decode_meta` query shape: `Decode.imageDims` over the PNG/JPEG
  * bytes. Every pass is checked against the digest of the stored dims. */
final class ImgDecode(images: ImageCorpus) extends Workload {
  val name = "img_decode"
  def corpus: Corpus = images.corpus
  val layers = Seq("decode")
  private def truth = images.corpus.truth
  private var df: DataFrame = _

  def rows: Long = truth("rows")
  def prepare(spark: SparkSession): Unit = images.prepare(spark)
  def load(spark: SparkSession): Unit = df = images.corpus.read(spark)

  private def dimsDigest(in: DataFrame): Digest =
    Digest.over(Decode.imageDims(in).toDF(), col("image_id"), col("w_dec"), col("h_dec"))

  def pass(): Boolean => Verdict = {
    val d = dimsDigest(df)
    full => verdict(d, full)
  }

  private def verdict(d: Digest, full: Boolean): Verdict = {
    val want = Digest(truth("dims_rows"), truth("dims_sum"), truth("dims_xor"))
    val problems = Option.when(d != want)(s"$name: decoded dims digest $d, stored dims give $want").toSeq
    if (!full) Verdict(d, Double.NaN, Double.NaN, problems)
    else {
      val matched = Decode.imageDims(df).toDF()
        .join(df.select("image_id", "w", "h"), "image_id")
        .where(col("w_dec") === col("w") && col("h_dec") === col("h")).count()
      Verdict(d, matched.toDouble / rows, if (d.rows == 0) 1.0 else matched.toDouble / d.rows,
        problems ++ Option.when(matched != rows)(s"$name: $matched of $rows rows decode to their stored dims"))
    }
  }

  def traced(tr: Tracer, cores: Int): (Boolean => Verdict, Layers) = {
    // filtering on `fmt` from outside splits the fast PNG path from ImageIO
    val byFmt = Seq("png", "jpeg").map { fmt =>
      fmt -> tr.span(s"decode.$fmt")(dimsDigest(df.where(col("fmt") === fmt)))
    }
    val d = byFmt.map(_._2._1).reduce(_ + _)
    val timings = byFmt.flatMap { case (fmt, (dg, st)) =>
      Seq(s"decode.$fmt.wall_s" -> st.wallS,
        s"decode.$fmt.rows_per_s" -> (if (st.wallS > 0) dg.rows / st.wallS else 0.0),
        s"decode.$fmt.core_util" -> st.coreUtil(cores))
    }.toMap
    val counts = Map("decode.jobs" -> byFmt.map(_._2._2.tally.jobs).sum.toDouble)
    ((full: Boolean) => verdict(d, full), Layers(counts, timings))
  }
}

/** `DocOps.minhashDupPairs` over boilerplate mega-templates, small near-dup
  * clusters and noise singletons. Ground truth is the planted layout: the
  * in-cluster pairs whose exact n-gram jaccard passes the channel's
  * threshold. */
final class DocSkew(root: File, spec: SyntheticDocs.Spec) extends Workload {
  val name = "doc_skew"
  val layers = Seq("doc")
  private val N = 3
  private val Tau = 0.6
  val corpus = new Corpus(root,
    s"docs_s${spec.seed}_m${spec.megaTemplates}x${spec.megaMembers}" +
      s"_c${spec.smallClusters}x${spec.smallMembers}_n${spec.noise}.parquet")
  private def truth = corpus.truth
  private var df: DataFrame = _

  def rows: Long = spec.rows

  /** planted cluster of a doc id (`SyntheticDocs.text` layout); every
    * noise doc is its own cluster. */
  private def planted(id: Column): Column = {
    val megaN = spec.megaTemplates.toLong * spec.megaMembers
    val smallN = spec.smallClusters.toLong * spec.smallMembers
    when(id < megaN, floor(id / spec.megaMembers))
      .when(id < megaN + smallN, floor((id - megaN) / spec.smallMembers) + spec.megaTemplates)
      .otherwise(-id - 1)
  }

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    corpus.generate { path =>
      val s = spec
      spark.range(0L, s.rows, 1L, 8).map(id => (id.toLong, SyntheticDocs.text(s, id)))
        .toDF("doc_id", "text").write.parquet(path)
    } {
      val d = corpus.read(spark).select(col("doc_id"), col("text"), planted(col("doc_id")).as("c"))
        .where(col("c") >= 0)
      val tp = d.toDF("id_a", "text_a", "c").join(d.toDF("id_b", "text_b", "c"), "c")
        .where(col("id_a") < col("id_b") && gf.ngram_jaccard(col("text_a"), col("text_b"), N) >= Tau)
        .count()
      Map("truth_pairs" -> tp)
    }
  }

  def load(spark: SparkSession): Unit = df = corpus.read(spark)

  private def summarise(pairs: DataFrame): (Digest, Long) = {
    val c = Digest.cols(col("id_a"), col("id_b")) :+
      count_if(planted(col("id_a")) === planted(col("id_b")))
    val r = pairs.agg(c.head, c.tail: _*).head
    (Digest.of(r), r.getLong(3))
  }

  private def verdict(d: Digest, tp: Long): Verdict = {
    val recall = if (truth("truth_pairs") == 0) 1.0 else tp.toDouble / truth("truth_pairs")
    Verdict(d, recall, if (d.rows == 0) 1.0 else tp.toDouble / d.rows, Nil)
  }

  def pass(): Boolean => Verdict = {
    val (d, tp) = summarise(DocOps.minhashDupPairs(df, N, Tau))
    _ => verdict(d, tp)
  }

  def traced(tr: Tracer, cores: Int): (Boolean => Verdict, Layers) = {
    val (pairs, doc) = tr.span("doc")(DocOps.minhashDupPairs(df, N, Tau).localCheckpoint())
    val (d, tp) = summarise(pairs)
    val counts = Map("doc.pairs" -> d.rows.toDouble, "doc.jobs" -> doc.tally.jobs.toDouble)
    val timings = Map("doc.wall_s" -> doc.wallS, "doc.task_s" -> doc.taskS,
      "doc.core_util" -> doc.coreUtil(cores), "doc.shuffle_mb" -> doc.shuffleMb,
      "doc.spill_mb" -> doc.spillMb)
    (_ => verdict(d, tp), Layers(counts, timings))
  }
}
