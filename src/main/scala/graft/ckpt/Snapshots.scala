package graft.ckpt

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Dedup

/** "Iceberg-lite" snapshot store (SURVEY.md §7.4 item 1: the Iceberg runtime
  * is unavailable offline, so the required contract — atomic snapshot
  * commits, a parent-linked snapshot chain, per-partition lineage metrics,
  * resume-by-snapshot — is emulated as parquet directories plus an atomic
  * JSON manifest).
  *
  * Layout under `root/`:
  * {{{
  *   <stage>/data/part-*.parquet      // the stage output
  *   <stage>/manifest.json            // atomic commit marker + lineage
  * }}}
  * A stage is committed iff its manifest exists (manifests are written to a
  * temp file then atomically renamed, so a crash mid-write never yields a
  * half-committed snapshot). The manifest records the parent stage, a config
  * hash (resume refuses to reuse snapshots produced under a different
  * config), row count, and per-partition lineage: row count + HLL
  * distinct-key estimate per partition.
  */
final class SnapshotStore(val root: String, val configHash: String) {

  private def stageDir(stage: String) = s"$root/$stage"
  private def dataDir(stage: String) = s"${stageDir(stage)}/data"
  private def manifestPath(stage: String) = s"${stageDir(stage)}/manifest.json"

  def isCommitted(stage: String): Boolean = {
    val p = Paths.get(manifestPath(stage))
    if (!Files.exists(p)) return false
    val m = Files.readString(p)
    m.contains(s""""config_hash":"$configHash"""")
  }

  def read(spark: SparkSession, stage: String): DataFrame =
    spark.read.parquet(dataDir(stage))

  /** compute per-partition lineage and commit the stage atomically. */
  def commit(df: DataFrame, stage: String, parent: Option[String], keyCol: String): DataFrame = {
    val spark = df.sparkSession
    df.write.mode("overwrite").parquet(dataDir(stage))
    val written = spark.read.parquet(dataDir(stage))
    // one map-only job reads the stage back: each partition folds its own
    // row count and HLL sketch, and the row count is their sum
    val parts = Dedup.partitionSketches(written, col(keyCol), 12)
      .select(col("part"), col("rows"), round(col("est"), 1))
      .collect()
      .sortBy(_.getInt(0))
    val lineage = parts
      .map(r => s"""{"part":${r.getInt(0)},"rows":${r.getLong(1)},"distinct_keys_est":${r.getDouble(2)}}""")
      .mkString("[", ",", "]")
    val total = parts.map(_.getLong(1)).sum
    val manifest =
      s"""{"stage":"$stage","parent":${parent.map(p => s""""$p"""").getOrElse("null")},
         |"config_hash":"$configHash","row_count":$total,
         |"committed_at_ms":${System.currentTimeMillis()},
         |"partitions":$lineage}""".stripMargin.replace("\n", "")
    val tmp = Paths.get(s"${stageDir(stage)}/.manifest.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, manifest)
    Files.move(tmp, Paths.get(manifestPath(stage)), StandardCopyOption.ATOMIC_MOVE)
    written
  }

  /** run `compute` unless `stage` is already committed under this config. */
  def stage(spark: SparkSession, name: String, parent: Option[String], keyCol: String)
      (compute: => DataFrame): DataFrame = {
    if (isCommitted(name)) read(spark, name)
    else commit(compute, name, parent, keyCol)
  }

  def manifestJson(stage: String): Option[String] = {
    val p = Paths.get(manifestPath(stage))
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }
}

object SnapshotStore {
  /** stable config hash so resumes never mix configs. */
  def hashConfig(cfg: Any): String =
    java.lang.Long.toHexString(
      graft.hash.HashKernels.murmur3_low64(cfg.toString, 42))
}

/** Resumable end-to-end pipeline: each arrow of the SURVEY §3 lifecycle
  * commits a snapshot; a rerun (e.g. after a crash) skips every committed
  * stage and recomputes only what's missing, reading inputs from the last
  * snapshot. */
object ResumablePipeline {
  def run(spark: SparkSession, corpus: DataFrame, root: String,
      cfg: Dedup.Config = Dedup.defaultConfig): DataFrame = {
    val store = new SnapshotStore(root, SnapshotStore.hashConfig(cfg))
    val sigs = store.stage(spark, "signatures", None, "image_id") {
      Dedup.signatures(corpus, cfg)
    }
    val edges = store.stage(spark, "edges", Some("signatures"), "id_a") {
      Dedup.confirm(Dedup.candidatesPhashBlocks(corpus, cfg), corpus, cfg)
        .select("id_a", "id_b")
    }
    store.stage(spark, "clusters", Some("edges"), "cluster_id") {
      Dedup.clusters(edges, sigs.select("image_id"))
    }
  }
}
