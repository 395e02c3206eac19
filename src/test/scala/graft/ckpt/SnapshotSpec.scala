package graft.ckpt

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SyntheticImages
import graft.pipeline.Dedup

/** FIXTURES.md §F4: kill-after-snapshot resume must produce identical final
  * clusters and matching per-partition lineage. */
class SnapshotSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val corpus = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.createDataset((0L until 300L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8)))
      .toDF().cache()
  }

  private def tmp(): String = java.nio.file.Files.createTempDirectory("snap").toString

  test("fresh run commits all three snapshots with lineage") {
    val root = tmp()
    val out = ResumablePipeline.run(spark, corpus, root)
    assert(out.count() === corpus.count())
    val store = new SnapshotStore(root, SnapshotStore.hashConfig(Dedup.defaultConfig))
    for (st <- Seq("signatures", "edges", "clusters")) {
      assert(store.isCommitted(st), s"$st not committed")
      val m = store.manifestJson(st).get
      assert(m.contains("\"partitions\":[") && m.contains("\"rows\":"), m.take(100))
    }
  }

  test("manifest lineage and row_count equal the groupBy(spark_partition_id()) formulation") {
    import org.apache.spark.sql.functions._
    import graft.spark.{functions => gf}
    val store = new SnapshotStore(tmp(), SnapshotStore.hashConfig(Dedup.defaultConfig))
    for ((stage, df, key) <- Seq(
        ("signatures", Dedup.signatures(corpus), "image_id"),
        ("edges", Dedup.dupPairs(corpus).repartition(3), "id_a"))) {
      val written = store.commit(df, stage, None, key)
      val lineage = written
        .groupBy(spark_partition_id().as("part"))
        .agg(count(lit(1)).as("rows"),
          round(gf.hll_card(gf.hll_agg(xxhash64(col(key)), 12)), 1).as("distinct_keys_est"))
        .orderBy("part")
        .collect()
      assert(lineage.length > 1, s"$stage: one partition exercises no per-partition fold")
      val parts = lineage
        .map(r => s"""{"part":${r.getInt(0)},"rows":${r.getLong(1)},"distinct_keys_est":${r.getDouble(2)}}""")
        .mkString("[", ",", "]")
      val m = store.manifestJson(stage).get
      assert(m.contains(s""""row_count":${written.count()},"""), m)
      assert(m.endsWith(s""""partitions":$parts}"""), m)
    }
  }

  test("kill-after-edges resume: identical final clusters, stages reused") {
    val rootA = tmp()
    val storeA = new SnapshotStore(rootA, SnapshotStore.hashConfig(Dedup.defaultConfig))
    // simulate partial run: only signatures + edges committed, then "crash"
    storeA.commit(Dedup.signatures(corpus), "signatures", None, "image_id")
    storeA.commit(
      Dedup.confirm(Dedup.candidatesPhashBlocks(corpus), corpus).select("id_a", "id_b"),
      "edges", Some("signatures"), "id_a")
    assert(!storeA.isCommitted("clusters"))
    val edgesManifestBefore = storeA.manifestJson("edges").get

    // resume from the same root: must reuse both snapshots (manifest byte-identical)
    val resumed = ResumablePipeline.run(spark, corpus, rootA)
    assert(storeA.manifestJson("edges").get === edgesManifestBefore,
      "edges snapshot was recomputed on resume")

    // fresh full run in a different root → identical final clusters
    val fresh = ResumablePipeline.run(spark, corpus, tmp())
    val a = resumed.orderBy("image_id").collect().map(r => (r.getString(0), r.getString(1)))
    val b = fresh.orderBy("image_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(a.toSeq === b.toSeq)
  }

  test("process killed after snapshot 2: resume yields byte-identical clusters") {
    // REAL process death (Runtime.halt(137) == kill -9: no shutdown hooks,
    // no Spark cleanup) in a separate JVM after committing signatures+edges
    // and half-writing an uncommitted clusters data dir
    val root = tmp()
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val log = java.nio.file.Files.createTempFile("probe", ".log").toFile
    val pb = new ProcessBuilder(
      javaBin, "-cp", cp, "--add-opens=java.base/java.nio=ALL-UNNAMED",
      "--add-opens=java.base/java.util=ALL-UNNAMED",
      "--add-opens=java.base/java.lang=ALL-UNNAMED",
      "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
      "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
      "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
      "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
      "-Xmx3g", "graft.tools.ResumeProbe", root)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    assert(proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS), "probe timed out")
    assert(proc.exitValue() === 137, s"probe exit ${proc.exitValue()}; log tail:\n" +
      java.nio.file.Files.readString(log.toPath).takeRight(2000))

    val store = new SnapshotStore(root, SnapshotStore.hashConfig(Dedup.defaultConfig))
    assert(store.isCommitted("signatures") && store.isCommitted("edges"))
    assert(!store.isCommitted("clusters"), "clusters must be uncommitted after the kill")
    val edgesManifest = store.manifestJson("edges").get

    // resume in THIS session: reuses the dead process's snapshots untouched,
    // recomputes (and overwrites) the half-written clusters stage
    val resumed = ResumablePipeline.run(spark, corpus, root)
    assert(store.manifestJson("edges").get === edgesManifest, "edges recomputed on resume")
    assert(store.isCommitted("clusters"))
    val fresh = ResumablePipeline.run(spark, corpus, tmp())
    val a = resumed.orderBy("image_id").collect().map(r => (r.getString(0), r.getString(1)))
    val b = fresh.orderBy("image_id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(a.toSeq === b.toSeq, "resumed clusters differ from uninterrupted run")
  }

  test("config change invalidates snapshots (no cross-config reuse)") {
    val root = tmp()
    ResumablePipeline.run(spark, corpus, root)
    val other = Dedup.Config(hammingThreshold = 2)
    val store = new SnapshotStore(root, SnapshotStore.hashConfig(other))
    assert(!store.isCommitted("signatures"))
  }
}
