package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.data.SyntheticImages
import graft.pipeline.Dedup
import graft.docs.DocOps
import graft.embed.Ann
import graft.events.EventOps

/** dev tool: write `docs/PLANS.md` — the formatted physical plans of the
  * flagship queries, for plan-quality review (column pruning, codegen
  * spans, exchange counts). Regenerate after pipeline changes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = "/root/testdata/sf0.001"
    // read the corpus from parquet (not the in-memory generator) so scans
    // show real pushdown/pruning
    val corpus = SyntheticImages.ensure(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val events = spark.read.parquet(s"$sfDir/events.parquet")

    def fmt(df: DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

    val sections: Seq[(String, String, DataFrame)] = Seq(
      ("signatures", "narrow per-row stage; `bytes` must be pruned from the scan " +
        "(ReadSchema), single WholeStageCodegen span", Dedup.signatures(corpus)),
      ("candidatesPhashBlocks", "the walk output is localCheckpoint-ed (lineage cut), so this " +
        "plan shows only the downstream pair-dedup; the upstream — ONE wide exchange " +
        "(hashpartitioning on bv) + in-partition bv-sort + streaming run-walk, no self-join, " +
        "no second shuffle of the banded set — is asserted by PipelineSpec " +
        "(\"candidate generation is one wide shuffle\") and shown next",
        Dedup.candidatesPhashBlocks(corpus)),
      ("candidates keyed exchange (pre-walk)", "the subplan the walk consumes: banded explode, " +
        "the codegen'd shared_key filter that drops keys no other keyed row shares (the " +
        "walk plan's broadcast sketch, bitmap width 2^n), then a single Exchange " +
        "hashpartitioning(bv) + in-partition sort — the only wide movement of the banded set", {
        import org.apache.spark.sql.functions._
        import graft.spark.{functions => gf}
        val frame = corpus.select(Dedup.idNum(col("image_id")).as("id"), col("phash"),
          gf.phash_block_keys(col("phash"), 4).as("keys"))
        Dedup.explodeKeys(frame, Dedup.planWalk(frame), col("phash"))
          .repartition(col("bv"))
          .sortWithinPartitions(col("bv"))
      }),
      ("confirm", "executed before formatting, so this is the final AQE plan: ONE exchange " +
        "of the corpus side (id, phash, tok) feeds both shuffled hash joins on numeric ids " +
        "(the second join reads it as a ReusedExchange); the codegen'd exact_jaccard " +
        "merge-walk runs post-join", {
        val c = Dedup.confirm(Dedup.candidatesPhashBlocks(corpus), corpus)
        c.collect()
        c
      }),
      ("doc_ngram_dup_pairs", "PREFIX-FILTERED inverted index (lossless AllPairs pruning): " +
        "df groupBy on gram hash, per-doc (df, gram)-ordered prefix in ONE agg pass " +
        "(array_sort + slice), index localCheckpoint-ed so both self-join sides scan the " +
        "same computed RDD, self-join on rare grams only, exact_jaccard confirm over full " +
        "sorted gram sets",
        DocOps.ngramDupPairsExact(docs, 3, 0.6)),
      ("embed_knn", "brute-force baseline: queries broadcast, dot products codegen'd, " +
        "per-query top-k via window", Ann.cosineTopK(emb, 10)),
      ("embed_knn_ivf", "the ANN scale path: centroid assignment is a sort-free " +
        "partial+final max_by hash aggregate; probe lists via collect_list+array_sort " +
        "slice; exact re-score only inside nprobe lists", Ann.ivfTopK(emb, 10)),
      ("events_windowed", "tumbling event-time windows; partial+final hash aggregation",
        EventOps.windowedCounts(events))
    )

    val md = new StringBuilder
    md.append("# PLANS — formatted physical plans of the flagship queries\n\n")
    md.append("Generated by `graft.tools.PlanDump` on the sf0.001 tables; regenerate\n")
    md.append("after pipeline changes. Commentary states what each plan must show —\n")
    md.append("`PipelineSpec` asserts the load-bearing properties programmatically.\n")
    for ((name, note, df) <- sections) {
      md.append(s"\n## $name\n\n$note\n\n```\n")
      md.append(fmt(df).trim.take(6000))
      md.append("\n```\n")
    }
    // relative: the checkout the tool runs in (sbt forks in the project root)
    val out = Paths.get("docs", "PLANS.md").toAbsolutePath
    Files.createDirectories(out.getParent)
    Files.writeString(out, md.toString)
    println(s"PLANDUMP wrote $out")
    spark.stop()
  }
}
