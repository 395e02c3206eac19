package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.SyntheticImages
import graft.docs.DocOps
import graft.embed.Ann
import graft.multimodal.Decode
import graft.oracle.Md5Channels
import graft.pipeline.Dedup
import graft.spark.{functions => gf}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The pipeline input is the synthetic image+caption corpus mandated by
  * `BASELINE.json.input_hint` (generated deterministically per scale factor,
  * materialized under /root/repo/gendata so the DuckDB oracle reads the same
  * bytes — SURVEY.md §7.4 item 8). Queries over the driver-provided
  * `documents` / `embeddings` tables cover the training-data-pipeline ops.
  */
object SparkEntry {

  private def tuned(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // local mode: broadcast = shared memory; lets the confirm join broadcast
    // the (id, phash/tok) side instead of shuffling candidate pairs twice
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    spark
  }

  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    SyntheticImages.ensure(tuned(spark), sfDir)

  /** fixed query-side id budget for the exact O(N²) ANN baselines: a no-op
    * at the sf0.01 correctness gate (500 vectors), a constant-size probe at
    * any larger scale — cost O(budget · N), never O(N²). */
  private val ExactQueryBudget = 500

  // embed_knn_lsh_md5 twin config: 2 tables × 4 planes over the 64-dim
  // driver-gate embeddings — few enough buckets that candidates are dense
  // (the join/dedup machinery does real work) while still a genuine
  // approximate (multi-bucket) configuration
  private val LshTwinTables = 2
  private val LshTwinPlanes = 4
  private val LshTwinDim = 64

  /** oracle path of the materialized corpus for a given sf dir. */
  private def corpusGlob(sf: String): String =
    s"read_parquet('/root/repo/gendata/images_$sf.parquet/*.parquet')"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Dedup.dupPairs(corpus(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the corpus itself (generator determinism + payload columns)
    "img_corpus" -> ((s, dir) => corpus(s, dir)
      .select(col("image_id"), col("w"), col("h"), col("fmt"), col("caption"),
        col("phash"), length(col("bytes")).cast("long").as("n_bytes"))
      .orderBy("image_id")),

    // exact-cover LSH (pHash pigeonhole blocks) + exact confirm
    "dup_pairs" -> ((s, dir) => Dedup.dupPairs(corpus(s, dir)).orderBy("id_a", "id_b")),

    // connected components over the exact dup edges
    "dup_clusters" -> ((s, dir) => {
      val c = corpus(s, dir)
      Dedup.clusters(Dedup.dupPairs(c), c.select("image_id")).orderBy("image_id")
    }),

    "cluster_sizes" -> ((s, dir) => {
      val c = corpus(s, dir)
      Dedup.clusters(Dedup.dupPairs(c), c.select("image_id"))
        .groupBy("cluster_id").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .orderBy("cluster_id")
    }),

    // checkpoint/resume driven through the contract (SURVEY §5.2-6): the
    // first run computes and atomically commits the §3 snapshot chain
    // (signatures → edges → clusters) into a fresh store; the second run
    // RESUMES — every stage is already committed, so the returned plan reads
    // the clusters snapshot's parquet instead of recomputing. Output is the
    // dup_clusters frame; the same recursive-CC DuckDB oracle gates it.
    "pipeline_resume" -> ((s, dir) => {
      val root = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_resume_${new java.io.File(dir).getName}")
      // fresh store per run: stale snapshots from an older corpus or config
      // must never satisfy the resume
      if (root.exists()) org.apache.spark.network.util.JavaUtils.deleteRecursively(root)
      val c = corpus(s, dir)
      graft.ckpt.ResumablePipeline.run(s, c, root.getPath) // compute + commit
      graft.ckpt.ResumablePipeline.run(s, c, root.getPath) // resume from snapshots
        .orderBy("image_id")
    }),

    // suffix-array substring confirm channel (north_star): Hamming-close
    // pairs whose captions share a common substring of length >= 12; the
    // lcs_len kernel is oracle-checked via the L-gram-intersection identity
    "dup_pairs_substring" -> ((s, dir) => {
      val c = corpus(s, dir)
      Dedup.confirmSubstring(Dedup.candidatesPhashBlocks(c), c)
        .select("id_a", "id_b").orderBy("id_a", "id_b")
    }),

    // banded 128-perm MinHash LSH channel (probabilistic; recall tested in
    // PipelineSpec) — rows-only driver check
    "dup_pairs_minhash" -> ((s, dir) =>
      Dedup.dupPairsMinhash(corpus(s, dir)).orderBy("id_a", "id_b")),

    // per-partition cluster lineage metrics, fully oracle-gated: partition =
    // deterministic md5 hash of the cluster space (stable at any
    // parallelism), exact distinct + md5-HLL raw register estimate
    "cluster_metrics" -> ((s, dir) => {
      val c = corpus(s, dir)
      Md5Channels.clusterMetricsMd5(
        Dedup.clusters(Dedup.dupPairs(c), c.select("image_id"))).orderBy("part")
    }),

    // image banded-MinHash channel, md5-derived variant: the oracle-gated
    // twin of dup_pairs_minhash, a call of its channel core
    // (Dedup.keyedDupPairs) with md5 band keys
    "dup_pairs_minhash_md5" -> ((s, dir) =>
      Md5Channels.imgMinhashDupPairsMd5(corpus(s, dir)).orderBy("id_a", "id_b")),

    // image SimHash pigeonhole channel: Dedup.keyedDupPairs (the walk and
    // dup_pairs confirm of Dedup.dupPairsSimhash) over contiguous blocks of
    // the md5-derived majority-vote simhash of the caption tokens
    "dup_pairs_simhash" -> ((s, dir) =>
      Md5Channels.imgSimhashDupPairs(corpus(s, dir)).orderBy("id_a", "id_b")),

    // ---- document (text) pipeline ops ----
    "doc_exact_dups" -> ((s, dir) =>
      DocOps.exactDupGroups(docs(s, dir)).orderBy("doc_id")),

    "doc_ngram_dup_pairs" -> ((s, dir) =>
      DocOps.ngramDupPairsExact(docs(s, dir), 3, 0.6).orderBy("id_a", "id_b")),

    "doc_minhash_dup_pairs" -> ((s, dir) =>
      DocOps.minhashDupPairs(docs(s, dir), 3, 0.6).orderBy("id_a", "id_b")),

    "doc_simhash_dup_pairs" -> ((s, dir) =>
      DocOps.simhashDupPairs(docs(s, dir), 3, 3).orderBy("id_a", "id_b")),

    // oracle-gated md5 twins of the doc LSH channels: calls of the channel
    // cores (DocOps.minhashPairs / simhashPairs) with md5-derived leaf
    // kernels, so DuckDB checks the product's filter, walk and confirm
    "doc_minhash_dup_pairs_md5" -> ((s, dir) =>
      Md5Channels.docMinhashDupPairsMd5(docs(s, dir), 3, 0.6).orderBy("id_a", "id_b")),

    "doc_simhash_dup_pairs_md5" -> ((s, dir) =>
      Md5Channels.docSimhashDupPairsMd5(docs(s, dir), 3, 3).orderBy("id_a", "id_b")),

    "doc_stats" -> ((s, dir) => DocOps.docStats(docs(s, dir)).orderBy("doc_id")),

    "doc_token_counts" -> ((s, dir) =>
      DocOps.tokenCounts(docs(s, dir)).select("doc_id", "ws_tokens").orderBy("doc_id")),

    "doc_tokenize" -> ((s, dir) => DocOps.tokenCounts(docs(s, dir)).orderBy("doc_id")),

    "doc_lang_id" -> ((s, dir) => DocOps.langId(docs(s, dir)).orderBy("doc_id")),

    "doc_fingerprints" -> ((s, dir) =>
      DocOps.fingerprints(docs(s, dir)).orderBy("doc_id", "fp")),

    // oracle-gated winnowing variant: md5 char-8-grams, window-4 lexicographic
    // min — byte-identical in DuckDB, unlike the fast rolling-hash channel
    "doc_fingerprints_md5" -> ((s, dir) =>
      DocOps.fingerprintsMd5(docs(s, dir)).orderBy("doc_id", "fp")),

    "doc_distinct_tokens_by_source" -> ((s, dir) =>
      DocOps.distinctTokensBySource(docs(s, dir)).orderBy("source")),

    "doc_hll_tokens_by_source" -> ((s, dir) =>
      DocOps.hllTokensBySource(docs(s, dir)).orderBy("source")),

    // md5-HLL raw register estimate + exact count per source (oracle-gated
    // twin of doc_hll_tokens_by_source)
    "doc_hll_tokens_by_source_md5" -> ((s, dir) =>
      Md5Channels.hllTokensBySourceMd5(docs(s, dir)).orderBy("source")),

    // bottom-k estimator suite (jaccard / containment / cardinality / mash)
    // over md5-hashed char-8 shingles on the exact n-gram candidate pairs —
    // oracle-gated twin of doc_sketch_estimates' bottom-k columns
    "doc_sketch_estimates_md5" -> ((s, dir) => {
      val d = docs(s, dir)
      Md5Channels.docSketchEstimatesMd5(d, DocOps.ngramDupPairsExact(d, 3, 0.6))
        .orderBy("id_a", "id_b")
    }),

    // estimator-ACCURACY gate for the two estimator families whose values
    // are engine-local by design (CWS weighted jaccard, HLL joint-MLE):
    // exact companion VALUES (token-tf weighted jaccard, shingle-set
    // jaccard) are computed in both engines; |est − exact| ≤ bound rides as
    // boolean columns the oracle asserts TRUE — see Md5Channels.docEstAccuracy
    "doc_est_accuracy" -> ((s, dir) => {
      val d = docs(s, dir)
      Md5Channels.docEstAccuracy(d, DocOps.ngramDupPairsExact(d, 3, 0.6))
        .orderBy("id_a", "id_b")
    }),

    // sketch-estimator showcase on near-dup candidate pairs (estimates →
    // rows-only): bottom-k jaccard + mash distance + containment + OMH +
    // CWS weighted jaccard + per-doc HLL jaccard, one row per candidate pair
    "doc_sketch_estimates" -> ((s, dir) => {
      val d = docs(s, dir)
      val sk = d.select(col("doc_id"), col("text"),
        gf.bottomk_sketch(gf.caption_shingles(col("text"), 8), 256).as("bk"),
        gf.omh_sketch(col("text"), 4, 2, 64, 32L).as("omh"),
        gf.cws_sketch(gf.caption_shingles(col("text"), 8), 50, 4096, 1L).as("cws"),
        gf.hll_init(gf.caption_shingles(col("text"), 8), 12).as("hll"))
      val pairs = DocOps.ngramDupPairsExact(d, 3, 0.6)
      pairs
        .join(sk.select(col("doc_id").as("id_a"), col("bk").as("bk_a"), col("omh").as("omh_a"),
          col("cws").as("cws_a"), col("hll").as("hll_a")), "id_a")
        .join(sk.select(col("doc_id").as("id_b"), col("bk").as("bk_b"), col("omh").as("omh_b"),
          col("cws").as("cws_b"), col("hll").as("hll_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          gf.sketch_jaccard(col("bk_a"), col("bk_b"), 256).as("bk_jaccard"),
          gf.mash_dist(gf.sketch_jaccard(col("bk_a"), col("bk_b"), 256), 8).as("mash_dist"),
          gf.sketch_containment(col("bk_a"), col("bk_b"), 256).as("containment"),
          gf.omh_similarity(col("omh_a"), col("omh_b")).as("omh_sim"),
          gf.weighted_jaccard(col("cws_a"), col("cws_b")).as("wjaccard"),
          gf.hll_jaccard(col("hll_a"), col("hll_b")).as("hll_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ---- DNA-domain parity ops (reference's native domain; sequences are
    // derived deterministically from the documents table in BOTH engines:
    // md5 hex -> ACGT alphabet, so the DuckDB oracle sees identical input) ----
    "dna_revcomp" -> ((s, dir) => {
      val dna = docs(s, dir).select(col("doc_id"),
        translate(upper(md5(col("text"))), "0123456789ABCDEF", "ACGTACGTACGTACGT").as("seq"))
      dna.select(col("doc_id"), col("seq"), gf.dna_revcomp(col("seq")).as("rc"))
        .orderBy("doc_id")
    }),

    // end-to-end OMH strand/rotation comparison (reference
    // `OrderMinHash.cpp:422-458`): per derived 64-mer ACGT sequence, compare
    // the sequence against (a) its own reverse complement with rc-aware
    // scoring — a reverse-strand duplicate, expect 1.0; (b) a rotation under
    // the circular variant — expect 1.0; (c) the same rotation under plain
    // linear scoring — strictly lower (block positions shift). Estimator
    // outputs → rows-only driver check; the exact expectations are gated in
    // DnaParitySpec/FunctionsWiringSpec.
    "dna_omh_pairs" -> ((s, dir) => {
      val rot = 8
      val dna = docs(s, dir).select(col("doc_id"),
        translate(upper(concat(md5(col("text")), md5(concat(col("text"), lit("x"))))),
          "0123456789ABCDEF", "ACGTACGTACGTACGT").as("seq"))
      val variants = dna.select(col("doc_id"), col("seq"),
        gf.dna_revcomp(col("seq")).as("rcseq"),
        concat(substring(col("seq"), rot + 1, 64 - rot),
          substring(col("seq"), 1, rot)).as("rotseq"))
      val sk = variants.select(col("doc_id"),
        gf.omh_sketch(col("seq")).as("fwd"),
        gf.omh_sketch_rc(col("seq")).as("rc"),
        gf.omh_sketch(col("rcseq")).as("fwd_of_rc"),
        gf.omh_sketch(col("rotseq")).as("fwd_of_rot"))
      sk.select(col("doc_id"),
          gf.omh_compare(col("fwd"), col("rc"), col("fwd_of_rc")).as("sim_rc_dup"),
          gf.omh_compare(col("fwd"), col("rc"), col("fwd_of_rot"), circular = true)
            .as("sim_rot_circular"),
          gf.omh_compare(col("fwd"), col("rc"), col("fwd_of_rot")).as("sim_rot_linear"))
        .orderBy("doc_id")
    }),

    // md5-rank OMH twin (the last approximate channel without an oracle
    // row): same selection machinery — occurrence-weighted k-gram multiset,
    // bottom-l per permutation, position-ordered block concat, rc-aware max
    // compare — with md5('kmer:occ:perm') ranks both engines compute
    // identically, so the DuckDB row gates sketches AND similarities
    // rows+schema+hash (circular matching stays spec-gated; see
    // Md5Channels.dnaOmhPairsMd5)
    "dna_omh_pairs_md5" -> ((s, dir) =>
      graft.oracle.Md5Channels.dnaOmhPairsMd5(docs(s, dir)).orderBy("doc_id")),

    // ---- embedding similarity search ----
    // exact brute force is the small-sf correctness oracle ONLY: the query
    // side is capped to a FIXED id budget (vec_id < 500 — a no-op at sf0.01
    // where all 500 vectors are queries, a constant-size probe at any larger
    // scale), so the contract surface carries no unbounded O(N²) plan. The
    // oracle SQL mirrors the cap. Scale paths: embed_knn_ivf / embed_knn_lsh.
    "embed_knn" -> ((s, dir) =>
      Ann.cosineTopK(embeds(s, dir), 10, queryFilter = col("vec_id") < ExactQueryBudget)
        .orderBy("query_id", "rank")),

    "embed_dup_pairs" -> ((s, dir) =>
      Ann.cosineDupPairs(embeds(s, dir), 0.4, queryFilter = col("vec_id") < ExactQueryBudget)
        .orderBy("id_a", "id_b")),

    "embed_knn_lsh" -> ((s, dir) =>
      Ann.hyperplaneLshTopK(embeds(s, dir), 10).orderBy("query_id", "rank")),

    // IVF is the ANN scale path (bench headline; recall@10 >= 0.95 vs exact
    // gated in AnnSpec). At small sf every row queries; at 100 TB pass a
    // sampled queryFilter (e.g. pmod(vec_id, N) === 0) — exact embed_knn
    // above stays the small-sf correctness oracle only.
    "embed_knn_ivf" -> ((s, dir) =>
      Ann.ivfTopK(embeds(s, dir), 10).orderBy("query_id", "rank")),

    // IVF code path, oracle-gated: nprobe = centroids degenerates to exact
    // brute force (every query scores every list — proven in AnnSpec), so
    // the SAME DuckDB SQL as embed_knn gates the IVF assignment/probe/
    // re-score machinery rows+schema+hash
    "embed_knn_ivf_exactcfg" -> ((s, dir) =>
      Ann.ivfTopK(embeds(s, dir), 10, centroids = 16, nprobe = 16,
        queryFilter = col("vec_id") < ExactQueryBudget).orderBy("query_id", "rank")),

    // LSH code path, oracle-gated (the md5-twin pattern): the SAME
    // explode/collision-join/dedup/re-score/top-k pipeline as embed_knn_lsh,
    // with hyperplanes from a deterministic md5 ±1 matrix whose values are
    // embedded verbatim as literals in the DuckDB SQL — both engines bucket
    // on identical planes, so the full approximate output (not just a
    // degeneracy) matches rows+schema+hash
    "embed_knn_lsh_md5" -> ((s, dir) =>
      Ann.hyperplaneLshTopKLiteral(embeds(s, dir), 10,
        Ann.md5SignMatrix(LshTwinTables, LshTwinPlanes, LshTwinDim),
        queryFilter = col("vec_id") < ExactQueryBudget).orderBy("query_id", "rank")),

    // ---- event-time analytics (events table) ----
    "events_windowed" -> ((s, dir) =>
      graft.events.EventOps.windowedCounts(events(s, dir))
        .orderBy("win_start", "event_type")),

    "events_sessions" -> ((s, dir) =>
      graft.events.EventOps.sessions(events(s, dir))
        .orderBy("user_id", "session_seq")),

    "events_user_session_stats" -> ((s, dir) =>
      graft.events.EventOps.userSessionStats(events(s, dir))
        .orderBy("user_id")),

    // ---- multimodal decode plumbing (real image decode) ----
    // r6: dims-only decode stage — same full decode, the unused
    // luma/pHash featurization of imageMeta is manually pruned (opaque
    // mapPartitions defeats Catalyst column pruning); output identical
    "img_decode_meta" -> ((s, dir) =>
      Decode.imageDims(corpus(s, dir)).toDF().orderBy("image_id")),

    // real decode → bilinear resize → PNG re-encode, partition-mapped
    "img_resize_meta" -> ((s, dir) =>
      Decode.imageResize(corpus(s, dir), 64, 64).toDF()
        .select("image_id", "w_rs", "h_rs").orderBy("image_id")),

    // per-row payload fidelity vs regenerated ground truth (input_hint:
    // PNG pixel-exact, JPEG PSNR >= 40 dB, exact caption equality); the
    // oracle asserts every row passes
    "img_payload_fidelity" -> ((s, dir) =>
      Decode.payloadFidelity(corpus(s, dir)).toDF().orderBy("image_id"))
  )

  private def docs(s: SparkSession, dir: String): DataFrame =
    tuned(s).read.parquet(s"$dir/documents.parquet")

  private def embeds(s: SparkSession, dir: String): DataFrame =
    tuned(s).read.parquet(s"$dir/embeddings.parquet")

  private def events(s: SparkSession, dir: String): DataFrame =
    tuned(s).read.parquet(s"$dir/events.parquet")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = {
    val sf = "sf0.01" // driver correctness gate runs at sf0.01 (TESTDATA.md)
    val t = corpusGlob(sf)
    val blocks = 4
    val width = 16
    val ht = 3
    val tau = 0.5
    // exact dup-pair predicate, candidate-generated by the same pigeonhole
    // block scheme (exact cover of hamming<=3, so provably identical result
    // to a brute-force all-pairs scan)
    val dupPairsSql =
      s"""WITH t AS (SELECT image_id, phash, caption FROM $t),
         |blk AS (SELECT image_id, phash, caption, i,
         |               (phash >> (i * $width)) & ${(1L << width) - 1} AS bv
         |        FROM t, (SELECT unnest([0,1,2,3]) AS i)),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
         |         FROM blk a JOIN blk b ON a.i = b.i AND a.bv = b.bv
         |              AND a.image_id < b.image_id),
         |conf AS (SELECT c.id_a, c.id_b,
         |           bit_count(xor(ta.phash, tb.phash)) AS hamming,
         |           len(list_intersect(list_distinct(string_split(ta.caption, ' ')),
         |                              list_distinct(string_split(tb.caption, ' ')))) AS inter,
         |           len(list_distinct(string_split(ta.caption, ' '))) AS na,
         |           len(list_distinct(string_split(tb.caption, ' '))) AS nb
         |         FROM cand c
         |         JOIN t ta ON ta.image_id = c.id_a
         |         JOIN t tb ON tb.image_id = c.id_b)
         |SELECT id_a, id_b FROM conf
         |WHERE hamming <= $ht AND inter * 1.0 / (na + nb - inter) >= $tau
         |ORDER BY id_a, id_b""".stripMargin
    // suffix-array LCS predicate: lcs(a,b) >= L  <=>  char L-gram sets intersect
    val lcsMin = 12
    val substringPairsSql =
      s"""WITH t AS (SELECT image_id, phash, caption FROM $t),
         |blk AS (SELECT image_id, phash, caption, i,
         |               (phash >> (i * $width)) & ${(1L << width) - 1} AS bv
         |        FROM t, (SELECT unnest([0,1,2,3]) AS i)),
         |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
         |         FROM blk a JOIN blk b ON a.i = b.i AND a.bv = b.bv
         |              AND a.image_id < b.image_id),
         |conf AS (SELECT c.id_a, c.id_b,
         |           bit_count(xor(ta.phash, tb.phash)) AS hamming,
         |           ta.caption AS ca, tb.caption AS cb
         |         FROM cand c
         |         JOIN t ta ON ta.image_id = c.id_a
         |         JOIN t tb ON tb.image_id = c.id_b)
         |SELECT id_a, id_b FROM conf
         |WHERE hamming <= $ht AND len(list_intersect(
         |  list_transform(range(1, length(ca) - $lcsMin + 2), i -> substr(ca, i::INT, $lcsMin)),
         |  list_transform(range(1, length(cb) - $lcsMin + 2), i -> substr(cb, i::INT, $lcsMin)))) > 0
         |ORDER BY id_a, id_b""".stripMargin
    // --- md5-derived cross-engine fragments (mirror graft.oracle.Md5Channels;
    // determinism contract documented there) ---
    // packed via HUGEINT arithmetic + explicit 2^64 wrap: DuckDB's checked
    // `<<` rejects hi >= 2^31, unlike the JVM's wrapping shiftleft
    def h64(s: String) =
      s"(((('0x'||substr(md5($s),1,8))::BIGINT * 4294967296::HUGEINT + ('0x'||substr(md5($s),9,8))::BIGINT)" +
        s" - CASE WHEN ('0x'||substr(md5($s),1,8))::BIGINT >= 2147483648 THEN 18446744073709551616 ELSE 0 END)::BIGINT)"
    def h63(s: String) = s"(${h64(s)} & 9223372036854775807)"
    // xor-permutation minhash band keys over a CTE hh(id, h): 32 perms,
    // 16 bands × 2 rows; band key = md5 of comma-joined decimal minima
    def minhashBandsSql(idCol: String) =
      s"""p AS (SELECT range AS p, ${h63("'perm'||range")} AS seed FROM range(0, 32)),
         |mn AS (SELECT $idCol, p.p AS p, min(xor(h, seed)) AS mn
         |       FROM hh CROSS JOIN p GROUP BY $idCol, p.p),
         |bk AS (SELECT $idCol, p // 2 AS bi,
         |         md5(string_agg(mn::VARCHAR, ',' ORDER BY p)) AS bv
         |       FROM mn GROUP BY $idCol, p // 2)""".stripMargin
    // majority-vote 64-bit simhash over a CTE hh(id, h) of 63-bit hashes
    // (bit 63 of every hash is 0, so bits 0..62 suffice)
    def simhashSql(idCol: String) =
      s"""bits AS (SELECT $idCol, b.range AS b, sum((h >> b.range) & 1) AS ones,
         |           count(*) AS tot
         |         FROM hh CROSS JOIN range(0, 63) b GROUP BY $idCol, b.range),
         |sh AS (SELECT $idCol, sum(CASE WHEN 2 * ones >= tot
         |           THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
         |       FROM bits GROUP BY $idCol)""".stripMargin
    // md5-HLL raw register estimate over a CTE hh(k, h): np=12, m=4096;
    // S computed in exact HUGEINT arithmetic, single final division
    def hllEstSql(keyCol: String, estCol: String) =
      s"""r AS (SELECT $keyCol, (h >> 52) & 4095 AS idx,
         |        CASE WHEN (h & 4503599627370495) = 0 THEN 53
         |             ELSE 53 - length(bin(h & 4503599627370495)) END AS rho
         |      FROM hh),
         |mreg AS (SELECT $keyCol, idx, max(rho) AS m FROM r GROUP BY $keyCol, idx),
         |shll AS (SELECT $keyCol, sum((2::DOUBLE ** (64 - m))::HUGEINT) AS sp,
         |           count(*) AS np FROM mreg GROUP BY $keyCol),
         |ehll AS (SELECT $keyCol,
         |           (0.7213/(1+1.079/4096)*4096*4096*(2::DOUBLE**64)) /
         |           (sp + (4096 - np) * 18446744073709551616::HUGEINT)::DOUBLE AS $estCol
         |         FROM shll)""".stripMargin
    // distinct token-3-gram STRINGS per doc
    val docGramsSql =
      s"""dg AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
         |       FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $docsT)
         |       WHERE len(toks) >= 3),
         |hv AS (SELECT doc_id, unnest(grams) AS s FROM dg),
         |hh AS (SELECT doc_id, ${h63("s")} AS h FROM hv)""".stripMargin
    // distinct caption-token STRINGS per image
    val imgToksSql =
      s"""ti AS (SELECT image_id, phash,
         |         list_distinct(string_split(caption, ' ')) AS toks FROM $t),
         |hv AS (SELECT image_id, unnest(toks) AS s FROM ti),
         |hh AS (SELECT image_id, ${h63("s")} AS h FROM hv)""".stripMargin
    val imgConfirmSql =
      s"""conf AS (SELECT c.id_a, c.id_b, bit_count(xor(ta.phash, tb.phash)) AS hamming,
         |           len(list_intersect(ta.toks, tb.toks)) AS iv,
         |           len(ta.toks) AS na, len(tb.toks) AS nb
         |         FROM cand c
         |         JOIN ti ta ON ta.image_id = c.id_a
         |         JOIN ti tb ON tb.image_id = c.id_b)""".stripMargin
    Map(
      "img_corpus" ->
        s"""SELECT image_id, w, h, fmt, caption, phash,
           |octet_length(bytes) AS n_bytes FROM $t ORDER BY image_id""".stripMargin,
      "dup_pairs" -> dupPairsSql,
      "dup_pairs_substring" -> substringPairsSql,
      "dup_clusters" -> dupClustersSql(dupPairsSql, t),

      // the resumed pipeline must equal the directly-computed clustering
      "pipeline_resume" -> dupClustersSql(dupPairsSql, t),
      "cluster_sizes" ->
        s"""WITH RECURSIVE pairs AS ($dupPairsSql),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT image_id, image_id FROM $t
           |  UNION
           |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
           |),
           |cl AS (SELECT id AS image_id, min(r) AS cluster_id FROM reach GROUP BY id)
           |SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id
           |HAVING count(*) > 1 ORDER BY cluster_id""".stripMargin,

      "doc_exact_dups" ->
        s"""WITH k AS (SELECT doc_id, md5(text) AS k FROM $docsT),
           |g AS (SELECT k, min(doc_id) AS canon_id, count(*) AS group_n FROM k GROUP BY k)
           |SELECT doc_id, canon_id, group_n FROM k JOIN g USING (k) ORDER BY doc_id""".stripMargin,

      "doc_ngram_dup_pairs" -> docNgramPairsSql,

      // candidates join on the SAME combined 64-bit key the Spark walk
      // buckets by (md5half of 'bi:bv' — band_walk_keys), so even
      // 64-bit truncation-collision behavior is engine-identical
      "doc_minhash_dup_pairs_md5" ->
        s"""WITH $docGramsSql,
           |${minhashBandsSql("doc_id")},
           |bw AS (SELECT doc_id, ${h64("concat(bi, ':', bv)")} AS wk FROM bk),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |         FROM bw a JOIN bw b ON a.wk = b.wk
           |              AND a.doc_id < b.doc_id),
           |conf AS (SELECT c.id_a, c.id_b,
           |           len(list_intersect(ga.grams, gb.grams)) AS iv,
           |           len(ga.grams) AS na, len(gb.grams) AS nb
           |         FROM cand c
           |         JOIN dg ga ON ga.doc_id = c.id_a
           |         JOIN dg gb ON gb.doc_id = c.id_b)
           |SELECT id_a, id_b FROM conf
           |WHERE iv * 1.0 / (na + nb - iv) >= 0.6 ORDER BY id_a, id_b""".stripMargin,

      "doc_simhash_dup_pairs_md5" ->
        s"""WITH $docGramsSql,
           |${simhashSql("doc_id")},
           |blk AS (SELECT doc_id, sh, i.range AS bi, (sh >> (i.range * 16)) & 65535 AS bv
           |        FROM sh CROSS JOIN range(0, 4) i),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |           bit_count(xor(a.sh, b.sh))::INT AS hamming
           |         FROM blk a JOIN blk b ON a.bi = b.bi AND a.bv = b.bv
           |              AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM cand
           |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

      "dup_pairs_minhash_md5" ->
        s"""WITH $imgToksSql,
           |${minhashBandsSql("image_id")},
           |bw AS (SELECT image_id, ${h64("concat(bi, ':', bv)")} AS wk FROM bk),
           |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
           |         FROM bw a JOIN bw b ON a.wk = b.wk
           |              AND a.image_id < b.image_id),
           |$imgConfirmSql
           |SELECT id_a, id_b FROM conf
           |WHERE hamming <= $ht AND iv * 1.0 / (na + nb - iv) >= $tau
           |ORDER BY id_a, id_b""".stripMargin,

      "dup_pairs_simhash" ->
        s"""WITH $imgToksSql,
           |${simhashSql("image_id")},
           |blk AS (SELECT s.image_id, t.phash, i.range AS bi,
           |          (s.sh >> (i.range * 16)) & 65535 AS bv
           |        FROM sh s JOIN ti t USING (image_id) CROSS JOIN range(0, 4) i),
           |cand AS (SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
           |         FROM blk a JOIN blk b ON a.bi = b.bi AND a.bv = b.bv
           |              AND a.image_id < b.image_id
           |              AND bit_count(xor(a.phash, b.phash)) <= $ht),
           |$imgConfirmSql
           |SELECT id_a, id_b FROM conf
           |WHERE hamming <= $ht AND iv * 1.0 / (na + nb - iv) >= $tau
           |ORDER BY id_a, id_b""".stripMargin,

      "cluster_metrics" ->
        s"""WITH RECURSIVE pairs AS ($dupPairsSql),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |          UNION ALL SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT image_id, image_id FROM $t
           |  UNION
           |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
           |),
           |cl AS (SELECT id AS image_id, min(r) AS cluster_id FROM reach GROUP BY id),
           |cm AS (SELECT image_id, cluster_id,
           |         (${h64("cluster_id")} >> 59) & 31 AS part FROM cl),
           |ex AS (SELECT part, count(*) AS n_rows,
           |         count(DISTINCT cluster_id) AS n_clusters_exact
           |       FROM cm GROUP BY part),
           |hh AS (SELECT part, ${h64("cluster_id")} AS h FROM cm),
           |${hllEstSql("part", "distinct_clusters_est")}
           |SELECT part, n_rows, n_clusters_exact, distinct_clusters_est
           |FROM ex JOIN ehll USING (part) ORDER BY part""".stripMargin,

      "doc_hll_tokens_by_source_md5" ->
        s"""WITH tk AS (SELECT source,
           |         unnest(list_distinct(string_split(text, ' '))) AS s
           |       FROM $docsT),
           |ex AS (SELECT source, count(DISTINCT s) AS n_distinct_exact
           |       FROM tk GROUP BY source),
           |hh AS (SELECT source, ${h64("s")} AS h FROM tk),
           |${hllEstSql("source", "est_distinct_tokens")}
           |SELECT source, n_distinct_exact, est_distinct_tokens
           |FROM ex JOIN ehll USING (source) ORDER BY source""".stripMargin,

      "doc_sketch_estimates_md5" ->
        s"""WITH pr AS ($docNgramPairsSql),
           |sk AS (SELECT doc_id,
           |         list_sort(list_distinct(list_transform(range(1, length(text) - 6),
           |           i -> ${h63("substr(text, i::INT, 8)")}))) AS hf
           |       FROM $docsT WHERE length(text) >= 8),
           |j AS (SELECT pr.id_a, pr.id_b, a.hf AS hfa, b.hf AS hfb,
           |        a.hf[1:128] AS bka, b.hf[1:128] AS bkb,
           |        list_sort(list_distinct(a.hf[1:128] || b.hf[1:128]))[1:128] AS x
           |      FROM pr JOIN sk a ON a.doc_id = pr.id_a
           |              JOIN sk b ON b.doc_id = pr.id_b),
           |e AS (SELECT id_a, id_b,
           |        len(list_intersect(list_intersect(x, bka), bkb)) AS common,
           |        len(x) AS nx, len(bka) AS na, len(bkb) AS nb,
           |        bka[len(bka)] AS topa, bkb[len(bkb)] AS topb,
           |        len(hfa)::BIGINT AS n_distinct_a, len(hfb)::BIGINT AS n_distinct_b,
           |        len(list_intersect(hfa, hfb))::BIGINT AS n_inter
           |      FROM j),
           |f AS (SELECT id_a, id_b,
           |        CASE WHEN nx = 0 THEN 0.0 ELSE common / nx END AS bk_jaccard,
           |        CASE WHEN least(na, nb) = 0 THEN 0.0
           |             ELSE common / least(least(na, nb), 128) END AS containment,
           |        na * (2::DOUBLE ** 64) / topa AS card_a,
           |        nb * (2::DOUBLE ** 64) / topb AS card_b,
           |        n_distinct_a, n_distinct_b, n_inter
           |      FROM e)
           |SELECT id_a, id_b, bk_jaccard, containment, card_a, card_b,
           |  round(CASE WHEN bk_jaccard <= 0.0 THEN 1.0
           |             WHEN bk_jaccard = 1.0 THEN 0.0
           |             ELSE least(-ln(bk_jaccard * 2.0 / (bk_jaccard + 1.0)) / 8, 1.0)
           |        END, 6) AS mash_dist,
           |  n_distinct_a, n_distinct_b, n_inter
           |FROM f ORDER BY id_a, id_b""".stripMargin,

      // exact VALUE companions computed independently in DuckDB; the
      // booleans are asserted as literal TRUE — a hash-match gates the
      // engine-local CWS / HLL-joint-MLE estimates against their exact
      // counterparts within the documented bounds (Md5Channels.docEstAccuracy)
      "doc_est_accuracy" ->
        s"""WITH pr AS ($docNgramPairsSql),
           |tf AS (SELECT doc_id, tok, count(*) AS c
           |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |             FROM $docsT)
           |       GROUP BY doc_id, tok),
           |wa AS (SELECT pr.id_a, pr.id_b, tf.tok, tf.c AS ca
           |       FROM pr JOIN tf ON tf.doc_id = pr.id_a),
           |wb AS (SELECT pr.id_a, pr.id_b, tf.tok, tf.c AS cb
           |       FROM pr JOIN tf ON tf.doc_id = pr.id_b),
           |w AS (SELECT coalesce(wa.id_a, wb.id_a) AS id_a,
           |        coalesce(wa.id_b, wb.id_b) AS id_b,
           |        coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
           |      FROM wa FULL OUTER JOIN wb
           |        ON wa.id_a = wb.id_a AND wa.id_b = wb.id_b AND wa.tok = wb.tok),
           |wj AS (SELECT id_a, id_b,
           |         sum(least(ca, cb))::DOUBLE / sum(greatest(ca, cb))::DOUBLE AS wj_exact
           |       FROM w GROUP BY id_a, id_b),
           |sk AS (SELECT doc_id,
           |         list_sort(list_distinct(list_transform(range(1, length(text) - 6),
           |           i -> ${h63("substr(text, i::INT, 8)")}))) AS hf
           |       FROM $docsT WHERE length(text) >= 8),
           |sj AS (SELECT pr.id_a, pr.id_b,
           |         len(list_intersect(a.hf, b.hf))::DOUBLE /
           |         (len(a.hf) + len(b.hf) - len(list_intersect(a.hf, b.hf)))::DOUBLE
           |           AS shingle_j_exact
           |       FROM pr JOIN sk a ON a.doc_id = pr.id_a
           |               JOIN sk b ON b.doc_id = pr.id_b)
           |SELECT wj.id_a, wj.id_b, wj_exact, shingle_j_exact,
           |  TRUE AS wjaccard_ok, TRUE AS hll_mle_ok
           |FROM wj JOIN sj ON wj.id_a = sj.id_a AND wj.id_b = sj.id_b
           |ORDER BY wj.id_a, wj.id_b""".stripMargin,

      "doc_stats" ->
        s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $docsT),
           |s AS (SELECT doc_id,
           |  length(text)::BIGINT AS chars,
           |  len(toks)::BIGINT AS n_tokens,
           |  len(list_distinct(toks))::BIGINT AS n_distinct,
           |  list_sum(list_transform(toks, tk -> length(tk)))::BIGINT AS token_chars,
           |  len(list_filter(toks, tk ->
           |    list_contains(['the','a','and','of','to','in'], tk)))::BIGINT AS n_stop
           |  FROM t)
           |SELECT doc_id, chars, n_tokens, n_distinct, token_chars, n_stop,
           |  token_chars / n_tokens AS avg_token_len,
           |  n_distinct / n_tokens AS distinct_ratio,
           |  n_stop / n_tokens AS stopword_ratio,
           |  least(n_tokens / 64.0, 1.0) * 0.5 + (n_distinct / n_tokens) * 0.3
           |    + (n_stop / n_tokens) * 0.2 AS quality
           |FROM s ORDER BY doc_id""".stripMargin,

      "doc_token_counts" ->
        s"""SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ws_tokens
           |FROM $docsT ORDER BY doc_id""".stripMargin,

      "doc_tokenize" ->
        s"""SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ws_tokens,
           |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r\\f]'))::BIGINT
           |    AS bpe_ish_tokens
           |FROM $docsT ORDER BY doc_id""".stripMargin,

      "doc_lang_id" ->
        s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $docsT),
           |s AS (SELECT doc_id, text,
           |  len(list_filter(toks, x -> list_contains(['the','and','of','to','is','in','that','it'], lower(x)))) AS s_en,
           |  len(list_filter(toks, x -> list_contains(['le','la','les','et','de','un','une','est'], lower(x)))) AS s_fr,
           |  len(list_filter(toks, x -> list_contains(['el','la','los','y','de','que','es','un'], lower(x)))) AS s_es,
           |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','nicht','von'], lower(x)))) AS s_de
           |  FROM t),
           |b AS (SELECT doc_id, text,
           |  list_sort([{'score': s_en, 'lang': 'en'}, {'score': s_fr, 'lang': 'fr'},
           |             {'score': s_es, 'lang': 'es'}, {'score': s_de, 'lang': 'de'}])[-1] AS best
           |  FROM s)
           |SELECT doc_id,
           |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
           |       WHEN best.score >= 2 THEN best.lang ELSE 'und' END AS lang_pred
           |FROM b ORDER BY doc_id""".stripMargin,

      "dna_revcomp" ->
        s"""WITH d AS (SELECT doc_id,
           |  translate(upper(md5(text)), '0123456789ABCDEF', 'ACGTACGTACGTACGT') AS seq
           |  FROM $docsT)
           |SELECT doc_id, seq, reverse(translate(seq, 'ACGT', 'TGCA')) AS rc
           |FROM d ORDER BY doc_id""".stripMargin,

      // mirrors Md5Channels.dnaOmhPairsMd5 (k=4, l=2, m=16, rot=8): rank =
      // h63(kmer:occ) XOR h63('perm'||p) — the file-level xor-permutation
      // contract, 63-bit so signed BIGINT order == Spark's long order;
      // block = winners' k-grams concatenated in position order;
      // similarity = fraction of the 16 permutations with equal blocks;
      // rc-aware score = max(fwd-vs-x, rc-vs-x) per compare_sketches
      "dna_omh_pairs_md5" ->
        s"""WITH d AS (SELECT doc_id,
           |  translate(upper(md5(text) || md5(text || 'x')),
           |            '0123456789ABCDEF', 'ACGTACGTACGTACGT') AS seq
           |  FROM $docsT),
           |vr AS (SELECT doc_id, 0 AS vi, seq FROM d
           |       UNION ALL SELECT doc_id, 1, reverse(translate(seq, 'ACGT', 'TGCA')) FROM d
           |       UNION ALL SELECT doc_id, 2, substr(seq, 9) || substr(seq, 1, 8) FROM d),
           |km AS (SELECT doc_id, vi, i.range::INT AS pos, substr(seq, i.range::INT, 4) AS kmer
           |       FROM vr CROSS JOIN range(1, 62) i),
           |oc AS (SELECT doc_id, vi, pos, kmer,
           |         row_number() OVER (PARTITION BY doc_id, vi, kmer ORDER BY pos) - 1 AS occ
           |       FROM km),
           |hh AS (SELECT doc_id, vi, pos, kmer,
           |         ${h63("kmer || ':' || occ::VARCHAR")} AS h FROM oc),
           |pm AS (SELECT range AS p, ${h63("'perm'||range")} AS seed FROM range(0, 16)),
           |rk AS (SELECT doc_id, vi, pm.p AS perm, pos, kmer, xor(h, seed) AS rnk
           |       FROM hh CROSS JOIN pm),
           |w AS (SELECT doc_id, vi, perm, pos, kmer,
           |        row_number() OVER (PARTITION BY doc_id, vi, perm ORDER BY rnk) AS rn
           |      FROM rk),
           |bl AS (SELECT doc_id, vi, perm, string_agg(kmer, '' ORDER BY pos) AS block
           |       FROM w WHERE rn <= 2 GROUP BY doc_id, vi, perm),
           |pv AS (SELECT doc_id, perm,
           |         max(CASE WHEN vi = 0 THEN block END) AS b_fwd,
           |         max(CASE WHEN vi = 1 THEN block END) AS b_rc,
           |         max(CASE WHEN vi = 2 THEN block END) AS b_rot
           |       FROM bl GROUP BY doc_id, perm)
           |SELECT doc_id,
           |  greatest(avg(CASE WHEN b_fwd = b_rc THEN 1 ELSE 0 END),
           |           avg(CASE WHEN b_rc = b_rc THEN 1 ELSE 0 END))::DOUBLE AS sim_rc_dup,
           |  greatest(avg(CASE WHEN b_fwd = b_rot THEN 1 ELSE 0 END),
           |           avg(CASE WHEN b_rc = b_rot THEN 1 ELSE 0 END))::DOUBLE AS sim_rot_linear
           |FROM pv GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "doc_fingerprints_md5" ->
        s"""WITH g AS (SELECT doc_id,
           |  list_transform(range(1, length(text) - 6),
           |                 i -> md5(substr(text, i::INT, 8))) AS grams
           |  FROM $docsT WHERE length(text) >= 11),
           |f AS (SELECT doc_id,
           |  list_distinct(list_transform(range(1, len(grams) - 2),
           |                               j -> list_min(grams[j:j+3]))) AS fps
           |  FROM g)
           |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin,

      "doc_distinct_tokens_by_source" ->
        s"""SELECT source, count(DISTINCT tk) AS n_distinct_tokens
           |FROM (SELECT source, unnest(list_distinct(string_split(text, ' '))) AS tk
           |      FROM $docsT)
           |GROUP BY source ORDER BY source""".stripMargin,

      "events_windowed" ->
        s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
           |  count(*) AS n, round(sum(value), 6) AS sum_value
           |FROM $evT GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

      "events_sessions" ->
        s"""WITH o AS (SELECT user_id, ts, event_id,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           |  FROM $evT),
           |f AS (SELECT user_id, ts, event_id,
           |    CASE WHEN prev_ts IS NULL
           |         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
           |  FROM o),
           |s AS (SELECT user_id, ts,
           |    (sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                  ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
           |  FROM f)
           |SELECT user_id, session_seq, count(*) AS n_events,
           |  min(ts) AS session_start, max(ts) AS session_end
           |FROM s GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin,

      "events_user_session_stats" ->
        s"""WITH o AS (SELECT user_id, ts, event_id,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           |  FROM $evT),
           |f AS (SELECT user_id, ts, event_id,
           |    CASE WHEN prev_ts IS NULL
           |         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS ns
           |  FROM o),
           |s AS (SELECT user_id, ts,
           |    (sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                  ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
           |  FROM f),
           |g AS (SELECT user_id, session_seq, count(*) AS n_events
           |      FROM s GROUP BY user_id, session_seq)
           |SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
           |  max(n_events) AS max_session_events,
           |  round(avg(n_events), 6) AS avg_session_events
           |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

      "embed_knn" -> embedKnnSql,

      "embed_knn_ivf_exactcfg" -> embedKnnSql,

      "embed_knn_lsh_md5" -> embedKnnLshTwinSql,

      "embed_dup_pairs" ->
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $embT)
           |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(list_dot_product(a.v, b.v) /
           |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
           |FROM e a JOIN e b ON a.vec_id < b.vec_id
           |WHERE a.vec_id < 500
           |  AND round(list_dot_product(a.v, b.v) /
           |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
           |ORDER BY id_a, id_b""".stripMargin,

      "img_decode_meta" ->
        s"""SELECT image_id, w AS w_dec, h AS h_dec FROM $t ORDER BY image_id""".stripMargin,

      "img_resize_meta" ->
        s"""SELECT image_id, 64 AS w_rs, 64 AS h_rs FROM $t ORDER BY image_id""".stripMargin,

      "img_payload_fidelity" ->
        s"""SELECT image_id, fmt, true AS psnr_ok, true AS caption_ok
           |FROM $t ORDER BY image_id""".stripMargin
    )
  }

  /** exact-knn oracle SQL (query side capped to the same fixed budget as
    * the Spark query — a no-op at sf0.01's 500 vectors); also gates the
    * nprobe=centroids IVF degeneracy twin. */
  private def embedKnnSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $embT),
       |s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |        round(list_dot_product(q.v, e.v) /
       |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
       |      FROM e q JOIN e ON e.vec_id != q.vec_id
       |      WHERE q.vec_id < 500),
       |r AS (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, neighbor_id, rank::INT AS rank, sim FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** recursive connected-components oracle over the exact dup-pair edges —
    * gates both `dup_clusters` and the snapshot-chain `pipeline_resume`. */
  private def dupClustersSql(dupPairsSql: String, t: String): String =
    s"""WITH RECURSIVE pairs AS ($dupPairsSql),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT image_id, image_id FROM $t
       |  UNION
       |  SELECT e.dst, reach.r FROM edges e JOIN reach ON e.src = reach.id
       |)
       |SELECT id AS image_id, min(r) AS cluster_id FROM reach
       |GROUP BY id ORDER BY image_id""".stripMargin

  /** full-fidelity LSH oracle SQL: reproduces the hyperplane buckets (same
    * md5 ±1 sign matrix as the Spark twin, embedded as literals — the sign
    * values are data-independent constants, the same trust level as the
    * xor-permutation seeds of the MinHash twins), the any-table collision
    * join, candidate dedup, exact re-score, and top-k. */
  private def embedKnnLshTwinSql: String = {
    val signs = Ann.md5SignMatrix(LshTwinTables, LshTwinPlanes, LshTwinDim)
    def bucketExpr(t: Int): String =
      signs(t).zipWithIndex.map { case (plane, p) =>
        val arr = plane.map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]::DOUBLE[]")
        s"CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << p} ELSE 0 END"
      }.mkString("(", " + ", ")")
    val tableCols = (0 until LshTwinTables)
      .map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n       ")
    val collide = (0 until LshTwinTables).map(t => s"q.b$t = n.b$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $embT),
       |b AS (SELECT vec_id, v,
       |       $tableCols
       |      FROM e),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
       |         FROM b q JOIN b n ON n.vec_id != q.vec_id AND ($collide)
       |         WHERE q.vec_id < $ExactQueryBudget),
       |s AS (SELECT c.query_id, c.neighbor_id,
       |        round(list_dot_product(q.v, n.v) /
       |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6) AS sim
       |      FROM cand c
       |      JOIN e q ON q.vec_id = c.query_id
       |      JOIN e n ON n.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |      FROM s)
       |SELECT query_id, neighbor_id, rank::INT AS rank, sim FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  private def docsT = "read_parquet('/root/testdata/sf0.01/documents.parquet')"
  private def embT = "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
  private def evT = "read_parquet('/root/testdata/sf0.01/events.parquet')"

  /** exact 3-gram jaccard pairs — same inverted-index formulation as the
    * Spark plan (hash-free on the DuckDB side: string grams). */
  private def docNgramPairsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $docsT),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
       |      FROM t WHERE len(toks) >= 3),
       |c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b FROM i
       |JOIN c ca ON ca.doc_id = id_a JOIN c cb ON cb.doc_id = id_b
       |WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin
}
