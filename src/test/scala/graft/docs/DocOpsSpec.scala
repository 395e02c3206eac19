package graft.docs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

class DocOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val docs = {
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  }

  test("exact dup groups: canon is min id, group sizes consistent") {
    val rows = DocOps.exactDupGroups(docs).collect()
    assert(rows.length === docs.count())
    assert(rows.forall(r => r.getAs[Long]("canon_id") <= r.getAs[Long]("doc_id")))
  }

  test("prefix-filtered ngram join == brute-force all-pairs (lossless pruning)") {
    import spark.implicits._
    val gf = graft.spark.functions
    for (tau <- Seq(0.4, 0.6, 0.8)) {
      val brute = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val sets = brute.map { case (id, t) => id ->
        graft.sketch.Shingles.tokenNgrams(t, 3).toSet }.filter(_._2.nonEmpty)
      val expect = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= tau
      } yield (ia, ib)).toSet
      val got = DocOps.ngramDupPairsExact(docs, 3, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, s"tau=$tau")
    }
  }

  test("minhash LSH pairs == exact ngram pairs at tau 0.6 (recall 1.0 here)") {
    val exact = DocOps.ngramDupPairsExact(docs, 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = DocOps.minhashDupPairs(docs, 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mh.subsetOf(exact))
    assert(mh.intersect(exact).size.toDouble / exact.size >= 0.99)
  }

  /** near-dup families on every tokenizer path: tabs and runs of spaces,
    * non-ASCII text (the String fallback of `tokenNgramsBytes`), docs of
    * exactly n = 3 tokens, a 40-doc boilerplate family (hot at threshold
    * 16), null / empty / short docs, and doc ids that appear twice with
    * different texts */
  private def confirmDocs = {
    import spark.implicits._
    val ascii = "the quick brown fox jumps over the lazy dog near the river bank today"
    val uni = "héllo wörld ünïcode méh straße café naïve résumé jalapeño über alles gut"
    val boiler = "terms of service apply to all users and all content on this site always"
    def variants(base: String, from: Long): Seq[(Long, String)] = {
      val w = base.split(" ")
      Seq(base, w.mkString("\t"), w.mkString("   "), " " + base + "\t ",
        base + " extra", (w.take(10) ++ Seq("one", "two", "three", "four")).mkString(" "),
        (w.take(6) ++ w.drop(6).reverse).mkString(" ")).zipWithIndex
        .map { case (t, i) => (from + i, t) }
    }
    val rows: Seq[(Long, String)] = variants(ascii, 0) ++ variants(uni, 100) ++
      (0 until 40).map(i => (200L + i, if (i % 4 == 0) boiler + s" tail${i % 3}" else boiler)) ++
      Seq((300L, "alpha beta gamma"), (301L, "alpha\tbeta  gamma"), (302L, "alpha beta gamma"),
        (303L, "alpha beta delta"), (304L, "ünï cödé ßtr"), (305L, "ünï cödé ßtr"),
        (400L, null), (401L, ""), (402L, "x"), (403L, "a b"), (404L, " \t "),
        (500L, ascii), (500L, uni), (501L, "a b"), (501L, boiler))
    rows.toDF("doc_id", "text")
  }

  test("minhash confirm over the frame's gram sets == per-pair ngram_jaccard over the texts") {
    val gf = graft.spark.functions
    val d = confirmDocs
    val texts = d.select(col("doc_id"), col("text"))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    for (hot <- Seq(Dedup.AllPairsHotCap, 16)) {
      val cand = DocOps.minhashCandidates(d, 3, hotThreshold = hot)
      // the reference: the per-pair re-tokenizing predicate over both texts
      val reference = pairs(cand
        .join(texts.toDF("id_a", "text_a"), "id_a")
        .join(texts.toDF("id_b", "text_b"), "id_b")
        .where(gf.ngram_jaccard(col("text_a"), col("text_b"), 3) >= 0.6)
        .select("id_a", "id_b"))
      val got = pairs(DocOps.minhashDupPairs(d, 3, 0.6, hotThreshold = hot))
      assert(got === reference,
        s"hotThreshold=$hot: missing=${reference.diff(got)} extra=${got.diff(reference)}")
      // every family confirms pairs, and the predicate rejects candidates
      for ((lo, hi) <- Seq((0L, 7L), (100L, 107L), (200L, 240L), (300L, 306L)))
        assert(got.exists { case (a, b) => a >= lo && b < hi }, s"hotThreshold=$hot: none in [$lo, $hi)")
      assert(got.exists(p => p._1 == 500L || p._2 == 500L))
      assert(got.size < cand.count(), s"hotThreshold=$hot: the confirm rejected no candidate")
    }
  }

  test("minhash confirm plan: no per-pair tokenize, one side exchange reused by both joins") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.catalyst.expressions.ArrayIntersect
    import graft.spark.expr.{NgramJaccard, TokenNgramStringsExpr, TokenNgrams}
    object Plans extends AdaptiveSparkPlanHelper
    // a side exchange carries one endpoint's id; the candidate pairs carry both
    def side(e: Exchange): Boolean =
      e.output.count(a => a.name == "id_a" || a.name == "id_b") == 1
    def check(df: DataFrame): Unit = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val tokenize = Plans.collect(plan) { case p => p }.flatMap(_.expressions)
        .filter(_.exists {
          case _: NgramJaccard | _: TokenNgrams | _: TokenNgramStringsExpr | _: ArrayIntersect => true
          case _ => false
        })
      assert(tokenize.isEmpty, s"tokenizing expressions $tokenize in:\n$plan")
      // a reused stage is a leaf, so it never counts as a live one
      val live = Plans.collect(plan) { case e: Exchange if side(e) => e }.size
      val reused = Plans.collect(plan) { case r: ReusedExchangeExec if side(r.child) => r }.size
      assert((live, reused) === ((1, 1)), s"live side exchanges, reused ones in:\n$plan")
    }
    check(DocOps.minhashDupPairs(docs, 3, 0.6))
    check(DocOps.minhashDupPairs(confirmDocs, 3, 0.6, hotThreshold = 16))
    // the md5 twin runs the same confirm over its md5 gram-hash sets
    check(graft.oracle.Md5Channels.docMinhashDupPairsMd5(docs, 3, 0.6))
  }

  test("simhash pairs: brute-force equivalence of the block-join channel") {
    import spark.implicits._
    val sigs = docs.select(col("doc_id"),
      graft.spark.functions.simhash64(graft.spark.functions.token_ngrams(col("text"), 3)).as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val got = DocOps.simhashDupPairs(docs, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
  }

  test("planted boilerplate hot bucket: minhash channel pair set invariant under salting") {
    // the 100-TB text regime the verdict flagged: boilerplate puts hundreds
    // of near-identical docs into ONE band bucket. hotThreshold=32 forces
    // every boilerplate bucket through the terminal salt-and-replicate path;
    // the pair set must equal both the unsalted walk and brute-force jaccard
    // (mirrors SaltingSpec on the image side).
    import spark.implicits._
    val boiler = "terms of service apply to all users and all content on this site always"
    val hot = (0 until 150).map(i => (i.toLong, boiler))
    val churn = (150 until 180).map(i => (i.toLong, boiler + s" extra${i % 3}"))
    val g = new scala.util.Random(11)
    val cold = (200 until 240).map(i =>
      (i.toLong, (0 until 14).map(_ => s"w${g.nextInt(5000)}").mkString(" ")))
    val all = hot ++ churn ++ cold
    val d = all.toDF("doc_id", "text")
    val salted = DocOps.minhashDupPairs(d, 3, 0.6, hotThreshold = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = DocOps.minhashDupPairs(d, 3, 0.6, hotThreshold = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = all.map { case (id, t) =>
      id -> graft.sketch.Shingles.tokenNgrams(t, 3).toSet }.filter(_._2.nonEmpty)
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.6
    } yield (ia, ib)).toSet
    assert(brute.size >= 150 * 149 / 2) // the boilerplate block is really pair-dense
    assert(salted === unsalted,
      s"salting diff: missing=${(unsalted -- salted).size} extra=${(salted -- unsalted).size}")
    // LSH recall on identical/near-identical docs is 1.0: every pair here
    // shares whole bands, so the walk output must equal brute force exactly
    assert(salted === brute,
      s"vs brute: missing=${(brute -- salted).size} extra=${(salted -- brute).size}")
  }

  /** mega-cluster hot in EVERY band plus churn members whose pairs
    * first-agree at varying band indexes, plus cold clusters whose pairs
    * the streaming walk (not the dense join) must still emit */
  private def firstAgreeDocs = {
    import spark.implicits._
    val boiler = "cookie policy banner text repeated on every page of the site forever"
    val hot = (0 until 120).map(i => (i.toLong, boiler))
    val churn = (120 until 170).map(i => (i.toLong, boiler + s" tail${i % 7}"))
    val g = new scala.util.Random(23)
    val cold = (0 until 15).flatMap { c =>
      val base = (0 until 14).map(_ => s"w${g.nextInt(5000)}").mkString(" ")
      Seq((300L + 2 * c, base), (301L + 2 * c, base + " zz"))
    }
    (hot ++ churn ++ cold).toDF("doc_id", "text")
  }

  private def forcedHotCandidates(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    DocOps.minhashCandidates(d, 3, hotThreshold = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("first-agreeing-band dedup: candidate set identical, hot path forced") {
    // the losslessness claim of the dedup-at-source join, gated against the
    // brute-force set of pairs that share at least one band key
    import spark.implicits._
    val d = firstAgreeDocs
    val fa = forcedHotCandidates(d)
    // the channel's own band keys (minhashCandidates defaults), collected once
    val gf = graft.spark.functions
    val bands = d.select(col("doc_id"),
        gf.band_keys(gf.minhash_sig(gf.token_ngrams(col("text"), 3), 128, 42L), 64, 2))
      .as[(Long, Array[Long])].collect().map { case (id, b) => id -> b.toSet }
    val brute = (for {
      (ia, ba) <- bands; (ib, bb) <- bands
      if ia < ib && ba.exists(bb.contains)
    } yield (ia, ib)).toSet
    assert(brute.size > (120 * 119) / 2) // the hot fan-out really engaged
    assert(fa === brute,
      s"first-agree diff: missing=${(brute -- fa).size} extra=${(fa -- brute).size}")
  }

  test("forced-hot first-agree candidates: set independent of the shuffle-partition count") {
    val (at4, at8) = graft.SessionConf.atPartitions4And8(spark)(forcedHotCandidates(firstAgreeDocs))
    assert(at4.size > (120 * 119) / 2) // the hot fan-out really engaged
    assert(at4 === at8, s"missing at 8=${(at4 -- at8).size} extra at 8=${(at8 -- at4).size}")
  }

  test("planted boilerplate hot bucket: simhash channel == brute force under salting") {
    import spark.implicits._
    val boiler = "all rights reserved contact the administrator for removal requests today"
    val hot = (0 until 120).map(i => (i.toLong, boiler))
    val g = new scala.util.Random(13)
    val cold = (200 until 260).map(i =>
      (i.toLong, (0 until 14).map(_ => s"w${g.nextInt(5000)}").mkString(" ")))
    val d = (hot ++ cold).toDF("doc_id", "text")
    val sigs = d.select(col("doc_id"),
      graft.spark.functions.simhash64(graft.spark.functions.token_ngrams(col("text"), 3)).as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val salted = DocOps.simhashDupPairs(d, 3, 3, hotThreshold = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 120 * 119 / 2)
    assert(salted === brute,
      s"vs brute: missing=${(brute -- salted).size} extra=${(salted -- brute).size}")
  }

  test("md5 twins: pair sets invariant under forced hot-bucket salting") {
    import spark.implicits._
    val boiler = "standard license text shared verbatim across the corpus for testing"
    val hot = (0 until 100).map(i => (i.toLong, boiler))
    val g = new scala.util.Random(17)
    val cold = (200 until 240).map(i =>
      (i.toLong, (0 until 12).map(_ => s"w${g.nextInt(5000)}").mkString(" ")))
    val d = (hot ++ cold).toDF("doc_id", "text")
    val mh = graft.oracle.Md5Channels
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(mh.docMinhashDupPairsMd5(d, hotThreshold = 32))
      === pairs(mh.docMinhashDupPairsMd5(d, hotThreshold = 1 << 12)))
    assert(pairs(mh.docSimhashDupPairsMd5(d, hotThreshold = 32))
      === pairs(mh.docSimhashDupPairsMd5(d, hotThreshold = 1 << 20)))
    // the image twins on a planted hot caption: 100 images share it, half
    // on one pHash (a class that stays hot after refinement, so the salted
    // self-join runs), half on 1-2-bit variants of it or on far pHashes
    val caption = "a red bicycle leaning on a white brick wall in the morning sun"
    val base = 0x5a5a3c3c0f0f6699L
    val hotImgs = (0 until 100).map { i =>
      val ph = if (i < 50) base
        else if (i < 80) base ^ (1L << (i % 64)) ^ (1L << ((i * 7) % 64))
        else g.nextLong()
      (f"img_$i%010d", ph, caption)
    }
    val coldImgs = (200 until 240).map(i =>
      (f"img_$i%010d", g.nextLong(), (0 until 12).map(_ => s"w${g.nextInt(5000)}").mkString(" ")))
    val imgs = (hotImgs ++ coldImgs).toDF("image_id", "phash", "caption")
    def idPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    for ((name, twin) <- Seq[(String, Int => org.apache.spark.sql.DataFrame)](
        "minhash" -> (h => mh.imgMinhashDupPairsMd5(imgs, hotThreshold = h)),
        "simhash" -> (h => mh.imgSimhashDupPairs(imgs, hotThreshold = h)))) {
      val salted = idPairs(twin(32))
      assert(salted.size >= 50 * 49 / 2, s"$name: the hot caption's pairs are missing")
      assert(salted === idPairs(twin(1 << 20)), name)
    }
  }

  test("language id: detects natural-language samples, und for noise") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the quick brown fox is happy and it runs to the forest in the morning"),
      (2L, "le chat est dans la maison et il mange une pomme avec les enfants"),
      (3L, "el perro es grande y la casa de los abuelos es muy bonita que si"),
      (4L, "der hund ist gross und die katze ist nicht von der strasse ein tier"),
      (5L, "这是 一个 中文 句子"),
      (6L, "zxqv kjhw pqmx uvtr")).toDF("doc_id", "text")
    val got = DocOps.langId(samples).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "fr")
    assert(got(3L) === "es")
    assert(got(4L) === "de")
    assert(got(5L) === "zh")
    assert(got(6L) === "und")
  }

  test("fingerprints: deterministic, shared between near-dup docs") {
    val fp1 = DocOps.fingerprints(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fp2 = DocOps.fingerprints(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fp1 === fp2)
    // near-dup docs (from the exact pair list) share most fingerprints
    val pairs = DocOps.ngramDupPairsExact(docs, 3, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp1.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val shares = pairs.map { case (a, b) =>
      val fa = byDoc.getOrElse(a, Set.empty)
      val fb = byDoc.getOrElse(b, Set.empty)
      fa.intersect(fb).size.toDouble / math.max(1, math.min(fa.size, fb.size))
    }
    assert(shares.nonEmpty && shares.sum / shares.length > 0.5,
      s"avg fingerprint overlap ${shares.sum / shares.length}")
  }

  test("hll token counts within 2% of exact per source") {
    val exact = DocOps.distinctTokensBySource(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = DocOps.hllTokensBySource(docs, 14).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((src, n) <- exact) {
      assert(math.abs(est(src) - n) / n < 0.02, s"$src exact=$n est=${est(src)}")
    }
  }

  test("doc_stats quality score bounded and fields consistent") {
    val rows = DocOps.docStats(docs).collect()
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality")
      q >= 0 && q <= 1.0 &&
        r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_tokens")
    })
  }

  test("hll joint-MLE gated against the oracle-exact per-pair set counts") {
    // the estimator-suite driver query is rows-only (estimates), so its HLL
    // columns are gated HERE against the md5 channel's exact companions
    // (n_distinct_a/b, n_inter — themselves rows+schema+hash oracle-gated):
    // per candidate pair, Ertl joint-MLE jaccard and intersection over HLL
    // sketches of the SAME char-8 shingle sets must track the exact values.
    import graft.sketch.Hll
    import graft.hash.HashKernels
    val pairs = DocOps.ngramDupPairsExact(docs, 3, 0.4)
    val est = graft.oracle.Md5Channels.docSketchEstimatesMd5(docs, pairs).collect()
    assert(est.nonEmpty)
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val np = 12
    def sketch(text: String): Array[Byte] = {
      val regs = Hll.init(np)
      text.sliding(8).toSet[String].foreach { sh =>
        Hll.add(regs, HashKernels.murmur3_low64(sh, 42), np)
      }
      regs
    }
    var absErr = 0.0
    est.foreach { r =>
      val na = r.getAs[Long]("n_distinct_a").toDouble
      val nb = r.getAs[Long]("n_distinct_b").toDouble
      val ni = r.getAs[Long]("n_inter").toDouble
      val exactJ = ni / (na + nb - ni)
      val ha = sketch(texts(r.getAs[Long]("id_a")))
      val hb = sketch(texts(r.getAs[Long]("id_b")))
      val mleJ = Hll.jaccardMle(ha, hb, np)
      assert(math.abs(mleJ - exactJ) <= 0.08,
        s"pair ${r.getLong(0)},${r.getLong(1)}: mleJ=$mleJ exactJ=$exactJ")
      val (_, _, interEst) = Hll.jointMle(ha, hb, np)
      assert(math.abs(interEst - ni) <= math.max(8.0, 0.15 * ni),
        s"pair ${r.getLong(0)},${r.getLong(1)}: interEst=$interEst exact=$ni")
      absErr += math.abs(mleJ - exactJ)
    }
    assert(absErr / est.length <= 0.03, s"mean |mleJ-exactJ| = ${absErr / est.length}")
  }
}
