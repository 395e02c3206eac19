package graft.oracle

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spark.{functions => gf}

class Md5ChannelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("codegen'd xor-min fold == built-ins formulation, byte-identical") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // real text rows (callers filter size >= n before shingling)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("text"))
    for (numPerm <- Seq(1, 32)) {
      val hs = gf.md5_hashes63(gf.token_ngram_strings(col("text"), 3))
      val both = docs.select(
        col("doc_id"),
        gf.xor_min_minima(hs, numPerm).as("fold"),
        Md5Builtins.xorMinhashMinima(hs, numPerm).as("builtins"))
      val bad = both.where(not(col("fold") <=> col("builtins")))
      assert(bad.isEmpty, s"numPerm=$numPerm: ${bad.count()} mismatching rows")
      assert(both.count() > 400)
    }
    // degenerate hash-array shapes the callers' filters normally exclude:
    // empty (array_min-of-empty = all-null row), singleton, extreme values,
    // and NULL SLOTS (array_min skips nulls; an all-null array is null —
    // the kernel must mirror both, not read the slot as data)
    val shapes = Seq(
      Seq.empty[Long], Seq(0L), Seq(Long.MaxValue), Seq(1L, Long.MaxValue, 7L))
      .toDF("hs")
    val nullShapes = Seq(
      Seq(Some(1L), None, Some(7L)), Seq[Option[Long]](None, None),
      Seq(None, Some(Long.MaxValue))).toDF("hs")
    for (df <- Seq(shapes, nullShapes)) {
      val both = df.select(
        gf.xor_min_minima(col("hs"), 4).as("fold"),
        Md5Builtins.xorMinhashMinima(col("hs"), 4).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty)
    }
  }

  test("codegen'd token n-gram strings == built-ins chain on the callers' domain") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    // adversarial shapes INSIDE the domain (size(split) >= n): consecutive
    // spaces (empty tokens), leading/trailing spaces, multi-byte UTF-8,
    // repeated grams (distinct order must match array_distinct's
    // first-occurrence order)
    val weird = Seq(
      "a  b c", " a b c ", "héllo wörld ünïcode méh", "x y x y x y",
      "a b c d e f", "  a  ").toDF("text")
    for (df <- Seq(real, weird); n <- Seq(1, 2, 3)) {
      val dom = df.where(size(split(col("text"), " ")) >= n)
      val both = dom.select(
        gf.token_ngram_strings(col("text"), n).as("fold"),
        Md5Builtins.tokenNgramStrings(col("text"), n).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty, s"n=$n")
    }
  }

  test("codegen'd md5 hashes == built-ins md5-hex parse, byte-identical") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // real corpus grams plus adversarial strings: empty gram, multi-byte
    // UTF-8 (the kernel must digest the same UTF-8 bytes SQL md5 sees),
    // whitespace-only, a long gram
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(gf.token_ngram_strings(col("text"), 3).as("grams"))
    val weird = Seq(
      Seq("", "héllo wörld", "ünïcode ßtr", "日本語 テスト", "a" * 500, "  ", "né"),
      Seq.empty[String]).toDF("grams")
    for (df <- Seq(real, weird)) {
      val both = df.select(
        gf.md5_hashes63(col("grams")).as("fold"),
        Md5Builtins.hashes63(col("grams")).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty)
    }
  }

  test("codegen'd ties-up simhash == 64-pass built-ins majority vote") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(gf.md5_hashes63(
        gf.token_ngram_strings(col("text"), 3)).as("hs"))
    // degenerate shapes: empty (all 64 bits set under ties-up), singleton,
    // exact tie (two hashes differing in every bit), sign-bit stress, and
    // NULL SLOTS (`size(filter(...))` drops nulls from the bit counts while
    // `size(hs)` keeps them in the denominator — the kernel must mirror)
    val shapes = Seq(
      Seq.empty[Long], Seq(0L), Seq(-1L), Seq(0L, -1L),
      Seq(Long.MinValue, Long.MaxValue, 5L)).toDF("hs")
    val nullShapes = Seq(
      Seq(Some(-1L), None), Seq[Option[Long]](None),
      Seq(None, Some(0L), Some(-1L))).toDF("hs")
    for (df <- Seq(real, shapes, nullShapes)) {
      val both = df.select(
        gf.simhash_majority_ge64(col("hs")).as("fold"),
        Md5Builtins.simhash64Md5(col("hs")).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty)
    }
  }

  test("md5-rank OMH twin == independent JVM brute force of the selection semantics") {
    spark.sparkContext.setLogLevel("WARN")
    import java.security.MessageDigest
    val (k, l, m, rot) = (4, 2, 16, 8)
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    def seqOf(text: String): String = {
      val hex = (md5hex(text) + md5hex(text + "x")).toUpperCase
      hex.map(c => "ACGTACGTACGTACGT".charAt("0123456789ABCDEF".indexOf(c)))
    }
    // independent h63: parse the md5 hex halves directly (no Kernels reuse)
    def h63(s: String): Long = {
      val hex = md5hex(s)
      ((java.lang.Long.parseLong(hex.substring(0, 8), 16) << 32) |
        java.lang.Long.parseLong(hex.substring(8, 16), 16)) & Long.MaxValue
    }
    val seeds = (0 until m).map(p => h63(s"perm$p"))
    def blocks(seq: String): IndexedSeq[String] = {
      val kmers = (0 to seq.length - k).map(i => seq.substring(i, i + k))
      val seen = scala.collection.mutable.Map.empty[String, Int]
      val hs = kmers.map { km =>
        val c = seen.getOrElse(km, 0); seen(km) = c + 1; h63(s"$km:$c")
      }
      (0 until m).map { p =>
        kmers.indices
          .map(i => (hs(i) ^ seeds(p), i))
          .sorted.take(l).map(_._2).sorted.map(kmers).mkString
      }
    }
    def sim(a: Seq[String], b: Seq[String]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / m
    def rc(s: String): String = s.reverse.map {
      case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(40)
    val got = Md5Channels.dnaOmhPairsMd5(docs, k, l, m, rot).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 40 && got.size == 40)
    var nontrivialRot = 0
    rows.foreach { case (id, text) =>
      val seq = seqOf(text)
      val (fwd, rcb) = (blocks(seq), blocks(rc(seq)))
      val rotb = blocks(seq.substring(rot) + seq.substring(0, rot))
      val expRc = math.max(sim(fwd, rcb), sim(rcb, rcb))
      val expRot = math.max(sim(fwd, rotb), sim(rcb, rotb))
      assert(got(id) == ((expRc, expRot)), s"doc $id: got ${got(id)}")
      assert(expRc == 1.0) // rc-dup invariant: sim(rc, rc) leg is exact
      if (expRot > 0.0 && expRot < 1.0) nontrivialRot += 1
    }
    // the rotation leg must actually exercise block mismatches, not
    // degenerate to all-0/all-1
    assert(nontrivialRot >= 10, s"only $nontrivialRot nontrivial rotation sims")
  }

  test("codegen'd OMH blocks == built-ins window formulation on the callers' domain") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // the callers' domain: single-byte-char sequences of length >= k (the
    // derived ACGT 64-mers), plus in-domain degenerate shapes — length == k
    // (one gram), heavy k-gram repetition (occurrence weighting), n < l
    val acgt = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(translate(
        upper(concat(md5(col("text")), md5(concat(col("text"), lit("x"))))),
        "0123456789ABCDEF", "ACGTACGTACGTACGT").as("seq"))
    val weird = Seq("ACGT", "AAAAAAAA", "ACGTA", "ACGTACGTACGT").toDF("seq")
    for (df <- Seq(acgt, weird); (k, l, m) <- Seq((4, 2, 16), (2, 3, 8))) {
      val dom = df.where(length(col("seq")) >= k)
      val both = dom.select(
        gf.omh_md5_blocks(col("seq"), k, l, m).as("fold"),
        Md5Builtins.omhBlocks(col("seq"), k, l, m).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty,
        s"k=$k l=$l m=$m")
      assert(dom.count() > 0)
    }
  }

  test("codegen'd band walk keys == builtins bandKeysMd5∘bandWalkKey chain") {
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // callers' domain: minima arrays of exactly bands*r nonneg 63-bit longs
    for ((numPerm, bands, r) <- Seq((32, 16, 2), (8, 2, 4))) {
      val minima = gf.xor_min_minima(
        gf.md5_hashes63(gf.token_ngram_strings(col("text"), 3)), numPerm)
      val both = docs.where(size(split(col("text"), " ")) >= 3).select(
        gf.band_walk_keys(minima, bands, r).as("fold"),
        Md5Builtins.bandWalkKeys(minima, bands, r).as("builtins"))
      assert(both.where(not(col("fold") <=> col("builtins"))).isEmpty,
        s"numPerm=$numPerm bands=$bands r=$r")
    }
  }

  test("kernel survives whole-stage codegen in the full band-key pipeline") {
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hs = gf.md5_hashes63(gf.token_ngram_strings(col("text"), 3))
    val viaFold = docs.where(size(split(col("text"), " ")) >= 3).select(
      col("doc_id"),
      Md5Builtins.bandKeysMd5(gf.xor_min_minima(hs, 32), 16, 2).as("bks"))
    val viaBuiltins = docs.where(size(split(col("text"), " ")) >= 3).select(
      col("doc_id"),
      Md5Builtins.bandKeysMd5(Md5Builtins.xorMinhashMinima(hs, 32), 16, 2).as("bks"))
    assert(viaFold.exceptAll(viaBuiltins).isEmpty)
    assert(viaBuiltins.exceptAll(viaFold).isEmpty)
  }

  test("doc_est_accuracy: exact companions hand-checked; accuracy booleans hold") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // hand-computable token spectra: a = {x:2, y:1, z:1}, b = {x:1, y:2, w:1}
    //   wj = (min(2,1)+min(1,2)+0+0) / (max(2,1)+max(1,2)+1+1) = 2/6
    val docs = Seq(
      (1L, "xx xx yy zz aa bb cc dd"), // 8 tokens to clear shingleK on text
      (2L, "xx yy yy ww aa bb cc dd")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val row = Md5Channels.docEstAccuracy(docs, pairs).head()
    val wjExact = row.getAs[Double]("wj_exact")
    // shared spectrum part: aa bb cc dd (1 each) + the hand case above:
    //   min-sum = 4 + 2 = 6, max-sum = 4 + 6 = 10
    assert(math.abs(wjExact - 0.6) < 1e-12, s"wj_exact=$wjExact")
    // shingle exact: verify against an independent JVM brute force
    def shingles(s: String) = s.sliding(8).toSet
    val (sa, sb) = (shingles("xx xx yy zz aa bb cc dd"), shingles("xx yy yy ww aa bb cc dd"))
    val expJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
    val sj = row.getAs[Double]("shingle_j_exact")
    assert(math.abs(sj - expJ) < 1e-12, s"shingle_j_exact=$sj expected=$expJ")
    assert(row.getAs[Boolean]("hll_mle_ok"))
    // wjaccard_ok is bound-gated on real doc pairs (EstAccuracyProbe); on
    // this tiny 2-doc case the CWS scheme's fresh-bin bias is at its worst,
    // so assert only that the column exists and is boolean-typed here
    assert(row.schema("wjaccard_ok").dataType.typeName == "boolean")
    // real-data leg: the actual gate surface at the smallest sf — all
    // booleans must hold (the driver gate at sf0.01 asserts the same)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = graft.docs.DocOps.ngramDupPairsExact(d, 3, 0.6)
    val out = Md5Channels.docEstAccuracy(d, p)
    assert(out.where(!col("wjaccard_ok") || !col("hll_mle_ok")).isEmpty)
    assert(out.count() > 20)
  }
}
