package graft.spark

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.udaf
import graft.spark.expr._

/** Public column-function surface of the engine — the Spark-native analog of
  * the reference's pybind11 module (`/root/reference/src/pybind.h:27-83`).
  * All functions are Catalyst expressions (codegen'd on the hot path), never
  * Scala closures/UDFs.
  */
object functions {

  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  // feature extraction
  def caption_shingles(text: Column, k: Int): Column = c(CaptionShingles(e(text), k))
  def token_ngrams(text: Column, n: Int): Column = c(TokenNgrams(e(text), n))
  def phash_bitgrams(phash: Column, gram: Int = 16, step: Int = 4): Column =
    c(PhashBitgrams(e(phash), gram, step))
  def minimizers(features: Column, w: Int): Column = c(MinimizersExpr(e(features), w))

  // signatures
  def minhash_sig(features: Column, numPerm: Int = 128, seed: Long = 42L): Column =
    c(MinHashSigExpr(e(features), numPerm, seed))
  def bottomk_sketch(features: Column, s: Int = 1000): Column = c(BottomKExpr(e(features), s))
  def containment_sketch(features: Column, factor: Int = 1000): Column =
    c(ContainmentSketchExpr(e(features), factor))
  def contain_jaccard(a: Column, b: Column): Column = c(ContainJaccard(e(a), e(b)))
  def simhash64(features: Column): Column = c(SimHash64Expr(e(features)))
  def xor_min_minima(hs: Column, numPerm: Int): Column = c(XorMinMinimaExpr(e(hs), numPerm))
  def first_agree_key(a: Column, b: Column): Column = c(FirstAgreeKeyExpr(e(a), e(b)))
  def md5_hashes63(grams: Column): Column = c(Md5Hashes63Expr(e(grams)))
  def band_walk_keys(minima: Column, bands: Int, r: Int): Column =
    c(BandWalkKeysExpr(e(minima), bands, r))
  def omh_md5_blocks(seq: Column, k: Int, l: Int, m: Int): Column =
    c(OmhXorBlocksExpr(e(seq), k, l, m))
  def token_ngram_strings(text: Column, n: Int): Column = c(TokenNgramStringsExpr(e(text), n))
  def simhash_majority_ge64(hs: Column): Column = c(SimHashGe64Expr(e(hs)))
  def omh_sketch(text: Column, k: Int = 4, l: Int = 2, m: Int = 64, seed: Long = 32L): Column =
    c(OmhSketchExpr(e(text), k, l, m, seed))
  def cws_sketch(features: Column, sketchSize: Int = 50, numBins: Int = 4096, seed: Long = 1L): Column =
    c(CwsSketchExpr(e(features), sketchSize, numBins, seed))
  def hll_init(features: Column, np: Int = 12): Column = c(HllFromFeatures(e(features), np))

  // LSH
  def band_keys(sig: Column, bands: Int, rows: Int): Column = c(BandKeysExpr(e(sig), bands, rows))

  // estimators
  def sig_jaccard(a: Column, b: Column): Column = c(SigJaccard(e(a), e(b)))
  def sketch_jaccard(a: Column, b: Column, sketchSize: Int = 1000): Column =
    c(SketchJaccard(e(a), e(b), sketchSize))
  def sketch_containment(a: Column, b: Column, sketchSize: Int = 1000): Column =
    c(SketchContainment(e(a), e(b), sketchSize))
  def mash_dist(jaccard: Column, kmerSize: Int = 21): Column = c(MashDist(e(jaccard), kmerSize))
  def sketch_cardinality(sorted: Column): Column = c(SketchCardinality(e(sorted)))
  def ngram_jaccard(a: Column, b: Column, n: Int = 1): Column = c(NgramJaccard(e(a), e(b), n))
  def char_shingle_jaccard(a: Column, b: Column, k: Int = 5): Column =
    c(CharShingleJaccard(e(a), e(b), k))
  def lcs_len(a: Column, b: Column): Column = c(LcsLen(e(a), e(b)))
  def omh_similarity(a: Column, b: Column): Column = c(OmhSimilarity(e(a), e(b)))
  def omh_sketch_rc(text: Column, k: Int = 4, l: Int = 2, m: Int = 64, seed: Long = 32L): Column =
    c(OmhSketchRcExpr(e(text), k, l, m, seed))
  def omh_compare(aFwd: Column, aRc: Column, bFwd: Column,
      k: Int = 4, l: Int = 2, circular: Boolean = false): Column =
    c(OmhCompare(e(aFwd), e(aRc), e(bFwd), k, l, circular))
  def weighted_jaccard(a: Column, b: Column): Column = c(WeightedJaccard(e(a), e(b)))
  def dna_canonical_kmers(seq: Column, k: Int = 21): Column = c(DnaCanonicalKmers(e(seq), k))
  def dna_revcomp(seq: Column): Column = c(DnaRevComp(e(seq)))
  def dna_minimizers(seq: Column, k: Int = 21, w: Int = 20): Column =
    c(DnaMinimizersExpr(e(seq), k, w))
  def phash_block_keys(phash: Column, blocks: Int): Column =
    c(InterleavedBlockKeys(e(phash), blocks))
  def exact_jaccard(a: Column, b: Column): Column = c(ExactJaccardSorted(e(a), e(b)))
  def vec_dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))
  def hll_card(regs: Column): Column = c(HllCard(e(regs)))
  def hll_jaccard(a: Column, b: Column): Column = c(HllJaccard(e(a), e(b)))
  def hll_merge2(a: Column, b: Column): Column = c(HllMergeScalar(e(a), e(b)))

  // aggregates (partial+final via Aggregator)
  def minhash_merge(sketch: Column, s: Int = 1000): Column =
    udaf(new Aggs.MinHashMergeAgg(s)).apply(sketch)
  def sig_merge(sig: Column, numPerm: Int = 128): Column =
    udaf(new Aggs.SigMergeAgg(numPerm)).apply(sig)
  def hll_agg(hash: Column, np: Int = 12): Column =
    udaf(new Aggs.HllAgg(np), org.apache.spark.sql.Encoders.LONG).apply(hash)
  def hll_union(regs: Column, np: Int = 12): Column =
    udaf(new Aggs.HllUnionAgg(np), org.apache.spark.sql.Encoders.BINARY).apply(regs)

  /** name → expression builder, the single registration table shared by
    * [[registerAll]] (temp functions on a live session) and
    * [[GraftExtensions]] (`spark.sql.extensions` injection at session build,
    * the spark-submit path). */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    def lit(ex: Expression): Any = ex.eval(null)
    def intArg(ex: Expression): Int = lit(ex).asInstanceOf[Number].intValue()
    def longArg(ex: Expression): Long = lit(ex).asInstanceOf[Number].longValue()
    Seq(
      "caption_shingles" -> (xs => CaptionShingles(xs.head, intArg(xs(1)))),
      "token_ngrams" -> (xs => TokenNgrams(xs.head, intArg(xs(1)))),
      "phash_bitgrams" -> (xs => PhashBitgrams(xs.head, intArg(xs(1)), intArg(xs(2)))),
      "minhash_sig" -> (xs => MinHashSigExpr(xs.head, intArg(xs(1)), longArg(xs(2)))),
      "bottomk_sketch" -> (xs => BottomKExpr(xs.head, intArg(xs(1)))),
      "containment_sketch" -> (xs => ContainmentSketchExpr(xs.head, intArg(xs(1)))),
      "contain_jaccard" -> (xs => ContainJaccard(xs.head, xs(1))),
      "simhash64" -> (xs => SimHash64Expr(xs.head)),
      "band_keys" -> (xs => BandKeysExpr(xs.head, intArg(xs(1)), intArg(xs(2)))),
      "sig_jaccard" -> (xs => SigJaccard(xs.head, xs(1))),
      "sketch_jaccard" -> (xs => SketchJaccard(xs.head, xs(1), intArg(xs(2)))),
      "mash_dist" -> (xs => MashDist(xs.head, intArg(xs(1)))),
      "ngram_jaccard" -> (xs => NgramJaccard(xs.head, xs(1), intArg(xs(2)))),
      "lcs_len" -> (xs => LcsLen(xs.head, xs(1))),
      "omh_similarity" -> (xs => OmhSimilarity(xs.head, xs(1))),
      "hll_init" -> (xs => HllFromFeatures(xs.head, intArg(xs(1)))),
      "hll_card" -> (xs => HllCard(xs.head)),
      "hll_merge2" -> (xs => HllMergeScalar(xs.head, xs(1))),
      "sketch_containment" -> (xs => SketchContainment(xs.head, xs(1), intArg(xs(2)))),
      "sketch_cardinality" -> (xs => SketchCardinality(xs.head)),
      "char_shingle_jaccard" -> (xs => CharShingleJaccard(xs.head, xs(1), intArg(xs(2)))),
      "minimizers" -> (xs => MinimizersExpr(xs.head, intArg(xs(1)))),
      "omh_sketch" -> (xs =>
        OmhSketchExpr(xs.head, intArg(xs(1)), intArg(xs(2)), intArg(xs(3)), longArg(xs(4)))),
      "omh_sketch_rc" -> (xs =>
        OmhSketchRcExpr(xs.head, intArg(xs(1)), intArg(xs(2)), intArg(xs(3)), longArg(xs(4)))),
      "omh_compare" -> (xs =>
        OmhCompare(xs.head, xs(1), xs(2), intArg(xs(3)), intArg(xs(4)),
          lit(xs(5)).asInstanceOf[Boolean])),
      "cws_sketch" -> (xs => CwsSketchExpr(xs.head, intArg(xs(1)), intArg(xs(2)), longArg(xs(3)))),
      "weighted_jaccard" -> (xs => WeightedJaccard(xs.head, xs(1))),
      "hll_jaccard" -> (xs => HllJaccard(xs.head, xs(1))),
      "dna_canonical_kmers" -> (xs => DnaCanonicalKmers(xs.head, intArg(xs(1)))),
      "dna_revcomp" -> (xs => DnaRevComp(xs.head)),
      "dna_minimizers" -> (xs => DnaMinimizersExpr(xs.head, intArg(xs(1)), intArg(xs(2)))),
      "exact_jaccard" -> (xs => ExactJaccardSorted(xs.head, xs(1))),
      "vec_dot" -> (xs => VecDot(xs.head, xs(1)))
    )
  }

  /** Register the scalar expressions for SQL use on a live session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}
