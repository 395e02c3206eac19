package graft.spark.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.broadcast.Broadcast
import graft.sketch.{MinHash, OrderMinHash, Cws, KeyPrefixSketch}

/** Catalyst expressions for the sketch family. Hot-path expressions emit a
  * single static call into [[Kernels]] from `doGenCode`, staying inside
  * whole-stage codegen (SURVEY.md §4.2). Cold-path ones (OMH, CWS) use
  * `CodegenFallback` — they run once per row in narrow stages off the join
  * hot loop.
  */
trait KernelCall { self: Expression =>
  override val nullIntolerant: Boolean = true
  protected def kernelsRef = "graft.spark.expr.Kernels"
}

case class CaptionShingles(child: Expression, k: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "caption_shingles"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.captionShingles(t.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.captionShingles($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class TokenNgrams(child: Expression, n: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_ngrams"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.tokenNgrams(t.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.tokenNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class PhashBitgrams(child: Expression, gram: Int, step: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "phash_bitgrams"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.phashBitgrams(t.asInstanceOf[Long], gram, step)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.phashBitgrams($c, $gram, $step)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 128-permutation MinHash signature. Permutation seeds are derived once on
  * the driver (splitmix64 stream) and shipped inside the expression — the
  * Spark-native analog of the reference's batched per-k-mer hashing
  * (`/root/reference/src/MinHash.cpp:465-746`). */
case class MinHashSigExpr(child: Expression, numPerm: Int, seed: Long)
    extends UnaryExpression with KernelCall {
  @transient private lazy val affine: Array[Long] = MinHash.permAffine(numPerm, seed)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.longs(MinHash.minhashSig(t.asInstanceOf[ArrayData].toLongArray(), affine))
  def compute(features: ArrayData): ArrayData =
    Kernels.longs(MinHash.minhashSig(features.toLongArray(), affine))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigExpr", this, classOf[MinHashSigExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass xor-permutation MinHash minima over the md5-derived oracle
  * seeds: the codegen'd fold of the numPerm `array_min(transform(...))`
  * built-ins passes — byte-identical output (Md5ChannelsSpec), one
  * traversal instead of numPerm array materializations.
  * The oracle SQL keeps the per-permutation MIN formulation; only the Spark
  * side folds. */
case class XorMinMinimaExpr(child: Expression, numPerm: Int)
    extends UnaryExpression with KernelCall {
  @transient private lazy val seeds: Array[Long] = Kernels.md5PermSeeds(numPerm)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "xor_min_minima"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.xorMinMinima(t.asInstanceOf[ArrayData], seeds)
  def compute(hs: ArrayData): ArrayData = Kernels.xorMinMinima(hs, seeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("xorMinMinimaExpr", this, classOf[XorMinMinimaExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass md5-rank OMH blocks over the xor-permutation oracle seeds: the
  * codegen'd fold of the OMH twin's built-ins formulation
  * (one digest per k-gram occurrence, m long-xor rankings, bottom-l per
  * permutation, position-ordered concat) — byte-identical output on the
  * callers' single-byte-char domain (Md5ChannelsSpec). The oracle SQL keeps
  * the window-function formulation; only the Spark side folds. */
case class OmhXorBlocksExpr(child: Expression, k: Int, l: Int, m: Int)
    extends UnaryExpression with KernelCall {
  @transient private lazy val seeds: Array[Long] = Kernels.md5PermSeeds(m)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "omh_md5_blocks"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.omhXorBlocks(t.asInstanceOf[UTF8String], k, l, seeds)
  def compute(seq: UTF8String): ArrayData = Kernels.omhXorBlocks(seq, k, l, seeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("omhXorBlocksExpr", this, classOf[OmhXorBlocksExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass LSH band walk keys over xor-permutation minima: key i = md5half
  * of `i || ':' || md5(band i's comma-joined decimal minima)`, mirrored
  * VERBATIM in the oracle SQL, so both engines bucket on the identical
  * 64-bit value. The codegen'd fold of the `bandKeysMd5 ∘ bandWalkKey`
  * built-ins chain (two digests per band) — byte-identical output on the
  * callers' domain (minima length ≥ bands·r; gated in Md5ChannelsSpec).
  * The oracle SQL keeps the explicit md5-hex band-key formulation; only
  * the Spark side folds, which also keeps the projection stage inside
  * whole-stage codegen (the built-ins forest tripped janino's 64 KB
  * method limit). */
case class BandWalkKeysExpr(child: Expression, bands: Int, r: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_walk_keys"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.bandWalkKeys(t.asInstanceOf[ArrayData], bands, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.bandWalkKeys($c, $bands, $r)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64Expr(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.simhash64(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class BottomKExpr(child: Expression, s: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bottomk_sketch"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.bottomK(t.asInstanceOf[ArrayData], s)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.bottomK($c, $s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band keys over a k-perm signature (`bands` hashes of `rows` slots). */
/** containment-mode bottom-k: sketch size proportional to the feature
  * stream length (`/root/reference/src/Sketch.h:63-66`); non-mergeable by
  * design like the reference (`MinHash.cpp:817-823`). */
case class ContainmentSketchExpr(child: Expression, factor: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "containment_sketch"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.containmentSketch(t.asInstanceOf[ArrayData], factor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.containmentSketch($c, $factor)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** reference containJaccard: full merge walk, common / min(|A|, |B|)
  * (`/root/reference/src/MinHash.cpp:865-934`). */
case class ContainJaccard(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "contain_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.containJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.containJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class BandKeysExpr(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.longs(MinHash.bandKeys(t.asInstanceOf[ArrayData].toLongArray(), bands, rows))
  def compute(sig: ArrayData): ArrayData =
    Kernels.longs(MinHash.bandKeys(sig.toLongArray(), bands, rows))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandKeysExpr", this, classOf[BandKeysExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Element-wise md5-derived 63-bit hashes of a string array — the codegen'd
  * fold of the oracle twins' `transform(grams, md5half63)` built-ins chain
  * (md5 → two hex substrings → conv → shift/or per element), byte-identical
  * by construction (Md5ChannelsSpec): JVM MD5 over each gram's UTF-8 bytes
  * is SQL md5, and the hex parse IS digest bytes 0-7. The oracle SQL keeps
  * the md5-hex form. */
case class Md5Hashes63Expr(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "md5_hashes63"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.md5Hashes63(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.md5Hashes63($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct whitespace-token n-gram STRINGS (first-occurrence order) — the
  * codegen'd fold of the oracle twins' split/sequence/slice/concat_ws/
  * array_distinct built-ins chain, byte-identical on the built-ins' domain
  * (`size(split(text,' ')) >= n`, Md5ChannelsSpec); empty below it. The
  * oracle SQL keeps the explicit split/slice form. */
case class TokenNgramStringsExpr(child: Expression, n: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngram_strings"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.tokenNgramStringsDistinct(t.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.tokenNgramStringsDistinct($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Ties-up majority-vote 64-bit SimHash (bit b set iff 2·ones(b) ≥ n,
  * mirrored in the oracle SQL) — the md5 oracle twins' rule, folded from 64
  * `size(filter(...))` passes into one traversal (byte-identical,
  * Md5ChannelsSpec). */
case class SimHashGe64Expr(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_majority_ge64"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.simhashMajorityGe64(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.simhashMajorityGe64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Whether the walk keeps a banded row: the bit of its key is set in a
  * broadcast [[graft.sketch.KeyPrefixSketch]] bitmap of `2^log2` bits, so
  * some other keyed row may share the key. The plan carries only the
  * broadcast handle; the generated code reads the bitmap into a field once
  * per partition. */
case class SharedKeyExpr(child: Expression, bits: Broadcast[Array[Long]], log2: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "shared_key"
  override protected def stringArgs: Iterator[Any] = Iterator(child, log2)
  def words(): Array[Long] = bits.value
  protected override def nullSafeEval(k: Any): Any =
    KeyPrefixSketch.keeps(bits.value, 31 - log2, k.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sharedKeyExpr", this, classOf[SharedKeyExpr].getName)
    val words = ctx.addMutableState("long[]", "sharedKeyBits", v => s"$v = $ref.words();",
      forceInline = true)
    defineCodeGen(ctx, ev, c => s"graft.sketch.KeyPrefixSketch.keeps($words, ${31 - log2}, $c)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Value at the first index where two band-key arrays agree (0L if none) —
  * the ownership predicate of the first-agreeing-band dedup: a candidate
  * pair colliding in k of the b LSH bands otherwise enters the distinct
  * exchange k times (b× for mega-boilerplate clusters hot in every band);
  * emitting it only from the bucket whose key equals this value makes each
  * hot-path pair cross the exchange once. */
case class FirstAgreeKeyExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "first_agree_key"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.firstAgreeKey(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.firstAgreeKey($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SigJaccard(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sigJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.sigJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Reference bottom-k jaccard (early-stop union walk,
  * `/root/reference/src/MinHash.cpp:937-1055`). */
case class SketchJaccard(left: Expression, right: Expression, sketchSize: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sketch_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], sketchSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.jaccardSorted($a, $b, $sketchSize)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SketchContainment(left: Expression, right: Expression, sketchSize: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sketch_containment"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.containmentSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], sketchSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.containmentSorted($a, $b, $sketchSize)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Mash distance −ln(2J/(1+J))/k (`/root/reference/src/MinHash.cpp:1057-1085`). */
case class MashDist(child: Expression, kmerSize: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "mash_dist"
  protected override def nullSafeEval(j: Any): Any =
    Kernels.mashDist(j.asInstanceOf[Double], kmerSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.mashDist($c, $kmerSize)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SketchCardinality(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sketch_cardinality"
  protected override def nullSafeEval(a: Any): Any =
    Kernels.cardinalityBottomK(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.cardinalityBottomK($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinimizersExpr(child: Expression, w: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minimizers"
  protected override def nullSafeEval(a: Any): Any =
    Kernels.minimizers(a.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.minimizers($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** exact token n-gram jaccard — the pair-confirm kernel after the LSH join. */
case class NgramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ngram_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.ngramJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.ngramJaccard($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class CharShingleJaccard(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_shingle_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.charShingleJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.charShingleJaccard($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** suffix-array longest-common-substring length (north_star confirm pass). */
case class LcsLen(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lcs_len"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.lcsLen(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.lcsLen($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- HLL scalars ----

case class HllFromFeatures(child: Expression, np: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_init"
  protected override def nullSafeEval(a: Any): Any =
    Kernels.hllFromFeatures(a.asInstanceOf[ArrayData], np)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.hllFromFeatures($c, $np)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HllCard(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_card"
  protected override def nullSafeEval(a: Any): Any =
    Kernels.hllCard(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.hllCard($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ERTL joint-MLE jaccard (`/root/reference/src/HyperLogLog.cpp:513-522`). */
case class HllJaccard(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hll_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.hllJaccard(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.hllJaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class HllMergeScalar(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "hll_merge2"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.hllMergeScalar(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.hllMergeScalar($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** interleaved pigeonhole block keys (exact cover of Hamming ≤ blocks−1). */
case class InterleavedBlockKeys(child: Expression, blocks: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "phash_block_keys"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.interleavedBlockKeys(t.asInstanceOf[Long], blocks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.interleavedBlockKeys($c, $blocks)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** exact set jaccard over pre-hashed sorted-distinct feature arrays — the
  * confirm kernel (no per-pair re-tokenization). */
case class ExactJaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "exact_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.exactJaccardSortedAD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.exactJaccardSortedAD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** canonical k-mer murmur3 hashes (reference `MinHash::update` feature
  * stream, `/root/reference/src/MinHash.cpp:465-746`). */
case class DnaCanonicalKmers(child: Expression, k: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dna_canonical_kmers"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.dnaCanonicalKmers(t.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.dnaCanonicalKmers($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** reference `reverseComplement` (`/root/reference/src/MinHash.cpp:1117-1127`). */
case class DnaRevComp(child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def prettyName: String = "dna_revcomp"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.dnaRevComp(t.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.dnaRevComp($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** DNA sliding-window minimizer set (reference `findMinimizers`,
  * `/root/reference/src/histoSketch.cpp:51-216`). */
case class DnaMinimizersExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dna_minimizers"
  protected override def nullSafeEval(t: Any): Any =
    Kernels.dnaMinimizers(t.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$kernelsRef.dnaMinimizers($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---- vector kernels (ANN hot path) ----

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  protected override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$kernelsRef.vecDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// ---- cold-path (CodegenFallback) expressions ----

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** OrderMinHash sketch over a string (`/root/reference/src/OrderMinHash.cpp:95-420`). */
case class OmhSketchExpr(child: Expression, k: Int, l: Int, m: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "omh_sketch"
  protected override def nullSafeEval(t: Any): Any = {
    val bytes = t.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(OrderMinHash.sketch(bytes, k, l, m, seed).asInstanceOf[Array[Any]])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** block-match fraction (`/root/reference/src/OrderMinHash.cpp:443-458`). */
case class OmhSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "omh_similarity"
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val ba = a.asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType)
    val bb = b.asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType)
    OrderMinHash.similarity(ba, bb)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** OrderMinHash sketch of the reverse-complement strand — the reference's
  * `rcdata` (`/root/reference/src/OrderMinHash.cpp:106-150`). */
case class OmhSketchRcExpr(child: Expression, k: Int, l: Int, m: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "omh_sketch_rc"
  protected override def nullSafeEval(t: Any): Any = {
    val bytes = t.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(OrderMinHash.sketchRc(bytes, k, l, m, seed).asInstanceOf[Array[Any]])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** reference `compare_sketches` with strand awareness + circular variant
  * (`/root/reference/src/OrderMinHash.cpp:422-458`): max of the forward
  * block-match score and the reverse-complement score (a's rc sketch vs b's
  * forward sketch); `circular` matches blocks up to rotation by j·k bytes. */
case class OmhCompare(aFwd: Expression, aRc: Expression, bFwd: Expression,
    k: Int, l: Int, circular: Boolean)
    extends TernaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def first: Expression = aFwd
  override def second: Expression = aRc
  override def third: Expression = bFwd
  override def dataType: DataType = DoubleType
  override def prettyName: String = "omh_compare"
  protected override def nullSafeEval(a: Any, ar: Any, b: Any): Any = {
    val fa = a.asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType)
    val ra = ar.asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType)
    val fb = b.asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType)
    OrderMinHash.compareSketches(fa, ra, fb, null, k, l, circular)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(aFwd = f, aRc = s, bFwd = t)
}

/** CWS/HistoSketch over a feature multiset: features are jump-hashed into
  * `numBins` spectrum bins then consistent-weighted-sampled into `sketchSize`
  * (slot, weight) pairs (`/root/reference/src/histoSketch.cpp:229-357`).
  * CWS draws are derived deterministically per (sketchSize, numBins, seed)
  * and cached per executor. */
case class CwsSketchExpr(child: Expression, sketchSize: Int, numBins: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("slots", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("weights", ArrayType(DoubleType, containsNull = false), nullable = false)))
  override def prettyName: String = "cws_sketch"
  @transient private lazy val draws = CwsSketchExpr.drawsFor(sketchSize, numBins, seed)
  protected override def nullSafeEval(t: Any): Any = {
    val features = t.asInstanceOf[ArrayData].toLongArray()
    val spectrum = graft.sketch.Minimizers.kmerSpectrum(features, numBins)
    val (slots, weights) = Cws.cwsSketch(spectrum.iterator, draws)
    InternalRow(new GenericArrayData(slots), new GenericArrayData(weights))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object CwsSketchExpr {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Cws.Draws]()
  def drawsFor(s: Int, dim: Int, seed: Long): Cws.Draws =
    cache.computeIfAbsent((s, dim, seed), { case (a, b, c) => Cws.genDraws(a, b, c) })
}

/** positionwise weighted jaccard of two CWS sketches
  * (`/root/reference/src/WeightedMinHash.cpp:58-109`). */
case class WeightedJaccard(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "weighted_jaccard"
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val ra = a.asInstanceOf[InternalRow]
    val rb = b.asInstanceOf[InternalRow]
    Cws.weightedJaccard(
      ra.getArray(0).toIntArray(), ra.getArray(1).toDoubleArray(),
      rb.getArray(0).toIntArray(), rb.getArray(1).toDoubleArray())
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
