package graft.oracle

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Md5Channels.{md5half, md5half63}
import graft.spark.expr.Kernels.md5PermSeeds

/** The built-ins-only formulations of the md5 channels' codegen'd kernels:
  * the spec twins Md5ChannelsSpec gates each kernel byte-identical against
  * on its callers' domain. They are composed only from Spark built-ins, in
  * the shape the oracle SQL mirrors. */
object Md5Builtins {

  /** `token_ngram_strings` (undefined below the size ≥ n domain:
    * sequence(1, k<1) descends into a slice error, which is why every
    * caller filters first). */
  def tokenNgramStrings(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    if (n == 1) array_distinct(toks)
    else array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** `md5_hashes63`. */
  def hashes63(grams: Column): Column =
    transform(grams, g => md5half63(g))

  /** `xor_min_minima`: one `transform` pass per permutation. */
  def xorMinhashMinima(hs: Column, numPerm: Int): Column = {
    val seeds = md5PermSeeds(numPerm)
    array((0 until numPerm).map { p =>
      array_min(transform(hs, h => h.bitwiseXOR(lit(seeds(p)))))
    }: _*)
  }

  /** `simhash_majority_ge64`: one majority vote per bit. */
  def simhash64Md5(hs: Column): Column = {
    val nGrams = size(hs)
    val bits = (0 until 64).map { b =>
      val cnt = size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L)))
      val weight = if (b == 63) lit(Long.MinValue) else lit(1L << b)
      when(cnt * 2 >= nGrams, weight).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH band keys over the slot minima: md5 of the comma-joined decimal
    * minima of each band of `r` consecutive slots. */
  def bandKeysMd5(minima: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws(",", (0 until r).map(j =>
        element_at(minima, b * r + j + 1).cast("string")): _*))
    }: _*)

  /** combined 64-bit walk key for an (int band index, md5-hex band value)
    * pair: md5half of `bi || ':' || bv`, as the oracle SQL buckets. */
  private def bandWalkKey(bi: Column, bv: Column): Column =
    md5half(concat(bi.cast("string"), lit(":"), bv))

  /** `band_walk_keys`: the bandKeysMd5 ∘ bandWalkKey chain the
    * oracle SQL mirrors. */
  def bandWalkKeys(minima: Column, bands: Int, r: Int): Column = {
    val bks = bandKeysMd5(minima, bands, r)
    array((0 until bands).map(i =>
      bandWalkKey(lit(i), element_at(bks, i + 1))): _*)
  }

  /** `f` over ONE evaluation of `v`: a lambda binds the value, so the
    * expressions built on it read the binding instead of inlining its tree. */
  private def bind(v: Column)(f: Column => Column): Column =
    element_at(transform(array(v), f), 1)

  /** the OMH twin's per-sequence blocks, gated against
    * [[graft.spark.expr.OmhXorBlocksExpr]] on the callers' domain
    * (single-byte-char strings, length ≥ k). blocks(p) = the p-th
    * permutation's l winning k-grams concatenated in POSITION order;
    * rank(i, p) = h63(kmer:occ) XOR h63('perm'||p); occ counts earlier
    * occurrences of the same k-gram (slice(_,1,i) = the i elements BEFORE
    * 0-based lambda index i). The sequence, its k-grams and their ranked
    * occurrences are each bound once per row: an inlined derivation is
    * re-evaluated at every reference, i.e. per element inside the
    * occurrence lambda and again in each of the m permutation branches. */
  def omhBlocks(s: Column, k: Int, l: Int, m: Int): Column = bind(s) { seq =>
    val seeds = md5PermSeeds(m)
    bind(transform(sequence(lit(1), length(seq) - (k - 1)), i => seq.substr(i, lit(k)))) { kmers =>
      bind(transform(kmers, (km, i) => struct(
        md5half63(concat_ws(":",
          km, size(filter(slice(kmers, lit(1), i), y => y === km)).cast("string")))
          .as("h"),
        (i + 1).as("pos"),
        km.as("kmer")))) { occd =>
        array((0 until m).map { p =>
          val ranked = array_sort(transform(occd, x => struct(
            x.getField("h").bitwiseXOR(lit(seeds(p))).as("rnk"),
            x.getField("pos").as("pos"), x.getField("kmer").as("kmer"))))
          val byPos = array_sort(transform(slice(ranked, 1, l),
            w => struct(w.getField("pos").as("pos"), w.getField("kmer").as("kmer"))))
          array_join(transform(byPos, w => w.getField("kmer")), "")
        }: _*)
      }
    }
  }
}
