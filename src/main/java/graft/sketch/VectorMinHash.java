package graft.sketch;

import jdk.incubator.vector.LongVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * SIMD inner loop of the 128-perm MinHash signature (r6 optimization,
 * guide §1.2 step 2 "per-task work").
 *
 * <p>The scalar loop in {@code MinHash.minhashSig} — {@code sig[p] =
 * min(sig[p], (a_p * fmix64(x) + b_p) ^ MIN_VALUE)} — is NOT auto-vectorized
 * by C2 on JDK 17 (long min/max SuperWord support landed in later JDKs), so
 * it runs ~1.6 ns per perm×feature: 28.7 µs/row at 128 perms × ~143
 * features (an r6 probe, since removed), the single largest kernel of the
 * signature stage. This class expresses the identical arithmetic through the
 * Panama Vector API; on AVX-512DQ hosts the JIT emits {@code vpmullq}/{@code
 * vpaddq}/{@code vpxorq}/{@code vpminsq} over 8 long lanes. Every operation
 * is exact two's-complement integer arithmetic evaluated per permutation
 * slot independently, so the result is BIT-IDENTICAL to the scalar loop on
 * every input (asserted per-JVM by {@code MinHash.vectorKernelUsable}'s
 * self-test and property-tested in SketchAlgebraSpec).
 *
 * <p>Runtime guard: the incubator module must be on the JVM's module path
 * ({@code --add-modules jdk.incubator.vector}, set in build.sbt for forked
 * run/test JVMs). JVMs launched without it (e.g. plain spark-submit
 * executors in scripts/cluster_bench.sh) throw on first class load; callers
 * must dispatch through {@code MinHash.minhashSig}, which probes the class
 * once per JVM and falls back to the scalar loop.
 */
public final class VectorMinHash {
  private static final VectorSpecies<Long> S = LongVector.SPECIES_PREFERRED;

  private VectorMinHash() {}

  /** fmix64 — identical constants to {@code graft.hash.HashKernels.fmix64}. */
  private static long fmix64(long k) {
    k ^= k >>> 33;
    k *= 0xff51afd7ed558ccdL;
    k ^= k >>> 33;
    k *= 0xc4ceb9fe1a85ec53L;
    k ^= k >>> 33;
    return k;
  }

  /**
   * k-perm signature over 64-bit affine permutations; affine layout is
   * {@code [a_0..a_{m-1}, b_0..b_{m-1}]} (MinHash.permAffine). Returns the
   * un-biased minima, exactly like the scalar path.
   */
  public static long[] sig(long[] features, long[] affine) {
    final int m = affine.length >> 1;
    final long[] out = new long[m];
    java.util.Arrays.fill(out, Long.MAX_VALUE); // biased unsigned max
    final int upper = S.loopBound(m);
    final LongVector bias = LongVector.broadcast(S, Long.MIN_VALUE);
    for (int i = 0; i < features.length; i++) {
      final long h0 = fmix64(features[i]);
      int p = 0;
      for (; p < upper; p += S.length()) {
        LongVector a = LongVector.fromArray(S, affine, p);
        LongVector b = LongVector.fromArray(S, affine, m + p);
        LongVector v = a.mul(h0).add(b).lanewise(VectorOperators.XOR, bias);
        LongVector s = LongVector.fromArray(S, out, p);
        s.min(v).intoArray(out, p);
      }
      for (; p < m; p++) { // tail for m not a lane multiple
        long v = (affine[p] * h0 + affine[m + p]) ^ Long.MIN_VALUE;
        if (v < out[p]) out[p] = v;
      }
    }
    for (int p = 0; p < m; p++) out[p] ^= Long.MIN_VALUE; // un-bias
    return out;
  }
}
