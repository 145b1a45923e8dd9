package graft.simd;

import jdk.incubator.vector.ByteVector;
import jdk.incubator.vector.DoubleVector;
import jdk.incubator.vector.IntVector;
import jdk.incubator.vector.LongVector;
import jdk.incubator.vector.VectorOperators;
import jdk.incubator.vector.VectorSpecies;

/**
 * Explicit Vector API (jdk.incubator.vector) validation kernels — the
 * lanes where hand-written SIMD measurably BEATS what C2's SuperWord
 * pass generates for the branchless loops in {@link ByteKernels}.
 *
 * Measurement note (SCALE.md round-14 notes, 4M rows, JDK 17): the
 * first cut of this class carried explicit range kernels
 * (compare → trueCount → rank merge under mask). They won only on
 * uniform blocks (all-pass 0.74 ns/row) and LOST 3-5x on mixed
 * pass/fail blocks (5.1 vs 1.1 ns/row) because every route from a
 * data-lane mask to the byte-wide rank blend — VectorMask.fromLong,
 * cross-size mask cast, masked byte load/store — is un-intrinsified
 * software on JDK 17, while C2 auto-vectorizes the branchless
 * compare+cmov loops end to end. Those kernels were deleted: the
 * branchless {@link ByteKernels} loops ARE the SIMD range kernels here,
 * by construction of the JIT. What remains is the int-lane layout check
 * ({@link #unitStrings}) that gates the SWAR byte lanes.
 *
 * Availability contract: incubator types appear only inside method
 * bodies (species are locals, no incubator types in any descriptor);
 * {@link #selfTest()} is the load-time probe — without
 * {@code --add-modules jdk.incubator.vector} it throws
 * {@code NoClassDefFoundError}, the caller records the reason and falls
 * back to {@link ByteKernels} with identical semantics.
 */
public final class SimdKernels {

  private SimdKernels() {}

  /** Exercises the Vector API; throws if the module is absent. */
  public static long selfTest() {
    long[] a = {1L, 2L, 3L, 4L};
    LongVector v = LongVector.fromArray(LongVector.SPECIES_128, a, 0);
    return v.reduceLanes(VectorOperators.ADD);
  }

  /** Human-readable lane configuration for artifact recording. */
  public static String laneInfo() {
    return "long=" + LongVector.SPECIES_PREFERRED.length()
        + " int=" + IntVector.SPECIES_PREFERRED.length()
        + " double=" + DoubleVector.SPECIES_PREFERRED.length()
        + " byte=" + ByteVector.SPECIES_PREFERRED.length();
  }

  /** lens[i] == 1 and offs[i] == offs[0] + i for all i &lt; n — the
   *  contiguous 1-byte-row layout every appended flag column has
   *  (single-char domains like returnflag/linestatus). When this holds,
   *  string rules collapse to pure byte-lane compares over the child
   *  store with NO per-row offset indirection. ~0.15 ns/row to verify,
   *  amortized by the ~10x faster kernel it unlocks. */
  public static boolean unitStrings(int[] offs, int[] lens, int n) {
    if (n <= 0) return false;
    VectorSpecies<Integer> sp = IntVector.SPECIES_PREFERRED;
    int lanes = sp.length();
    int off0 = offs[0];
    IntVector idx = IntVector.zero(sp).addIndex(1);
    int i = 0;
    int upper = sp.loopBound(n);
    for (; i < upper; i += lanes) {
      IntVector lv = IntVector.fromArray(sp, lens, i);
      if (!lv.compare(VectorOperators.EQ, 1).allTrue()) return false;
      IntVector ov = IntVector.fromArray(sp, offs, i);
      if (!ov.sub(idx).compare(VectorOperators.EQ, off0 + i).allTrue()) return false;
    }
    for (; i < n; i++) {
      if (lens[i] != 1 || offs[i] != off0 + i) return false;
    }
    return true;
  }
}
