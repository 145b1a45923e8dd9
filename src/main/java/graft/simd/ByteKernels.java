package graft.simd;

import java.util.Arrays;

/**
 * Primitive-array validation kernels that need NO incubator module:
 * direct loops over the decoded backing arrays of an
 * {@code OnHeapColumnVector} (obtained reflectively by the caller).
 * These are (a) the fallback lane when {@code jdk.incubator.vector} is
 * absent and (b) the numeric/string lanes of the BITSET evaluation.
 *
 * BITSET contract (round 13 — replaces the per-row byte-rank merge):
 * each kernel writes one PASS BIT per row into {@code bits}
 * (64 rows/word, row {@code i} → bit {@code i&63} of word {@code i>>6}),
 * zeroing the unused tail bits of the last word, and returns the pass
 * count. Verdict assignment happens AFTER all rules ran, by word-wise
 * boolean algebra + popcount in the caller — so no kernel ever touches
 * a byte rank array, and the data→mask→rank bridge that dominated the
 * rank formulation disappears. The branchless bit-assembly loops below
 * auto-vectorize under C2's SuperWord.
 *
 * Null semantics (same as before): {@code nulls} may be null (no null
 * in the batch); a null row fails every rule here (NotNull has its own
 * kernel).
 */
public final class ByteKernels {

  private ByteKernels() {}

  // ------------------------------------------------------- numeric lanes

  public static long geLongBits(long[] data, byte[] nulls, int n, long min,
      long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    if (nulls == null) {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          word |= (data[i + j] >= min ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    } else {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          word |= ((nulls[i + j] == 0) & (data[i + j] >= min) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & data[k] >= min;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long rangeLongBits(long[] data, byte[] nulls, int n,
      long lo, long hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    if (nulls == null) {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          long x = data[i + j];
          word |= ((x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    } else {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          long x = data[i + j];
          word |= ((nulls[i + j] == 0) & (x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        long x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long geIntBits(int[] data, byte[] nulls, int n, int min,
      long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    if (nulls == null) {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          word |= (data[i + j] >= min ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    } else {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          word |= ((nulls[i + j] == 0) & (data[i + j] >= min) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & data[k] >= min;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long rangeIntBits(int[] data, byte[] nulls, int n,
      int lo, int hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    if (nulls == null) {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          int x = data[i + j];
          word |= ((x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    } else {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          int x = data[i + j];
          word |= ((nulls[i + j] == 0) & (x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        int x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long rangeShortBits(short[] data, byte[] nulls, int n,
      int lo, int hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int x = data[i + j];
        boolean ok = (nulls == null || nulls[i + j] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        int x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long rangeByteBits(byte[] data, byte[] nulls, int n,
      int lo, int hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int x = data[i + j];
        boolean ok = (nulls == null || nulls[i + j] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        int x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  // Measurement note (SCALE.md round-14 notes): the IEEE total-order
  // trick (raw-bits XOR sign-flip → long compares) was tried here and
  // LOST — 2.07 vs 1.83 ns/row clean — because C2 does not vectorize
  // the MoveD2L in the loop body; the explicit Vector API variant
  // (viewAsIntegralLanes + mask.toLong) lost harder (2.89-3.4), and an
  // Unsafe long-view of the double[] (Platform.getLong) tied within
  // noise (1.7-1.9) without vectorizing — all on the software mask /
  // scalar-load bridges. The plain double-compare branchless loop
  // below stays the fastest formulation on this JDK; IEEE semantics
  // (NaN fails both compares) come for free.
  public static long rangeDoubleBits(double[] data, byte[] nulls, int n,
      double lo, double hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    if (nulls == null) {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          double x = data[i + j];
          word |= ((x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    } else {
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          double x = data[i + j];
          word |= ((nulls[i + j] == 0) & (x >= lo) & (x <= hi) ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        double x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long rangeFloatBits(float[] data, byte[] nulls, int n,
      double lo, double hi, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        double x = data[i + j];
        boolean ok = (nulls == null || nulls[i + j] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        double x = data[k];
        boolean ok = (nulls == null || nulls[k] == 0) & x >= lo & x <= hi;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  
  // ------------------------------------------------- SWAR 1-byte lanes
  //
  // The contiguous 1-byte string rows (flag columns) previously ran on
  // Vector API compare blocks whose mask left the vector domain through
  // VectorMask.toLong — measured at a flat ~1.4 ns/row regardless of
  // candidate count (SCALE.md round-14 notes), i.e. the BRIDGE is the cost,
  // not the compares. These SWAR kernels stay in scalar registers the
  // whole way: 8 rows load as ONE little-endian long (VarHandle view,
  // intrinsified), byte-equality becomes the classic zero-byte trick
  // ((w−0x0101…)&~w&0x8080…), and the 8 high bits compact to 8
  // consecutive pass bits with one multiply-gather
  // (((z>>>7)·0x0102040810204080)>>>56 — collision-free: positions
  // 8k+7j+7 are distinct for k+j=7 and only those land in the top
  // byte). ~6 ops per 8 rows per candidate; no incubator module needed.

  private static final java.lang.invoke.VarHandle LE_LONG =
      java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
          long[].class, java.nio.ByteOrder.LITTLE_ENDIAN);

  /** 0x80 in every byte of {@code w} that is zero — the EXACT per-byte
   *  formulation ((b&0x7F)+0x7F never carries across bytes; the high
   *  bit of y|w is 0 only for b == 0). The shorter classic
   *  (w−0x0101…)&~w&0x8080… is only reliable for "is there any zero":
   *  its borrow chain false-positives a 0x01 byte sitting above a 0x00
   *  byte — caught by the seeded randomized differential in
   *  ColumnarValidationSpec when this lane first shipped with it. */
  private static long zerosHigh(long w) {
    long y = (w & 0x7F7F7F7F7F7F7F7FL) + 0x7F7F7F7F7F7F7F7FL;
    return ~(y | w | 0x7F7F7F7F7F7F7F7FL);
  }

  /** Compacts the 8 per-byte high bits of {@code z} to bits 0..7. */
  private static long gather8(long z) {
    return ((z >>> 7) * 0x0102040810204080L) >>> 56;
  }

  private static long broadcast(byte c) {
    return (c & 0xFFL) * 0x0101010101010101L;
  }

  /** Scalar fallback of {@code SimdKernels.unitStrings} (the verified
   *  contiguous 1-byte-row layout): lets the SWAR lanes above engage
   *  even when the incubator module is absent. */
  public static boolean unitStringsScalar(int[] offs, int[] lens, int n) {
    if (n <= 0) return false;
    int off0 = offs[0];
    int bad = 0;
    for (int i = 0; i < n; i++) {
      bad |= (lens[i] ^ 1) | (offs[i] - off0 - i);
    }
    return bad == 0;
  }

  /** child[base+i] == c0 over contiguous 1-byte rows, SWAR. */
  public static long byteEqContigSwar(byte[] child, int base, int n,
      byte c0, byte[] nulls, long[] bits) {
    final long bc0 = broadcast(c0);
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j += 8) {
        long w = (long) LE_LONG.get(child, base + i + j);
        long z = zerosHigh(w ^ bc0);
        if (nulls != null) z &= zerosHigh((long) LE_LONG.get(nulls, i + j));
        word |= gather8(z) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & child[base + k] == c0;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  /** child[base+i] ∈ {c0, c1} over contiguous 1-byte rows, SWAR. */
  public static long byteSet2ContigSwar(byte[] child, int base, int n,
      byte c0, byte c1, byte[] nulls, long[] bits) {
    final long bc0 = broadcast(c0);
    final long bc1 = broadcast(c1);
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j += 8) {
        long w = (long) LE_LONG.get(child, base + i + j);
        long z = zerosHigh(w ^ bc0) | zerosHigh(w ^ bc1);
        if (nulls != null) z &= zerosHigh((long) LE_LONG.get(nulls, i + j));
        word |= gather8(z) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        byte b = child[base + k];
        boolean ok = (nulls == null || nulls[k] == 0) & (b == c0 | b == c1);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  /** child[base+i] ∈ {c0, c1, c2, c3} over contiguous 1-byte rows, SWAR
   *  (callers pad unused slots with c0). */
  public static long byteSet4ContigSwar(byte[] child, int base, int n,
      byte c0, byte c1, byte c2, byte c3, byte[] nulls, long[] bits) {
    final long bc0 = broadcast(c0);
    final long bc1 = broadcast(c1);
    final long bc2 = broadcast(c2);
    final long bc3 = broadcast(c3);
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j += 8) {
        long w = (long) LE_LONG.get(child, base + i + j);
        long z = zerosHigh(w ^ bc0) | zerosHigh(w ^ bc1)
            | zerosHigh(w ^ bc2) | zerosHigh(w ^ bc3);
        if (nulls != null) z &= zerosHigh((long) LE_LONG.get(nulls, i + j));
        word |= gather8(z) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        byte b = child[base + k];
        boolean ok = (nulls == null || nulls[k] == 0)
            & (b == c0 | b == c1 | b == c2 | b == c3);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long notNullBits(byte[] nulls, int n, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j += 8) {
        // SWAR: pass bit per ZERO byte of the null-flag word
        word |= gather8(zerosHigh((long) LE_LONG.get(nulls, i + j))) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        word |= (nulls[k] == 0 ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  /** All rows pass: words of ones with a masked tail. Returns n. */
  public static long allPassBits(int n, long[] bits) {
    int words = (n + 63) >> 6;
    Arrays.fill(bits, 0, words, -1L);
    int rem = n & 63;
    if (rem != 0) bits[words - 1] = (1L << rem) - 1;
    return n;
  }

  // -------------------------------------------------------- string lanes
  // offs/lens index the string column's (offset, length) pairs; child is
  // the contiguous UTF-8 byte store.

  /** Region equality. Validation literals are short (domain members,
   *  anchored-prefix rewrites — a few bytes), so short patterns compare
   *  inline without data-dependent early exits (the mismatch branch is
   *  the mispredict); only long patterns pay the vectorized-memcmp
   *  ({@link Arrays#equals(byte[], int, int, byte[], int, int)}). */
  private static boolean eq(byte[] child, int off, byte[] pat) {
    int pl = pat.length;
    if (pl > 32) return Arrays.equals(child, off, off + pl, pat, 0, pl);
    int diff = 0;
    for (int k = 0; k < pl; k++) {
      diff |= child[off + k] ^ pat[k];
    }
    return diff == 0;
  }

  public static long equalsLitBits(int[] offs, int[] lens, byte[] child,
      byte[] nulls, int n, byte[] pat, long[] bits) {
    long passN = 0L;
    int pl = pat.length;
    int full = n & ~63;
    int i = 0;
    if (pl == 1) {
      byte p0 = pat[0];
      for (; i < full; i += 64) {
        long word = 0L;
        for (int j = 0; j < 64; j++) {
          int k = i + j;
          // && gates the child read: an empty row's offset may sit one
          // past the child store; the length test is prediction-friendly
          boolean ok = (nulls == null || nulls[k] == 0) & lens[k] == 1
              && child[offs[k]] == p0;
          word |= (ok ? 1L : 0L) << j;
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
      if (i < n) {
        long word = 0L;
        for (int k = i; k < n; k++) {
          boolean ok = (nulls == null || nulls[k] == 0) & lens[k] == 1
              && child[offs[k]] == p0;
          word |= (ok ? 1L : 0L) << (k - i);
        }
        bits[i >> 6] = word;
        passN += Long.bitCount(word);
      }
      return passN;
    }
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int k = i + j;
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] == pl
            && eq(child, offs[k], pat);
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] == pl
            && eq(child, offs[k], pat);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long startsWithBits(int[] offs, int[] lens, byte[] child,
      byte[] nulls, int n, byte[] pat, long[] bits) {
    long passN = 0L;
    int pl = pat.length;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int k = i + j;
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] >= pl
            && eq(child, offs[k], pat);
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] >= pl
            && eq(child, offs[k], pat);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  public static long endsWithBits(int[] offs, int[] lens, byte[] child,
      byte[] nulls, int n, byte[] pat, long[] bits) {
    long passN = 0L;
    int pl = pat.length;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int k = i + j;
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] >= pl
            && eq(child, offs[k] + lens[k] - pl, pat);
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0) & lens[k] >= pl
            && eq(child, offs[k] + lens[k] - pl, pat);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  private static boolean containsAt(byte[] child, int off, int len, byte[] pat) {
    int pl = pat.length;
    if (pl == 0) return true;
    int last = off + len - pl;
    byte first = pat[0];
    for (int s = off; s <= last; s++) {
      if (child[s] == first && eq(child, s, pat)) return true;
    }
    return false;
  }

  public static long containsLitBits(int[] offs, int[] lens, byte[] child,
      byte[] nulls, int n, byte[] pat, long[] bits) {
    long passN = 0L;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int k = i + j;
        boolean ok = (nulls == null || nulls[k] == 0)
            && containsAt(child, offs[k], lens[k], pat);
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        boolean ok = (nulls == null || nulls[k] == 0)
            && containsAt(child, offs[k], lens[k], pat);
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }

  /** Allowed-set membership (tiny domains): OR-accumulated over the
   *  candidates — no early exit, no per-candidate mispredict. */
  public static long domainBits(int[] offs, int[] lens, byte[] child,
      byte[] nulls, int n, byte[][] candidates, long[] bits) {
    long passN = 0L;
    int nc = candidates.length;
    int full = n & ~63;
    int i = 0;
    for (; i < full; i += 64) {
      long word = 0L;
      for (int j = 0; j < 64; j++) {
        int k = i + j;
        int len = lens[k];
        int off = offs[k];
        boolean match = false;
        for (int c = 0; c < nc; c++) {
          byte[] cand = candidates[c];
          match |= cand.length == len && eq(child, off, cand);
        }
        boolean ok = (nulls == null || nulls[k] == 0) & match;
        word |= (ok ? 1L : 0L) << j;
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    if (i < n) {
      long word = 0L;
      for (int k = i; k < n; k++) {
        int len = lens[k];
        int off = offs[k];
        boolean match = false;
        for (int c = 0; c < nc; c++) {
          byte[] cand = candidates[c];
          match |= cand.length == len && eq(child, off, cand);
        }
        boolean ok = (nulls == null || nulls[k] == 0) & match;
        word |= (ok ? 1L : 0L) << (k - i);
      }
      bits[i >> 6] = word;
      passN += Long.bitCount(word);
    }
    return passN;
  }
}
