package graft.contract

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** Columnar validation kernel: evaluates a [[ContractPolicy]] directly
  * over the parquet scan's `ColumnarBatch`es — rule predicates run
  * column-at-a-time against the vectorized reader's `ColumnVector`s and
  * only COUNTS leave the executor, so no `UnsafeRow` is ever
  * materialized (cdf: crates/cdf-contract/src/vector.rs:500-760 — the
  * reference's per-core validation cells are columnar kernels of this
  * shape; the row-pipeline [[ValidationProgram]] remains the path for
  * consumers that need the annotated rows themselves).
  *
  * Execution shape: the plan is pruned to the rules' columns (the
  * parquet scan then decodes ONLY those), `ColumnarToRow` is never
  * entered, and each task folds its batches into a fixed-size counts
  * accumulator — a single map stage, no shuffle, O(rules) driver
  * state. At 100 TB this is the quality.parquet producer: per-rule
  * pass/violation counts plus rows-per-verdict, exactly the shapes
  * `ruleOutcomeCounts` and the disposition split report.
  *
  * Honesty: when the source offers no columnar scan (in-memory
  * relations, non-vectorized formats) or a rule/type combination has
  * no kernel (Custom SQL predicates, decimals, dates under a
  * non-UTC session), the evaluation FALLS BACK to the row-based
  * [[ValidationProgram]] with identical semantics and the result
  * records which path ran — a caller can assert on it, the numbers
  * never silently change meaning.
  */
object ColumnarValidation {

  /** Per-policy counts: parallel arrays indexed by rule position, plus
    * rows-per-verdict-rank (ranks contiguous 0..4, asserted in
    * [[ValidationProgram]]). */
  final case class Counts(
      rulePass: Array[Long],
      ruleViolation: Array[Long],
      rowsByRank: Array[Long]) extends Serializable {
    def merge(o: Counts): Counts = Counts(
      rulePass.zip(o.rulePass).map { case (a, b) => a + b },
      ruleViolation.zip(o.ruleViolation).map { case (a, b) => a + b },
      rowsByRank.zip(o.rowsByRank).map { case (a, b) => a + b })
    def totalRows: Long = rowsByRank.sum
    def rowsByDisposition: Map[String, Long] =
      ValidationProgram.dispositionNamesByRank.zip(rowsByRank)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }
  object Counts {
    def zero(nRules: Int): Counts = Counts(
      new Array[Long](nRules), new Array[Long](nRules),
      new Array[Long](Verdict.all.length))
  }

  final case class Result(counts: Counts, columnar: Boolean, fallbackReason: Option[String])

  // ---------------------------------------------------------- kernels

  /** One rule's pass-test over a column vector. Each concrete class
    * OWNS its batch loop ([[VecTest.runBits]]): the per-row calls
    * inside are then monomorphic receivers the JIT inlines — a single
    * shared loop calling `pass(v, i)` through the trait was measured
    * megamorphic (a per-rule kernel A/B: the same work ran slower than the
    * sum of its single-rule cells). `pass` remains the semantic spec
    * and the slow-path; `runBits` must agree with a pass()-loop
    * exactly.
    *
    * Contract of runBits (round 13 — the BITSET evaluation): write one
    * PASS BIT per row into `bits` (64 rows/word, row i → bit i&63 of
    * word i>>6), zero the unused tail bits of the last word, return
    * the pass count. Verdict ranks are reconstructed afterwards by
    * word algebra + popcount in [[evalBatches]] — no kernel touches a
    * rank array, which removed the data-mask→byte-rank bridge that
    * dominated the rank formulation. Nulls fail every rule except
    * NotNull (Kleene null→fail, as the Column pipeline). */
  sealed trait VecTest extends Serializable {
    def pass(v: ColumnVector, i: Int): Boolean
    def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      genericBits(v, n, bits)
    /** The universally-correct slow path: per-row pass() into bits.
      * Dictionary-encoded vectors (any type) route through a per-id
      * memo first — same value ⇒ same outcome, so each distinct id
      * pays the real accessor (e.g. ParquetDictionary.decodeToLong)
      * exactly once per batch and every other row is an array load. */
    protected final def genericBits(v: ColumnVector, n: Int,
        bits: Array[Long]): Long = {
      v match {
        case w: org.apache.spark.sql.execution.vectorized.WritableColumnVector
            if w.hasDictionary && w.getDictionaryIds != null =>
          return memoBits(w, n, bits)
        case _ =>
      }
      java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L)
      var passN = 0L; var i = 0
      while (i < n) {
        if (pass(v, i)) { bits(i >> 6) |= 1L << (i & 63); passN += 1L }
        i += 1
      }
      passN
    }

    private def memoBits(
        w: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
        n: Int, bits: Array[Long]): Long = {
      java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L)
      // r14: the memo loop runs over the RAW ids int array + raw null
      // flags when reflection reaches them — an array load + byte
      // lookup per row instead of two virtual calls (the prescription's
      // "memo lane into the bitset lanes"); the virtual-accessor loop
      // below stays as the universally-correct fallback.
      val rawIds = FastLanes.rawDictIds(w, n)
      if (rawIds != null) return memoBitsRaw(w, n, bits, rawIds)
      val ids = w.getDictionaryIds
      // 0 unseen, 1 pass, 2 fail; ids are dense page-dictionary indexes
      var memo = new Array[Byte](256)
      var passN = 0L; var i = 0
      while (i < n) {
        var ok = false
        if (w.isNullAt(i)) ok = pass(w, i) // null semantics stay the rule's own
        else {
          val id = ids.getDictId(i)
          if (id >= memo.length)
            memo = java.util.Arrays.copyOf(memo, Integer.highestOneBit(id) << 1)
          var m = memo(id)
          if (m == 0) { m = if (pass(w, i)) 1 else 2; memo(id) = m }
          ok = m == 1
        }
        if (ok) { bits(i >> 6) |= 1L << (i & 63); passN += 1L }
        i += 1
      }
      passN
    }

    private def memoBitsRaw(
        w: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
        n: Int, bits: Array[Long], rawIds: Array[Int]): Long = {
      val rawNulls = FastLanes.rawNullFlags(w)
      var memo = new Array[Byte](256)
      var passN = 0L; var i = 0
      while (i < n) {
        var ok = false
        if (rawNulls != null && rawNulls(i) != 0) {
          ok = pass(w, i) // null semantics stay the rule's own
        } else {
          val id = rawIds(i)
          if (id >= memo.length)
            memo = java.util.Arrays.copyOf(memo, Integer.highestOneBit(id) << 1)
          var m = memo(id)
          if (m == 0) { m = if (pass(w, i)) 1 else 2; memo(id) = m }
          ok = m == 1
        }
        if (ok) { bits(i >> 6) |= 1L << (i & 63); passN += 1L }
        i += 1
      }
      passN
    }
  }

  /** Smallest long x with monotone p(x), or None. Construction-time
    * only — BigInt midpoints sidestep midpoint-overflow entirely. */
  private def smallestLongWith(p: Long => Boolean): Option[Long] =
    if (!p(Long.MaxValue)) None
    else if (p(Long.MinValue)) Some(Long.MinValue)
    else {
      var lo = BigInt(Long.MinValue); var hi = BigInt(Long.MaxValue)
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (p(mid.toLong)) hi = mid else lo = mid
      }
      Some(hi.toLong)
    }

  private def largestLongWith(p: Long => Boolean): Option[Long] =
    if (!p(Long.MinValue)) None
    else if (p(Long.MaxValue)) Some(Long.MaxValue)
    else {
      var lo = BigInt(Long.MinValue); var hi = BigInt(Long.MaxValue)
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (p(mid.toLong)) lo = mid else hi = mid
      }
      Some(lo.toLong)
    }

  /** [xmin, xmax] of longs whose DOUBLE image lands in [lo, hi] — the
    * row pipeline promotes integral columns to double against double
    * literals, so the kernel's integer compare must reproduce exactly
    * the set {x : (double)x >= lo && (double)x <= hi} (2^53 rounding
    * included; pinned by ColumnarValidationSpec). Empty range → None. */
  private def longBoundsFor(lo: Double, hi: Double): Option[(Long, Long)] = {
    if (lo.isNaN || hi.isNaN) return None
    for {
      mn <- smallestLongWith(x => x.toDouble >= lo)
      mx <- largestLongWith(x => x.toDouble <= hi)
      if mn <= mx
    } yield (mn, mx)
  }

  private def intBoundsFor(lo: Double, hi: Double): Option[(Int, Int)] =
    longBoundsFor(lo, hi).flatMap { case (mn, mx) =>
      val a = math.max(mn, Int.MinValue.toLong)
      val b = math.min(mx, Int.MaxValue.toLong)
      if (a <= b) Some((a.toInt, b.toInt)) else None
    }

  /** Uniform-outcome rule proven from file statistics: every row
    * passes (or fails) without the column being decoded — evalBatches
    * hands it no vector (idx −1). */
  private final class ConstBits(passAll: Boolean) extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean = passAll
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      if (passAll) graft.simd.ByteKernels.allPassBits(n, bits)
      else { java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L }
  }

  private final class NotNull extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean = !v.isNullAt(i)
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
      if (!v.hasNull) // null-free vector: every row passes
        return graft.simd.ByteKernels.allPassBits(n, bits)
      val fast = FastLanes.notNullBits(v, n, bits)
      if (fast >= 0) fast else genericBits(v, n, bits)
    }
  }

  private final class RangeLong(lo: Double, hi: Double) extends VecTest {
    // exact long image of the double range, precomputed once
    private val b = longBoundsFor(lo, hi)
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getLong(i); x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      b match {
        case None =>
          java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L
        case Some((mn, mx)) =>
          val fast = FastLanes.rangeLongBits(v, n, mn, mx, bits)
          if (fast >= 0) fast else genericBits(v, n, bits)
      }
  }
  private final class RangeInt(lo: Double, hi: Double) extends VecTest {
    private val b = intBoundsFor(lo, hi)
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getInt(i); x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      b match {
        case None =>
          java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L
        case Some((mn, mx)) =>
          val fast = FastLanes.rangeIntBits(v, n, mn, mx, bits)
          if (fast >= 0) fast else genericBits(v, n, bits)
      }
  }
  /** SHORT/BYTE decode to their own backing arrays (not intData),
    * so each width gets its own accessor kernel. */
  private final class RangeShort(lo: Double, hi: Double) extends VecTest {
    private val b = intBoundsFor(lo, hi)
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getShort(i); x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      b match {
        case None =>
          java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L
        case Some((mn, mx)) =>
          val fast = FastLanes.rangeShortBits(v, n, mn, mx, bits)
          if (fast >= 0) fast else genericBits(v, n, bits)
      }
  }
  private final class RangeByte(lo: Double, hi: Double) extends VecTest {
    private val b = intBoundsFor(lo, hi)
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getByte(i); x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      b match {
        case None =>
          java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L
        case Some((mn, mx)) =>
          val fast = FastLanes.rangeByteBits(v, n, mn, mx, bits)
          if (fast >= 0) fast else genericBits(v, n, bits)
      }
  }
  /** DECIMAL range: the row pipeline's `col.between(lo, hi)` coerces a
    * decimal column against double literals by promoting BOTH to
    * double, so the semantic test compares `getDecimal(..).toDouble` —
    * identical-semantics contract, not a tighter decimal compare. The
    * FAST LANE (r13, prescribed): precision ≤ 18 decimals decode to
    * raw unscaled int/long arrays, and `u ↦ (double)(u·10^-s)` is
    * monotone, so the exact unscaled image [uMin, uMax] of the double
    * range is found once by binary search over toDouble and the batch
    * loop is a pure integer compare. */
  private final class RangeDecimal(lo: Double, hi: Double, p: Int, s: Int) extends VecTest {
    private def toD(u: Long): Double =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(u), s).doubleValue()
    private val b: Option[(Long, Long)] =
      if (lo.isNaN || hi.isNaN) None
      else for {
        mn <- smallestLongWith(u => toD(u) >= lo)
        mx <- largestLongWith(u => toD(u) <= hi)
        if mn <= mx
      } yield (mn, mx)
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getDecimal(i, p, s).toDouble; x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      b match {
        case None =>
          java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); 0L
        case Some((mn, mx)) =>
          val fast =
            if (p <= org.apache.spark.sql.types.Decimal.MAX_INT_DIGITS) {
              val a = math.max(mn, Int.MinValue.toLong)
              val z = math.min(mx, Int.MaxValue.toLong)
              if (a > z) { java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L); return 0L }
              FastLanes.rangeIntBits(v, n, a.toInt, z.toInt, bits)
            } else if (p <= org.apache.spark.sql.types.Decimal.MAX_LONG_DIGITS)
              FastLanes.rangeLongBits(v, n, mn, mx, bits)
            else -1L
          if (fast >= 0) fast else genericBits(v, n, bits)
      }
  }
  private final class RangeDouble(lo: Double, hi: Double) extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getDouble(i); x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
      val fast = FastLanes.rangeDoubleBits(v, n, lo, hi, bits)
      if (fast >= 0) fast else genericBits(v, n, bits)
    }
  }
  private final class RangeFloat(lo: Double, hi: Double) extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && { val x = v.getFloat(i).toDouble; x >= lo && x <= hi }
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
      val fast = FastLanes.rangeFloatBits(v, n, lo, hi, bits)
      if (fast >= 0) fast else genericBits(v, n, bits)
    }
  }
  /** ts ≥ threshold, micros domain (TIMESTAMP/TIMESTAMP_NTZ vectors
    * store epoch micros). Threshold is exact for ms-precision rule
    * instants (asOf/maxAge are epoch-ms longs). */
  private final class FreshMicros(minMicros: Long) extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && v.getLong(i) >= minMicros
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
      val fast = FastLanes.geLongBits(v, n, minMicros, bits)
      if (fast >= 0) fast else genericBits(v, n, bits)
    }
  }
  /** DATE column under a UTC session: cast(date as timestamp) =
    * days·86400e6 micros, so the comparison reduces to whole days. */
  private final class FreshDays(minDays: Int) extends VecTest {
    def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && v.getInt(i) >= minDays
    override def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
      val fast = FastLanes.geIntBits(v, n, minDays, bits)
      if (fast >= 0) fast else genericBits(v, n, bits)
    }
  }

  /** String kernels: the semantic test is `testU` over a UTF8String,
    * but `runBits` picks a zero-allocation strategy per BATCH:
    *
    *  - plain `WritableColumnVector` (the vectorized parquet reader's
    *    non-dictionary pages, and [[graft.tools.KernelFixture]]): read
    *    (offset, length) + child bytes directly — no UTF8String is
    *    ever constructed (a per-rule kernel A/B measured the per-row
    *    `getUTF8String` wrapper at ~25 of the 30ns/row these kernels
    *    used to cost: 4.8M allocations per pass is GC, not compare);
    *  - dictionary-encoded pages: evaluate once per distinct dict id
    *    and memoize — the classic columnar trick, O(dictSize) tests
    *    per batch instead of O(rows);
    *  - anything else: the UTF8String row loop.
    */
  import org.apache.spark.sql.execution.vectorized.WritableColumnVector
  private sealed abstract class StringTest extends VecTest {
    /** semantic test over the decoded value. */
    def testU(s: UTF8String): Boolean
    /** same test over child-vector bytes [off, off+len); kernels that
      * cannot express it byte-wise return false from [[byteable]]. */
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean
    def byteable: Boolean = true
    /** same test over the RAW backing arrays (plain on-heap vectors) —
      * one intrinsified-memcmp loop, no virtual getter per byte. -1 =
      * no fast kernel for this test; caller keeps [[bytesBits]]. */
    def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long = -1L

    final def pass(v: ColumnVector, i: Int): Boolean =
      !v.isNullAt(i) && testU(v.getUTF8String(i))

    override final def runBits(v: ColumnVector, n: Int, bits: Array[Long]): Long =
      v match {
        case w: WritableColumnVector if w.hasDictionary => dictBits(w, n, bits)
        case w: WritableColumnVector if byteable =>
          val sa = FastLanes.strings(w, n)
          if (sa != null) {
            val fast = runFastBits(sa, n, bits)
            if (fast >= 0) return fast
          }
          bytesBits(w, n, bits)
        case _ => genericBits(v, n, bits)
      }

    private def bytesBits(w: WritableColumnVector, n: Int, bits: Array[Long]): Long = {
      java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L)
      val child = w.arrayData()
      var passN = 0L; var i = 0
      while (i < n) {
        if (!w.isNullAt(i) && testBytes(child, w.getArrayOffset(i), w.getArrayLength(i))) {
          bits(i >> 6) |= 1L << (i & 63); passN += 1L
        }
        i += 1
      }
      passN
    }

    /** memo value: 0 unseen, 1 pass, 2 fail. Dict ids are dense
      * smallish ints (bounded by the page dictionary's size); the memo
      * grows to the largest id seen. */
    private def dictBits(w: WritableColumnVector, n: Int, bits: Array[Long]): Long = {
      // dict ids live in the companion ids vector, not the data vector
      val ids = w.getDictionaryIds
      if (ids == null) return genericBits(w, n, bits)
      java.util.Arrays.fill(bits, 0, (n + 63) >> 6, 0L)
      var memo = new Array[Byte](256)
      var passN = 0L; var i = 0
      while (i < n) {
        var ok = false
        if (!w.isNullAt(i)) {
          val id = ids.getDictId(i)
          if (id >= memo.length)
            memo = java.util.Arrays.copyOf(memo, Integer.highestOneBit(id) << 1)
          var m = memo(id)
          if (m == 0) {
            m = if (testU(w.getUTF8String(i))) 1 else 2
            memo(id) = m
          }
          ok = m == 1
        }
        if (ok) { bits(i >> 6) |= 1L << (i & 63); passN += 1L }
        i += 1
      }
      passN
    }
  }

  private def bytesEq(child: WritableColumnVector, off: Int, b: Array[Byte]): Boolean = {
    var k = 0
    while (k < b.length) {
      if (child.getByte(off + k) != b(k)) return false
      k += 1
    }
    true
  }

  /** allowed-set membership by byte equality (collation-free, same as
    * Catalyst `In` over strings). Sets are tiny (domains); a linear
    * scan beats hashing the candidate. */
  private final class DomainUtf8(allowedBytes: Array[Array[Byte]]) extends StringTest {
    @transient private lazy val allowed: Array[UTF8String] =
      allowedBytes.map(UTF8String.fromBytes)
    def testU(s: UTF8String): Boolean = {
      var k = 0
      while (k < allowed.length) {
        if (s.equals(allowed(k))) return true
        k += 1
      }
      false
    }
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean = {
      var k = 0
      while (k < allowedBytes.length) {
        val a = allowedBytes(k)
        if (a.length == len && bytesEq(child, off, a)) return true
        k += 1
      }
      false
    }
    override def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long =
      FastLanes.stringDomainBits(sa, n, allowedBytes, bits)
  }
  private final class StartsWithUtf8(prefixBytes: Array[Byte]) extends StringTest {
    @transient private lazy val p = UTF8String.fromBytes(prefixBytes)
    def testU(s: UTF8String): Boolean = s.startsWith(p)
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean =
      len >= prefixBytes.length && bytesEq(child, off, prefixBytes)
    override def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long =
      FastLanes.stringStartsWithBits(sa, n, prefixBytes, bits)
  }
  private final class EndsWithUtf8(suffixBytes: Array[Byte]) extends StringTest {
    @transient private lazy val p = UTF8String.fromBytes(suffixBytes)
    def testU(s: UTF8String): Boolean = s.endsWith(p)
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean =
      len >= suffixBytes.length && bytesEq(child, off + len - suffixBytes.length, suffixBytes)
    override def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long =
      FastLanes.stringEndsWithBits(sa, n, suffixBytes, bits)
  }
  private final class EqualsUtf8(bytes: Array[Byte]) extends StringTest {
    @transient private lazy val p = UTF8String.fromBytes(bytes)
    def testU(s: UTF8String): Boolean = s.equals(p)
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean =
      len == bytes.length && bytesEq(child, off, bytes)
    override def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long =
      FastLanes.stringEqualsBits(sa, n, bytes, bits)
  }
  private final class ContainsUtf8(bytes: Array[Byte]) extends StringTest {
    @transient private lazy val p = UTF8String.fromBytes(bytes)
    def testU(s: UTF8String): Boolean = s.contains(p)
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean = {
      if (bytes.length == 0) return true
      var start = off
      val last = off + len - bytes.length
      while (start <= last) {
        if (bytesEq(child, start, bytes)) return true
        start += 1
      }
      false
    }
    override def runFastBits(sa: FastLanes.StringArrays, n: Int, bits: Array[Long]): Long =
      FastLanes.stringContainsBits(sa, n, bytes, bits)
  }
  /** general regex, FIND semantics (= Catalyst RLike). Decodes the
    * value to String per row — the slow lane, but the dictionary memo
    * still collapses it to once-per-distinct-value on dict pages;
    * [[ValidationProgram.compileRule]]'s anchored-literal rewrite means
    * production policies rarely reach it at all. */
  private final class RegexFind(pattern: String) extends StringTest {
    @transient private lazy val p = java.util.regex.Pattern.compile(pattern)
    def testU(s: UTF8String): Boolean = p.matcher(s.toString).find()
    def testBytes(child: WritableColumnVector, off: Int, len: Int): Boolean = false
    override def byteable: Boolean = false
  }

  private def utf8Bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** rule × column type → kernel, or Left(reason) → row fallback.
    * Mirrors [[ValidationProgram.compileRule]] exactly, including the
    * anchored-literal regex rewrite and Kleene null→fail. */
  private def compileKernel(rule: RowRule, dt: DataType, sessionTzUtc: Boolean): Either[String, VecTest] =
    rule match {
      case RowRule.Nullability(_, _) => Right(new NotNull)
      case RowRule.Range(_, c, lo, hi) => dt match {
        case LongType => Right(new RangeLong(lo, hi))
        case IntegerType => Right(new RangeInt(lo, hi))
        case ShortType => Right(new RangeShort(lo, hi))
        case ByteType => Right(new RangeByte(lo, hi))
        case DoubleType => Right(new RangeDouble(lo, hi))
        case FloatType => Right(new RangeFloat(lo, hi))
        case d: DecimalType => Right(new RangeDecimal(lo, hi, d.precision, d.scale))
        case other => Left(s"range rule over $c: no kernel for type $other")
      }
      case RowRule.Domain(_, c, allowed) => dt match {
        case StringType => Right(new DomainUtf8(allowed.map(utf8Bytes).toArray))
        case other => Left(s"domain rule over $c: no kernel for type $other")
      }
      case RowRule.Regex(_, c, p) => dt match {
        case StringType =>
          def lit_(s: String): Option[String] =
            if (s.nonEmpty && !s.exists("\\.[]{}()*+?^$|".contains(_))) Some(s) else None
          val k = (p.startsWith("^"), p.endsWith("$")) match {
            case (true, true) => lit_(p.substring(1, p.length - 1)).map(s => new EqualsUtf8(utf8Bytes(s)))
            case (true, false) => lit_(p.substring(1)).map(s => new StartsWithUtf8(utf8Bytes(s)))
            case (false, true) => lit_(p.dropRight(1)).map(s => new EndsWithUtf8(utf8Bytes(s)))
            case (false, false) => lit_(p).map(s => new ContainsUtf8(utf8Bytes(s)))
          }
          Right(k.getOrElse(new RegexFind(p)))
        case other => Left(s"regex rule over $c: no kernel for type $other")
      }
      case RowRule.Freshness(_, c, maxAgeMs, asOfMs) =>
        // identical instant to the Column path: timestamp_seconds((asOf-maxAge)/1000.0)
        val minMicros = (asOfMs - maxAgeMs) * 1000L
        dt match {
          case TimestampType | TimestampNTZType => Right(new FreshMicros(minMicros))
          case DateType if sessionTzUtc =>
            // ceil-div: a date passes iff its midnight-UTC instant ≥ threshold
            val dayMicros = 86400L * 1000000L
            val minDays = Math.floorDiv(minMicros + dayMicros - 1, dayMicros)
            Right(new FreshDays(minDays.toInt))
          case DateType => Left(s"freshness rule over DATE $c: session timezone is not UTC")
          case other => Left(s"freshness rule over $c: no kernel for type $other")
        }
      case RowRule.Custom(id, _, _) => Left(s"custom rule $id: SQL predicates stay on the row path")
    }

  // ------------------------------------------------------- evaluation

  /** Evaluate the policy's counts over `df`. Columnar when the plan
    * offers a columnar scan AND every rule compiles to a kernel;
    * row-path [[ValidationProgram]] otherwise (same numbers). */
  def counts(df: DataFrame, policy: ContractPolicy): Result = {
    val spark = df.sparkSession
    val nRules = policy.rules.length
    if (nRules == 0) {
      val n = df.count()
      val z = Counts.zero(0); z.rowsByRank(Verdict.Pass.rank) = n
      return Result(z, columnar = false, Some("empty policy"))
    }
    // prune to the rules' columns FIRST: the parquet scan then decodes
    // only these (ReadSchema), which is the whole point of the counts
    // path — a 5-rule policy over a 16-column table reads 5 columns
    val ruleCols = policy.rules.map(_.column).distinct
    val missing = ruleCols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw graft.core.GraftError.Plan(
        s"validation kernel: rules over missing columns ${missing.mkString(", ")}")
    val proj = df.select(ruleCols.map(col): _*)
    // The counts path decodes ONLY the gated columns, so a much larger
    // reader batch is memory-safe regardless of table width
    // (64 Ki rows × |ruleCols| × ~16 B ≈ a few MB per reader, vs the
    // 4096-row default sized for arbitrary-width row pipelines) and it
    // amortizes the per-batch fixed costs that dominated the cell
    // (SCALE.md round-9 notes: 0.158 → 0.098 s on the same file; the
    // pure decode floor for the 5 gated columns is 0.055 s). Scoped to
    // this plan: set for the planning+execution of the kernel scan,
    // restored after — the caller's session geometry is untouched.
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val prevBatch = spark.conf.getOption(batchKey)
    spark.conf.set(batchKey, "65536")
    try {
      val plan = proj.queryExecution.executedPlan
      val scanOpt = passthroughScan(plan)
      val sessionTzUtc = spark.conf.get("spark.sql.session.timeZone", "") == "UTC"

      scanOpt match {
        case Left(reason) => rowPathCounts(df, policy, reason)
        case Right(scan) =>
          // Footer-stats rule proofs: a rule whose outcome is uniform
          // across every row of every file (NotNull with zero recorded
          // nulls; Range whose file bounds sit inside the rule's) needs
          // no per-row bits — its column is PRUNED from the scan and a
          // constant bitset joins the verdict algebra. At 100 TB this
          // skips decoding entire columns; conservative-on-missing (any
          // absent stat ⇒ the column decodes as before).
          val proofs = statsProofs(scan, policy, sessionTzUtc)
          val needRules = policy.rules.zipWithIndex
            .filterNot { case (_, i) => proofs.contains(i) }
          val needCols = needRules.map(_._1.column).distinct
          val (scan2Opt, subPolicy) =
            if (proofs.isEmpty || needCols == ruleCols)
              (Right(scan), policy)
            else {
              val p2 = df.select(needCols.map(col): _*)
              (passthroughScan(p2.queryExecution.executedPlan),
                ContractPolicy(needRules.map(_._1), policy.fatalRules, policy.depth))
            }
          scan2Opt match {
            case Left(reason) => rowPathCounts(df, policy, reason)
            case Right(scan2) =>
              val scanSchema = StructType(
                scan2.output.map(a => StructField(a.name, a.dataType, a.nullable)))
              bindKernels(scanSchema, subPolicy, sessionTzUtc) match {
                case Left(reason) => rowPathCounts(df, policy, reason)
                case Right((subIdxs, subKernels, subRanks)) =>
                  // expand back to the full rule list: proven rules get a
                  // constant kernel (idx −1 ⇒ evalBatches passes no vector)
                  val idxs = new Array[Int](nRules)
                  val kernels = new Array[VecTest](nRules)
                  val ranks = new Array[Int](nRules)
                  var sub = 0
                  policy.rules.zipWithIndex.foreach { case (r, i) =>
                    proofs.get(i) match {
                      case Some(pass) =>
                        idxs(i) = -1
                        kernels(i) = new ConstBits(pass)
                        ranks(i) =
                          if (policy.fatalRules.contains(r.id)) Verdict.Fatal.rank
                          else Verdict.Violation.rank
                      case None =>
                        idxs(i) = subIdxs(sub); kernels(i) = subKernels(sub)
                        ranks(i) = subRanks(sub); sub += 1
                    }
                  }
                  val c = scan2.executeColumnar().mapPartitions { batches =>
                    Iterator.single(evalBatches(batches, idxs, kernels, ranks))
                  }.fold(Counts.zero(nRules))(_ merge _)
                  Result(c, columnar = true, None)
              }
          }
      }
    } finally {
      prevBatch match {
        case Some(v) => spark.conf.set(batchKey, v)
        case None => spark.conf.unset(batchKey)
      }
    }
  }

  /** Strict descent from the executed-plan root to the columnar scan:
    * the kernels may run scan.executeColumnar() ONLY when every node
    * in between is a pure pass-through (ColumnarToRow / whole-stage
    * codegen wrappers / an attribute-only Project — a prune/reorder
    * that changes no row and computes no value). Anything else — a
    * FilterExec Spark keeps above the scan even for pushed predicates,
    * a computing Project, an AQE wrapper — means batches at the scan
    * are NOT the frame's rows, and running kernels there would count
    * rows the frame filtered out; those plans take the row path. A
    * blind collectFirst here once counted unfiltered rows for
    * counts(df.filter(...), policy) while reporting columnar=true. */
  private def passthroughScan(
      p: org.apache.spark.sql.execution.SparkPlan): Either[String, org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    p match {
      case c: ColumnarToRowExec => passthroughScan(c.child)
      case w: WholeStageCodegenExec => passthroughScan(w.child)
      case a: InputAdapter => passthroughScan(a.child)
      case pr: ProjectExec if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        passthroughScan(pr.child)
      case s if s.supportsColumnar => Right(s)
      case leaf if leaf.children.isEmpty => Left(s"no columnar scan in plan (${leaf.nodeName})")
      case other => Left(s"non-passthrough ${other.nodeName} above the columnar scan")
    }
  }

  /** Footer stats per file, cached for the JVM keyed by
    * (path, length, mtime) — footers are immutable per file version and
    * the bench/validation loops re-stat the same files per call. */
  private val footerCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Long), graft.sources.ParquetFooters.FileStats]

  /** Rules whose outcome is uniform over every row of the scan, proven
    * from parquet footer statistics: ruleIndex → passes-everywhere.
    * Sound only for a plain, unfiltered parquet file scan (partition or
    * data filters would make the scanned rows a subset the file-level
    * stats no longer describe exactly — for all-PASS proofs a superset
    * bound would still be sound, but all-FAIL proofs need exactness, so
    * any filter disables the shortcut entirely). Conservative on every
    * missing stat. */
  private def statsProofs(scan: org.apache.spark.sql.execution.SparkPlan,
      policy: ContractPolicy, sessionTzUtc: Boolean): Map[Int, Boolean] = scan match {
    case fs: org.apache.spark.sql.execution.FileSourceScanExec
        if fs.partitionFilters.isEmpty && fs.dataFilters.isEmpty &&
          fs.relation.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
      val paths = fs.relation.location.inputFiles.toSeq
      if (paths.isEmpty || paths.size > 4096) return Map.empty
      val stats =
        try paths.map { p =>
          val f = new java.io.File(p.replaceFirst("^file:/+", "/"))
          footerCache.getOrElseUpdate((f.getPath, f.length, f.lastModified),
            graft.sources.ParquetFooters.read(p))
        }
        catch { case scala.util.control.NonFatal(_) => return Map.empty }
      val totalRows = stats.map(_.rowCount).sum
      if (totalRows == 0L) return Map.empty
      // double image of a footer bound. SOUND for the kernels' double-
      // promoted compares because round-to-nearest is monotone:
      // v ≥ lo ⟹ (double)v ≥ (double)lo, so testing the rounded bound
      // against the rule bound never over-claims.
      def num(a: Any): Option[Double] = a match {
        case x: Long => Some(x.toDouble)
        case x: Int => Some(x.toDouble)
        case x: Short => Some(x.toDouble)
        case x: Byte => Some(x.toDouble)
        case x: Double => Some(x)
        case x: Float => Some(x.toDouble)
        case x: java.math.BigDecimal => Some(x.doubleValue)
        case _ => None
      }
      // epoch-micros image of a temporal bound, under the same cast
      // semantics the Freshness rule compiles to (col.cast("timestamp")
      // ≥ instant): instants compare zone-free; NTZ and DATE casts go
      // through the session zone, so they are only provable when the
      // session is pinned UTC (the same gate the date kernel uses).
      def tempUs(a: Any): Option[Long] = a match {
        case t: java.time.Instant =>
          Some(Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
            t.getNano / 1000L))
        case t: java.time.LocalDateTime if sessionTzUtc =>
          Some(Math.addExact(Math.multiplyExact(
            t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), t.getNano / 1000L))
        case d: java.time.LocalDate if sessionTzUtc =>
          Some(Math.multiplyExact(d.toEpochDay, 86400000000L))
        case _ => None
      }
      policy.rules.zipWithIndex.flatMap { case (r, i) =>
        val per = stats.map(_.cols.get(r.column))
        val nulls =
          if (per.exists(s => s.isEmpty || s.get.nullCount.isEmpty)) None
          else Some(per.map(_.get.nullCount.get).sum)
        r match {
          case RowRule.Nullability(_, _) => nulls match {
            case Some(0L) => Some(i -> true)
            case Some(k) if k == totalRows => Some(i -> false)
            case _ => None
          }
          case RowRule.Range(_, _, min, max) =>
            // all-pass needs zero nulls (null fails Range) plus every
            // file's sound bounds inside the rule interval. Bounds are
            // exact file min/max only when ParquetFooters marked every
            // row group sound, which its `sound` flag already folds into
            // lower/upper being defined.
            val bounds = per.map(s => s.flatMap(c =>
              for (lo <- c.lower.flatMap(num); hi <- c.upper.flatMap(num))
                yield (lo, hi)))
            if (bounds.forall(_.isDefined)) {
              if (nulls.contains(0L) &&
                bounds.flatten.forall { case (lo, hi) => lo >= min && hi <= max })
                Some(i -> true)
              // disjoint: every non-null value misses the interval and
              // nulls fail Range anyway — all-fail without null counts
              else if (bounds.flatten.forall { case (lo, hi) => hi < min || lo > max })
                Some(i -> false)
              else None
            } else None
          case RowRule.Freshness(_, _, maxAgeMs, asOfEpochMs) =>
            // one-sided: col.cast(timestamp) ≥ asOf − maxAge; nulls fail
            val thresholdUs = Math.multiplyExact(asOfEpochMs - maxAgeMs, 1000L)
            val bounds = per.map(s => s.flatMap(c =>
              for (lo <- c.lower.flatMap(tempUs); hi <- c.upper.flatMap(tempUs))
                yield (lo, hi)))
            if (bounds.forall(_.isDefined)) {
              if (nulls.contains(0L) &&
                bounds.flatten.forall(_._1 >= thresholdUs)) Some(i -> true)
              else if (bounds.flatten.forall(_._2 < thresholdUs)) Some(i -> false)
              else None
            } else None
          case _ => None
        }
      }.toMap
    case _ => Map.empty
  }

  /** The kernel loop itself, over any stream of batches — column-at-a-
    * time (one monomorphic inner loop per rule) into per-rule PASS
    * BITSETS, then rows-per-verdict by word algebra: a row's rank is
    * the MAX failRank over its failing rules, so ranks are assigned
    * descending (fail word = OR of the rank's rules' complemented
    * bits, minus rows already claimed by a higher rank) and counted
    * with popcount, where the byte-rank formulation paid a
    * per-rule read-modify-write lane plus a scalar histogram pass.
    * Shared by the distributed path above and kernel-only
    * microbenchmarks. */
  private[graft] def evalBatches(
      batches: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch],
      idxs: Array[Int], kernels: Array[VecTest], ranks: Array[Int]): Counts = {
    val nRules = kernels.length
    val acc = Counts.zero(nRules)
    val ranksDesc = ranks.distinct.sortBy(-_)
    // rank → member rule indexes, precomputed once so the per-word loop
    // walks a dense array instead of re-scanning ranks with a branch
    val rankRules: Array[Array[Int]] =
      ranksDesc.map(rk => (0 until nRules).filter(ranks(_) == rk).toArray).toArray
    // per-rule bit scratch, reused across batches (capacity grows to
    // the largest batch; vectorized reader default is 4096 rows)
    val bitsBuf = Array.fill(nRules)(new Array[Long](64))
    batches.foreach { batch =>
      val n = batch.numRows()
      if (n > 0) {
        val words = (n + 63) >> 6
        var r = 0
        while (r < nRules) {
          if (bitsBuf(r).length < words) bitsBuf(r) = new Array[Long](words)
          // idx −1 = stats-proven constant rule: no vector to hand over
          val vec = if (idxs(r) < 0) null else batch.column(idxs(r))
          val passN = kernels(r).runBits(vec, n, bitsBuf(r))
          acc.rulePass(r) += passN
          acc.ruleViolation(r) += n - passN
          r += 1
        }
        var failTotal = 0L
        var w = 0
        while (w < words) {
          val tailMask =
            if (w == words - 1 && (n & 63) != 0) (1L << (n & 63)) - 1 else -1L
          var assigned = 0L
          var di = 0
          while (di < ranksDesc.length) {
            val members = rankRules(di)
            var fail = 0L
            var m = 0
            while (m < members.length) {
              fail |= ~bitsBuf(members(m))(w)
              m += 1
            }
            val newly = fail & tailMask & ~assigned
            acc.rowsByRank(ranksDesc(di)) += java.lang.Long.bitCount(newly)
            assigned |= newly
            di += 1
          }
          failTotal += java.lang.Long.bitCount(assigned)
          w += 1
        }
        acc.rowsByRank(Verdict.Pass.rank) += n - failTotal
      }
    }
    acc
  }

  /** Bind a policy against a plain schema (by field position) — the
    * microbenchmark entry: callers hand batches whose columns are laid
    * out as `schema` says. Left(reason) when any rule lacks a kernel. */
  private[graft] def bindKernels(schema: StructType, policy: ContractPolicy,
      sessionTzUtc: Boolean = true): Either[String, (Array[Int], Array[VecTest], Array[Int])] = {
    val idxByName = schema.fieldNames.zipWithIndex.toMap
    val bound = policy.rules.map { r =>
      idxByName.get(r.column) match {
        case None => Left(s"rule ${r.id}: column ${r.column} absent")
        case Some(idx) =>
          compileKernel(r, schema(idx).dataType, sessionTzUtc).map { k =>
            val failRank =
              if (policy.fatalRules.contains(r.id)) Verdict.Fatal.rank
              else Verdict.Violation.rank
            (idx, k, failRank)
          }
      }
    }
    bound.collectFirst { case Left(reason) => reason } match {
      case Some(reason) => Left(reason)
      case None => Right((
        bound.map(_.toOption.get._1).toArray,
        bound.map(_.toOption.get._2).toArray,
        bound.map(_.toOption.get._3).toArray))
    }
  }

  /** Row-path fallback: same counts via the compiled Column pipeline
    * (one aggregate pass — per-rule sums plus rows-per-rank). */
  private def rowPathCounts(df: DataFrame, policy: ContractPolicy, reason: String): Result = {
    val program = ValidationProgram.compile(policy)
    val ruleAggs = program.ruleCols.zipWithIndex.flatMap { case ((_, c), i) =>
      Seq(
        sum(when(coalesce(c, lit(false)), 1L).otherwise(0L)).as(s"p_$i"),
        sum(when(coalesce(c, lit(false)), 0L).otherwise(1L)).as(s"v_$i"))
    }
    val rankCol = program.ruleCols.map { case (r, c) =>
      val failRank =
        if (policy.fatalRules.contains(r.id)) Verdict.Fatal.rank else Verdict.Violation.rank
      when(coalesce(c, lit(false)), lit(Verdict.Pass.rank)).otherwise(lit(failRank))
    }.reduce((a, b) => greatest(a, b))
    val rankAggs = Verdict.all.map(v =>
      sum(when(rankCol === v.rank, 1L).otherwise(0L)).as(s"r_${v.rank}"))
    val aggs = ruleAggs ++ rankAggs
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def l(name: String): Long = row.getAs[Any](name) match {
      case null => 0L; case x: Long => x; case x: Number => x.longValue()
    }
    val n = policy.rules.length
    val c = Counts(
      Array.tabulate(n)(i => l(s"p_$i")),
      Array.tabulate(n)(i => l(s"v_$i")),
      Verdict.all.map(v => l(s"r_${v.rank}")).toArray)
    Result(c, columnar = false, Some(reason))
  }

  /** The counts as a one-row DataFrame — the quality.parquet shape:
    * `<rule>__pass`/`<rule>__violation` per rule plus rows-per-
    * disposition (`accept_n`, `quarantine_n`). Oracle-comparable. */
  def countsDf(df: DataFrame, policy: ContractPolicy): DataFrame =
    toDf(df.sparkSession, policy, counts(df, policy).counts)

  /** Render already-computed [[Counts]] as the one-row DataFrame. */
  def toDf(spark: SparkSession, policy: ContractPolicy, c: Counts): DataFrame = {
    val byDisp = c.rowsByDisposition
    val fields = policy.rules.zipWithIndex.flatMap { case (rule, i) =>
      Seq(
        StructField(s"${rule.id}__pass", LongType, nullable = false) ->
          c.rulePass(i),
        StructField(s"${rule.id}__violation", LongType, nullable = false) ->
          c.ruleViolation(i))
    } ++ Seq(
      StructField("accept_n", LongType, nullable = false) ->
        byDisp.getOrElse("accept", 0L),
      StructField("quarantine_n", LongType, nullable = false) ->
        byDisp.getOrElse("quarantine", 0L))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(fields.map(_._2))),
      StructType(fields.map(_._1)))
  }
}
