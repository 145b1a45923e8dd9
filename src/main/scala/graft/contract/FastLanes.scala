package graft.contract

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.vectorized.ColumnVector

/** Fast kernel lanes over the decoded backing arrays of
  * [[OnHeapColumnVector]] — the bridge between the semantic kernels in
  * [[ColumnarValidation]] and the primitive/SIMD loops in
  * `graft.simd.{SimdKernels, ByteKernels}`.
  *
  * Round-13 shape: every lane fills a PASS BITSET (one bit per row,
  * 64 rows per long word) and returns the pass count; verdict ranks are
  * reconstructed by word algebra + popcount in
  * `ColumnarValidation.evalBatches`. The previous per-rule byte-rank
  * merge is gone: the branchless bit-assembly loops auto-vectorize,
  * while every rank formulation paid a data-mask→byte bridge.
  *
  * Dispatch remains MEASUREMENT-driven:
  *  1. Numeric range/threshold rules and general string rules route to
  *     the branchless bit loops in `ByteKernels` (SuperWord-vectorized).
  *  2. The explicit Vector API (`SimdKernels`, needs `--add-modules
  *     jdk.incubator.vector` — wired in build.sbt/.jvmopts) checks the
  *     contiguous 1-byte string-row layout (`unitStrings`) that the SWAR
  *     byte lanes in `ByteKernels` need. Module absence is RECORDED
  *     ([[FastLanes.simdStatus]]), not an error.
  *  3. Anything that doesn't expose plain on-heap arrays — off-heap
  *     vectors, dictionary pages (memoized upstream), reflection
  *     unavailable — keeps the caller's generic per-row loop (every
  *     entry point returns -1; semantics identical on all rungs, pinned
  *     by the seeded differential tests on both `forceOff` settings).
  *
  * The backing arrays are private fields; this is deliberate use of
  * reflection against a classpath (unnamed-module) Spark, cached as
  * `Field` handles once. If any field lookup fails (a Spark upgrade
  * renames them), [[reflective]] is false and EVERY lane reports
  * not-applicable — semantics never change, only speed.
  */
private[graft] object FastLanes {

  // ------------------------------------------------ availability probes

  /** Right(laneInfo) when the Vector API is loadable, Left(reason)
    * otherwise (module absent → NoClassDefFoundError at first touch). */
  val simdStatus: Either[String, String] =
    try Right(graft.simd.SimdKernels.laneInfo())
    catch {
      case e: Throwable =>
        Left(e.getClass.getName + Option(e.getMessage).map(": " + _).getOrElse(""))
    }

  /** Test hook: `-Dgraft.simd.disabled=true` (or setting this var)
    * forces the generic per-row loops so differential tests can pin
    * fast lanes ≡ generic ≡ row pipeline. */
  @volatile private[graft] var forceOff: Boolean =
    java.lang.Boolean.getBoolean("graft.simd.disabled")

  /** One-line status for bench artifacts / logs. */
  def describe: String = simdStatus match {
    case Right(lanes) if !forceOff => s"vector-api on ($lanes), bitset lanes"
    case Right(_) => "vector-api available but disabled (graft.simd.disabled)"
    case Left(reason) => s"vector-api absent, scalar bitset lanes ($reason)"
  }

  private val fields: Option[Map[String, java.lang.reflect.Field]] =
    try {
      val names = Seq("nulls", "byteData", "shortData", "intData", "longData",
        "floatData", "doubleData", "arrayLengths", "arrayOffsets")
      Some(names.map { n =>
        val f = classOf[OnHeapColumnVector].getDeclaredField(n)
        f.setAccessible(true)
        n -> f
      }.toMap)
    } catch { case _: Throwable => None }

  def reflective: Boolean = fields.isDefined

  private def arr[T <: AnyRef](v: AnyRef, name: String): T =
    fields.get(name).get(v).asInstanceOf[T]

  /** The usable on-heap shape: plain decoded vector, no dictionary
    * (dictionary pages are memoized upstream and their data arrays are
    * ids, not values). The forceOff hook gates EVERY lane here. */
  private def usable(v: ColumnVector): OnHeapColumnVector = v match {
    case oh: OnHeapColumnVector if fields.isDefined && !forceOff &&
      !oh.hasDictionary => oh
    case _ => null
  }

  private def nullsOf(oh: OnHeapColumnVector): Array[Byte] =
    if (oh.hasNull) arr[Array[Byte]](oh, "nulls") else null

  // ------------------------------------------------------ numeric lanes

  def geLongBits(v: ColumnVector, n: Int, min: Long, bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Long]](oh, "longData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.geLongBits(data, nullsOf(oh), n, min, bits)
  }

  def rangeLongBits(v: ColumnVector, n: Int, lo: Long, hi: Long,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Long]](oh, "longData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeLongBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  def geIntBits(v: ColumnVector, n: Int, min: Int, bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Int]](oh, "intData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.geIntBits(data, nullsOf(oh), n, min, bits)
  }

  def rangeIntBits(v: ColumnVector, n: Int, lo: Int, hi: Int,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Int]](oh, "intData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeIntBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  def rangeShortBits(v: ColumnVector, n: Int, lo: Int, hi: Int,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Short]](oh, "shortData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeShortBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  def rangeByteBits(v: ColumnVector, n: Int, lo: Int, hi: Int,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Byte]](oh, "byteData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeByteBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  def rangeDoubleBits(v: ColumnVector, n: Int, lo: Double, hi: Double,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Double]](oh, "doubleData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeDoubleBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  def rangeFloatBits(v: ColumnVector, n: Int, lo: Double, hi: Double,
      bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val data = arr[Array[Float]](oh, "floatData")
    if (data == null || data.length < n) return -1L
    graft.simd.ByteKernels.rangeFloatBits(data, nullsOf(oh), n, lo, hi, bits)
  }

  /** Raw dictionary-id int array of a dictionary-encoded on-heap
    * vector (round-14 extension of the memo lane into the bitset
    * loops): the generic memo path previously paid a virtual
    * `getDictId(i)` + `isNullAt(i)` per row; with the ids' backing
    * array in hand the memo loop is an array load + byte lookup. Null
    * when reflection is off, the vector isn't on-heap, or there is no
    * dictionary. NOTE: deliberately not gated on `usable` — dictionary
    * vectors are exactly what `usable` rejects for the typed lanes. */
  def rawDictIds(v: ColumnVector, n: Int): Array[Int] = v match {
    case oh: OnHeapColumnVector if fields.isDefined && !forceOff && oh.hasDictionary =>
      oh.getDictionaryIds match {
        case ids: OnHeapColumnVector =>
          val a = arr[Array[Int]](ids, "intData")
          if (a != null && a.length >= n) a else null
        case _ => null
      }
    case _ => null
  }

  /** Raw null-flag byte array (1 = null) of an on-heap vector, or null
    * when absent / not accessible / the vector has no nulls. */
  def rawNullFlags(v: ColumnVector): Array[Byte] = v match {
    case oh: OnHeapColumnVector if fields.isDefined && !forceOff && oh.hasNull =>
      arr[Array[Byte]](oh, "nulls")
    case _ => null
  }

  /** NotNull over a vector KNOWN to contain nulls (the hasNull()==false
    * all-pass shortcut lives in the caller). */
  def notNullBits(v: ColumnVector, n: Int, bits: Array[Long]): Long = {
    val oh = usable(v)
    if (oh == null) return -1L
    val nulls = arr[Array[Byte]](oh, "nulls")
    if (nulls == null || nulls.length < n) return -1L
    graft.simd.ByteKernels.notNullBits(nulls, n, bits)
  }

  // ------------------------------------------------------- string lanes

  /** Decoded string layout: (offsets, lengths, contiguous UTF-8 child
    * bytes, nulls-or-null). Null when the vector isn't a plain on-heap
    * string vector. */
  final class StringArrays(
      val offs: Array[Int], val lens: Array[Int],
      val child: Array[Byte], val nulls: Array[Byte])

  /** Verified contiguous 1-byte-row layout (flag columns): unlocks the
    * SWAR byte kernels — checked, never assumed. The check itself uses
    * the Vector API when present, a scalar loop otherwise (the SWAR
    * kernels need no module; forceOff still disables everything
    * upstream in `usable`). */
  private def unitLayout(sa: StringArrays, n: Int): Boolean =
    n > 0 && {
      if (simdStatus.isRight) graft.simd.SimdKernels.unitStrings(sa.offs, sa.lens, n)
      else graft.simd.ByteKernels.unitStringsScalar(sa.offs, sa.lens, n)
    } && sa.offs(0) >= 0 && sa.offs(0).toLong + n <= sa.child.length

  // Candidate-count-specialized SWAR dispatch (round 14): the Vector
  // API compare blocks measured a flat ~1.48 ns/row regardless of
  // candidate count — the VectorMask.toLong bridge, not the compares,
  // was the cost. The SWAR kernels (8 rows per scalar long, zero-byte
  // trick + multiply-gather) run 0.28–0.38 ns/row (SCALE.md round-14 notes)
  // and need no incubator module.
  private def set4(sa: StringArrays, n: Int, c0: Byte, c1: Byte, c2: Byte,
      c3: Byte, bits: Array[Long]): Long =
    graft.simd.ByteKernels.byteSet4ContigSwar(sa.child, sa.offs(0), n,
      c0, c1, c2, c3, sa.nulls, bits)

  private def set1(sa: StringArrays, n: Int, c0: Byte, bits: Array[Long]): Long =
    graft.simd.ByteKernels.byteEqContigSwar(sa.child, sa.offs(0), n,
      c0, sa.nulls, bits)

  def stringDomainBits(sa: StringArrays, n: Int, cands: Array[Array[Byte]],
      bits: Array[Long]): Long =
    if (cands.nonEmpty && cands.length <= 4 && cands.forall(_.length == 1)
        && unitLayout(sa, n)) {
      cands.length match {
        case 1 => set1(sa, n, cands(0)(0), bits)
        case 2 => graft.simd.ByteKernels.byteSet2ContigSwar(
          sa.child, sa.offs(0), n, cands(0)(0), cands(1)(0), sa.nulls, bits)
        case _ =>
          val c0 = cands(0)(0)
          val c2 = if (cands.length > 2) cands(2)(0) else c0
          val c3 = if (cands.length > 3) cands(3)(0) else c0
          set4(sa, n, c0, cands(1)(0), c2, c3, bits)
      }
    } else graft.simd.ByteKernels.domainBits(
      sa.offs, sa.lens, sa.child, sa.nulls, n, cands, bits)

  // On length-1 rows, a 1-byte Equals/StartsWith/EndsWith/Contains all
  // reduce to byte equality — the same native set kernel.
  def stringEqualsBits(sa: StringArrays, n: Int, pat: Array[Byte],
      bits: Array[Long]): Long =
    if (pat.length == 1 && unitLayout(sa, n))
      set1(sa, n, pat(0), bits)
    else graft.simd.ByteKernels.equalsLitBits(
      sa.offs, sa.lens, sa.child, sa.nulls, n, pat, bits)

  def stringStartsWithBits(sa: StringArrays, n: Int, pat: Array[Byte],
      bits: Array[Long]): Long =
    if (pat.length == 1 && unitLayout(sa, n))
      set1(sa, n, pat(0), bits)
    else graft.simd.ByteKernels.startsWithBits(
      sa.offs, sa.lens, sa.child, sa.nulls, n, pat, bits)

  def stringEndsWithBits(sa: StringArrays, n: Int, pat: Array[Byte],
      bits: Array[Long]): Long =
    if (pat.length == 1 && unitLayout(sa, n))
      set1(sa, n, pat(0), bits)
    else graft.simd.ByteKernels.endsWithBits(
      sa.offs, sa.lens, sa.child, sa.nulls, n, pat, bits)

  def stringContainsBits(sa: StringArrays, n: Int, pat: Array[Byte],
      bits: Array[Long]): Long =
    if (pat.length == 1 && unitLayout(sa, n))
      set1(sa, n, pat(0), bits)
    else graft.simd.ByteKernels.containsLitBits(
      sa.offs, sa.lens, sa.child, sa.nulls, n, pat, bits)

  def strings(v: ColumnVector, n: Int): StringArrays = {
    val oh = usable(v)
    if (oh == null) return null
    val offs = arr[Array[Int]](oh, "arrayOffsets")
    val lens = arr[Array[Int]](oh, "arrayLengths")
    if (offs == null || lens == null || offs.length < n || lens.length < n)
      return null
    oh.arrayData() match {
      case child: OnHeapColumnVector =>
        val bytes = arr[Array[Byte]](child, "byteData")
        if (bytes == null) return null
        // Mirror the notNullBits guard: the SWAR kernels read the
        // null-flag array 8 bytes at a stride up to index n-1, so a
        // shorter-than-n flags array must fall back to the generic lane
        // (passing null here would claim "no nulls" — wrong, not slow).
        val nulls = nullsOf(oh)
        if (nulls != null && nulls.length < n) null
        else new StringArrays(offs, lens, bytes, nulls)
      case _ => null
    }
  }
}
