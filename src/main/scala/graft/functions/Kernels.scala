package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport,
  GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The static loop bodies of the native expressions in this package, one
  * copy each. An expression's interpreted `nullSafeEval` and its generated
  * code both call the method here — generated code as a plain static call
  * (`graft.functions.Kernels.cosine(a, b)`, see [[call]]), so the
  * expression stays inside the whole-stage-codegen span and the two
  * evaluation modes cannot drift apart (EvalModeParitySpec runs both).
  *
  * Accumulation is left-to-right in double precision — bit-identical to
  * the higher-order-function references in `graft.ops.Similarity` and
  * `graft.ops.Quantize`, which is what the DuckDB oracle reproduces.
  * Elements past a vector's length contribute nothing (ragged clamp). Null
  * ELEMENTS inside vectors are not supported (embedding arrays are dense
  * by contract); null vectors never reach a kernel (null propagates).
  */
object Kernels {

  /** Generated code for `Kernels.<method>(args)`. */
  private[functions] def call(method: String, args: Any*): String =
    s"graft.functions.Kernels.$method(${args.mkString(", ")})"

  /** cosine(a, b) = a·b / (‖a‖·‖b‖), one pass over both arrays. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** a·b in one pass. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  /** ‖v‖₂ in one pass. */
  def l2Norm(x: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val xi = x.getFloat(i).toDouble; s += xi * xi; i += 1 }
    math.sqrt(s)
  }

  /** Bit i = (v · h_i) > 0 over the flat row-major [planes × dim]
    * hyperplane table `hp`. */
  def hyperplaneBucket(v: ArrayData, hp: Array[Double], planes: Int, dim: Int): Long = {
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var i = 0
    while (i < planes) {
      val off = i * dim
      var dot = 0.0
      var j = 0
      while (j < n) { dot += hp(off + j) * v.getFloat(j).toDouble; j += 1 }
      if (dot > 0.0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  /** Index of the nearest centroid of the flat row-major [k × dim] table. */
  def nearestCentroid(v: ArrayData, centroids: Array[Double], dim: Int): Int =
    scanSqL2(v, centroids, 0, centroids.length / dim, dim, argmin = true).toInt

  /** Squared L2 distance to the nearest centroid (the argmin's distance). */
  def centroidMinSqDist(v: ArrayData, centroids: Array[Double], dim: Int): Double =
    scanSqL2(v, centroids, 0, centroids.length / dim, dim, argmin = false)

  /** Flat cell id `super · k2 + sub`: the nearest super centroid, then the
    * nearest of that super cell's k2 sub centroids (rows
    * [super·k2, (super+1)·k2) of `sub`). */
  def hierCell(v: ArrayData, sup: Array[Double], sub: Array[Double], k2: Int,
      dim: Int): Int = {
    val s = scanSqL2(v, sup, 0, sup.length / dim, dim, argmin = true).toInt
    s * k2 + scanSqL2(v, sub, s * k2, k2, dim, argmin = true).toInt
  }

  /** The one squared-L2 scan of the centroid kernels, over rows
    * [from, from + count) of a flat row-major table: each distance
    * accumulated left-to-right, a strictly-smaller update, so ties break to
    * the earliest row. Returns the winning row's offset from `from` when
    * `argmin`, else its distance (Double.MaxValue when no row beats it). */
  private def scanSqL2(v: ArrayData, flat: Array[Double], from: Int, count: Int,
      dim: Int, argmin: Boolean): Double = {
    val n = math.min(dim, v.numElements())
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < count) {
      val off = (from + c) * dim
      var dist = 0.0
      var j = 0
      while (j < n) {
        val d = v.getFloat(j).toDouble - flat(off + j)
        dist += d * d; j += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    if (argmin) best else bestDist
  }

  /** Exact round-half-up for non-negative d (parity with Spark round()
    * HALF_UP and DuckDB round() half-away-from-zero on positives):
    * `d - floor(d)` is exact for d < 2^52, so the .5 comparison cannot be
    * perturbed the way `floor(d + 0.5)` is.
    */
  private def roundHalfUpNonNeg(d: Double): Long = {
    val f = d.toLong
    if (d - f >= 0.5) f + 1L else f
  }

  /** Int8 quantization audit in one fused pass: min/max, affine int8
    * codes, code stats, max reconstruction error.
    */
  def audit(v: ArrayData): InternalRow = {
    val n = v.numElements()
    if (n == 0) // matches the HOF formulation: aggregate(empty)=0, min/max null
      return InternalRow(0L, null, null, 0L, null, null, null)
    // min/max under SPARK's ordering (NaN sorts greatest): array_min skips
    // NaN unless all elements are NaN, array_max is NaN if ANY element is —
    // the HOF formulation sees exactly this, so the kernel must too
    var qmin = v.getFloat(0).toDouble
    var qmax = qmin
    var i = 1
    while (i < n) {
      val x = v.getFloat(i).toDouble
      if (x < qmin || qmin.isNaN) qmin = x
      if (x > qmax || x.isNaN) qmax = x
      i += 1
    }
    val span = qmax - qmin
    val scale = span / 255.0
    var cSum = 0L
    var cMin = Long.MaxValue
    var cMax = Long.MinValue
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      val c = if (span == 0.0) 0L else roundHalfUpNonNeg((x - qmin) / scale)
      cSum += c
      if (c < cMin) cMin = c
      if (c > cMax) cMax = c
      if (span != 0.0) {
        val err = math.abs(qmin + c.toDouble * scale - x)
        // array_max semantics again: NaN (from a NaN element) wins and sticks
        if (err > maxErr || err.isNaN) maxErr = err
      }
      i += 1
    }
    InternalRow(n.toLong, qmin, qmax, cSum, cMin, cMax, maxErr)
  }

  /** Residual PQ codes in one pass. Per subspace `i` and codebook entry
    * `c`: dist = Σ_j (((double)v[i·dSub+j] − coarse[cid·dim + i·dSub+j])
    * − cb[((i·kSub)+c)·dSub+j])², accumulated left-to-right; argmin with
    * strictly-smaller update. Elements past the vector's length contribute
    * nothing (ragged clamp).
    */
  def pqResidualCodes(v: ArrayData, cid: Int, coarse: Array[Double],
      codebooksFlat: Array[Double], m: Int, kSub: Int,
      dSub: Int): ArrayData = {
    val dim = m * dSub
    val n = v.numElements()
    val codes = new Array[Long](m)
    var i = 0
    while (i < m) {
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < kSub) {
        val cbOff = (i * kSub + c) * dSub
        var dist = 0.0
        var j = 0
        while (j < dSub) {
          val idx = i * dSub + j
          if (idx < n) {
            val r = v.getFloat(idx).toDouble - coarse(cid * dim + idx)
            val d = r - codebooksFlat(cbOff + j)
            dist += d * d
          }
          j += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      codes(i) = best.toLong
      i += 1
    }
    new GenericArrayData(codes)
  }

  /** Word tokens of `s`: the maximal runs of `[A-Za-z0-9_]` bytes, in
    * order — the array `array_remove(split(s, "\\W+"), "")` yields, since
    * Java's `\W` is every char outside that class and every byte of a
    * non-ASCII (or invalid) UTF-8 sequence is >= 0x80, a separator here.
    * With `lower`, ASCII text is lower-cased byte by byte; text with any
    * byte >= 0x80 is first lower-cased by Spark's own `lower()` kernel
    * (`useICU` as the `Lower` expression reads it), whose output is then
    * tokenized, so both forms equal the regex over `lower(s)` by
    * construction and ASCII text never reaches ICU case mapping. The
    * tokens are views onto one private copy of the input bytes. */
  def wordTokens(s: UTF8String, lower: Boolean, useICU: Boolean): ArrayData = {
    val n = s.numBytes
    val bytes = new Array[Byte](n)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    // pass 1: count the runs; a non-ASCII byte under `lower` hands over
    var count = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val word = isWordByte(b)
      if (word && !inRun) count += 1
      else if (b < 0 && lower) return wordTokens(
        CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU),
        lower = false, useICU)
      inRun = word
      i += 1
    }
    // pass 2: lower-case in place and cut the runs out as views
    val out = new Array[Any](count)
    var t = 0
    var start = -1
    i = 0
    while (i <= n) {
      if (i < n && isWordByte(bytes(i))) {
        if (lower && bytes(i) >= 'A' && bytes(i) <= 'Z') bytes(i) = (bytes(i) + 32).toByte
        if (start < 0) start = i
      } else if (start >= 0) {
        out(t) = UTF8String.fromBytes(bytes, start, i - start)
        t += 1
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `[A-Za-z0-9_]`: the bytes of Java's `\w`. */
  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  // form is a plan-time constant; resolve the enum once, not per row
  private val forms: Map[String, Normalizer.Form] =
    Normalizer.Form.values().map(f => f.name -> f).toMap

  /** Unicode normalization to `form` (NFC | NFD | NFKC | NFKD); the
    * already-normalized case is a cheap scan. */
  def normalize(s: UTF8String, form: String): UTF8String = {
    val f = forms(form)
    val str = s.toString
    if (Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }
}
