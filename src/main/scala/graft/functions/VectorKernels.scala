package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native kernels for the embedding hot path — quantize, exact dot
  * product, exact squared L2 — called by the `vec_quantize`,
  * `*_longs` rows of [[Kernels]].
  *
  * The higher-order-function formulations in [[VectorFunctions]]
  * (`transform`/`zip_with`/`aggregate`) are semantically identical but
  * evaluate their lambda per element through the interpreted path
  * (HigherOrderFunction is CodegenFallback), boxing every element of
  * every 64-float vector on every comparison. These kernels run one
  * primitive `while` loop over the unsafe array data instead. Every ANN /
  * embedding-dedup query (q23/q24/q33/q40/q44/q56) sits on top of them;
  * the brute-force q23 at sf0.1 does 500 × 5 000 dots of dim 64 — ~2 ms
  * of multiply-adds that the interpreted form turns into ~10⁹ boxed
  * lambda calls.
  *
  * Interpreted eval and codegen share one kernel each;
  * VectorExpressionsSpec pins them value-identical to
  * the HOF forms, including null-element and length-mismatch semantics
  * (`zip_with` pads the shorter side with null, so a length mismatch
  * yields a null sum — the kernels reproduce exactly that). */
object VectorKernels {

  /** floor(x * scale) per element, null elements pass through. */
  def quantize(arr: ArrayData, isFloat: Boolean, scale: Double): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        out(i) = java.lang.Long.valueOf(math.floor(x * scale).toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ aᵢ·bᵢ over long arrays; null on length mismatch or null element
    * (the zip_with-pads-null semantics of [[VectorFunctions.dotExact]]). */
  def dotLongs(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** max |aᵢ| over a long array; null on null element, 0 when empty. */
  def maxAbsLongs(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(a.getLong(i))
      if (v > acc) acc = v
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Symmetric int8 (127-level) scalar-quantization reconstruction
    * error, entirely in integer arithmetic: with s = max|aᵢ|, each
    * magnitude m quantizes to code m·127/s (truncating division — both
    * operands non-negative, so trunc ≡ floor in any engine) and
    * reconstructs as code·s/127; returns Σ (m − reconstructed)². An
    * all-zero vector returns 0; null on null element. Magnitudes must
    * stay below ~2⁵⁶/127 for the intermediate product — the 1e6-scaled
    * unit-norm embeddings are 10 orders of magnitude under that. */
  def sq8SqErrLongs(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    var i = 0
    var s = 0L
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = math.abs(a.getLong(i))
      if (v > s) s = v
      i += 1
    }
    if (s == 0L) return java.lang.Long.valueOf(0L)
    var acc = 0L
    i = 0
    while (i < n) {
      val m = math.abs(a.getLong(i))
      val code = m * 127L / s
      val rec = code * s / 127L
      val d = m - rec
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Element-wise aᵢ−bᵢ over long arrays (the IVF residual kernel:
    * vector − assigned centroid); null on length mismatch, null elements
    * propagate per position — the zip_with semantics. */
  def subLongs(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        out(i) = java.lang.Long.valueOf(a.getLong(i) - b.getLong(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ (aᵢ−bᵢ)² over long arrays; null semantics as [[dotLongs]]. */
  def sqdistLongs(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
