package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives for the similarity-search pipeline.
  * All stay inside Catalyst higher-order functions (codegen, no UDF).
  *
  * The *exact* integer-quantized variants exist so correctness oracles in
  * other engines compare bit-identically: a float dot product's value can
  * differ in the last ulp between engines depending on summation order,
  * but `Σ floor(x*1e6) * floor(y*1e6)` over int64 is engine-independent.
  */
object VectorFunctions {

  /** Quantize a float/double vector to int64 (1e-6 resolution) through
    * the native `vec_quantize` kernel (one primitive loop; the
    * `transform` lambda form evaluates interpreted per element —
    * [[quantizeHof]] keeps it for the parity spec). */
  def quantize(vec: Column, scale: Double = 1e6): Column =
    call_function("vec_quantize", vec, lit(scale))

  /** Higher-order-function twin of [[quantize]] (CodegenFallback path;
    * VectorExpressionsSpec pins both value-identical). */
  def quantizeHof(vec: Column, scale: Double = 1e6): Column =
    transform(vec, x => floor(x.cast("double") * lit(scale)).cast("long"))

  /** Exact int64 dot product of two quantized vectors — native
    * `dot_longs` kernel. */
  def dotExact(a: Column, b: Column): Column =
    call_function("dot_longs", a, b)

  /** Higher-order-function twin of [[dotExact]] (parity spec only). */
  def dotExactHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Element-wise int64 difference of two quantized vectors — native
    * `sub_longs` kernel (the residual-IVF-PQ kernel
    * `x − centroid(cell(x))`). */
  def subExact(a: Column, b: Column): Column =
    call_function("sub_longs", a, b)

  /** Higher-order-function twin of [[subExact]] (parity spec only). */
  def subExactHof(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** Exact int64 squared L2 distance of two quantized vectors — native
    * `sqdist_longs` kernel (the k-means / IVF assignment kernel). */
  def sqDistExact(a: Column, b: Column): Column =
    call_function("sqdist_longs", a, b)

  /** Higher-order-function twin of [[sqDistExact]] (parity spec only). */
  def sqDistExactHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (s, v) => s + v)

  /** Max absolute element of a quantized vector — native
    * `maxabs_longs` kernel (the SQ8 per-vector scale). */
  def maxAbsExact(a: Column): Column =
    call_function("maxabs_longs", a)

  /** Exact int64 squared reconstruction error of symmetric 127-level
    * scalar quantization at the vector's own max-abs scale — native
    * `sq8_sqerr_longs` kernel. */
  def sq8SqErrExact(a: Column): Column =
    call_function("sq8_sqerr_longs", a)

  /** Lexicographic (d, id) argmin key packed into ONE long:
    * `d * 2^idBits + id` orders exactly like `struct(d, id)` while
    * 0 ≤ id < 2^idBits and d < 2^(63-idBits). A struct-valued `min`
    * forces SortAggregate (struct agg buffers aren't hash-mutable);
    * the packed long keeps a per-key argmin inside HashAggregate with
    * map-side partials. The multiplication deliberately stays an ANSI
    * checked op — a caller whose distances exceed the bound gets a loud
    * ARITHMETIC_OVERFLOW, never a silently wrong argmin (a shift would
    * wrap). Size `idBits` from the actual id domain
    * ([[bitsFor]]) so the distance headroom is maximal. */
  def packDistId(d: Column, id: Column, idBits: Int): Column = {
    require(idBits >= 1 && idBits <= 32, s"packDistId: idBits=$idBits")
    d * lit(1L << idBits) + id
  }

  /** Recover the id from a [[packDistId]] key. */
  def unpackId(packed: Column, idBits: Int): Column =
    pmod(packed, lit(1L << idBits))

  /** Bits needed to hold ids in [0, maxId]. */
  def bitsFor(maxId: Long): Int = {
    require(maxId >= 0, s"bitsFor: negative id $maxId")
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(maxId, 1L)))
  }

  /** Double-precision dot product (sequential fold, deterministic order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** L2-normalize an embedding (the standard ANN preprocessing step so
    * dot product ≡ cosine); zero vectors pass through unchanged. */
  def l2normalize(vec: Column): Column = {
    val n = norm(vec)
    when(n > 0, transform(vec, x => x.cast("double") / n)).otherwise(vec)
  }

  /** Coarse LSH bucket for an embedding: sign bits of the first `nBits`
    * components. Cheap, deterministic, engine-portable; used to prune the
    * candidate set before exact re-ranking (IVF-style scale path). */
  def signBucket(vec: Column, nBits: Int = 8): Column = {
    val bits = (0 until nBits).map { i =>
      when(element_at(vec, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
