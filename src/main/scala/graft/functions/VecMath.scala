package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Tight-loop vector kernels called from generated code (one static call per
  * row — see [[org.apache.spark.sql.graftx.DotF32]]). Operating directly on
  * Catalyst's ArrayData avoids the per-ELEMENT boxing and array allocation a
  * `zip_with`/`aggregate` higher-order-function chain pays: those lambdas are
  * interpreted per element, which at corpus x centroid fan-out (the IVF
  * assignment pass computes n x nLists dots) dominated the ANN runtime.
  *
  * Null semantics mirror the HOF formulation they replace: mismatched
  * lengths or a null element yield null (zip_with pads with null, and
  * null poisons the aggregate fold); two empty arrays dot to 0.0.
  */
object VecMath {

  /** Dot product with per-side element width chosen by codegen-constant
    * flags (JIT specializes each call site): `array<double>` inputs keep
    * their full 52-bit mantissa instead of being implicitly cast down to
    * float — the HOF formulation this kernel replaces computed in double
    * throughout, and a silent float round-trip would change results for
    * double-typed callers.
    */
  def dotMixed(a: ArrayData, b: ArrayData,
               aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Random-hyperplane LSH bucket id: plane j's sign for dimension i is
    * derived from the SAME xxhash64 chain the Column formulation used
    * (`xxhash64(i, j)` = XXH64.hashInt(i, seed=42) re-seeded with j), so
    * buckets are bit-identical to the `zip_with`/`aggregate` version this
    * replaces — INCLUDING the degenerate inputs: a null element nulls every
    * projection, whose `when(proj >= 0, bit).otherwise(0)` collapsed to
    * bucket 0, and an EMPTY vector also lands in bucket 0 (legacy
    * `sequence(0, size-1)` on size 0 produced [0, -1], whose null-padded
    * zip poisoned every projection — not an all-bits 0.0 projection).
    */
  def lshBucketF32(v: ArrayData, nPlanes: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = v.numElements()
    if (n == 0) return 0L
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      var proj = 0.0
      var anyNull = false
      var i = 0
      while (i < n && !anyNull) {
        if (v.isNullAt(i)) anyNull = true
        else {
          val h = XXH64.hashInt(j, XXH64.hashInt(i, 42L))
          val sign = if ((h & 1L) == 0L) 1.0 else -1.0
          proj += v.getFloat(i).toDouble * sign
          i += 1
        }
      }
      // NOT `proj >= 0`: Java orders NaN below everything (`NaN >= 0` is
      // false) while Spark SQL's `when(proj >= 0, ...)` orders NaN ABOVE
      // every number (true) — a vector whose Inf elements cancel to NaN
      // must land in the same bucket on both paths, so use the negation
      // that Java evaluates the Spark way.
      if (!anyNull && !(proj < 0)) bucket |= 1L << j
      j += 1
    }
    bucket
  }
}

/** Driver-built centroid table for the IVF probe kernel
  * ([[org.apache.spark.sql.graftx.IvfProbesF32]]). Bounded by the nLists
  * CONSTANT (<= 64 in every caller), never by data size — the same
  * driver-side posture as the seed collect it extends. Vectors are boxed
  * doubles so null elements (a null-element seed vector, an all-null
  * refined dimension) keep the exact null semantics of the Column chain
  * this replaces; float centroids are widened to double up front, which is
  * exact and matches DotF32's per-element `getFloat(i).toDouble`.
  */
final class IvfCentroids(val cells: Array[Int],
                         val vecs: Array[Array[java.lang.Double]]) extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  /** norm(cv) = sqrt(dot(cv, cv)) with the kernel's sequential loop —
    * null if the vector is null or has a null element (zip_with/DotF32
    * null poisoning).
    */
  val norms: Array[java.lang.Double] = vecs.map { v =>
    if (v == null) null
    else {
      var s = 0.0; var i = 0; var bad = false
      while (i < v.length && !bad) {
        if (v(i) == null) bad = true
        else { val x = v(i).doubleValue(); s += x * x; i += 1 }
      }
      if (bad) null else java.lang.Double.valueOf(math.sqrt(s))
    }
  }

  /** dot(v, c) over a centroid with no null elements (callers branch on
    * norms(ci) == null first): null only on length mismatch, like
    * [[VecMath.dotMixed]].
    */
  private def dot(v: ArrayData, vIsFloat: Boolean,
                  c: Array[java.lang.Double]): java.lang.Double = {
    if (v.numElements() != c.length) return null
    var s = 0.0; var i = 0
    while (i < c.length) {
      val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      s += x * c(i).doubleValue()
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Top-`nProbe` cell ids for one vector, ordered EXACTLY as the Window
    * shape it replaces — row_number() OVER (ORDER BY ccos DESC, cell ASC)
    * with desc's default NULLS LAST, NaN above every number and
    * -0.0 == 0.0 (Spark's double ordering: java.lang.Double.compare for
    * unequal values, so a ±0.0 tie falls through to the cell order).
    * Element 0 is therefore also exactly
    * max_by(cell, struct(ccos, -cell)) — the inverted-list assignment:
    * both orderings put the max-ccos cell (ties: smallest cell; all-null:
    * smallest cell) first for every null/NaN pattern.
    *
    * ccos replicates pairCos's three-valued logic verbatim:
    * WHEN nv = 0 OR ncv = 0 THEN 0.0 (true if either side is a true 0,
    * even when the other is null) ELSE dot(v, cv) / (nv * ncv) (null when
    * any input is null or lengths mismatch). A NULL input vector flows
    * through as nv = null, exactly like the Column chain.
    */
  def probes(v: ArrayData, vIsFloat: Boolean, nProbe: Int): ArrayData = {
    val n = cells.length
    var nvNull = false; var nv = 0.0
    if (v == null) nvNull = true
    else {
      var s = 0.0; var i = 0; val m = v.numElements(); var bad = false
      while (i < m && !bad) {
        if (v.isNullAt(i)) bad = true
        else { val x = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i); s += x * x; i += 1 }
      }
      if (bad) nvNull = true else nv = math.sqrt(s)
    }
    val cap = math.min(nProbe, n)
    val selCell = new Array[Int](math.max(cap, 0))
    val selCos = new Array[Double](selCell.length)
    val selNull = new Array[Boolean](selCell.length)
    var count = 0
    var ci = 0
    while (ci < n) {
      val ncv = norms(ci)
      var isNull = false; var cos = 0.0
      val condTrue = (!nvNull && nv == 0.0) || (ncv != null && ncv.doubleValue() == 0.0)
      if (condTrue) cos = 0.0
      else if (nvNull || ncv == null) isNull = true
      else {
        val d = if (vecs(ci) == null) null else dot(v, vIsFloat, vecs(ci))
        if (d == null) isNull = true else cos = d.doubleValue() / (nv * ncv.doubleValue())
      }
      val cell = cells(ci)
      // ranks-before: non-null before null; desc by cos (NaN largest,
      // -0.0 == 0.0); ties by smaller cell. Insertion keeps sel sorted.
      def before(aCell: Int, aCos: Double, aNull: Boolean, j: Int): Boolean = {
        if (aNull != selNull(j)) !aNull
        else if (!aNull) {
          val c = if (selCos(j) == aCos) 0 else java.lang.Double.compare(selCos(j), aCos)
          if (c != 0) c < 0 else aCell < selCell(j)
        } else aCell < selCell(j)
      }
      var pos = count
      while (pos > 0 && before(cell, cos, isNull, pos - 1)) pos -= 1
      if (pos < cap) {
        val last = math.min(count, cap - 1)
        var j = last
        while (j > pos) {
          selCell(j) = selCell(j - 1); selCos(j) = selCos(j - 1); selNull(j) = selNull(j - 1)
          j -= 1
        }
        selCell(pos) = cell; selCos(pos) = cos; selNull(pos) = isNull
        if (count < cap) count += 1
      }
      ci += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(selCell, count))
  }
}
