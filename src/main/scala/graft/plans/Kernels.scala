package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The arithmetic of every native `graft_*` kernel, written once. Each
  * expression's interpreted `nullSafeEval` and its generated code call the
  * same method here — a top-level object gets Java static forwarders, so
  * generated code calls `graft.plans.Kernels.dot(...)` directly — and
  * `doGenCode` only emits that call. KernelSweepSpec checks the glue: it
  * compares both paths' UnsafeRow bytes for every registered kernel.
  *
  * Callers pass non-null arrays (a null input array is each expression's
  * null-intolerance). A float vector (`vFloat`) widens exactly to double
  * per element. Kernels with a double result return a primitive `double`
  * and report their null cases through the one-cell out-flag `isNull` in
  * the same pass, never through a boxed return; kernels with an array
  * result return the array, or null. Every fold runs left to right in
  * element order, so the doubles are bit-identical to the unrolled
  * compositions and DuckDB twins the oracle hashes pin. */
object Kernels {
  private def elem(v: ArrayData, i: Int, vFloat: Boolean): Double =
    if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** `graft_dot`: Σ x_i·y_i; null on unequal lengths or a null element. */
  def dot(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean,
      isNull: Array[Boolean]): Double = {
    val n = x.numElements()
    isNull(0) = true
    if (y.numElements() != n) return 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return 0.0
      s += elem(x, i, xFloat) * elem(y, i, yFloat)
      i += 1
    }
    isNull(0) = false
    s
  }

  /** `graft_matvec` (`costs` false: row·v) and `graft_pq_costs` (`costs`
    * true: |row|² − 2·(row·v)), one fold per matrix row. A null row, a row
    * of another length or a null element gives a null cell. */
  def matVec(mat: ArrayData, v: ArrayData, vFloat: Boolean,
      costs: Boolean): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](mat.numElements())
    var r = 0
    while (r < out.length) {
      if (!mat.isNullAt(r)) {
        val row = mat.getArray(r)
        if (row.numElements() == n) {
          var dot = 0.0
          var cn2 = 0.0
          var j = 0
          while (j < n && !row.isNullAt(j) && !v.isNullAt(j)) {
            val c = row.getDouble(j)
            dot += c * elem(v, j, vFloat)
            if (costs) cn2 += c * c
            j += 1
          }
          if (j == n) out(r) = if (costs) cn2 - 2.0 * dot else dot
        }
      }
      r += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_adc`: Σ_j lut[j·k + codes[j]] in ascending j; null on a null
    * code, an index outside the LUT (negative codes included) or a null
    * LUT cell. */
  def adc(lut: ArrayData, codes: ArrayData, k: Int,
      isNull: Array[Boolean]): Double = {
    val n = lut.numElements()
    isNull(0) = true
    var acc = 0.0
    var j = 0
    while (j < codes.numElements()) {
      if (codes.isNullAt(j)) return 0.0
      val idx = j * k + codes.getInt(j)
      if (idx < 0 || idx >= n || lut.isNullAt(idx)) return 0.0
      acc += lut.getDouble(idx)
      j += 1
    }
    isNull(0) = false
    acc
  }

  /** `graft_srp_sig`: band b packs the sign bits (≥ 0 → 1) of ⟨v, plane_p⟩
    * for p ∈ [b·bits, (b+1)·bits), high bit first. Null if v holds a null
    * element. */
  def srpSig(v: ArrayData, vFloat: Boolean, nBands: Int,
      bitsPerBand: Int): ArrayData = {
    val n = v.numElements()
    val nPlanes = nBands * bitsPerBand
    val planes = SrpPlanes.matrix(nPlanes, n)
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = elem(v, i, vFloat)
      var p = 0
      while (p < nPlanes) { acc(p) += x * planes(p * n + i); p += 1 }
      i += 1
    }
    val sigs = new Array[Long](nBands)
    var p = 0
    while (p < nPlanes) {
      val b = p / bitsPerBand
      sigs(b) = (sigs(b) << 1) | (if (acc(p) >= 0.0) 1L else 0L)
      p += 1
    }
    new GenericArrayData(sigs)
  }

  /** Generated-code name of the `isNull` out-flag: one `boolean[1]` per
    * generated class, shared by its kernel calls, each of which is read
    * right after its call returns. */
  def nullFlag(ctx: CodegenContext): String = {
    ctx.addImmutableStateIfNotExists("boolean[]", "graftKernelNull",
      v => s"$v = new boolean[1];")
    "graftKernelNull"
  }
}
