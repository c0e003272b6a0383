package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Shared shape of the matrix × vector kernels: `left` is an
  * array<array<double>> (in practice a literal codebook — k centroids),
  * `right` an array<float|double> row vector; the result is one double
  * per matrix row.
  *
  * Why an expression and not k unrolled `graft_dot(lit, v)` subtrees:
  * plan SIZE is a scale cost of its own. The unrolled IVF-PQ assignment
  * (m=8 subspaces × k=16 centroids = 128 dot nodes + 1024 literal
  * doubles) made every optimizer pass crawl — and AQE re-optimizes the
  * remaining plan after EVERY materialized stage, so an 11-stage search
  * paid that tree ~11× per run (measured: trained IVF-PQ 2.2 s/run vs
  * 1.0 s for the structurally-identical fixed twin; VERDICT r9 task 3).
  * One node per subspace with the codebook as a single nested-array
  * literal keeps the optimizer O(plan), and the generated code is the
  * same fused loop — no HOF lambda, no codegen fallback, no per-cell
  * array allocation.
  *
  * Element semantics mirror the unrolled composition EXACTLY, because
  * the fixed-twin oracle hashes pin them: each output element is the
  * same left-to-right fold as [[DotProduct]] (bit-identical doubles —
  * IEEE multiply commutes, addition order is element order), a row/
  * vector length mismatch or null element yields a null ELEMENT (the
  * unrolled `array(graft_dot…)` put a null cell in the array, not a
  * null array), and a null vector or matrix yields null (BinaryExpression
  * null-intolerance, same as before). */
abstract class MatVecKernel extends BinaryExpression {
  protected def vecElemType: Option[DataType] = right.dataType match {
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(FloatType, _) => Some(FloatType)
    case _ => None
  }
  private def matrixOk: Boolean = left.dataType match {
    case ArrayType(ArrayType(DoubleType, _), _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (matrixOk && vecElemType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<array<double>>, array<float|double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  protected def isFloatVec: Boolean = vecElemType.contains(FloatType)

  /** False for `graft_matvec` (row·v), true for `graft_pq_costs`
    * (|row|² − 2·row·v); [[Kernels.matVec]] folds both. */
  protected def costs: Boolean

  override def nullSafeEval(m: Any, v: Any): Any = Kernels.matVec(
    m.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData], isFloatVec, costs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, v) =>
      s"${ev.value} = graft.plans.Kernels.matVec($m, $v, $isFloatVec, $costs);")
}

/** `graft_matvec(M, v)` — array of row·v dot products, one
  * [[DotProduct]]-fold per matrix row. Used for the IVF coarse
  * assignment (`sims` over the centroid codebook). */
case class MatVecDots(left: Expression, right: Expression)
    extends MatVecKernel {
  override def prettyName: String = "graft_matvec"

  override protected def costs: Boolean = false

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_costs(C, v)` — per-centroid ADC cost |c|² − 2·(c·v), the
  * argmin body of PQ code assignment. |c|² is folded left-to-right at
  * eval time — the same `fold(a + x·x)` the driver used when it was a
  * precomputed literal, so costs stay bit-identical to the unrolled
  * `lit(cn2) - 2.0 * graft_dot(sv, lit(cv))` composition that the
  * fixed-twin oracle hashes pin. */
case class PqCosts(left: Expression, right: Expression)
    extends MatVecKernel {
  override def prettyName: String = "graft_pq_costs"

  override protected def costs: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_adc(lut, codes, k)` — the fused ADC shortlist score:
  * Σ_j lut[j·k + codes[j]] over j = 0..m−1 (0-based; m = codes length),
  * folded left-to-right in j order.
  *
  * Why a native expression and not m unrolled
  * `element_at(lutarr, j*k + c_j + 1)` terms: the unrolled chain's
  * generated projection code grows with m × (element_at + the index
  * arithmetic + null plumbing) and at m=8 fell off the fast execution
  * path entirely — measured 25 s vs 1.5 s for eight IDENTICAL lookups
  * with a non-code index on the same 750 k-row candidate stream (r14
  * task 7 bisection; the whole vec_ann_ivfpq "probe wall" at 100×
  * grown). One tiny loop keeps the generated method small and the JIT
  * warm at ANY (m, k).
  *
  * Null/order semantics mirror the unrolled chain on the valid code
  * domain (the fixed twin's oracle hash pins them): null lut/codes
  * array → null (BinaryExpression null-intolerance); a null codes
  * element, an out-of-range index, or a null lut element → null result
  * (element_at under non-ANSI returns null out-of-range, and one null
  * term nulls the whole + chain); addition order is ascending j —
  * bit-identical doubles. OFF-domain divergence (ADVICE r14): for a
  * NEGATIVE code element, element_at indexes from the array END (and
  * throws at 0) while this expression returns null — unreachable in
  * practice because PQ codes are contractually in [0, k) (pqAssign
  * emits argmin codes over 0..k-1), but the twins are NOT equivalent
  * for arbitrary ill-formed inputs. */
case class AdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_adc"
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) if k > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<int>, k > 0), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString}, $k)")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val isNullOut = new Array[Boolean](1)

  override def nullSafeEval(l: Any, c: Any): Any = {
    val acc = Kernels.adc(l.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData], k, isNullOut)
    if (isNullOut(0)) null else acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isNull = Kernels.nullFlag(ctx)
    nullSafeCodeGen(ctx, ev, (lut, codes) => s"""
      |${ev.value} = graft.plans.Kernels.adc($lut, $codes, $k, $isNull);
      |${ev.isNull} = $isNull[0];""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
