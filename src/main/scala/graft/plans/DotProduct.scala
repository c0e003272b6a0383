package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native fused dot product over two array<double> columns.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, *), 0.0, +)`) materializes
  * an intermediate products array per row; this expression is a single
  * loop ([[Kernels.dot]], called by both eval paths) — no allocation,
  * stays inside WholeStageCodegen. The summation is the same
  * left-to-right fold, so results are bit-identical
  * to the HOF version (and to DuckDB's list_reduce twin) and it can be
  * swapped into oracle-checked queries freely (SURVEY §4.3 escalation b).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case ArrayType(FloatType, _) => Some(FloatType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> on both sides, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // Floats widen exactly to double, so reading the float array directly is
  // bit-identical to transform(v, x -> cast(x as double)) — without the
  // HOF lambda projection that would knock the operator out of
  // whole-stage codegen.
  private def isFloat(e: Expression): Boolean =
    elemType(e).contains(FloatType)

  // Semantics match the HOF twin exactly so the optimizer rewrite is
  // value-preserving on EVERY input, not just well-formed ones:
  // zip_with pads unequal lengths with nulls and a null element poisons
  // the + fold to NULL — so unequal lengths or any null element → NULL.
  override def nullable: Boolean = true

  @transient private lazy val isNullOut = new Array[Boolean](1)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val s = Kernels.dot(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right), isNullOut)
    if (isNullOut(0)) null else s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isNull = Kernels.nullFlag(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |${ev.value} = graft.plans.Kernels.dot(
      |  $a, ${isFloat(left)}, $b, ${isFloat(right)}, $isNull);
      |${ev.isNull} = $isNull[0];""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one install point for graft's native extensions: the five native
  * functions, the two optimizer rules and the [[TopKStrategy]] and
  * [[GlobalRankStrategy]] planner strategies, added to an already-running
  * session. Idempotent, so callers install before every build:
  * [[graft.Registry.queries]] wraps each key's build with it and
  * [[graft.GraftSql.register]] calls it for the SQL facade. The rules run last (`experimental.extraOptimizations`),
  * after Spark's own `InferWindowGroupLimit`, so [[RewriteTopKPerGroup]]
  * sees the `WindowGroupLimit` it rewrites. */
object GraftFunctions {
  private[graft] type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def descriptor(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private def litInt(fn: String, what: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got $e")
  }

  // vals, not defs: re-registering stores an equal (info, builder) pair,
  // so Spark logs no "replaced a previously registered function" warning.
  private[graft] val descriptors: Seq[Descriptor] = Seq(
    descriptor("graft_dot", classOf[DotProduct])(c => DotProduct(c(0), c(1))),
    descriptor("graft_matvec", classOf[MatVecDots])(
      c => MatVecDots(c(0), c(1))),
    descriptor("graft_pq_costs", classOf[PqCosts])(c => PqCosts(c(0), c(1))),
    descriptor("graft_adc", classOf[AdcScore])(
      c => AdcScore(c(0), c(1), litInt("graft_adc", "k")(c(2)))),
    descriptor("graft_srp_sig", classOf[SrpSignature])(c =>
      SrpSignature(c(0), litInt("graft_srp_sig", "nBands")(c(1)),
        litInt("graft_srp_sig", "bitsPerBand")(c(2)))))

  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    val exp = spark.experimental
    Seq(RewriteHofDotProduct, RewriteTopKPerGroup).foreach { rule =>
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
    Seq(TopKStrategy, GlobalRankStrategy).foreach { strategy =>
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }
}
