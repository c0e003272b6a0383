package graft

import graft.plans.GraftFunctions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** One sweep over every native kernel that `GraftFunctions` registers:
  * each `graft_*` call is evaluated at the expression level through
  * InterpretedUnsafeProjection (`nullSafeEval`) and through
  * GenerateUnsafeProjection (`doGenCode`), and the two UnsafeRows must be
  * byte-equal. Working on expressions, not DataFrames, means no optimizer
  * rule (ConvertToLocalRelation folds a `Seq.toDF` frame) can take the
  * generated side away, and no Spark job runs. A kernel registered without
  * an input generator here fails the sweep.
  *
  * Inputs: random float and double arrays of lengths 0/1/63/64/65 and small
  * ones, null elements, null arrays and unequal lengths, fed both as
  * GenericArrayData and as UnsafeArrayData; mixed dims in one projection
  * for `graft_srp_sig`; out-of-range and negative codes and null LUT cells
  * for `graft_adc`. */
class KernelSweepSpec extends AnyFunSuite {
  private val dbl = ArrayType(DoubleType)
  private val flt = ArrayType(FloatType)

  /** One kernel's sweep: the input columns' types, the argument lists of
    * the calls under test (all in one projection) and the input rows. */
  private case class Inputs(types: Seq[DataType], calls: Seq[Seq[Expression]],
      rows: Seq[Seq[Any]])

  private def refs(types: Seq[DataType]): Seq[BoundReference] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, true) }

  private final class Gen(seed: Long) {
    val rnd = new Random(seed)

    /** An edge length (0, 1, 63, 64, 65) or a small one. */
    def length(): Int =
      if (rnd.nextBoolean()) Seq(0, 1, 63, 64, 65)(rnd.nextInt(5))
      else 2 + rnd.nextInt(8)

    /** n random elements, one of them null with probability 1/8. */
    def vec(n: Int, float: Boolean): GenericArrayData = {
      val xs = Array.fill[Any](n) {
        val x = rnd.nextGaussian() * 4
        if (float) x.toFloat else x
      }
      if (n > 0 && rnd.nextInt(8) == 0) xs(rnd.nextInt(n)) = null
      new GenericArrayData(xs)
    }

    /** A vector of length n; null with probability 1/16 and of another
      * random length with probability 1/8. */
    def arg(n: Int, float: Boolean): Any = rnd.nextInt(16) match {
      case 0 => null
      case 1 | 2 => vec(length(), float)
      case _ => vec(n, float)
    }
  }

  private def dotInputs(g: Gen): Inputs = {
    val types = Seq(dbl, dbl, flt, flt)
    val Seq(a, b, fa, fb) = refs(types)
    val rows = Seq.fill(200) {
      val n = g.length()
      Seq(g.arg(n, false), g.arg(n, false), g.arg(n, true), g.arg(n, true))
    }
    Inputs(types,
      Seq(Seq(a, b), Seq(fa, b), Seq(a, fb), Seq(fa, fb), Seq(a, a)), rows)
  }

  /** graft_matvec and graft_pq_costs: a column matrix of 0/1/4/16 rows
    * (null rows, rows of another length and null elements included) and a
    * 4×64 literal codebook, against double and float vectors. */
  private def matVecInputs(g: Gen): Inputs = {
    val types = Seq(ArrayType(dbl), dbl, flt)
    val Seq(m, v, fv) = refs(types)
    val codebook = Literal.create(
      Seq.fill(4)(Seq.fill(64)(g.rnd.nextGaussian())), ArrayType(dbl))
    val rows = Seq.fill(200) {
      val n = g.length()
      val k = Seq(0, 1, 4, 16)(g.rnd.nextInt(4))
      val mat = new GenericArrayData(Array.fill[Any](k)(
        g.rnd.nextInt(10) match {
          case 0 => null
          case 1 => g.vec(g.length(), false)
          case _ => g.vec(n, false)
        }))
      Seq(if (g.rnd.nextInt(16) == 0) null else mat,
        g.arg(n, false), g.arg(n, true))
    }
    Inputs(types,
      Seq(Seq(m, v), Seq(m, fv), Seq(codebook, v), Seq(codebook, fv)), rows)
  }

  /** graft_adc with k = 1, 4, 16 over LUTs of m·16 cells (sometimes 3
    * short) and codes mostly in [0, 16), with negative, too-large and null
    * codes and null LUT cells; the fixed rows hit each null case. */
  private def adcInputs(g: Gen): Inputs = {
    val types = Seq(dbl, ArrayType(IntegerType))
    val Seq(lut, codes) = refs(types)
    def ints(xs: Any*) = new GenericArrayData(xs.toArray)
    def lutOf(n: Int, nullAt: Int = -1) = new GenericArrayData(
      Array.tabulate[Any](n)(i => if (i == nullAt) null else i * 0.5))
    val fixed = Seq(
      Seq(lutOf(16, nullAt = 0), ints(0)), // null LUT cell
      Seq(lutOf(16), ints(-1)), // negative index
      Seq(lutOf(32), ints(0, 16)), // index past the LUT for k = 16
      Seq(lutOf(32), ints(1, null))) // null code
    val random = Seq.fill(200) {
      val m = Seq(0, 1, 2, 8, 63, 64, 65)(g.rnd.nextInt(7))
      val cells = math.max(0, m * 16 - (if (g.rnd.nextInt(8) == 0) 3 else 0))
      val cs = Array.fill[Any](m)(g.rnd.nextInt(40) match {
        case 0 => -1 - g.rnd.nextInt(3)
        case 1 => 16 + g.rnd.nextInt(3)
        case 2 => null
        case _ => g.rnd.nextInt(16)
      })
      Seq(if (g.rnd.nextInt(16) == 0) null else g.vec(cells, false),
        if (g.rnd.nextInt(16) == 0) null else new GenericArrayData(cs))
    }
    Inputs(types, Seq(1, 4, 16).map(k => Seq(lut, codes, Literal(k))),
      fixed ++ random)
  }

  /** graft_srp_sig over rows of mixed dims in one projection, at several
    * band shapes, on double and float vectors. */
  private def srpInputs(g: Gen): Inputs = {
    val types = Seq(dbl, flt)
    val Seq(v, fv) = refs(types)
    val rows = Seq.fill(200) {
      val n = g.length()
      Seq(g.arg(n, false), g.arg(n, true))
    }
    val shapes = Seq((v, 4, 8), (v, 1, 63), (v, 2, 3), (fv, 3, 5), (fv, 16, 1))
    Inputs(types,
      shapes.map { case (c, b, bits) => Seq(c, Literal(b), Literal(bits)) },
      rows)
  }

  private val generators: Map[String, Gen => Inputs] = Map(
    "graft_dot" -> dotInputs _,
    "graft_matvec" -> matVecInputs _,
    "graft_pq_costs" -> matVecInputs _,
    "graft_adc" -> adcInputs _,
    "graft_srp_sig" -> srpInputs _)

  private val registered = GraftFunctions.descriptors.map {
    case (id, _, build) => id.funcName -> build
  }

  test("every registered kernel has an input generator") {
    assert(registered.map(_._1).toSet === generators.keySet)
  }

  registered.foreach { case (name, build) =>
    test(s"$name: codegen and interpreted eval write the same bytes") {
      val gen = generators.getOrElse(name,
        fail(s"$name is registered but has no input generator"))
      val in = gen(new Gen(name.hashCode.toLong))
      val exprs = in.calls.map(build)
      exprs.foreach(e => assert(e.checkInputDataTypes().isSuccess, e))
      val toUnsafe =
        InterpretedUnsafeProjection.createProjection(refs(in.types))
      val inputs = in.rows.flatMap { r =>
        val row = new GenericInternalRow(r.toArray)
        Seq(row, toUnsafe(row).copy())
      }
      val interpreted = InterpretedUnsafeProjection.createProjection(exprs)
      val generated = GenerateUnsafeProjection.generate(exprs, false)
      val nulls = new Array[Int](exprs.size)
      inputs.zipWithIndex.foreach { case (row, r) =>
        val want = interpreted(row).copy()
        val got = generated(row)
        assert(got.getBytes.sameElements(want.getBytes),
          s"input $r: codegen $got, interpreted $want")
        exprs.indices.foreach(i => if (want.isNullAt(i)) nulls(i) += 1)
      }
      // the inputs reach both the null and the non-null side of each call
      exprs.indices.foreach { i =>
        assert(nulls(i) > 0 && nulls(i) < inputs.size,
          s"${exprs(i)}: ${nulls(i)} of ${inputs.size} results null")
      }
    }
  }
}
