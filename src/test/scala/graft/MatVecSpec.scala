package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the graft_matvec / graft_pq_costs kernels (plans/MatVec.scala)
  * against the unrolled graft_dot composition they replaced: same
  * doubles bit-for-bit, same null-element semantics. The `Seq.toDF`
  * frames are folded to a LocalRelation before any code is generated, so
  * those tests run interpreted eval only; the null-semantics test's RDD
  * frame runs generated code. KernelSweepSpec compares the two eval paths
  * of every kernel. The fixed-twin oracle hashes pin the same algebra
  * end-to-end; this spec localizes a failure to the kernel. */
class MatVecSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val mat = Seq(
    Seq(1.0, 2.0, 3.0),
    Seq(-0.5, 0.25, 4.0),
    Seq(0.1, 0.2, 0.3),
    Seq(7.0, -8.0, 9.5))

  test("graft_matvec equals the unrolled graft_dot cells bit-for-bit") {
    val df = Seq(
      Seq(0.3, -1.7, 2.9), Seq(0.0, 0.0, 0.0), Seq(1e-3, 1e3, -1e-3))
      .toDF("v")
    val unrolled = array(mat.map(row =>
      call_function("graft_dot", typedLit(row), col("v"))): _*)
    val fused = call_function("graft_matvec", typedLit(mat), col("v"))
    assert(df.filter(not(fused <=> unrolled)).count() === 0)
  }

  test("graft_pq_costs equals cn2 - 2*dot with the driver-side fold") {
    val df = Seq(Seq(0.3, -1.7, 2.9), Seq(1.5, 2.5, -3.5)).toDF("v")
    val unrolled = array(mat.map { row =>
      val cn2 = row.foldLeft(0.0)((a, x) => a + x * x)
      lit(cn2) - lit(2.0) * call_function("graft_dot", col("v"),
        typedLit(row))
    }: _*)
    val fused = call_function("graft_pq_costs", typedLit(mat), col("v"))
    assert(df.filter(not(fused <=> unrolled)).count() === 0)
  }

  test("float vectors widen exactly (raw fixture embeddings)") {
    val df = Seq(Seq(0.5f, -0.25f, 8.0f)).toDF("vf")
    val fused = call_function("graft_matvec", typedLit(mat), col("vf"))
    val viaDouble = call_function("graft_matvec", typedLit(mat),
      transform(col("vf"), x => x.cast("double")))
    assert(df.filter(not(fused <=> viaDouble)).count() === 0)
  }

  test("length mismatch / null element yield a null ELEMENT, null vector yields null") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true),
        nullable = true)))
    val rows = Seq(Row(Seq(1.0, 2.0)), // length 2 vs matrix rows of 3
      Row(Seq(1.0, null, 3.0)), // null element
      Row(null)) // null vector
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val out = df.select(
      call_function("graft_matvec", typedLit(mat), col("v")).as("d"),
      call_function("graft_pq_costs", typedLit(mat), col("v")).as("c"))
      .collect()
    // rows 0/1: arrays of all-null elements (per-cell graft_dot → null)
    for (i <- 0 to 1; c <- Seq("d", "c")) {
      val arr = out(i).getAs[scala.collection.Seq[Any]](c)
      assert(arr != null && arr.size === mat.size && arr.forall(_ == null),
        s"row $i col $c: expected ${mat.size} null elements, got $arr")
    }
    assert(out(2).isNullAt(0) && out(2).isNullAt(1))
  }
}
