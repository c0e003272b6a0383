package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Det.exactMean]], the group mean both codebook trainers and
  * `vec_knn_per_label` compute centroids with. The property they rely
  * on: the mean is bit-identical however the rows are partitioned or
  * ordered, and equals the exact rational mean rounded once. The data
  * are floats in [2^-29, 1) of both signs, so a double sum needs more
  * than 53 bits and its rounding depends on the order it adds in. */
class ExactMeanSpec extends AnyFunSuite {
  import TestSpark._

  private val groups = 6

  /** (g, x) rows: 400 float-derived doubles per group, magnitudes
    * spread over 29 binary orders. */
  private val rows: Seq[(Int, Double)] = {
    val r = new scala.util.Random(20261018L)
    for (g <- 0 until groups; _ <- 0 until 400) yield {
      val f = (r.nextFloat() * math.pow(2, -r.nextInt(29))).toFloat
      (g, (if (r.nextBoolean()) -f else f).toDouble)
    }
  }

  private def frame(rs: Seq[(Int, Double)], parts: Int): DataFrame = {
    import spark.implicits._
    rs.toDF("g", "x").repartition(parts)
  }

  /** Group -> raw bits of `mean(x)` over `df`. */
  private def means(df: DataFrame, mean: Column => Column): Map[Int, Long] =
    df.groupBy(col("g")).agg(mean(col("x")).as("m")).collect()
      .map(r => r.getInt(0) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      .toMap

  /** Driver-side reference: the BigDecimal sum of x·2^53 (exact integers
    * here), rounded to double once, then / 2^53 / n — the helper's
    * arithmetic with every intermediate exact. */
  private val reference: Map[Int, Long] =
    rows.groupBy(_._1).map { case (g, xs) =>
      val sum = xs.map(x => BigDecimal(new java.math.BigDecimal(x._2 * Det.P53)))
        .sum
      g -> java.lang.Double.doubleToRawLongBits(
        sum.toDouble / Det.P53 / xs.size)
    }

  /** The property's violations for a mean rule: empty when the rule is
    * order-independent and exact. */
  private def violations(mean: Column => Column): Seq[String] = {
    val shuffled = new scala.util.Random(7L).shuffle(rows)
    val one = means(frame(rows, 1), mean)
    val eight = means(frame(rows, 8), mean)
    val mixed = means(frame(shuffled, 8), mean)
    (0 until groups).flatMap { g =>
      Seq(
        (eight(g) != one(g)) -> s"g=$g: 8 partitions differ from 1",
        (mixed(g) != one(g)) -> s"g=$g: shuffled rows differ",
        (one(g) != reference(g)) -> s"g=$g: differs from the exact mean")
        .collect { case (true, msg) => msg }
    }
  }

  test("every scaled value is an exact integer (the helper's precondition)") {
    rows.foreach { case (_, x) =>
      val y = x * Det.P53
      assert(y == math.rint(y) && math.abs(y) < Det.P53, s"x=$x")
    }
  }

  test("exactMean is partition- and order-independent and exact") {
    val v = violations(Det.exactMean)
    assert(v.isEmpty, v.mkString("; "))
  }

  test("red team: a double avg fails the same property") {
    val v = violations(avg)
    assert(v.nonEmpty, "a double avg passed: the data do not exercise order")
    info(s"double avg: ${v.size} violations, e.g. ${v.head}")
  }
}
