package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The HOF→native optimizer rule rewrites the declarative dot-product
  * idiom into graft_dot, value-preserving and visible in the optimized
  * plan. */
class RewriteRuleSpec extends AnyFunSuite {
  import TestSpark._

  private def hofDot = Tables.table(spark, sf, "embeddings")
    .select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    .select(col("vec_id"), expr(
      "aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)")
      .as("dot"))

  test("HOF dot idiom is rewritten to the native DotProduct") {
    val optimized = hofDot.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), optimized.take(1500))
    // The widening-cast strip fires only when the transform is inline in
    // the same projection (CollapseProject keeps a doubly-referenced alias
    // in its own Project, where expression rules can't see through):
    val inline = Tables.table(spark, sf, "embeddings")
      .select(expr(
        """aggregate(zip_with(transform(embedding, x -> cast(x as double)),
          |  transform(embedding, x -> cast(x as double)),
          |  (x, y) -> x * y), cast(0.0 as double), (a, x) -> a + x)"""
          .stripMargin).as("dot"))
    val inlineOpt = inline.queryExecution.optimizedPlan.toString
    assert(inlineOpt.contains("graft_dot(embedding"), inlineOpt.take(1500))
    assert(!inlineOpt.contains("transform("), inlineOpt.take(1500))
  }

  test("rewrite is value-preserving bit-for-bit") {
    val rewritten = hofDot.collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    // reference values computed with the rule disabled
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.RewriteHofDotProduct)
    try {
      val plain = hofDot.collect().map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
      assert(rewritten === plain)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("rule does not fire on non-dot folds (sum, sumsq)") {
    val df = Registry.queries("scalar_array_hof")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_dot"))
    assert(df.count() > 0)
  }
}
