package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-first entry point: register every fixture table as a temp view
  * (plus graft's native extensions) so a user can drive
  * the whole engine through `spark.sql(...)` — the API surface for people
  * migrating SQL workloads rather than DataFrame code.
  *
  * Views are plain projections over the parquet reads, so pushdown /
  * pruning behave exactly as the DataFrame API (events gets the same
  * ns-safe `ts_us`/`ts_t` derivation as [[Tables.events]]).
  */
object GraftSql {

  /** Register all tables from a scale-factor dir as temp views. */
  def register(spark: SparkSession, dir: String): Unit = {
    plans.GraftFunctions.register(spark)
    Tables.names.foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
  }

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    register(spark, dir)
    spark.sql(query)
  }
}
