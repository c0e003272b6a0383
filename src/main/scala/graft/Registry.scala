package graft

/** Single source of truth for every declared operator: each category object
  * contributes a `Seq[Q]`; [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]
  * derive from this list so the key sets cannot drift apart (VERDICT r1 #3).
  */
object Registry {
  val all: Seq[Q] =
    operators.Scans.qs ++
      operators.RowOps.qs ++
      operators.Joins.qs ++
      operators.Aggs.qs ++
      operators.Windows.qs ++
      operators.SetOps.qs ++
      functions.Scalars.qs ++
      operators.EventOps.qs ++
      operators.GraphOps.qs ++
      operators.TextOps.qs ++
      operators.VecOps.qs ++
      operators.Ann.qs ++
      operators.Curate.qs ++
      operators.PipelineOps.qs ++
      operators.Dedup.qs ++
      operators.Bpe.qs ++
      operators.TypedOps.qs ++
      operators.Layouts.qs ++
      operators.MultiModal.qs ++
      functions.ExtOps.qs

  /** Every key's build, each installing graft's native extensions
    * ([[plans.GraftFunctions.register]]) on its session first: a key plans
    * the same on a fresh session as after any other key, and every caller
    * of the driver contract gets the native plans. */
  def queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = {
    require(all.map(_.key).distinct.size == all.size,
      "duplicate query keys: " + all.map(_.key).diff(all.map(_.key).distinct))
    all.map { q =>
      q.key -> ((s: org.apache.spark.sql.SparkSession, dir: String) => {
        plans.GraftFunctions.register(s)
        q.build(s, dir)
      })
    }.toMap
  }

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.key -> _)).toMap
}
