package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, classic}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import graft.plans.GlobalRank

/** Distributed global row_number — the 100 TB replacement for
  * `row_number().over(Window.orderBy(...))`, whose unpartitioned window is
  * a single-task global sort (the full-vocabulary rank in [[Bpe.vocabOf]]
  * and events_rfm's ntile axes — both domains grow with the corpus), and
  * for `partitionBy(group)` windows over a small group domain, which cap
  * parallelism at the domain.
  *
  * Each entry point is a thin DataFrame wrapper over one
  * [[graft.plans.GlobalRank]] plan node, so building a frame starts no
  * job and every cost shows in the plan. Its exec requires the range
  * distribution of `order`: the planner inserts the range exchange (never
  * `SinglePartition`; AQE coalesces it), one stats job reads each
  * partition's row count, group counts, sums and last row, and one sort
  * per partition emits rank = offset(pid) + local ordinal + 1, running
  * sums and lags — no window, no persist, no checkpoint.
  *
  * The output is bit-identical to the unpartitioned `row_number` whenever
  * `order` is a strict total order (callers tie-break to uniqueness, the
  * same requirement the window form has for determinism): range
  * boundaries may fall anywhere without changing any rank. DistRankSpec
  * pins equivalence against the window forms, PlanSpec the
  * no-`SinglePartition` shape of every consumer. Output columns are
  * nullable LONGs (the lag keeps its source's type) and must be fresh
  * names. */
object DistRank {
  /** `df` plus the [[GlobalRank]] outputs named in `rank`, `count`,
    * `lagOut` and `cumOut`, over `group` (guarded non-null, leading the
    * sort) and `order`. */
  private def globalRank(df: DataFrame, group: Option[Column],
      order: Seq[Column], lag: Option[Column], cums: Seq[Column],
      rank: Option[String], count: Option[String], lagOut: Option[String],
      cumOut: Seq[String]): DataFrame = {
    val names = rank.toSeq ++ count ++ lagOut ++ cumOut
    require(names.distinct.size == names.size &&
      !names.exists(n => df.columns.exists(_.equalsIgnoreCase(n))),
      s"DistRank: output names [${names.mkString(", ")}] must be fresh " +
        s"and distinct (input has [${df.columns.mkString(", ")}])")
    // a NULL group cannot be anchored, only ranked wrongly: the guard
    // fires in the range exchange
    val guarded = group.map(g => when(g.isNull, raise_error(lit(
      "DistRank: NULL group key — group must be non-null"))).otherwise(g))
    val exprs = lag.toSeq ++ cums
    // one analysis resolves the sort keys and the lag/sum expressions
    // against `df`'s attributes
    val (keys, resolved, child) =
      df.orderBy(guarded.map(_.asc).toSeq ++ order: _*)
        .select(col("*") +: exprs.zipWithIndex.map { case (e, i) =>
          e.as(s"_$i") }: _*)
        .queryExecution.analyzed match {
          case Project(list, s: Sort) =>
            (s.order, list.takeRight(exprs.size).map {
              case a: Alias => a.child
              case e => e
            }, s.child)
        }
    val (lagE, cumE) = resolved.splitAt(lag.size)
    require(cumE.forall(_.dataType == LongType),
      s"DistRank: running-sum sources must be LONG, got " +
        cumE.map(_.dataType).mkString(", "))
    def out(n: String, t: DataType = LongType) = AttributeReference(n, t)()
    val node = GlobalRank(guarded.map(_ => keys.head.child), keys,
      lagE.headOption, cumE, rank.map(out(_)), count.map(out(_)),
      lagOut.map(out(_, lagE.head.dataType)), cumOut.map(out(_)), child)
    new classic.Dataset[Row](
      df.sparkSession.asInstanceOf[classic.SparkSession], node,
      Encoders.row(node.schema))
  }

  /** `df` + a 1-based global-rank column over `order` (which must be a
    * strict total order — tie-break to uniqueness, e.g. with a key col). */
  def withRank(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame =
    withRankAndCum(df, order, rankCol, Nil)

  /** As [[withRank]], plus for each `(src, dst)` in `cum` a running sum of
    * long column `src` over the same total order, emitted as `dst`. It
    * keeps the rules of the per-partition `sum` window it replaces: NULL
    * until the partition's first non-null `src`, plus the sum of the
    * earlier partitions, and a long overflow raises. */
  def withRankAndCum(df: DataFrame, order: Seq[Column], rankCol: String,
      cum: Seq[(String, String)]): DataFrame =
    globalRank(df, None, order, None, cum.map(c => col(c._1)), Some(rankCol),
      None, None, cum.map(_._2))

  /** Per-group row_number (1-based within each `group` value over `order`)
    * plus optionally the group's row count — the replacement for
    * `row_number().over(Window.partitionBy(group).orderBy(order))` when
    * `group`'s domain is small (event_type: 5 values, lang: 4): the window
    * form hashes every row into #domain reducers, while this runs one
    * range-partitioned sort on (group +: order) across all partitions.
    * The rank column is LONG (the window form's row_number is INT).
    * Contract: (group +: order) must be a strict total order and `group`
    * must be non-null (a NULL group raises). */
  def withGroupRank(df: DataFrame, group: Column, order: Seq[Column],
      rankCol: String, cntCol: Option[String] = None): DataFrame =
    globalRank(df, Some(group), order, None, Nil, Some(rankCol), cntCol,
      None, Nil)

  /** Per-group lag(1) of column `lagSrc` over `order` — the replacement
    * for `lag(c).over(Window.partitionBy(group).orderBy(...))` on a
    * domain-bounded `group`, on the same sort as [[withGroupRank]]. A lag
    * is NULL when the predecessor row (in the partition, or the previous
    * partition's last row) belongs to a different group, or the row is
    * globally first — the window form's semantics. Same strict-total-order
    * and non-null-group contract as [[withGroupRank]]. */
  def withGroupLag(df: DataFrame, group: Column, order: Seq[Column],
      lagSrc: String, lagDst: String): DataFrame =
    globalRank(df, Some(group), order, Some(col(lagSrc)), Nil, None, None,
      Some(lagDst), Nil)

  /** Rank the SAME frame along several independent total orders in ONE
    * pass (one exchange, one stats job, however many axes).
    *
    * Shape: one `inline(array(struct(__axis, __skey), …))` tags each input
    * row with every axis, so the input is evaluated once; the axis index
    * is the group of one [[withGroupRank]], so each axis ranks on its own.
    * The per-axis ranks are then pivoted back onto the original row —
    * `groupBy(key).agg(max(when(__axis = i, …)))` — one hash exchange on
    * the key domain, never a single partition; the non-key columns ride
    * the pivot as `max` of identical copies.
    *
    * Each axis supplies `(skey, outCol)`: a sort column normalized to
    * ASCENDING whose type is identical across axes (callers encode
    * descending order by negation, exact for finite doubles and in-range
    * longs) and the output rank column name. Ties break on `key`, which
    * must be unique per row — enforced at runtime by a raise_error in the
    * pivot aggregate (every key group must hold exactly axes.size rows),
    * so a duplicated key fails instead of max-merging ranks. Output is
    * bit-identical to axes.size separate unpartitioned `row_number`
    * windows **provided every axis sort key is NON-NULL** — enforced by a
    * per-row raise_error guard, because one fused sort cannot honor
    * per-axis null placement (`(-c).asc` puts NULLs FIRST while `c.desc`
    * puts them LAST). Callers with nullable keys encode the placement
    * explicitly, e.g. `-coalesce(c, lit(Double.NegativeInfinity))`
    * reproduces `c.desc_nulls_last` (all-NULL rows tie and fall to the
    * `key` tie-break, same as both engines' window forms).
    *
    * The trade: vs axes.size chained [[withRank]] calls this exchanges
    * ~2× the bytes for this segment (axes copies of each row cross the
    * range exchange, and the pivot re-exchanges them) but runs one sort
    * instead of axes. Right when the frame is a narrow aggregate
    * (events_rfm's per-user rows); for a wide frame, chain [[withRank]].
    * Non-key columns must be max-orderable types. */
  def withRanksPivoted(df: DataFrame, key: String,
      axes: Seq[(Column, String)]): DataFrame = {
    // the working names must not collide with caller columns, and axis
    // output names must be fresh too (the pivot agg would emit duplicate
    // column names)
    val reserved = Set("__axis", "__skey", "__g")
    require(!df.columns.exists(reserved), s"withRanksPivoted: input must " +
      s"not contain reserved columns ${reserved.mkString("/")}")
    require(axes.map(_._2).distinct.size == axes.size &&
      !axes.map(_._2).exists(df.columns.toSet),
      "withRanksPivoted: axis output names must be fresh and distinct")
    val tags = axes.zipWithIndex.map { case ((skey, _), i) =>
      // NULL axis keys are a contract violation (see docstring) — fail
      // loudly per row instead of silently mis-ranking
      struct(lit(i).as("__axis"), when(skey.isNull, raise_error(lit(
        s"withRanksPivoted: NULL sort key in axis $i — axis keys must be " +
        "non-null; encode null placement with coalesce (see docstring)")))
        .otherwise(skey).as("__skey"))
    }
    val ranked = withGroupRank(df.select(col("*"), inline(array(tags: _*))),
      col("__axis"), Seq(col("__skey").asc, col(key).asc), "__g")
    val attrs = df.columns.filterNot(_ == key)
    // `key` must be unique per input row or the pivot max-merges ranks
    // into silently wrong output: each key group must hold exactly one
    // row per axis. The count rides the pivot aggregate itself and guards
    // every rank column, so the check costs no job.
    val unique = count(lit(1)) === lit(axes.size.toLong)
    val aggs = attrs.map(c => max(col(c)).as(c)) ++
      axes.zipWithIndex.map { case ((_, out), i) =>
        when(unique, max(when(col("__axis") === i, col("__g"))))
          .otherwise(raise_error(lit(s"withRanksPivoted: key '$key' is " +
            "not unique per row")))
          .as(out)
      }
    ranked.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }
}
