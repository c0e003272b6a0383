package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}

/** Global rank as one operator: a 1-based rank over the strict total
  * order `order` — the zipWithIndex recipe without an unpartitioned
  * window (whose single task sorts the whole frame).
  *
  * With a `group` (which `order` must lead, ascending, and which must be
  * non-null) the rank restarts at 1 in every group and `count` is the
  * group's row count; without one the whole frame is one group. `lag`
  * emits the previous row's value of an expression within the group
  * (NULL on a group's first row); `cums` emit running sums of LONG
  * expressions over the whole order, NULL until the partition's first
  * non-null value and raising on overflow. Every output is optional; the
  * child's columns pass through unchanged.
  *
  * [[GlobalRankExec]] runs it as
  *
  * {{{ GlobalRankExec   (stats job, then sort + emit per partition)
  *       ShuffleExchange(rangepartitioning(order)) — EnsureRequirements }}}
  *
  * The range exchange is the planner's own, so AQE coalesces it to the
  * advisory size. Both passes read the same shuffle output, so they see
  * the same partitioning; only the order rows arrive in varies between
  * reads, and neither pass depends on it. */
case class GlobalRank(
    group: Option[Expression],
    order: Seq[SortOrder],
    lag: Option[Expression],
    cums: Seq[Expression],
    rank: Option[Attribute],
    count: Option[Attribute],
    lagOut: Option[Attribute],
    cumOut: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  private def extras: Seq[Attribute] = rank.toSeq ++ count ++ lagOut ++ cumOut
  override def output: Seq[Attribute] = child.output ++ extras
  override def producedAttributes: AttributeSet = AttributeSet(extras)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GlobalRank = copy(child = newChild)
}

object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRank(g, o, l, c, r, n, lo, co, child) =>
      GlobalRankExec(g, o, l, c, r, n, lo, co, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** One partition's share of the stats pass: its row count per group key
  * (the group projection as an UnsafeRow), the wrapping sums of the
  * `cums`, and — for a lag — the (group, lag value) of its last row by
  * `order`. Every field is independent of the order rows arrive in. */
private final case class RankStats(groups: Array[(UnsafeRow, Long)],
    sums: Array[Long], last: Option[(UnsafeRow, UnsafeRow)])

/** What one partition's emit pass needs from the others: per group key
  * present, (rows of it in earlier partitions, rows of it in all); the
  * running sums' offsets; the (group, lag value) of the nearest earlier
  * nonempty partition's last row. */
private final case class RankOffsets(groups: Map[UnsafeRow, (Long, Long)],
    sums: Array[Long], prev: Option[(UnsafeRow, UnsafeRow)])

case class GlobalRankExec(
    group: Option[Expression],
    order: Seq[SortOrder],
    lag: Option[Expression],
    cums: Seq[Expression],
    rank: Option[Attribute],
    count: Option[Attribute],
    lagOut: Option[Attribute],
    cumOut: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  private def extras: Seq[Attribute] = rank.toSeq ++ count ++ lagOut ++ cumOut
  override def output: Seq[Attribute] = child.output ++ extras
  override def producedAttributes: AttributeSet = AttributeSet(extras)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  // rows keep their partition, and the emit pass sorts each by `order`
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order

  /** The child's rows and every partition's offsets: one stats job per
    * exec instance, however often `execute` runs. */
  @transient private lazy val input: (RDD[InternalRow], Array[RankOffsets]) = {
    val rdd = child.execute()
    (rdd, offsets(stats(rdd)))
  }

  private def stats(rdd: RDD[InternalRow]): Array[RankStats] = {
    val in = child.output
    val (g, l, cs, ord) = (group.toSeq, lag.toSeq, cums, order)
    rdd.mapPartitions { it =>
      val gProj = UnsafeProjection.create(g, in)
      val cProj = UnsafeProjection.create(cs, in)
      val ordering = GenerateOrdering.generate(ord, in)
      val counts = new java.util.HashMap[UnsafeRow, Array[Long]]
      val sums = new Array[Long](cs.size)
      var max: InternalRow = null
      it.foreach { row =>
        val k = gProj(row)
        val n = counts.get(k)
        if (n == null) counts.put(k.copy(), Array(1L)) else n(0) += 1
        if (cs.nonEmpty) {
          val v = cProj(row)
          var i = 0
          while (i < sums.length) {
            if (!v.isNullAt(i)) sums(i) += v.getLong(i)
            i += 1
          }
        }
        // the last row by `order` is the running max: copy only a new one
        if (l.nonEmpty && (max == null || ordering.compare(row, max) > 0))
          max = row.copy()
      }
      val last = Option(max).map(m =>
        (gProj(m).copy(), UnsafeProjection.create(l, in)(m).copy()))
      import scala.jdk.CollectionConverters._
      Iterator.single(RankStats(
        counts.asScala.iterator.map { case (k, n) => (k, n(0)) }.toArray,
        sums, last))
    }.collect()
  }

  private def offsets(parts: Array[RankStats]): Array[RankOffsets] = {
    val total = parts.toSeq.flatMap(_.groups).groupMapReduce(_._1)(_._2)(_ + _)
    val before = scala.collection.mutable.HashMap.empty[UnsafeRow, Long]
    val sums = new Array[Long](cums.size)
    var prev: Option[(UnsafeRow, UnsafeRow)] = None
    parts.map { p =>
      val off = RankOffsets(p.groups.map { case (k, _) =>
        k -> ((before.getOrElse(k, 0L), total(k))) }.toMap, sums.clone(), prev)
      p.groups.foreach { case (k, n) =>
        before(k) = before.getOrElse(k, 0L) + n }
      sums.indices.foreach(i => sums(i) = Math.addExact(sums(i), p.sums(i)))
      if (p.last.isDefined) prev = p.last
      off
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (rdd, offs) = input
    val in = child.output
    val outAttrs = output
    val (g, l, cs) = (group.toSeq, lag.toSeq, cums)
    val lagType = lag.map(_.dataType).orNull
    val (hasRank, hasCount, hasLag) =
      (rank.isDefined, count.isDefined, lagOut.isDefined)
    // the same spill-capable UnsafeExternalRowSorter SortExec builds
    val sorter = SortExec(order, global = false, child = child)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val off = offs(pid)
      val sorted =
        sorter.createSorter().sort(it.asInstanceOf[Iterator[UnsafeRow]])
      val gProj = UnsafeProjection.create(g, in)
      val vProj = UnsafeProjection.create(l, in)
      val cProj = UnsafeProjection.create(cs, in)
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      val extra = new GenericInternalRow(outAttrs.size - in.size)
      val joined = new JoinedRow
      var key: UnsafeRow = null
      var pos, size = 0L
      var prevKey = off.prev.map(_._1).orNull
      var prevVal = off.prev.map(_._2).orNull
      val acc = new Array[Long](cs.size)
      val seen = new Array[Boolean](cs.size)
      sorted.map { row =>
        val k = gProj(row)
        if (key == null || k != key) {
          key = k.copy()
          val (b, n) = off.groups(key)
          pos = b
          size = n
        }
        pos += 1
        var j = 0
        if (hasRank) { extra.setLong(j, pos); j += 1 }
        if (hasCount) { extra.setLong(j, size); j += 1 }
        if (hasLag) {
          if (prevKey != null && prevKey == k)
            extra.update(j, prevVal.get(0, lagType))
          else extra.setNullAt(j)
          j += 1
        }
        if (cs.nonEmpty) {
          val v = cProj(row)
          var i = 0
          while (i < acc.length) {
            if (!v.isNullAt(i)) {
              acc(i) =
                if (seen(i)) Math.addExact(acc(i), v.getLong(i)) else v.getLong(i)
              seen(i) = true
            }
            if (seen(i)) extra.setLong(j, Math.addExact(off.sums(i), acc(i)))
            else extra.setNullAt(j)
            i += 1
            j += 1
          }
        }
        val out = toUnsafe(joined(row, extra))
        // after the output copied prevVal: vProj reuses its buffer
        if (hasLag) { prevKey = key; prevVal = vProj(row) }
        out
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): GlobalRankExec = copy(child = newChild)
}
