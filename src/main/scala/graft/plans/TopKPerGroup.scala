package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Native whole-operator top-k-per-group — the last rung of the extension
  * ladder (SURVEY §2.1-K escalation c): a custom `LogicalPlan` node, a
  * `Rule[LogicalPlan]` that recognizes the declarative idiom, a
  * `SparkStrategy`, and a two-phase `SparkPlan` pair.
  *
  * Queries keep the idiomatic formulation —
  * `row_number().over(partitionBy(g).orderBy(o)) … filter(rn <= k)` — and
  * Spark's own `InferWindowGroupLimit` marks the limit in the optimized
  * plan. [[RewriteTopKPerGroup]] then replaces the
  * `Window(row_number) ∘ WindowGroupLimit` pair with [[TopKPerGroup]], and
  * [[TopKStrategy]] plans it as
  *
  * {{{ TopKFinalExec (heap per group, emits rank)
  *       ShuffleExchange(hash by group)   — inserted by EnsureRequirements
  *         TopKPartialExec (heap per group, map-side)     }}}
  *
  * Each phase keeps one k-bounded binary heap per group (O(n log k), no
  * per-partition sort), so the exchange carries at most k rows per group
  * per map partition — at 100 TB that is the difference between shuffling
  * the fact table and shuffling ≈k·groups rows. Memory per partition is
  * one k-row heap per group present — the same asymptotic footprint as a
  * hash aggregate (stock WindowGroupLimit instead sorts each partition:
  * less memory, more CPU; pick the heap shape only while k·groups fits,
  * which is also when the operator wins). Rank assignment follows
  * `row_number` semantics exactly; the engine's D7 rule (total order within
  * groups) makes it deterministic, and the rewrite preserves the rank
  * attribute's exprId so enclosing projections/filters resolve unchanged —
  * results are bit-identical to the stock window path (oracle-checked via
  * `topk_per_group` and `events_dedup_latest`).
  */
case class TopKPerGroup(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    limit: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroup = copy(child = newChild)
}

/** Rewrites `Window(Seq(rn = row_number() over spec), part, order,
  * WindowGroupLimit(part, order, row_number, k, child))` to
  * [[TopKPerGroup]]. Conservative on purpose: exactly one window
  * expression, `RowNumber` only (rank/dense_rank tie semantics differ from
  * the heap's), matching partition/order specs on both nodes. */
object RewriteTopKPerGroup extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Window(
        Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
        part, order,
        WindowGroupLimit(lPart, lOrder, _: RowNumber, k, child), _)
      if part.length == lPart.length &&
        part.zip(lPart).forall { case (a, b) => a.semanticEquals(b) } &&
        order.length == lOrder.length &&
        order.zip(lOrder).forall { case (a, b) => a.semanticEquals(b) } &&
        TopKPlanGuard.useNative(child) =>
      TopKPerGroup(part, order, k, alias.toAttribute, child)
  }
}

/** Memory-safety valve for the native operator (VERDICT r3 task 2): the
  * final phase holds every retained row of its partition on-heap (one
  * k-bounded heap per group), unlike stock `WindowExec` which sort-spills.
  * Retained bytes per reduce partition are bounded by the child's total
  * bytes over the shuffle partition count (the partial phase only shrinks
  * the exchange), so when that estimate exceeds
  * `graft.topk.maxFinalBytesPerPartition` (default 1 GiB) the rewrite
  * declines — it is the only way a plan reaches [[TopKStrategy]], so the
  * guard decides once — and the stock sort-spill
  * `WindowGroupLimit + Window` path plans instead — degraded throughput,
  * never an OOM. Leaf relations without real statistics default to
  * `spark.sql.defaultSizeInBytes` = Long.Max, which also falls back (safe
  * by default; parquet scans always carry real sizes). */
private[plans] object TopKPlanGuard {
  def useNative(child: LogicalPlan): Boolean = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxBytes = conf.getConfString(
      "graft.topk.maxFinalBytesPerPartition", (1L << 30).toString).toLong
    val parts = math.max(1, conf.numShufflePartitions)
    child.stats.sizeInBytes / parts <= maxBytes
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(part, order, k, rankAttr, child) =>
      TopKFinalExec(part, order, k, rankAttr,
        TopKPartialExec(part, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared heap logic: one k-bounded max-heap (worst candidate at head) per
  * group key held in the partition. Rows are unsafe-copied only when
  * retained; evicted rows are never materialized. Consumes `iter` until
  * exhaustion, or — at the `maxGroups` cap — until the next row would
  * start a NEW group; rows of already-tracked groups keep flowing into the
  * full table (so each partial flush prunes as hard as its memory budget
  * allows), and the new-group row is left unconsumed on the buffered
  * iterator for the caller's next chunk. */
private[graft] object TopKHeaps {
  def perGroup(
      iter: BufferedIterator[InternalRow],
      groupProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int,
      maxGroups: Int = Int.MaxValue): java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]] = {
    // worst-first comparator: head of the queue is the eviction candidate
    val worstFirst = ordering.reverse
    val heaps =
      new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]
    var full = false
    while (iter.hasNext && !full) {
      val key = groupProj(iter.head)
      var heap = heaps.get(key)
      if (heap == null) {
        if (heaps.size >= maxGroups) {
          // leave the new-group row for the next chunk
          full = true
        } else {
          // initial capacity grows on demand — preallocating k slots per
          // group would be O(groups × k) memory before any row is retained
          heap = new java.util.PriorityQueue[InternalRow](
            math.max(1, math.min(k, 16)), worstFirst)
          heaps.put(key.copy(), heap)
        }
      }
      if (!full) {
        val row = iter.next()
        if (heap.size < k) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
    }
    heaps
  }
}

/** Map-side candidate pruning: emits each group's (unordered) top-k
  * candidates from this input partition. No required distribution — runs
  * before the exchange.
  *
  * Memory is HARD-BOUNDED: once the heap table reaches
  * `graft.topk.partialFlushGroups` distinct groups (default 131072), the
  * current heaps are flushed downstream and the table restarts. A flush
  * only weakens map-side pruning (a group may forward more than k
  * candidates from this partition); the final phase re-heaps everything
  * per group, so correctness never depends on the cap — the 100-TB
  * many-distinct-groups case degrades toward a plain shuffle instead of
  * OOMing. */
case class TopKPartialExec(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    limit: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  // Purely row-local pruning: partitioning is whatever the child had
  // (declaring it lets EnsureRequirements reuse existing clustering
  // instead of inserting a fresh exchange — ADVICE r3).
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val k = limit
    val part = partitionSpec
    val order = orderSpec
    val childOutput = child.output
    // clamp: maxGroups <= 0 would make perGroup consume zero rows and the
    // chunks iterator yield empty chunks forever (infinite loop, ADVICE r5)
    val flushGroups = math.max(1,
      conf.getConfString("graft.topk.partialFlushGroups", "131072").toInt)
    child.execute().mapPartitions { iter =>
      val bufIter = iter.buffered
      val groupProj = UnsafeProjection.create(part, childOutput)
      val ordering = GenerateOrdering.generate(order, childOutput)
      val chunks: Iterator[Iterator[InternalRow]] =
        new Iterator[Iterator[InternalRow]] {
          override def hasNext: Boolean = bufIter.hasNext
          override def next(): Iterator[InternalRow] = {
            val heaps = TopKHeaps.perGroup(
              bufIter, groupProj, ordering, k, maxGroups = flushGroups)
            import scala.jdk.CollectionConverters._
            heaps.values().asScala.iterator.flatMap(_.iterator().asScala)
          }
        }
      chunks.flatten
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPartialExec = copy(child = newChild)
}

/** Reduce-side: groups are clustered here (EnsureRequirements inserts the
  * hash exchange), so each group's heap sees all its candidates; emits the
  * k best per group in order with their `row_number` rank appended. */
case class TopKFinalExec(
    partitionSpec: Seq[Expression],
    orderSpec: Seq[SortOrder],
    limit: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  // Empty partitionSpec = GLOBAL top-k: all candidates must meet in one
  // partition (AllTuples), exactly like stock WindowExec — Unspecified
  // here would leave each input partition emitting its own "global" top k.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partitionSpec.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(partitionSpec) :: Nil

  // One output row per retained input row (plus the rank column): the hash
  // clustering the exchange below established still holds — keep it so a
  // downstream groupBy/join on the same keys skips its exchange.
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val k = limit
    val part = partitionSpec
    val order = orderSpec
    val childOutput = child.output
    val outputAttrs = output
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(part, childOutput)
      val ordering = GenerateOrdering.generate(order, childOutput)
      val heaps = TopKHeaps.perGroup(iter.buffered, groupProj, ordering, k)
      val toUnsafe = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      val groups = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && groups.hasNext) {
            val sorted = groups.next().toArray(Array.empty[InternalRow])
              .sorted(ordering)
            var rank = 0
            cur = sorted.iterator.map { row =>
              rank += 1
              rankRow.setInt(0, rank)
              toUnsafe(joined(row, rankRow))
            }
          }
          cur.hasNext
        }
        override def next(): InternalRow = cur.next()
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKFinalExec = copy(child = newChild)
}
