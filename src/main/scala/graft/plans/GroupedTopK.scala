package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BaseOrdering, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Whole-operator grouped top-k: the `ROW_NUMBER() OVER (PARTITION BY g
  * ORDER BY o) <= k` pattern (reference T2, SQLproject1.sql:689-699) as a
  * first-class physical operator instead of a window.
  *
  * Why a custom operator: Spark plans the window form as
  * `Exchange(g) -> Sort(g, o) -> Window(row_number) -> Filter(rn <= k)` —
  * every row of every group is shuffled and fully sorted, then all but k
  * per group are thrown away. This operator keeps a size-k bounded heap
  * per group instead:
  *
  *   - a PARTIAL pass runs map-side (no required distribution), so each
  *     input partition forwards at most k rows per group it saw — the
  *     shuffle then moves O(partitions × groups × k) rows, not the corpus;
  *   - a FINAL pass runs on the `ClusteredDistribution(g)` side of the
  *     exchange (EnsureRequirements inserts the shuffle) and re-heaps the
  *     partial survivors to the exact per-group top-k.
  *
  * This is the grouped analogue of Spark's own global
  * `TakeOrderedAndProjectExec` (partial top-k per partition, merge after
  * the exchange). No sort is ever materialized: per group the heap does
  * O(n log k) comparisons, and the heap drain emits each group's rows in
  * ascending `order`.
  *
  * Memory + scale contract: the final pass holds k rows per group of one
  * shuffle partition — bounded, and scaled out by shuffle partitioning.
  * The partial pass's map of per-group heaps is bounded by
  * `spark.graft.topk.maxGroupsPerPartition` (default 100k): past the cap
  * it FLUSHES (emits the heaps it holds and starts a fresh map), which
  * degrades map-side reduction but never correctness — the final pass
  * re-heaps whatever arrives. So a high-cardinality group column (e.g.
  * top-k per document over 100 TB) degrades gracefully toward the plain
  * shuffle instead of OOMing the mapper — the same bounded-state stance
  * as a hash aggregate's partial-flush fallback.
  *
  * Determinism: like ROW_NUMBER, ties at the k boundary are broken by
  * whichever row the heap retained — callers wanting a stable answer
  * must make `order` a total order (append unique tiebreaker columns),
  * exactly as the reference queries do for their window top-Ns.
  *
  * `withTies = true` switches to RANK semantics (the reference's actual
  * top-N view, SQLproject1.sql:689-699, uses RANK): every row tying the
  * k-th best order value is kept, so a group can emit MORE than k rows.
  * Unlike row_number, the retained SET is fully determined by the data —
  * `RANK() <= k` keeps exactly `{row : value ≤ k-th smallest order
  * value}` — so no total-order tiebreaker is needed for a deterministic
  * answer. The heap then carries a boundary tie-buffer; its size is the
  * tie width at the boundary, capped by
  * `spark.graft.topk.maxTieRowsPerGroup` (the partial pass flushes on
  * overflow — correct under re-heaping; the final pass fails fast with
  * guidance, since a million-wide tie means the order is degenerate).
  */
case class GroupedTopKNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    withTies: Boolean = false) extends UnaryNode {
  require(k > 0, s"grouped top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKNode =
    copy(child = newChild)
}

/** Plans [[GroupedTopKNode]] as final-over-partial [[GroupedTopKExec]].
  * Registered by `GraftExtensions` (injectPlannerStrategy) and
  * self-registered by `TopK.perGroup` via `experimental.extraStrategies`.
  */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKNode(g, o, k, child, ties) =>
      GroupedTopKExec(g, o, k, partial = false,
        GroupedTopKExec(g, o, k, partial = true, planLater(child),
          withTies = ties),
        withTies = ties) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: push a Filter through [[GroupedTopKNode]] when it only
  * constrains the GROUP KEY. A deterministic predicate over the group-key
  * attributes is constant within a group, so it selects whole groups and
  * commutes with per-group top-k — pushing it below the node lets the
  * normal pushdown machinery carry it toward the scan. How far it gets
  * depends on registration order: via `GraftExtensions`
  * (injectOptimizerRule) this rule runs inside the operator-optimization
  * batch, so the standard Filter-pushdown + V1/V2 scan rules pick the
  * pushed predicate up and it lands in `PushedFilters`; via the
  * `TopK.perGroup` self-registration path (`experimental.
  * extraOptimizations`, the "User Provided Optimizers" batch that runs
  * AFTER the standard batches) the filter stops just below the node —
  * still skipping the top-k work for filtered groups, but the scan
  * reads them. Use the extension for scan-level pruning.
  * Only applies when every group expression
  * is a bare attribute: a predicate on a column that merely FEEDS a
  * computed group expression (e.g. grouping by `k % 2`, filtering `k`)
  * would change group membership, not select whole groups. Conjuncts
  * that touch non-group columns stay above the node.
  *
  * Registered by `GraftExtensions` (injectOptimizerRule) and
  * self-registered by `TopK.perGroup` via `experimental.
  * extraOptimizations` for plain sessions.
  */
object GroupedTopKFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, t: GroupedTopKNode)
        if t.groupExprs.forall(_.isInstanceOf[Attribute]) =>
      val groupAttrs = AttributeSet(t.groupExprs.map(_.asInstanceOf[Attribute]))
      val (push, keep) = splitConjunctivePredicates(cond).partition(c =>
        c.deterministic && c.references.nonEmpty &&
          c.references.subsetOf(groupAttrs))
      if (push.isEmpty) f
      else {
        val pushed = t.copy(child = Filter(push.reduce(And), t.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** One pass of per-group bounded heaps (see [[GroupedTopKNode]]).
  * `partial = true` runs before the exchange with the flush cap;
  * `partial = false` demands `ClusteredDistribution(groupExprs)` and is
  * exact. Runs between exchanges, outside whole-stage codegen — the
  * comparator and key projection are still codegen'd
  * (`RowOrdering.create` / `UnsafeProjection.create`).
  *
  * Float/double group keys are normalized (`NormalizeNaNAndZero`) in
  * BOTH the required distribution and the key projection: Spark's
  * `NormalizeFloatingNumbers` rule only rewrites the node types it
  * knows (Aggregate/Window/Join), so without this a group key holding
  * `-0.0` vs `0.0` would hash to different shuffle partitions and
  * compare unequal bytewise, splitting a group the window formulation
  * merges. (Nested floats inside struct/array keys keep Spark's
  * UnsafeRow canonicalization only — group by the fields directly if
  * that matters.)
  *
  * Memory posture: the final pass holds k rows per group of one
  * shuffle partition in memory. For high-cardinality keys (top-k per
  * document at 100 TB) raise `spark.sql.shuffle.partitions` so groups ×
  * k rows fit per reducer.
  */
case class GroupedTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan,
    withTies: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // -0.0 → 0.0 and canonical NaN for float/double keys, so bytewise
  // UnsafeRow group identity matches SQL equality (see class doc)
  private lazy val normalizedGroupExprs: Seq[Expression] =
    groupExprs.map { e =>
      e.dataType match {
        case FloatType | DoubleType => NormalizeNaNAndZero(e)
        case _ => e
      }
    }

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(normalizedGroupExprs) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext,
      "partial heap-map flushes (cap pressure)"))

  override protected def doExecute(): RDD[InternalRow] = {
    val flushCap =
      if (partial)
        conf.getConfString(GroupedTopKExec.MaxGroupsConf, "100000").toInt
      else Int.MaxValue
    // rank-mode boundary tie-buffer bound: the partial pass FLUSHES on
    // overflow (a flushed segment's local rank<=k set is still a
    // superset of the global answer's restriction to it); the exact
    // final pass fails fast instead — see [[MaxTieRowsConf]]. BOTH
    // passes get the finite cap: a degenerate (near-constant) ORDER BY
    // would otherwise accumulate an entire group in the partial pass's
    // tie buffer — the exact executor-memory blowup the conf exists to
    // prevent.
    val tieCap =
      if (!withTies) 0
      else conf.getConfString(GroupedTopKExec.MaxTieRowsConf, "1000000").toInt
    val childOutput = child.output
    val g = normalizedGroupExprs
    val o = order
    val kk = k
    val ties = withTies
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    child.execute().mapPartitions(
      iter =>
        GroupedTopKExec.topKIterator(
          iter,
          UnsafeProjection.create(g, childOutput),
          RowOrdering.create(o, childOutput),
          kk, flushCap, numOutputRows, numFlushes,
          withTies = ties, tieCap = tieCap),
      preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)

  override def nodeName: String = {
    val mode = if (withTies) "WithTies" else ""
    if (partial) s"GroupedTopKPartial$mode" else s"GroupedTopKFinal$mode"
  }
}

object GroupedTopKExec {

  /** Partial-pass flush threshold: max distinct groups held per input
    * partition before the heap map is emitted and restarted. */
  val MaxGroupsConf = "spark.graft.topk.maxGroupsPerPartition"

  /** Rank mode only: max rows tying the k-th-best order value held per
    * group. The partial pass FLUSHES on overflow (correct under
    * re-heaping); the exact final pass throws — a tie this wide means
    * the order expression is degenerate (near-constant), and the window
    * plan would be quadratic-ish on it too. */
  val MaxTieRowsConf = "spark.graft.topk.maxTieRowsPerGroup"

  private def tieOverflowError(tieCap: Int) = new IllegalStateException(
    s"grouped top-k (rank mode) exceeded $MaxTieRowsConf=$tieCap rows " +
      "tying the k-th best order value in one group — the ORDER BY is " +
      "degenerate for this data (near-constant); add a discriminating " +
      "order column, use row_number semantics, or raise the cap")

  /** Per-group bounded-heap state. `heap` holds (up to) the k best rows
    * (max-heap: head is the worst retained); in rank mode `ties` holds
    * the extra rows equal to the boundary value — RANK() <= k keeps
    * exactly the rows ≤ the k-th smallest order value, a deterministic
    * SET (unlike row_number's arbitrary k among ties). */
  private final class TopKHeap(k: Int, withTies: Boolean, ord: BaseOrdering) {
    val heap = mutable.PriorityQueue.empty[InternalRow](ord)
    private val ties =
      if (withTies) mutable.ArrayBuffer.empty[InternalRow] else null

    /** Adds an OWNED row copy. Returns false when the rank-mode tie
      * buffer would exceed `tieCap` — and then the heap state is
      * UNCHANGED (the row is not added, nothing is evicted), so a
      * partial-pass caller can flush a consistent segment and re-offer
      * the row to a fresh heap, and a final-pass caller fails fast on
      * intact state. The eviction branch therefore decides the tie-cap
      * question BEFORE committing the swap: mutate-then-return-false
      * would emit the new row in the flushed segment AND re-insert it
      * as pending (duplicate) while silently dropping the evicted
      * boundary row. */
    def add(row: InternalRow, tieCap: Int): Boolean =
      if (heap.size < k) { heap.enqueue(row); true }
      else {
        val cmp = ord.compare(row, heap.head)
        if (cmp > 0) true // strictly worse than the boundary: rank > k
        else if (cmp == 0) {
          if (!withTies) true // row_number: boundary ties drop
          else if (ties.size >= tieCap) false
          else { ties += row; true }
        } else {
          val evicted = heap.dequeue()
          // the boundary VALUE may move: the evicted row stays retained
          // (in `ties`) only if the new k-th best still equals it —
          // i.e. another copy of its order value remains at the new
          // boundary. Compute the new boundary WITHOUT enqueueing yet:
          // it is the worst of (remaining heap, new row).
          val evictedTiesNewBoundary = withTies && ord.compare(evicted,
            if (heap.isEmpty || ord.compare(row, heap.head) > 0) row
            else heap.head) == 0
          if (evictedTiesNewBoundary && ties.size >= tieCap) {
            heap.enqueue(evicted) // restore — state exactly as before
            false
          } else {
            heap.enqueue(row)
            if (withTies) {
              if (evictedTiesNewBoundary) ties += evicted
              else ties.clear()
            }
            true
          }
        }
      }

    /** Largest-first heap drain reversed to ascending `order`; rank-mode
      * boundary ties follow (they equal the final value, so ascending
      * order is preserved). Leaves the state empty. */
    def drain(): Iterator[InternalRow] = {
      val main = heap.dequeueAll.reverseIterator
      if (ties == null || ties.isEmpty) main
      else {
        val t = ties.toIndexedSeq
        ties.clear()
        main ++ t.iterator
      }
    }
  }

  /** Streams `input` through per-group size-k min-heaps (scala
    * PriorityQueue is a max-heap under `ord`, so `head` is the worst
    * retained row). At most `flushCap` groups are tracked at once; on
    * overflow the current heaps drain to the output and a fresh map
    * starts (correct under re-heaping downstream). Rows and keys are
    * copied before retention — Spark reuses the underlying row objects.
    */
  def topKIterator(
      input: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ord: BaseOrdering,
      k: Int,
      flushCap: Int,
      numOutputRows: SQLMetric,
      numFlushes: SQLMetric = null,
      withTies: Boolean = false,
      tieCap: Int = Int.MaxValue): Iterator[InternalRow] = new Iterator[InternalRow] {

    // an EXACT pass (no flush allowed) is exactly an uncapped-map pass
    private val exact = flushCap == Int.MaxValue

    // row of a group that didn't fit in the flushed map, held for the next batch
    private var pendingKey: UnsafeRow = _
    private var pendingRow: InternalRow = _
    private var out: Iterator[InternalRow] = Iterator.empty

    override def hasNext: Boolean = {
      while (!out.hasNext && (input.hasNext || pendingRow != null)) out = nextBatch()
      out.hasNext
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("empty iterator")
      numOutputRows += 1
      out.next()
    }

    private def nextBatch(): Iterator[InternalRow] = {
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, TopKHeap]

      def insert(key: UnsafeRow, row: InternalRow, owned: Boolean): Boolean =
        heaps.get(key) match {
          case Some(h) =>
            val ok = h.add(if (owned) row else row.copy(), tieCap)
            // tie-buffer overflow: an exact pass must not flush — fail
            // with guidance; a partial pass flushes (each flushed
            // segment's local rank<=k set still over-approximates the
            // global answer's restriction to it)
            if (!ok && exact) throw tieOverflowError(tieCap)
            ok
          case None =>
            if (heaps.size >= flushCap) false
            else {
              val h = new TopKHeap(k, withTies, ord)
              h.add(if (owned) row else row.copy(), tieCap)
              heaps.put(if (owned) key else key.copy(), h)
              true
            }
        }

      if (pendingRow != null) {
        insert(pendingKey, pendingRow, owned = true)
        pendingKey = null
        pendingRow = null
      }
      var overflowed = false
      while (!overflowed && input.hasNext) {
        val row = input.next()
        val key = keyProj(row)
        if (!insert(key, row, owned = false)) {
          pendingKey = key.copy()
          pendingRow = row.copy()
          overflowed = true
          // cap-pressure signal: nonzero means this partition saw more
          // distinct groups (or wider boundary ties) than the cap — at
          // cluster scale, the cue to raise shuffle partitions
          if (numFlushes != null) numFlushes += 1
        }
      }
      heaps.valuesIterator.flatMap(_.drain())
    }
  }
}
