package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, GenerateOrdering, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{BlockingOperatorWithCodegen, CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}

/** Native whole-operator Catalyst extension: top-k rows per group.
  *
  * The reference exposes "rapid query and analysis" ranking views
  * (/root/reference/README.md:7); the built-in Spark form is a window
  * `row_number() <= k`, which SORTS every group's full row set after the
  * shuffle. This operator is the scale-correct physical shape instead:
  *
  *   partial TopKPerGroupExec   (map side: bounded k-heap per group,
  *                               no sort — caps shuffle input at
  *                               k rows/group/partition; the heap map
  *                               itself is capped at
  *                               spark.graft.topk.maxPartialGroups
  *                               groups/task, past which rows pass
  *                               through unfiltered instead of growing
  *                               memory)
  *   → hash exchange on group
  *   → final TopKPerGroupExec   (same bounded heap, post-shuffle)
  *
  * At 100 TB the win is the exchange: a window plan shuffles EVERY row
  * of the fact table and then sorts each group; this plan shuffles at
  * most k·partitions rows per group and never sorts anything larger
  * than a k-element heap. It is the per-group analogue of
  * TakeOrderedAndProject, which Spark only provides for global ORDER BY
  * + LIMIT.
  *
  * Registration: planner strategy + optimizer rule, via either
  * [[GraftExtensions]] (spark.sql.extensions) or [[TopK.ensure]]
  * (runtime, any session — used by the query entries so the driver's
  * session works regardless of how it was built).
  */
/** Logical top-k-per-group node.
  *
  * Determinism contract: `order` must be a TOTAL order over each
  * group's rows (append a unique tiebreak column if the ranking key
  * can tie). Rows that compare equal at the heap boundary are kept
  * first-seen-wins, so under a merely partial order the output depends
  * on partitioning/arrival order. [[TopK.perGroup]] documents the same
  * requirement at the public API; callers constructing this node
  * directly are bound by it too.
  */
case class TopKPerGroup(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Optimizer rule: a deterministic filter that references only bare
  * group columns commutes with per-group top-k (dropping whole groups
  * before ranking cannot change any surviving group's top-k), so it is
  * pushed below the operator — from where Spark's own pushdown rules
  * carry it onward to the scan. Filters on ranked/measure columns must
  * NOT move (they would change what each group ranks). */
object PushFilterThroughTopK extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerGroup) =>
      val bareGroupAttrs = AttributeSet(t.groupExprs.collect { case a: Attribute => a })
      if (cond.deterministic && cond.references.nonEmpty &&
          cond.references.subsetOf(bareGroupAttrs))
        t.copy(child = Filter(cond, t.child))
      else f
  }
}

/** Optimizer rule: the classic SQL top-k-per-group idiom
  *
  *   SELECT <cols> FROM (SELECT *, row_number() OVER
  *     (PARTITION BY g ORDER BY o) AS rn FROM t) WHERE rn <= k
  *
  * replans to the native [[TopKPerGroup]] operator whenever the rank
  * column itself is pruned by the enclosing projection — the window
  * then exists only to FILTER, and the heap operator does that without
  * shuffling the full input or sorting any group. Fires only on:
  * a single row_number window expression, non-empty PARTITION BY and
  * ORDER BY, a `rn <= k` / `rn < k` / `rn = 1` predicate, and a
  * projection that references no window output. Rank-column consumers
  * keep the window plan (Spark's own InferWindowGroupLimit still
  * bounds it). Ties at the boundary: identical semantics class to the
  * window form — under a non-total ORDER BY both keep an
  * arrival-order-dependent k; under a total order both are exact. */
object RewriteRowNumberTopK extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Project, Window}

  /** `rn <= k` → k, for the supported comparison shapes. */
  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Project(projList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
            partSpec, orderSpec, child, _)))
        if partSpec.nonEmpty && orderSpec.nonEmpty &&
          spec.frameSpecification == SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) &&
          limitOf(cond, alias.toAttribute).exists(_ > 0) &&
          !projList.exists(_.references.contains(alias.toAttribute)) &&
          projList.forall(p => p.references.subsetOf(child.outputSet)) =>
      // Spark's InferWindowGroupLimit may already have slid a
      // WindowGroupLimit under the window; the heap operator subsumes
      // it, so unwrap a matching one rather than stacking both.
      val input = child match {
        case org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit(
            ps, os, _, _, grandchild)
            if ps == partSpec && os == orderSpec => grandchild
        case other => other
      }
      Project(projList,
        TopKPerGroup(limitOf(cond, alias.toAttribute).get, partSpec, orderSpec, input))
  }
}

/** Planner strategy: TopKPerGroup → partial exec (any distribution) →
  * [EnsureRequirements inserts the hash exchange] → final exec
  * (clustered on the group keys). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, g, o, child) =>
      val partial = TopKPerGroupExec(k, g, o, partial = true, planLater(child))
      TopKPerGroupExec(k, g, o, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Per-partition top-k state shared by the interpreted (doExecute) and
  * whole-stage-codegen paths of [[TopKPerGroupExec]]: one bounded
  * max-heap per group key, a group cap past which `offer` returns the
  * row for pass-through instead of growing the map.
  *
  * `offer` returns null when the row was retained (copied) or pruned,
  * or the INPUT row (not copied — caller decides) when the group map is
  * at capacity and the row's group is untracked. `flush` drains every
  * heap; call it only after the input is exhausted.
  *
  * FINAL-mode overflow (retention past `maxRows`): with
  * `overflowToSort` the buffer degrades IN PLACE to the window twin's
  * physical shape — existing heap rows plus the remaining stream feed a
  * spillable external sort on (group, order), and `flush` streams a
  * k-per-group limit over the sorted run. Correct under mid-stream
  * switch because every row the heaps already pruned was, at prune
  * time, dominated by ≥ k rows of its own group — so the union of heap
  * contents and the remaining input still contains every group's true
  * top-k. Without the flag (strict mode) the buffer raises the sizing
  * error instead. */
final class TopKPartitionBuffer(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    attrs: Seq[Attribute],
    groupCap: Int,
    maxRows: Long = Long.MaxValue,
    heapRowsMetric: org.apache.spark.sql.execution.metric.SQLMetric = null,
    overflowToSort: Boolean = false,
    sortFallbackMetric: org.apache.spark.sql.execution.metric.SQLMetric = null) {
  private val keyProj = UnsafeProjection.create(groupExprs, attrs)
  private val ord = GenerateOrdering.generate(order, attrs)
  private val worstFirst: Ordering[InternalRow] = ord.reverse
  private val heaps =
    new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
  private var retained = 0L
  private var sorter: org.apache.spark.sql.execution.UnsafeExternalRowSorter = null
  private lazy val toUnsafe = UnsafeProjection.create(attrs.map(_.dataType).toArray)

  /** The degrade: move every heaped row into a spillable external sort
    * keyed (group, order) and route all later offers there. Memory from
    * here on is the sorter's — page-managed, spilling, exactly what the
    * heap path lacks. */
  private def switchToSort(): Unit = {
    val fullOrder = groupExprs.map(SortOrder(_, Ascending)) ++ order
    val sortOrd = GenerateOrdering.generate(fullOrder, attrs)
    sorter = org.apache.spark.sql.execution.UnsafeExternalRowSorter.create(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(attrs),
      sortOrd,
      new org.apache.spark.util.collection.unsafe.sort.PrefixComparator {
        override def compare(a: Long, b: Long): Int = 0 // full-row ordering only
      },
      new org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer {
        private val p =
          new org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow)
            : org.apache.spark.sql.execution.UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          p.isNull = false; p.value = 0L; p
        }
      },
      org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes,
      false)
    if (sortFallbackMetric != null) sortFallbackMetric.add(1)
    val qs = heaps.values().iterator()
    while (qs.hasNext) {
      val q = qs.next().iterator()
      while (q.hasNext) insertIntoSorter(q.next())
    }
    heaps.clear()
  }

  private def insertIntoSorter(row: InternalRow): Unit =
    sorter.insertRow(row match {
      case u: UnsafeRow => u
      case other => toUnsafe(other)
    })

  def offer(row: InternalRow): InternalRow = {
    if (sorter != null) { insertIntoSorter(row); return null }
    val key = keyProj(row)
    var q = heaps.get(key)
    if (q == null && heaps.size() < groupCap) {
      q = new java.util.PriorityQueue[InternalRow](k + 1, worstFirst)
      heaps.put(key.copy(), q)
    }
    if (q == null) row
    else {
      if (q.size() < k) {
        // Growing the retained set: enforce the sizing contract BEFORE
        // the allocation. The final exec cannot degrade to pass-through
        // (its heaps ARE the output); past the bound it either switches
        // to the spillable sort shape (default) or, in strict mode,
        // raises a clear error rather than drifting toward OOM.
        if (retained >= maxRows) {
          if (overflowToSort) { switchToSort(); insertIntoSorter(row); return null }
          throw new IllegalStateException(
            s"TopKPerGroup final-mode heap exceeded ${TopK.MaxFinalHeapRowsKey}" +
              s"=$maxRows retained rows in one task (memory is O(groups-in-" +
              "partition × k) and cannot spill). Raise spark.sql.shuffle." +
              "partitions so fewer groups land per task, raise the cap, " +
              s"or set ${TopK.FinalOverflowKey}=sort to degrade to the " +
              "spillable sort shape.")
        }
        retained += 1
        if (heapRowsMetric != null) heapRowsMetric.add(1)
        q.add(row.copy())
      }
      else if (ord.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
      null
    }
  }

  def flush(): java.util.Iterator[InternalRow] = {
    if (sorter != null) return groupLimit(sorter.sort())
    val outer = heaps.values().iterator()
    new java.util.Iterator[InternalRow] {
      private var inner: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      override def hasNext: Boolean = {
        while (!inner.hasNext && outer.hasNext) inner = outer.next().iterator()
        inner.hasNext
      }
      override def next(): InternalRow = { hasNext; inner.next() }
    }
  }

  /** Streaming k-per-group limit over a (group, order)-sorted run —
    * O(1) state: the previous group key and a counter. */
  private def groupLimit(it: Iterator[InternalRow]): java.util.Iterator[InternalRow] =
    new java.util.Iterator[InternalRow] {
      private var prevKey: UnsafeRow = null
      private var seen = 0
      private var pending: InternalRow = null
      private def advance(): Unit = {
        while (pending == null && it.hasNext) {
          val r = it.next()
          val key = keyProj(r)
          if (prevKey == null || key != prevKey) { prevKey = key.copy(); seen = 0 }
          seen += 1
          if (seen <= k) pending = r
        }
      }
      override def hasNext: Boolean = { advance(); pending != null }
      override def next(): InternalRow = {
        advance()
        val r = pending; pending = null; r
      }
    }
}

/** Physical top-k-per-group: one pass, one bounded max-heap per group
  * (`peek` = current worst of the kept k). Rows and keys are copied on
  * retention (iterator rows are reused buffers).
  *
  * Memory contract (per task):
  *  - partial (map side): O(min(groups, `spark.graft.topk.maxPartialGroups`)·k).
  *    Group cardinality scales with input, so the heap map is CAPPED:
  *    once the cap is reached, rows of not-yet-tracked groups pass
  *    through unfiltered — a pure optimization loss, never a
  *    correctness change, because the final exec after the exchange
  *    re-filters every group. This mirrors Spark's hash-aggregate
  *    partial-skip fallback under high-cardinality keys.
  *  - final (post-exchange): O(groups-in-partition·k) — proportional to
  *    this partition's OUTPUT, the floor for any operator that must
  *    hold k candidates per group until its input is exhausted; it
  *    shrinks linearly with `spark.sql.shuffle.partitions`. Unlike
  *    `HashAggregateExec` there is no sort-spill fallback, so the
  *    contract is ENFORCED: past `spark.graft.topk.maxFinalHeapRows`
  *    retained rows the task raises a clear sizing error (naming the
  *    remedies) instead of drifting toward OOM; the `numHeapRows`
  *    metric reports actual retention for sizing.
  *
  * Ordering contract: see [[TopKPerGroup]] — `order` must totally
  * order each group's rows or boundary ties are arrival-order
  * dependent. */
case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode with BlockingOperatorWithCodegen {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numPassThrough" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext,
        "rows passed through unfiltered (partial over group cap)"),
    "numHeapRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext,
        "rows retained in heaps (final-mode memory ∝ this ÷ tasks)"),
    "numSortFallbacks" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext,
        "tasks that degraded to the spillable sort shape on heap overflow"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  // Row-filtering only: partitioning passes through (keeps AQE/EnsureRequirements
  // from re-shuffling consumers keyed on the same group columns).
  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** Partial mode only: cap on distinct groups tracked per task before
    * degrading to pass-through. Final mode must keep every group (its
    * heaps ARE the output), so it never degrades. Resolved driver-side
    * so the session conf, not the executor default, wins. */
  private def groupCap: Int =
    if (partial)
      org.apache.spark.sql.internal.SQLConf.get
        .getConfString(TopK.MaxPartialGroupsKey, TopK.MaxPartialGroupsDefault).toInt
    else Int.MaxValue

  /** Final mode only: hard cap on rows retained per task before raising
    * a clear sizing error instead of drifting toward OOM (the partial
    * exec never needs it — its group cap bounds retention and the rest
    * passes through). Resolved STRICTLY at construction, i.e. on the
    * driver during planning, because the codegen path serializes this
    * plan node to executors where `SQLConf.get` would see defaults,
    * not the session's setting. */
  private val finalRowCap: Long =
    if (partial) Long.MaxValue
    else org.apache.spark.sql.internal.SQLConf.get
      .getConfString(TopK.MaxFinalHeapRowsKey, TopK.MaxFinalHeapRowsDefault).toLong

  /** Final-mode overflow policy ("sort" = degrade to the spillable
    * sort + group-limit shape, "error" = strict sizing error). Same
    * strict construction-time resolution as [[finalRowCap]]. */
  private val overflowToSort: Boolean =
    !partial && (org.apache.spark.sql.internal.SQLConf.get
      .getConfString(TopK.FinalOverflowKey, TopK.FinalOverflowDefault) match {
        case "sort" => true
        case "error" => false
        case other => throw new IllegalArgumentException(
          s"${TopK.FinalOverflowKey} must be 'sort' or 'error', got '$other'")
      })

  override protected def doExecute(): RDD[InternalRow] = {
    val kk = k
    val g = groupExprs
    val o = order
    val attrs = child.output
    val cap = groupCap
    val outRows = longMetric("numOutputRows")
    val passRows = longMetric("numPassThrough")
    val rowCap = finalRowCap
    val heapRows = longMetric("numHeapRows")
    val degrade = overflowToSort
    val sortFallbacks = longMetric("numSortFallbacks")
    child.execute().mapPartitions({ iter =>
      val buf = new TopKPartitionBuffer(kk, g, o, attrs, cap, rowCap, heapRows,
        degrade, sortFallbacks)
      val passedThrough = iter.flatMap { row =>
        // Over the cap (partial mode only) offer hands the row back for
        // pass-through: emit unfiltered; the final exec re-filters, so
        // semantics are unchanged. No copy needed — the row is consumed
        // downstream before the next iterator step reuses the buffer.
        val out = buf.offer(row)
        if (out == null) Iterator.empty
        else { passRows += 1; outRows += 1; Iterator.single(out) }
      }
      // `++` evaluates its operand lazily, so the heap flush runs only
      // after the input (and therefore every heap) is complete.
      passedThrough ++ buf.flush().asScala.map { r => outRows += 1; r }
    }, preservesPartitioning = true)
  }

  // ---- whole-stage codegen (FINAL mode only) -------------------------
  // The partial exec's over-cap degrade emits rows MID-stream, but a
  // blocking codegen operator runs its child's loop to completion with
  // stop checks disabled (needStopCheck = false) — every pass-through
  // row would pile up in the stage's output buffer, re-creating exactly
  // the unbounded memory the cap exists to prevent. The partial side
  // therefore stays a streaming mapPartitions by design; the final exec
  // is purely blocking (it never degrades) and fuses into the
  // post-exchange stage like SortExec does.

  override def supportCodegen: Boolean =
    !partial && org.apache.spark.sql.internal.SQLConf.get
      .getConfString(TopK.CodegenKey, "true").toBoolean

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  /** Called from generated code: per-task heap state (never degrades —
    * see [[supportCodegen]], only the final exec compiles). */
  def createBuffer(): TopKPartitionBuffer =
    new TopKPartitionBuffer(k, groupExprs, order, child.output, Int.MaxValue,
      finalRowCap, longMetric("numHeapRows"),
      overflowToSort, longMetric("numSortFallbacks"))

  private var bufferVariable: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    val needToProcess = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "topkNeedInput",
      v => s"$v = true;")
    val thisPlan = ctx.addReferenceObj("plan", this)
    bufferVariable = ctx.addMutableState(classOf[TopKPartitionBuffer].getName, "topkBuffer",
      v => s"$v = $thisPlan.createBuffer();", forceInline = true)
    val flushIter = ctx.addMutableState(
      "java.util.Iterator<InternalRow>", "topkFlushIter", forceInline = true)
    val addToBuffer = ctx.freshName("addToTopK")
    val addToBufferFunc = ctx.addNewFunction(addToBuffer,
      s"""
         |private void $addToBuffer() throws java.io.IOException {
         |  ${child.asInstanceOf[CodegenSupport].produce(ctx, this)}
         |}
       """.stripMargin.trim)
    val outputRow = ctx.freshName("topkOutputRow")
    val numOutput = metricTerm(ctx, "numOutputRows")
    s"""
       |if ($needToProcess) {
       |  $addToBufferFunc();
       |  $flushIter = $bufferVariable.flush();
       |  $needToProcess = false;
       |}
       |while ($limitNotReachedCond $flushIter.hasNext()) {
       |  UnsafeRow $outputRow = (UnsafeRow) $flushIter.next();
       |  $numOutput.add(1);
       |  ${consume(ctx, null, outputRow)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    if (row != null) {
      // Child handed us a materialized row (InputAdapter over the
      // exchange — the common final-mode shape).
      s"""
         |${row.code}
         |$bufferVariable.offer(${row.value});
       """.stripMargin
    } else {
      // Child produced column variables: pack them into an UnsafeRow
      // first (offer copies on retention, so the buffer is safe).
      val colExprs = child.output.zipWithIndex.map { case (attr, i) =>
        BoundReference(i, attr.dataType, attr.nullable)
      }
      val evaluateInputs = evaluateVariables(input)
      ctx.INPUT_ROW = null
      ctx.currentVars = input
      val code = GenerateUnsafeProjection.createCode(ctx, colExprs)
      s"""
         |$evaluateInputs
         |${code.code}
         |$bufferVariable.offer(${code.value});
       """.stripMargin
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
    GraftExtensions.functions.foreach(f => e.injectFunction(f.injectable))
  }
}

/** The graft planner strategies, optimizer rules and SQL functions, in
  * install order: the one list that both [[GraftExtensions]] and
  * [[TopK.ensure]] install. */
object GraftExtensions {
  val strategies: Seq[SparkStrategy] = Seq(TopKStrategy, AsOfStrategy)
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(PushFilterThroughTopK, RewriteRowNumberTopK, CoalesceSmallRootSort)
  val functions: Seq[graft.functions.SqlFunction[_]] =
    Seq(graft.functions.VectorExprs.vecDot, graft.functions.BitExprs.interleaveBits)
}

object TopK {
  /** Session conf key bounding the partial exec's per-task group map
    * (see [[TopKPerGroupExec]] memory contract). */
  val MaxPartialGroupsKey = "spark.graft.topk.maxPartialGroups"
  val MaxPartialGroupsDefault = "131072"

  /** Kill-switch for the final exec's whole-stage-codegen path (see
    * [[TopKPerGroupExec.supportCodegen]]); interpreted doExecute remains
    * the fallback either way. */
  val CodegenKey = "spark.graft.topk.codegen"

  /** Session conf key bounding FINAL-mode retained rows per task (the
    * O(groups-in-partition·k) term that, unlike HashAggregateExec, has
    * no sort-spill fallback): past the bound the task raises a clear
    * sizing error naming the remedies instead of drifting toward OOM.
    * Default 64 Mi rows ≈ several GiB of retained UnsafeRows — far
    * above any sane per-task output, low enough to fire before the
    * executor dies. The `numHeapRows` metric reports actual retention
    * for sizing. */
  val MaxFinalHeapRowsKey = "spark.graft.topk.maxFinalHeapRows"
  val MaxFinalHeapRowsDefault = (64L * 1024 * 1024).toString

  /** What a FINAL-mode task does when retention passes the cap:
    * "sort" (default) degrades in place to a spillable external sort on
    * (group, order) + streaming k-per-group limit — the window twin's
    * physical shape, so the query completes correctly with sort-spill
    * memory behavior; "error" keeps the r8 strict sizing error. */
  val FinalOverflowKey = "spark.graft.topk.finalOverflow"
  val FinalOverflowDefault = "sort"

  /** Idempotent runtime injection of [[GraftExtensions]]' list into any
    * session, including one built without the extensions class. */
  def ensure(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized {
      exp.extraStrategies ++= GraftExtensions.strategies.filterNot(exp.extraStrategies.contains)
      exp.extraOptimizations ++= GraftExtensions.rules.filterNot(exp.extraOptimizations.contains)
    }
    GraftExtensions.functions.foreach(graft.functions.Registry.ensure(spark, _))
  }

  /** Top-k rows per group of `df`, ranked by `orderKeys`
    * ((column, descending?)); ties must be broken by the caller's key
    * list for deterministic output. */
  def perGroup(df: DataFrame, k: Int, groupCols: Seq[String],
      orderKeys: Seq[(String, Boolean)]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    ensure(spark)
    val plan = ds.queryExecution.analyzed
    // Session-resolver matching (case-insensitive by default, like any
    // other column lookup) + a hard error on duplicates — post-join
    // plans can carry same-named attributes and silently picking the
    // first would rank on the wrong one.
    val resolver = spark.sessionState.conf.resolver
    def attr(name: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not among ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: ${many.size} attributes match " +
            s"(${many.map(_.qualifiedName).mkString(", ")}); disambiguate upstream")
      }
    val g = groupCols.map(attr(_): Expression)
    val o = orderKeys.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    classic.GraftSqlBridge.ofRows(spark, TopKPerGroup(k, g, o, plan))
  }
}
