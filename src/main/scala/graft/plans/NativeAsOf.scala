package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** NATIVE as-of join — the (c)-tier custom operator: a [[LogicalPlan]]
  * node, a [[GraftStrategy]] case, and a physical [[SparkPlan]] running a
  * per-partition sorted merge. [[graft.operators.AsOfJoin]] remains the
  * compose-first implementation (union + one keyed window, SURVEY §2
  * aj1/s3); this node exists where that composition leaves money on the
  * table — it asks the planner for `ClusteredDistribution` on the keys
  * and `(keys, ts)` child ordering, so `EnsureRequirements` co-partitions
  * the two sides and the join itself is a single streaming pass per
  * partition: no union materialization, no struct-packing of payloads
  * through a window, and the left side's sort can be reused by a
  * downstream operator (the exec preserves left partitioning+ordering).
  *
  * Semantics match [[graft.operators.AsOfJoin.asOf]] exactly (parity is
  * property-tested): for each left row, the payload of the most recent
  * right row with `r.ts <= l.ts` in the same key group; several right
  * rows on one (keys, ts) resolve to the smallest `tie`; left rows with
  * no prior right row keep NULL payloads (left-outer). As with the
  * composition, `tie` must be unique within each (keys, ts) group —
  * duplicate (keys, ts, tie) rows with different payloads resolve
  * engine-arbitrarily (this exec takes the first row of the sorted
  * group, the composition the last in window order). NULL keys follow
  * window-GROUPING semantics on both implementations (null-key left
  * rows see null-key right history), not SQL equi-join semantics where
  * nulls never match — the distinction pandas `merge_asof` also makes.
  *
  * Scale shape: one hash shuffle per side (skipped when a side is
  * already partitioned on the keys), per-partition merge is O(|L|+|R|)
  * with O(1) carried state — strictly less data movement than the union
  * form, which shuffles |L|+|R| rows through ONE window partitioning.
  * The same degenerate-mega-key caveat as any keyed operator applies.
  */
object NativeAsOf {

  /** As-of join `left` with `right` (see object doc for semantics —
    * identical to [[graft.operators.AsOfJoin.asOf]], same parameter
    * meaning, same output schema: left columns then
    * `prefix+tsCol, prefix+payload*`). */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String], tsCol: String,
      payload: Seq[String], tieCol: String, prefix: String = "r_"): DataFrame = {
    // keyless (global) as-of: ClusteredDistribution(Nil) is not plannable
    // (EnsureRequirements throws an opaque internal error), and a global
    // as-of has no partitioning to exploit anyway — delegate to the
    // composition, which handles it as one unpartitioned window, keeping
    // the two implementations API-equivalent on every input
    if (keys.isEmpty)
      return graft.operators.AsOfJoin.asOf(
        left, right, keys, tsCol, payload, tieCol, prefix)
    val spark = left.sparkSession
    GraftStrategy.ensure(spark, asOfRules = true)
    val lPlan = GraftSqlBridge.analyzed(left)
    val rPlan0 = GraftSqlBridge.analyzed(right)
    // both sides often derive from ONE scan (self-as-of on an event
    // table) and then share exprIds; the analyzer's DeduplicateRelations
    // would re-id the right subtree WITHOUT rewriting this node's stored
    // attributes. Pre-deduplicate: re-alias the right output fresh, so
    // the ids this node captures are the ids that survive analysis.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asOf: column $name not found in [${p.output.map(_.name).mkString(", ")}]"))
    keys.foreach { k =>
      require(attr(lPlan, k).dataType == attr(rPlan, k).dataType,
        s"asOf: key $k type mismatch: ${attr(lPlan, k).dataType.sql} vs " +
          attr(rPlan, k).dataType.sql)
    }
    require(attr(lPlan, tsCol).dataType == attr(rPlan, tsCol).dataType,
      s"asOf: ts $tsCol type mismatch: ${attr(lPlan, tsCol).dataType.sql} vs " +
        attr(rPlan, tsCol).dataType.sql)
    val rightCarry = tsCol +: payload
    val outAttrs = rightCarry.map { c =>
      val a = attr(rPlan, c)
      AttributeReference(prefix + c, a.dataType, nullable = true)()
    }
    val node = AsOfJoinPlan(lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, tsCol), attr(rPlan, tsCol), attr(rPlan, tieCol),
      rightCarry.map(attr(rPlan, _)), outAttrs)
    GraftSqlBridge.ofRows(spark, node)
  }
}

/** Injected column pruning through the as-of node: a parent projection
  * that uses a subset of the left columns narrows the left child to
  * (parent references ∩ left) ∪ keys ∪ ts. The node's `output` derives
  * from `left.output`, so it shrinks consistently, and at a 100 TB scan
  * this is the difference between reading two columns and reading the
  * table — asserted on `ReadSchema` in NativeAsOfSpec. Reaches a fixed
  * point once nothing more can be dropped. */
object AsOfColumnPruning
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case p @ Project(_, asOf: AsOfJoinPlan) =>
      val needed = p.references ++
        AttributeSet(asOf.leftKeys :+ asOf.leftTs)
      val keep = asOf.left.output.filter(needed.contains)
      if (keep.size == asOf.left.output.size) p
      else p.copy(child = asOf.copy(
        left = Project(keep.map(a => a: org.apache.spark.sql.catalyst
          .expressions.NamedExpression), asOf.left)))
  }
}

/** Injected optimizer rule: Catalyst pushes filters through nodes it
  * KNOWS; a custom node stalls them, so a predicate on fact columns
  * sitting above an as-of enrichment would otherwise run post-join and
  * never reach the parquet scan. Left-side-only conjuncts move below
  * the node (every left row maps 1:1 to an output row, so this is
  * semantics-preserving); right/payload predicates must stay above —
  * dropping a right row changes which payload earlier rows pick up.
  * With the filter adjacent to the scan again, the BUILT-IN pushdown
  * machinery carries it into `PushedFilters` (asserted in
  * NativeAsOfSpec). */
object AsOfFilterPushdown
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
  with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, asOf: AsOfJoinPlan) =>
      // deterministic only — pushing rand()-style predicates below would
      // change evaluation order/count, the same refusal built-in
      // pushdown makes
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(c => c.deterministic &&
          c.references.subsetOf(asOf.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = asOf.copy(left = Filter(pushable.reduce(
          org.apache.spark.sql.catalyst.expressions.And), asOf.left))
        kept.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Logical as-of join node. All attributes are RESOLVED at construction
  * (built from analyzed child plans), so the analyzer sees a complete
  * node; `payloadOut` are fresh attributes this node produces. */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute, rightTie: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute])
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)
  // EXPLICIT: everything the merge consumes. payloadOut carries fresh
  // exprIds, so without this ColumnPruning sees no reference into the
  // right child and prunes it to an EMPTY projection (the left side only
  // survives via `output`) — the classic custom-binary-node trap.
  override def references: AttributeSet = AttributeSet(
    left.output ++ leftKeys ++ rightKeys ++
      Seq(leftTs, rightTs, rightTie) ++ payload)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Physical as-of join: children arrive co-partitioned on the keys
  * (`ClusteredDistribution`) and sorted by (keys, ts) — right also by
  * the tie column — so each partition is one streaming merge with O(1)
  * carried state: the payload of the latest right (keys, ts) group seen
  * at-or-before the current left row.
  */
final case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute, rightTie: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ Seq(rightTs, rightTie)).map(SortOrder(_, Ascending)))

  // left rows pass through in order: partitioning and ordering survive,
  // so a downstream keyed operator reuses this exchange/sort
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTsProj = UnsafeProjection.create(Seq(leftTs), left.output)
      val rTsProj = UnsafeProjection.create(Seq(rightTs), right.output)
      val payProj = UnsafeProjection.create(payload, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(output, output)
      val nullPay = new GenericInternalRow(payloadOut.size)

      // internal values held across rows must own their memory (sorter
      // iterators reuse row buffers)
      def ownTs(v: Any): Any = v match {
        case s: UTF8String => s.copy()
        case d: Decimal => d
        case x => x
      }

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        // latest at-or-before right state: key + ts of the group, payload
        private var heldKey: InternalRow = _
        private var heldTs: Any = _
        private var heldPay: InternalRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyProj(l)
          val lTs = lTsProj(l).get(0, tsType)
          var done = false
          while (!done && rHead != null) {
            val rKey = rKeyProj(rHead)
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              // keys this small can never match a future left row either
              rHead = if (rIter.hasNext) rIter.next() else null
            } else if (c == 0) {
              val rTs = rTsProj(rHead).get(0, tsType)
              if (rTs == null) {
                // NULL ts never matches (SQL/merge_asof semantics) —
                // consume it, or it would stall the right iterator for
                // every remaining left row of this key
                rHead = if (rIter.hasNext) rIter.next() else null
              } else if (lTs != null && tsOrd.lteq(rTs, lTs)) {
                val sameGroup = heldPay != null && heldKey != null &&
                  keyOrd.compare(heldKey, lKey) == 0 && tsOrd.equiv(heldTs, rTs)
                if (!sameGroup) {
                  // first row of a new (key, ts) group: smallest tie wins
                  // (right is tie-sorted); later rows of the group skip
                  heldKey = lKey.copy()
                  heldTs = ownTs(rTs)
                  heldPay = payProj(rHead).copy()
                }
                rHead = if (rIter.hasNext) rIter.next() else null
              } else done = true // this and later right rows are in l's future
            } else done = true // right has advanced past l's key
          }
          val pay =
            if (heldPay != null && heldKey != null &&
              keyOrd.compare(heldKey, lKey) == 0) heldPay
            else nullPay
          outProj(joined(l, pay))
        }
      }
    }
  }
}

/** Broadcast as-of join — the scale path for enriching a huge fact
  * against a SMALL reference: the right side ships whole to every
  * executor (`BroadcastDistribution(IdentityBroadcastMode)`), each task
  * builds a per-key ts-sorted index once, and the left side is consumed
  * AS IS — no shuffle, no sort, a pure narrow pass over the fact. The
  * 100 TB story: as-of-enriching every event against a reference table
  * costs exactly one broadcast plus one map, where the merge form (and
  * the union+window form) would shuffle the full fact.
  *
  * Same semantics as [[AsOfJoinExec]] (latest right at-or-before, ties
  * by smallest `tie`, left-outer NULLs), property-checked against it.
  */
object BroadcastAsOfJoinExec {
  private val indexCache = new java.util.WeakHashMap[AnyRef,
    java.util.HashMap[String, java.util.HashMap[InternalRow, Array[(Any, InternalRow)]]]]
  /** One index build per (executor, broadcast value, PROJECTION): the
    * weak outer key is the broadcast array (the index unloads with the
    * block), the inner key the join's projection identity — two as-of
    * joins sharing one ReuseExchange-deduplicated broadcast but reading
    * different key/ts/payload columns must NOT share an index. The
    * by-name build runs OUTSIDE the map lock (an idempotent duplicate
    * build under a rare race beats serializing every task slot on one
    * monitor). */
  private[plans] def cachedIndex(key: AnyRef, projId: String)(
      build: => java.util.HashMap[InternalRow, Array[(Any, InternalRow)]])
      : java.util.HashMap[InternalRow, Array[(Any, InternalRow)]] = {
    val hit = indexCache.synchronized {
      val inner = indexCache.get(key)
      if (inner == null) null else inner.get(projId)
    }
    if (hit != null) hit
    else {
      val v = build
      indexCache.synchronized {
        var inner = indexCache.get(key)
        if (inner == null) {
          inner = new java.util.HashMap[String,
            java.util.HashMap[InternalRow, Array[(Any, InternalRow)]]]
          indexCache.put(key, inner)
        }
        val raced = inner.get(projId)
        if (raced != null) raced else { inner.put(projId, v); v }
      }
    }
  }
}

final case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute, rightTie: Attribute,
    payload: Seq[Attribute], payloadOut: Seq[Attribute],
    left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadOut
  override def producedAttributes: AttributeSet = AttributeSet(payloadOut)

  override def requiredChildDistribution: Seq[Distribution] =
    org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution ::
      org.apache.spark.sql.catalyst.plans.physical.BroadcastDistribution(
        org.apache.spark.sql.catalyst.plans.physical.IdentityBroadcastMode) :: Nil

  // the fact passes through untouched — everything upstream survives
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val tieType = rightTie.dataType
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val rTsProj = UnsafeProjection.create(Seq(rightTs), right.output)
      val rTieProj = UnsafeProjection.create(Seq(rightTie), right.output)
      val payProj = UnsafeProjection.create(payload, right.output)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val tieOrd = TypeUtils.getInterpretedOrdering(tieType)
      // values held past the next projection call must own their memory
      // (UTF8String results alias the projection's reused buffer —
      // storing them raw lets later rows clobber the index order)
      def own(v: Any): Any = v match {
        case s: UTF8String => s.copy()
        case d: Decimal => d
        case x => x
      }
      // per-key index: ts-ascending arrays of (ts, payload), one entry
      // per (key, ts) group (smallest tie wins within a group). Built
      // ONCE per executor per broadcast (weak-keyed on the broadcast
      // value, so it unloads with the broadcast) — rebuilding per task
      // would multiply the dim sort by the task count.
      val projId = (rightKeys ++ Seq(rightTs, rightTie) ++ payload)
        .map(a => s"${a.exprId.id}:${a.dataType.sql}").mkString(",")
      val index = BroadcastAsOfJoinExec.cachedIndex(bcast.value, projId) {
      val index = new java.util.HashMap[InternalRow, Array[(Any, InternalRow)]]
      locally {
        val groups = new java.util.HashMap[InternalRow,
          scala.collection.mutable.ArrayBuffer[(Any, Any, InternalRow)]]
        bcast.value.foreach { r =>
          val k = rKeyProj(r).copy()
          val ts = rTsProj(r).get(0, tsType)
          if (ts != null) {
            var buf = groups.get(k)
            if (buf == null) {
              buf = new scala.collection.mutable.ArrayBuffer[(Any, Any, InternalRow)]
              groups.put(k, buf)
            }
            buf += ((own(ts), own(rTieProj(r).get(0, tieType)),
              payProj(r).copy()))
          }
        }
        groups.forEach { (k, buf) =>
          // null ties sort FIRST (win), matching SortOrder's nulls-first
          // in the merge exec and the composition's window orderBy
          def tieCmp(a: Any, b: Any): Int =
            if (a == null && b == null) 0
            else if (a == null) -1
            else if (b == null) 1
            else tieOrd.compare(a, b)
          val sorted = buf.sortWith { case ((t1, e1, _), (t2, e2, _)) =>
            val c = tsOrd.compare(t1, t2)
            if (c != 0) c < 0 else tieCmp(e1, e2) < 0
          }
          val dedup = scala.collection.mutable.ArrayBuffer[(Any, InternalRow)]()
          sorted.foreach { case (ts, _, pay) =>
            if (dedup.isEmpty || !tsOrd.equiv(dedup.last._1, ts))
              dedup += ((ts, pay))
          }
          index.put(k, dedup.toArray)
        }
      }
      index
      }
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val lTsProj = UnsafeProjection.create(Seq(leftTs), left.output)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(output, output)
      val nullPay = new GenericInternalRow(payloadOut.size)
      lIter.map { l =>
        val arr = index.get(lKeyProj(l))
        val lTs = lTsProj(l).get(0, tsType)
        var pay: InternalRow = nullPay
        if (arr != null && lTs != null) {
          // greatest ts <= lTs by binary search
          var lo = 0; var hi = arr.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (tsOrd.lteq(arr(mid)._1, lTs)) { pay = arr(mid)._2; lo = mid + 1 }
            else hi = mid - 1
          }
        }
        outProj(joined(l, pay))
      }
    }
  }
}
