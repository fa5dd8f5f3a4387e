package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, JoinedRow, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Two-phase ordered scan: `out` = the running sum of `value` over the
  * rows of each group in `order`, and `total` (when present) = the
  * group's sum. The first `groups` keys of `order` form the group, the
  * rest order the rows inside it. `value` is a `long`; a NULL adds
  * nothing, and a row with no non-NULL value at or before it in its group
  * gets NULL (and a group with none gets a NULL total), as with
  * `sum(value).over(..)`. [[graft.operators.Ranks]] builds it; every
  * input column passes through. */
final case class OrderedScan(order: Seq[SortOrder], groups: Int,
    value: Expression, out: Attribute, total: Option[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ (out +: total.toSeq)
  override def producedAttributes: AttributeSet = AttributeSet(out +: total.toSeq)
  override protected def withNewChildInternal(c: LogicalPlan): OrderedScan =
    copy(child = c)
}

/** Physical [[OrderedScan]]. It asks for the child range-partitioned and
  * sorted on `order`, so `EnsureRequirements` plans one range exchange
  * and one sort under it. A group then spans a run of consecutive
  * partitions, and only the first group of a partition can have rows in
  * earlier ones.
  *
  * `doExecute` runs one job over the sorted child that returns each
  * partition's per-group sums (and the keys of its first and last group),
  * the way `RDD.zipWithIndex` counts partitions. The driver folds them
  * into each partition's carry (what its first group summed in earlier
  * partitions) and each group's total: one entry per (group, partition)
  * the group touches, so at most groups + 2 × partitions. The rows then
  * pass through a map over the same RDD, so both passes read one shuffle
  * output. Sums are associative, so the row order inside equal keys,
  * which may differ between the passes, does not change a carry. */
final case class OrderedScanExec(order: Seq[SortOrder], groups: Int,
    value: Expression, out: Attribute, total: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  import OrderedScanExec.{Groups, Part}

  override def output: Seq[Attribute] = child.output ++ (out +: total.toSeq)
  override def producedAttributes: AttributeSet = AttributeSet(out +: total.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  // rows pass through in place
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(c: SparkPlan): OrderedScanExec =
    copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    // the closures below capture these locals, not the plan
    val in = child.output
    val all = output
    val keys = order.take(groups).map(_.child)
    val v = value
    val withTotal = total.isDefined
    val add = OrderedScanExec.adder(conf.ansiEnabled)

    val rows = child.execute()
    val parts = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val g = new Groups(keys, in)
      val x = UnsafeProjection.create(Seq(v), in)
      val sums = ArrayBuffer.empty[Long]
      val seen = ArrayBuffer.empty[Boolean]
      var first: InternalRow = null
      it.foreach { row =>
        if (g.opens(row)) {
          if (first == null) first = g.key
          sums += 0L
          seen += false
        }
        val r = x(row)
        if (!r.isNullAt(0)) {
          sums(g.index) = add(sums(g.index), r.getLong(0))
          seen(g.index) = true
        }
      }
      if (first == null) null else Part(first, g.key, sums.toArray, seen.toArray)
    })

    // the driver fold: a partition's first group continues the previous
    // non-empty partition's last group when their keys match
    val same = RowOrdering.createNaturalAscendingOrdering(keys.map(_.dataType))
    val carry = new Array[Long](parts.length)
    val carrySeen = new Array[Boolean](parts.length)
    val totals = parts.map(p => if (p == null) null else new Array[Long](p.sums.length))
    val totalSeen = parts.map(p => if (p == null) null else new Array[Boolean](p.sums.length))
    var last: InternalRow = null
    var sum = 0L
    var anySeen = false
    val members = ArrayBuffer.empty[(Int, Int)] // (partition, group) of the open group
    def close(): Unit = {
      members.foreach { case (i, j) => totals(i)(j) = sum; totalSeen(i)(j) = anySeen }
      members.clear(); sum = 0L; anySeen = false
    }
    parts.indices.filter(parts(_) != null).foreach { i =>
      val p = parts(i)
      if (last == null || same.compare(last, p.first) != 0) close()
      carry(i) = sum
      carrySeen(i) = anySeen
      p.sums.indices.foreach { j =>
        if (j > 0) close()
        sum = add(sum, p.sums(j))
        anySeen ||= p.seen(j)
        members += ((i, j))
      }
      last = p.last
    }
    close()

    rows.mapPartitionsWithIndex { (i, it) =>
      val g = new Groups(keys, in)
      val x = UnsafeProjection.create(Seq(v), in)
      val extra = new SpecificInternalRow(Seq.fill(if (withTotal) 2 else 1)(LongType))
      val joined = new JoinedRow
      val project = UnsafeProjection.create(all, all)
      var sum = 0L
      var anySeen = false
      it.map { row =>
        if (g.opens(row)) {
          val j = g.index
          sum = if (j == 0) carry(i) else 0L
          anySeen = j == 0 && carrySeen(i)
          if (withTotal) {
            if (totalSeen(i)(j)) extra.setLong(1, totals(i)(j)) else extra.setNullAt(1)
          }
        }
        val r = x(row)
        if (!r.isNullAt(0)) {
          sum = add(sum, r.getLong(0))
          anySeen = true
        }
        if (anySeen) extra.setLong(0, sum) else extra.setNullAt(0)
        project(joined(row, extra))
      }
    }
  }
}

object OrderedScanExec {
  private def adder(ansi: Boolean): (Long, Long) => Long =
    if (ansi) Math.addExact(_, _) else _ + _

  /** Walks the groups of one sorted partition: [[opens]] says whether a
    * row starts a new group, whose number in the partition is then
    * [[index]] and whose key is [[key]]. Equal keys are equal under the
    * sort's own ordering. */
  private final class Groups(keys: Seq[Expression], in: Seq[Attribute]) {
    private val keyOf = UnsafeProjection.create(keys, in)
    private val same = RowOrdering.createNaturalAscendingOrdering(keys.map(_.dataType))
    var key: InternalRow = _
    var index = -1
    def opens(row: InternalRow): Boolean =
      if (index >= 0 && (keys.isEmpty || same.compare(keyOf(row), key) == 0)) false
      else { key = keyOf(row).copy(); index += 1; true }
  }

  /** One partition's groups in order: the keys of the first and the last
    * one, and each one's sum (and whether it saw a non-NULL value). */
  private final case class Part(first: InternalRow, last: InternalRow,
      sums: Array[Long], seen: Array[Boolean])
}
