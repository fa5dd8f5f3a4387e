package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.QuaternaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded buffer for [[PriorityTopK]]: the k lexicographically smallest
  * (priority, tiebreak) rows seen so far, as a max-heap (root = largest
  * kept pair = next to evict). Entries are self-contained UnsafeRows of
  * (priority, tiebreak, payload). */
final class TopKBuffer(val k: Int) {
  val heap: mutable.PriorityQueue[UnsafeRow] =
    mutable.PriorityQueue.empty(TopKBuffer.order)
  def wouldEnter(p: Double, t: Long): Boolean =
    heap.size < k || {
      val h = heap.head
      val c = java.lang.Double.compare(p, h.getDouble(0))
      c < 0 || (c == 0 && t < h.getLong(1))
    }
  def insert(row: UnsafeRow): Unit = {
    if (heap.size < k) heap.enqueue(row)
    else if (wouldEnter(row.getDouble(0), row.getLong(1))) {
      heap.dequeue(); heap.enqueue(row)
    }
  }
}

object TopKBuffer {
  /** Total order on (priority, tiebreak) via Double.compare — the same
    * order as Spark's ascending sort on the priority column: NaN ranks
    * after +Infinity instead of failing every IEEE compare (a NaN at the
    * heap root would otherwise never be evicted). */
  val order: Ordering[UnsafeRow] = (a: UnsafeRow, b: UnsafeRow) => {
    val c = java.lang.Double.compare(a.getDouble(0), b.getDouble(0))
    if (c != 0) c else java.lang.Long.compare(a.getLong(1), b.getLong(1))
  }
}

/** `priority_topk(priority, payload, k)` and
  * `priority_topk_tie(priority, tiebreak, payload, k)` — aggregate
  * returning the payloads of the k lexicographically smallest
  * (priority, tiebreak) rows per group, ordered ascending. The 3-arg form
  * is the 4-arg form with a constant tiebreak: ties in priority are then
  * broken arbitrarily.
  *
  * This is the missing Spark primitive for per-group top-k/sampling: the
  * built-in spellings are either a per-group window sort
  * (`row_number().over(partitionBy(g).orderBy(p, t)) <= k` — shuffles and
  * sorts the WHOLE scored frame) or a global `orderBy().limit()` (one
  * group only). This aggregate keeps O(k) state per group inside a
  * regular partial+final hash aggregation: each task heap-folds its rows
  * (map-side combine), merges ship k rows per (group, partition) — the
  * shape that survives a 100 TB group. On ss1's brute cosine top-k at
  * sf1.0 that is 4M window-sorted rows replaced by ≤ k·32 rows per query
  * group.
  *
  * With `priority = -ln(u)/w` where `u = (hash60(key)+1)/2^60` and `w`
  * the row weight, the k smallest priorities are exactly a WEIGHTED
  * RESERVOIR SAMPLE without replacement (Efraimidis–Spirakis A-ES via
  * exponential jumps: keeping the largest `u^(1/w)` ≡ smallest
  * `-ln(u)/w`) — deterministic, engine-portable, retry-safe, unlike any
  * `rand()`-seeded sample. Hash priorities never tie, so these uses take
  * the 3-arg form; top-k over VALUE priorities, where ties are real,
  * takes the tiebreak (the ng5 lesson: every ordering the engine exposes
  * must be total).
  *
  * Ordering is TOTAL: Double.compare semantics, so NaN priorities rank
  * after +Infinity (same as Spark's ascending sort on the priority
  * column), and -0.0 is normalized to 0.0 so a ±0.0 tie falls to the
  * tiebreak as in Spark's sort. NULL priority/tiebreak/payload rows are
  * skipped — standard aggregate null-in semantics, unlike a window
  * sort's NULLS FIRST — so callers whose score can be NULL (cosine_sim
  * on a zero norm) get "excluded", which is what every call site here
  * wants.
  */
case class PriorityTopK(
    priority: Expression,
    tiebreak: Expression,
    payload: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with QuaternaryLike[Expression] {

  /** The 3-arg SQL form: no tiebreak argument was given. */
  private def untied: Boolean = tiebreak == PriorityTopK.NoTiebreak

  private lazy val k: Int = kExpr.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case other => throw new IllegalArgumentException(
      s"$prettyName: k must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (priority.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: priority must be DOUBLE, got ${priority.dataType.simpleString}")
    else if (tiebreak.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: tiebreak must be BIGINT, got ${tiebreak.dataType.simpleString}")
    else if (!kExpr.foldable ||
        !Seq[DataType](IntegerType, LongType, ShortType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be an integer literal")
    else if (kExpr.eval() == null || k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be a positive literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(payload.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = if (untied) "priority_topk" else "priority_topk_tie"

  // print the arguments the caller wrote: the 3-arg form's constant
  // tiebreak stays out of plans and generated column names
  override protected def stringArgs: Iterator[Any] =
    if (untied) Iterator(priority, payload, kExpr, mutableAggBufferOffset,
      inputAggBufferOffset)
    else super.stringArgs
  override def sql(isDistinct: Boolean): String =
    if (untied) s"$prettyName(${Seq(priority, payload, kExpr).map(_.sql).mkString(", ")})"
    else super.sql(isDistinct)

  // one UnsafeProjection per task thread; the projected row is REUSED by
  // the projection, so every kept row is copy()'d into its own buffer
  @transient private lazy val proj =
    UnsafeProjection.create(Array(DoubleType, LongType, payload.dataType))
  @transient private lazy val scratch = new GenericInternalRow(3)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val p = priority.eval(input)
    val t = tiebreak.eval(input)
    if (p != null && t != null) {
      val v = payload.eval(input)
      if (v != null) {
        // normalize -0.0 to 0.0: the heap orders via Double.compare
        // (-0.0 < 0.0) while Spark's sort normalizes zeros and falls to
        // the tiebreak — without this a ±0.0 priority at the k boundary
        // could order by sign-of-zero instead of the tiebreak
        val pd0 = p.asInstanceOf[Double]
        val pd = if (pd0 == 0.0d) 0.0d else pd0
        val tl = t.asInstanceOf[Long]
        // cheap pre-check avoids projecting rows that can't enter the heap
        if (buf.wouldEnter(pd, tl)) {
          scratch.update(0, pd)
          scratch.update(1, tl)
          scratch.update(2, v)
          buf.insert(proj(scratch).copy())
        }
      }
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.heap.foreach(buf.insert)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val sorted = buf.heap.toArray.sorted(TopKBuffer.order)
    new GenericArrayData(sorted.map(_.get(2, payload.dataType)))
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.heap.size)
    buf.heap.foreach { r =>
      val bytes = r.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      val row = new UnsafeRow(3)
      row.pointTo(arr, len)
      buf.heap.enqueue(row)
      i += 1
    }
    buf
  }

  override def first: Expression = priority
  override def second: Expression = tiebreak
  override def third: Expression = payload
  override def fourth: Expression = kExpr

  override def withNewMutableAggBufferOffset(newOffset: Int): PriorityTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PriorityTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): Expression =
    copy(priority = newFirst, tiebreak = newSecond, payload = newThird,
      kExpr = newFourth)
}

object PriorityTopK {
  /** The 3-arg form's constant tiebreak: every row ties on it. */
  val NoTiebreak: Literal = Literal(0L)

  /** `priority_topk(priority, payload, k)`. */
  def apply(priority: Expression, payload: Expression, kExpr: Expression): PriorityTopK =
    PriorityTopK(priority, NoTiebreak, payload, kExpr)
}
