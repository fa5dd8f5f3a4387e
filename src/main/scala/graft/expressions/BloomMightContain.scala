package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(filter_bytes, value)` — membership probe of a
  * serialized `org.apache.spark.util.sketch.BloomFilter` against a string
  * column, inside whole-stage codegen.
  *
  * This is the engine's broadcast-semi-join primitive: build the sketch
  * over the small/dictionary side once (`Dedup.bloomOf`, a treeAggregate),
  * embed the bytes as a foldable literal, and filter the 100 TB side with
  * a pure narrow scan — rows that fail the probe never reach the shuffle.
  * False positives pass the probe (by design); callers that need exact
  * results keep the exact join AFTER the probe, which then only sees the
  * surviving sliver. The same shape Spark's own runtime row-group
  * filtering uses, exposed as a composable function.
  *
  * The filter bytes must be foldable (a literal): the sketch is
  * deserialized ONCE per executor (transient lazy), not per row.
  *
  * SCOPE: the literal form is for SMALL, oracle-sized sketches only — the
  * bytes ride the serialized plan, so every stage that references the
  * expression ships them in its task binary. A production-sized dictionary
  * sketch (10⁹ keys at 1% fpp ≈ 1.2 GB) must ride a torrent broadcast
  * instead: [[BloomMightContainBc]], which carries only the broadcast
  * HANDLE in the plan. `Dedup.contaminationBloom` uses the Bc form.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects BINARY filter bytes, got ${left.dataType.simpleString}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain filter bytes must be foldable (a literal)")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects a STRING value, got ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(left.eval(null).asInstanceOf[Array[Byte]])

  /** Probe with the UTF-8 bytes — the same bytes `BloomFilter.putString`
    * hashes on the build side, with no String materialization per row. */
  def mightContain(v: UTF8String): Boolean = filter.mightContainBinary(v.getBytes)

  override def nullSafeEval(bytes: Any, v: Any): Any =
    mightContain(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference THIS expression so the generated code shares the one
    // lazily-deserialized sketch; the bytes literal costs a reference
    // lookup, never a per-row deserialize
    val self = ctx.addReferenceObj("bloomMightContain", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => s"${ev.value} = $self.mightContain($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** [[BloomMightContain]] re-plumbed for production-sized sketches: the
  * serialized filter rides a `sparkContext.broadcast` and the plan carries
  * only the HANDLE (the same pattern as the IVF centroid matrix,
  * `Ann.centroidBc`). The bitset ships once per executor over the
  * torrent protocol instead of once per task binary per stage — at a real
  * train-dictionary scale (10⁹ keys @ 1% fpp ≈ 1.2 GB) the literal form
  * would serialize that into EVERY task of every stage referencing it.
  *
  * Deserialization is once per EXECUTOR, not per task: task
  * deserialization creates a fresh expression instance per task, so the
  * instance-level lazy val alone would re-parse the bitset per task; the
  * companion's broadcast-id-keyed cache shares the parsed
  * [[BloomFilter]] JVM-wide (entries live for the executor's lifetime —
  * one filter per distinct broadcast, bounded by the filters the app
  * actually builds).
  *
  * Not SQL-registrable (a broadcast handle cannot be a function argument);
  * construct via [[BloomMightContain.probe]]. Codegen-friendly like the
  * literal form: `doGenCode` references this instance, so the probe stays
  * inside whole-stage codegen.
  */
case class BloomMightContainBc(bc: Broadcast[Array[Byte]], child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain_bc expects a STRING value, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_bc"

  @transient private lazy val filter: BloomFilter =
    BloomMightContainBc.filterFor(bc)

  /** Probe with the UTF-8 bytes — the same bytes `BloomFilter.putString`
    * hashes on the build side, with no String materialization per row. */
  def mightContain(v: UTF8String): Boolean = filter.mightContainBinary(v.getBytes)

  override def nullSafeEval(v: Any): Any =
    mightContain(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomMightContainBc", this,
      classOf[BloomMightContainBc].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.mightContain($v);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContainBc = copy(child = newChild)
}

object BloomMightContainBc {
  /** Executor-wide parsed-filter cache, keyed by broadcast id: every task's
    * deserialized expression instance resolves to the SAME BloomFilter.
    * BOUNDED (LRU, access-order): a long-lived session building many
    * dictionary sketches would otherwise accumulate one parsed filter per
    * broadcast forever — at the advertised production size (~1.2 GB) that
    * is an executor OOM, not a leak. Concurrent queries rarely reference
    * more than a couple of distinct sketches at once; an evicted entry
    * only costs a re-parse from the (still block-managed) broadcast
    * bytes. */
  private val MaxParsed = 4
  private val parsed =
    new java.util.LinkedHashMap[Long, BloomFilter](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, BloomFilter]): Boolean =
        size() > MaxParsed
    }

  private[expressions] def filterFor(bc: Broadcast[Array[Byte]]): BloomFilter =
    parsed.synchronized {
      val hit = parsed.get(bc.id)
      if (hit != null) hit
      else {
        val f = BloomFilter.readFrom(bc.value)
        parsed.put(bc.id, f)
        f
      }
    }
}

object BloomMightContain {
  /** DataFrame-side constructor for the broadcast-handle probe:
    * `df.filter(BloomMightContain.probe(bc, col("sh")))`. */
  def probe(bc: Broadcast[Array[Byte]], value: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      BloomMightContainBc(bc, org.apache.spark.sql.GraftSqlBridge.expression(value)))
}
