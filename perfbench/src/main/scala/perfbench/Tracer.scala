package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One span: a call into one layer. `run` is the workload iteration it
  * belongs to; the root span of each operation has `parent = 0`. Times are
  * epoch milliseconds with a nanosecond fraction, the clock the Spark
  * listener's job times use. */
final case class Span(id: Int, parent: Int, run: Int, layer: String,
    name: String, start: Double, end: Double,
    counters: Map[String, Double])

/** Per-stage executor totals, attributed to the span whose thread
  * submitted the stage. */
final class StageStats(val span: Int) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobTimes(id: Int, span: Int, start: Long, end: Long)

/** Spans, Spark job/stage/task statistics, RDD block sizes and GC
  * notifications, all kept in memory until the benchmark writes them out
  * at exit. The listener is the benchmark's own; the library is not
  * instrumented. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var run = 0
  private var spark: SparkSession = _
  /** Materialized layer outputs of the current operation, released at its end. */
  private val materialized = mutable.ArrayBuffer.empty[DataFrame]

  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  val jobs = mutable.ArrayBuffer.empty[JobTimes]
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, StageStats]()

  // live RDD block bytes (memory + disk) and their running peak
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  @volatile private var liveBytes = 0L
  @volatile var peakBytes = 0L

  // used heap after each collection the JVM chose to run (explicit
  // System.gc() calls excluded) since the last reset
  val heapAfterGc = mutable.ArrayBuffer.empty[Long]

  private val Prop = "perfbench.span"

  val listener: SparkListener = new SparkListener {
    private def spanOf(p: java.util.Properties): Int =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toInt).getOrElse(0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (spanOf(e.properties), e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, t0) = Option(jobStart.remove(e.jobId)).getOrElse((0, e.time))
      jobs.synchronized(jobs += JobTimes(e.jobId, span, t0, e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val st = stages.computeIfAbsent(e.stageId,
        id => new StageStats(stageSpan.getOrDefault(id, 0)))
      st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.taskMs += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (!info.blockId.isRDD) return
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes.synchronized {
        val old = Option(blockBytes.put(info.blockId.name, bytes)).getOrElse(0L)
        liveBytes += bytes - old
        if (liveBytes > peakBytes) peakBytes = liveBytes
      }
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (info.getGcCause != "System.gc()")
          heapAfterGc.synchronized(heapAfterGc += used)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ => ()
  }

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(listener)
  }

  def newRun(): Int = { run += 1; run }

  /** Start a new window for `heapAfterGc` and `peakBytes`. */
  def resetPeaks(): Unit = {
    heapAfterGc.synchronized(heapAfterGc.clear())
    blockBytes.synchronized { peakBytes = liveBytes }
  }

  // epoch milliseconds read off the monotonic clock
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  private def now(): Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  /** Run `body` inside a span of `layer`. Spark jobs the body submits carry
    * the span id as a local property, so their stages land on the span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    stack = id :: stack
    sc.setLocalProperty(Prop, id.toString)
    val start = now()
    try body
    finally {
      val end = now()
      stack = stack.tail
      sc.setLocalProperty(Prop, prevProp)
      spans += Span(id, parent, run, layer, name, start, end, pending(id))
    }
  }

  private val spanCounters = mutable.Map.empty[Int, Map[String, Double]]
  private def pending(id: Int): Map[String, Double] =
    spanCounters.remove(id).getOrElse(Map.empty)

  /** Add a counter to the innermost open span. */
  def count(name: String, value: Double): Unit = stack.headOption.foreach { id =>
    val m = spanCounters.getOrElse(id, Map.empty)
    spanCounters(id) = m.updated(name, m.getOrElse(name, 0.0) + value)
  }

  /** Materialize a layer's output at the span boundary: the rows are
    * computed now, inside the current span, and later layers read the
    * stored result instead of recomputing it. Records `rows_out`. */
  def mat(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    materialized += out
    count("rows_out", out.count().toDouble)
    out
  }

  /** Drop the blocks of every frame materialized during the operation. */
  def releaseMaterialized(): Unit = {
    materialized.foreach(df => df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ => ()
    })
    materialized.clear()
  }

  /** RDD blocks still held by the block manager. */
  def liveBlocks(): Int =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
}
