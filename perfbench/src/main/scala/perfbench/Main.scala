package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. One session, one caller, one operation at a
  * time, every result written to a file sink. Runs the workload once right
  * after set-up (the first run), re-does set-up `--setups - 1` more times,
  * then repeats the workload until `--seconds` have passed. With
  * `--trace 1` every second iteration is traced, and at least one traced
  * run sits between two untraced ones. Writes the raw record
  * (set-up times, iterations, spans, jobs, stages) as JSON to `--result`;
  * `run.py` checks the outputs and turns the record into metrics.
  *
  * {{{
  * perfbench.Main --workload tcga_de --data DIR --out DIR --work DIR
  *   --seconds 20 --trace 0 --setups 3 --result FILE
  * }}}
  */
object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  private def mb(bytes: Long): Double = bytes / 1048576.0

  def main(args: Array[String]): Unit = {
    val workload = Workloads(arg(args, "workload"))
    val dataDir = arg(args, "data")
    val outDir = arg(args, "out")
    val workDir = arg(args, "work")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val setups = arg(args, "setups").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer
    val compiler = ManagementFactory.getCompilationMXBean

    // set-up: session built, inputs registered, one full scan of each
    // input through a no-op sink. The first set-up is timed from JVM start.
    def setUp(): SparkSession = {
      // GraftSession.local's settings, with the warehouse and scratch
      // space inside the benchmark's work directory
      val spark = GraftSession(SparkSession.builder()
          .master(s"local[$cores]").appName("perfbench"), cores)
        .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
        .config("spark.local.dir", new File(workDir, "spark-local").getPath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      tracer.attach(spark)
      workload.tables.foreach { t =>
        spark.read.parquet(new File(dataDir, t).getPath).createOrReplaceTempView(t)
        spark.table(t).write.format("noop").mode("overwrite").save()
      }
      spark
    }

    val setupS = mutable.ArrayBuffer.empty[Double]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = setUp()
    setupS += (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val iterations = mutable.ArrayBuffer.empty[Json.Raw]
    def iteration(traced: Boolean, first: Boolean): Unit = {
      val run = tracer.newRun()
      val dir = new File(outDir, s"it$run")
      dir.mkdirs()
      tracer.resetPeaks()
      val jit0 = compiler.getTotalCompilationTime
      var wall = 0.0
      val ops = workload.ops.map { op =>
        val ctx = new Ctx(spark, tracer, traced, dataDir, dir.getPath)
        // untimed: no operation starts with the previous one's garbage, so
        // its heap peak and GC pauses are its own
        System.gc()
        val t0 = System.nanoTime()
        val (outputs, error) =
          try (tracer.span("op", op.name)(op.run(ctx)), None)
          catch { case e: Throwable => (Nil, Some(e.toString)) }
        val opWall = secs(t0)
        wall += opWall
        if (traced) tracer.releaseMaterialized()
        val live = if (trace && !traced) settledBlocks(tracer) else -1
        Json.obj("name" -> op.name, "span" -> tracer.spans.last.id,
          "wall_s" -> opWall, "error" -> error.orNull,
          "blocks_live_after" -> live,
          "outputs" -> outputs.map(o => Json.obj("kind" -> o.kind, "path" -> o.path)))
      }
      iterations += Json.obj("run" -> run, "traced" -> traced, "first" -> first,
        "wall_s" -> wall,
        "heap_after_gc_mb" -> tracer.heapAfterGc.synchronized(tracer.heapAfterGc.map(mb).toSeq),
        "peak_cached_mb" -> mb(tracer.peakBytes),
        "jit_s" -> (compiler.getTotalCompilationTime - jit0) / 1000.0,
        "ops" -> ops)
    }

    iteration(traced = false, first = true)
    for (_ <- 2 to setups) {
      spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = setUp()
      setupS += secs(t0)
    }

    val loop0 = System.nanoTime()
    var n = 0
    // traced runs sit between two untraced ones, so warm-up does not
    // favour either side of the tracing overhead
    while (secs(loop0) < seconds || n < (if (trace) 3 else 1)) {
      iteration(traced = trace && n % 2 == 1, first = false)
      n += 1
    }

    org.apache.spark.ListenerDrain(spark.sparkContext)
    val record = Json.obj(
      "workload" -> workload.name, "cores" -> cores, "setup_s" -> setupS.toSeq,
      "iterations" -> iterations.toSeq,
      "spans" -> tracer.spans.toSeq.map(s => Json.obj("id" -> s.id,
        "parent" -> s.parent, "run" -> s.run, "layer" -> s.layer,
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "counters" -> Json.obj(s.counters.toSeq: _*))),
      "jobs" -> tracer.jobs.toSeq.map(j => Json.obj("id" -> j.id,
        "span" -> j.span, "start" -> j.start, "end" -> j.end)),
      "stages" -> tracer.stages.values().toArray(Array.empty[StageStats]).toSeq
        .map(st => st.synchronized {
          val sorted = st.taskMs.sorted
          Json.obj("span" -> st.span, "tasks" -> st.tasks,
            "run_s" -> st.runMs / 1000.0, "cpu_s" -> st.cpuNs / 1e9,
            "gc_s" -> st.gcMs / 1000.0,
            "shuffle_write_mb" -> mb(st.shuffleWrite),
            "shuffle_read_mb" -> mb(st.shuffleRead),
            "fetch_wait_s" -> st.fetchWaitMs / 1000.0,
            "spill_mb" -> mb(st.spill),
            "task_max_s" -> sorted.lastOption.getOrElse(0L) / 1000.0,
            "task_median_s" -> (if (sorted.isEmpty) 0.0
              else sorted((sorted.size - 1) / 2) / 1000.0))
        }))
    spark.stop()
    val pw = new PrintWriter(arg(args, "result"), "UTF-8")
    try pw.write(record.s) finally pw.close()
  }

  /** RDD blocks still stored after an operation, once the library's
    * release-after-action listeners have had up to a second to run. */
  private def settledBlocks(tracer: Tracer): Int = {
    val deadline = System.nanoTime() + 1000000000L
    var live = tracer.liveBlocks()
    while (live > 0 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      live = tracer.liveBlocks()
    }
    live
  }
}

/** Just enough JSON to write the record. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
