package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point for DEPLOYMENTS — one place encoding
  * every configuration the engine's semantics and scale shapes assume,
  * so an external caller does not have to reverse-engineer them from the
  * dev mains:
  *
  *  - `spark.sql.session.timeZone = UTC` — [[Tables.eventTs]]'s NTZ→TZ
  *    cast is instant-correct only under UTC (also re-pinned defensively
  *    in [[Tables.load]]).
  *  - `spark.sql.legacy.parquet.nanosAsLong = true` — older testdata
  *    generations carry TIMESTAMP(NANOS); harmless no-op on current data.
  *  - AQE on, with skew-join splitting and partition coalescing — the
  *    runtime half of the skew story (the deterministic
  *    `operators.Skew.salt` is the plan-time half); PlanSpec asserts the
  *    skew split actually engages on a hot-key sort-merge join.
  *  - `graft.expressions.GraftExtensions` — registers every SQL function
  *    of the `GraftFunctions` table for SQL callers (`spark-sql`/JDBC
  *    users who never touch the Scala API). Scala code uses the typed
  *    Column constructors on `GraftFunctions` and needs no registration.
  *
  * `shufflePartitions` should track the deployment's total cores (the
  * driver harness uses its CPU count); at cluster scale prefer leaving
  * AQE's coalescing to shrink over-partitioned stages rather than
  * under-partitioning up front.
  *
  * [[apply]] and [[local]] are NOT used by `Bench`/`Verify`: the driver
  * contract pins their exact configuration (no extensions, explicit
  * master) so gate numbers stay comparable across rounds. They, the dev
  * mains and the test suite build that configuration through [[harness]].
  */
object GraftSession {

  /** Configure `builder` with the engine's assumed settings. Call sites
    * add master/appName/cluster-manager settings themselves:
    * {{{
    * val spark = GraftSession(SparkSession.builder().master("yarn")).getOrCreate()
    * }}} */
  def apply(builder: SparkSession.Builder,
      shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
    if (shufflePartitions > 0)
      b.config("spark.sql.shuffle.partitions", shufflePartitions)
    else b
  }

  /** Local session with the engine settings — the one-liner for notebooks
    * and tests outside the driver harness. Pins the warehouse under /tmp
    * (bk1's external bucketed tables touch the warehouse root) so no
    * spark-warehouse dir is minted in the launch cwd; cluster callers
    * going through [[apply]] keep their own warehouse setting. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    apply(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()

  /** The harness session (Bench, Verify, the dev mains, the test suite):
    * `local[cpus]`, shuffle width = `cpus`, UTC, UI off, and the warehouse
    * pinned under /tmp — bk1's external bucketed tables touch the
    * warehouse root, so no spark-warehouse dir is minted in the launch
    * cwd. Unlike [[apply]] it registers no extensions and overrides no
    * AQE or parquet defaults. Callers layer their own differences on the
    * returned builder. */
  def harness(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
}
