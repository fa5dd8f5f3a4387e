package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cache-lifetime discipline for the library's internal `persist()` calls.
  *
  * Library operators persist frames their plans reference more than once
  * (see the scaladoc on each call site). Those caches must outlive the
  * function that created them — the consuming action is the caller's — so
  * they cannot be unpersisted before returning. Two release rules cover
  * them, both one-shot listeners that unpersist on the trigger below or at
  * once when an action fails:
  *
  *  - [[releaseAfterAction]] — after the next completed SQL action on the
  *    session. The usual one-action consumers (a write, a count, a
  *    collect) pay nothing and leak nothing. A caller that runs several
  *    actions over the same returned frame recomputes after the first —
  *    correct, just uncached; such callers should persist the *returned*
  *    frame themselves. `operators.Ranks` is the exception: its stitch
  *    needs one range-partitioned copy for both of its branches, so it
  *    reads its cache's relation directly, and a later action rebuilds
  *    that cache, which then lives until the returned frame is
  *    garbage-collected.
  *  - [[releaseAfterConsumers]] — once every listed consumer frame has
  *    fed a completed action (the action's plan holds the consumer's
  *    plan). For an operator returning several frames over one shared
  *    cache (`Tcga.kmByMedianExpression`'s curves and tests), or one
  *    whose construction runs its own jobs (`Ann.ivfIndexTopK`'s probe
  *    collect), neither of which may release the cache. LEAK CASE: a
  *    caller that consumes only some of the consumers keeps the cache,
  *    and its listener, until [[clearCaches]].
  *
  * `api.Tcga` has two persist sites:
  *  - `differentialExpression` persists its NB-GLM cells (read by the
  *    dispersion-prior collect and by the fit) under
  *    [[releaseAfterAction]], registered after the prior's collect;
  *  - the one KM tail under `kmByMedianExpression` and `drugKmFanOut`
  *    persists its subject frame (read by the curves and by the tests)
  *    under [[releaseAfterConsumers]].
  * Every other library persist names its rule at its call site. An
  * operator whose plan reads its input once persists nothing
  * (`Stats.bhAdjust`, `Survival.kmCurve` and `logRankBy`), and leaves a
  * cache its caller made in place.
  *
  * CONCURRENCY CONTRACT: "the next action" means the next action on the
  * WHOLE session — the first rule cannot tell the consuming action from
  * an unrelated one. A session shared by concurrent threads (a notebook
  * with parallel cells, a ThriftServer) can release a cache early (the
  * consumer then recomputes — slower, never wrong) and a caller that
  * never runs an action leaves cache + listener registered until
  * `clearCaches`. The engine's own entry points (Verify/Bench/Demo) are
  * single-action-at-a-time by construction.
  *
  * `clearCaches` is the blunt escape hatch for long-lived sessions.
  */
object Caches {

  /** Unpersist `dfs` after the next completed action on their session. */
  def releaseAfterAction(dfs: DataFrame*): Unit = releaseWhen(dfs)(_ => true)

  /** Unpersist `caches` once each of `consumers` has fed a completed
    * action: that action's logical plan holds the consumer's plan (or a
    * frame derived from it: a `select`, a `join`, a writer), matched by
    * reference. Actions on unrelated frames, and construction-time jobs
    * that ran before the consumers existed, do not count. */
  def releaseAfterConsumers(consumers: Seq[DataFrame], caches: DataFrame*): Unit = {
    // the listener bus delivers one event at a time, so no lock
    var pending = consumers.map(df =>
      Seq(df.queryExecution.logical, GraftSqlBridge.logicalPlan(df)))
    releaseWhen(caches) { qe =>
      pending = pending.filterNot(plans => holds(qe.logical, plans))
      pending.isEmpty
    }
  }

  // leaf writer commands (`saveAsTable`, non-file V1 sources) hold their
  // query as an inner child, not a child
  private def holds(plan: LogicalPlan, targets: Seq[LogicalPlan]): Boolean =
    targets.exists(_ eq plan) || plan.children.exists(holds(_, targets)) ||
      plan.innerChildren.exists {
        case p: LogicalPlan => holds(p, targets)
        case _ => false
      }

  /** The listener both release rules share: unpersist `dfs` once `done`
    * holds after a successful action, or at once after a failed one. */
  private def releaseWhen(dfs: Seq[DataFrame])(done: QueryExecution => Boolean): Unit = {
    if (dfs.isEmpty) return
    val spark = dfs.head.sparkSession
    val listener = new QueryExecutionListener {
      private val released = new AtomicBoolean(false)
      private def release(): Unit =
        if (released.compareAndSet(false, true)) {
          dfs.foreach { df =>
            try df.unpersist(blocking = false)
            catch { case _: Throwable => () }
          }
          spark.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = if (done(qe)) release()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = release()
    }
    spark.listenerManager.register(listener)
  }

  /** Unpersist `dfs` once the session has no active streaming queries
    * left — the streaming twin of [[releaseAfterAction]]. A stream-static
    * join's cached static side (the banded minhash reference, an index
    * artifact) must live for the WHOLE streaming query, not one action,
    * so the release trigger is a query-terminated event with no other
    * query still active. Same blunt-but-safe contract as the batch
    * listener: a session running several concurrent streaming queries
    * releases only when the last one stops (caches live longer than
    * strictly needed, never shorter), and repeated builder calls each
    * release their own frames at that point instead of accumulating for
    * the session's lifetime.
    *
    * The trigger ARMS only once a query STARTED AFTER registration has
    * been observed: builders register during plan construction, before
    * the caller wires a sink and calls start(), and a pre-existing
    * unrelated query terminating in that gap must not release a cache
    * whose consumer hasn't begun. Once armed, ANY termination that
    * leaves the session with no active queries releases — including a
    * pre-existing query's (r13 ADVICE: keying the release to post-
    * registration ids alone leaked permanently when the builder's own
    * query ended first and a pre-existing one terminated last). The
    * remaining documented gap is benign-by-construction: an unrelated
    * post-registration query starting AND terminating before the
    * builder's consumer begins releases early, and the consumer then
    * recomputes its static side per micro-batch — slower, never wrong.
    * One-shot by design — a caller that stops and restarts the same
    * plan gets a recomputed (uncached) static side on the second run;
    * re-invoke the builder for a fresh cache + release. */
  def releaseAfterStreams(dfs: DataFrame*): Unit = {
    if (dfs.isEmpty) return
    val spark = dfs.head.sparkSession
    val preexisting = spark.streams.active.map(_.id).toSet
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      private val done = new AtomicBoolean(false)
      private val armed = new AtomicBoolean(false)
      override def onQueryStarted(event: QueryStartedEvent): Unit =
        if (!preexisting.contains(event.id)) armed.set(true)
      override def onQueryProgress(event: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
        // a post-registration id terminating implies it started — arm even
        // if the started event raced past before this listener registered
        if (!preexisting.contains(event.id)) armed.set(true)
        if (armed.get && spark.streams.active.isEmpty &&
            done.compareAndSet(false, true)) {
          dfs.foreach { df =>
            try df.unpersist(blocking = false)
            catch { case _: Throwable => () }
          }
          spark.streams.removeListener(this)
        }
      }
    }
    spark.streams.addListener(listener)
  }

  /** Immediately drop a frame's storage blocks, whether it was
    * `persist()`-ed (CacheManager path) or `localCheckpoint`-ed — a
    * checkpointed frame's blocks live on the checkpoint's internal RDD
    * (the `LogicalRDD` leaf), which the CacheManager never sees, so
    * `Dataset.unpersist` is a silent no-op there (r16 ADVICE). Iterative
    * operators call this on each PREVIOUS round's frame once the next
    * round has materialized, keeping peak storage at O(1) frames instead
    * of O(rounds).
    *
    * ONLY safe on frames no live plan references again: checkpoint
    * blocks are not recomputable (lineage is truncated), so a later
    * action on a released frame fails instead of recomputing. */
  def releaseBlocks(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }

  /** Drop every cached frame in the session (documented escape hatch for
    * long-lived sessions mixing many library calls). */
  def clearCaches(spark: SparkSession): Unit = spark.catalog.clearCache()
}
