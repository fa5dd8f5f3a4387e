package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.Try

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Cache-lifetime discipline for the library's internal `persist()` calls.
  *
  * The rule for keeping one: a library operator persists a frame only when
  * a job outside the consuming action reads it (a construction-time count,
  * collect or sketch build), or when a measurement shows the cache pays
  * (the call site names it). Reads within the one action share their work
  * through ReuseExchange instead: shape the branches so they read one
  * identical exchange subtree (one `explode` over an array of per-band
  * values rather than a union of per-band selects, null filters in the
  * shared subtree rather than inferred into one branch by a join), or
  * fold them into one aggregate or window chain, as the uncached `Dedup`
  * candidate joins, `contamination`, `jaccardPairs`, `longestSelfRepeat`,
  * `Corpus.nearDuplicates`, `tfidfTopTerms` and the query catalog
  * (`graft.queries`) do. The catalog keeps one cache, cc1's scores, whose
  * site names the measurement.
  *
  * The caches that stay must outlive the function that created them — the
  * consuming action is the caller's — so they cannot be unpersisted
  * before returning. Each is tied to the frame the function returns
  * instead:
  *
  *  - [[releaseAfterConsumers]] — the batch rule. The caches are released
  *    once every listed consumer frame (usually the one returned frame;
  *    `Tcga.kmByMedianExpression`'s curves and tests share one cache) has
  *    fed a completed action, i.e. the action's plan holds the consumer's
  *    plan. Actions on unrelated frames, on other threads, and the
  *    function's own construction-time jobs (the DE dispersion-prior
  *    collect, Ann's Lloyd counts, `contaminationBloom`'s sizing count)
  *    do not count, so where a call site registers is irrelevant. (A
  *    frame another caller built to the same plan does count: the two
  *    share one cache entry anyway.) An action that fails while its plan
  *    holds a pending consumer releases at once; an unrelated failure
  *    releases nothing.
  *  - [[releaseAfterStreams]] — the stream rule, for a stream-static
  *    join's static side, which must live as long as the streaming query
  *    that reads it.
  *
  * A caller that runs several actions over one returned frame recomputes
  * after the first — correct, just uncached; such callers should persist
  * the returned frame themselves.
  *
  * LEAK CASE: a consumer that is never acted on keeps its caches, and its
  * listener, until [[clearCaches]] (or until another release of the same
  * plan drops the cache). A listener whose caches are all gone unregisters
  * itself on the session's next action, so `Verify`'s and `Bench`'s
  * per-query `clearCache` also drains them.
  *
  * The TCGA pipelines have two persist sites:
  *  - `DiffExpression.deseq`, the one NB-GLM entry (behind
  *    `Tcga.differentialExpression`, the d3/d4 catalog queries and
  *    `FreezeModels`), persists its cells (read by the dispersion-prior
  *    collect and by the fit), released by the caller's action on a frame
  *    derived from the contrasts it returns;
  *  - the one KM tail under `Tcga.kmByMedianExpression` and
  *    `drugKmFanOut` persists its subject frame, released once both the
  *    curves and the tests have fed an action.
  * Every other library persist names its frames at its call site. An
  * operator whose plan reads its input once persists nothing
  * (`Stats.bhAdjust`, `Survival.kmCurve` and `logRankBy`), and leaves a
  * cache its caller made in place.
  *
  * Checkpointed frames are not caches. An eager `localCheckpoint` that
  * the library returns is the frame's data, since its lineage is cut:
  * `Components.connectedComponents`' labels, and `Corpus.pretrainingRun`'s
  * `cleaned` and `deduped` stages. No release rule applies, and
  * [[clearCaches]] does not see them. Their blocks live until the caller
  * drops every frame that reads them (Spark's `ContextCleaner` frees them
  * then) or calls [[releaseBlocks]]. `pretrainingRun` releases the
  * labels itself once its `deduped` checkpoint holds their outcome.
  */
object Caches {

  /** Unpersist `caches` once each of `consumers` has fed a completed
    * action: that action's plan holds the consumer's plan (or a frame
    * derived from it: a `select`, a `join`, a writer). A failed action
    * releases at once when its plan holds a pending consumer. The
    * listener unregisters itself, on the next event, once none of
    * `caches` is cached any more. */
  def releaseAfterConsumers(consumers: Seq[DataFrame], caches: DataFrame*): Unit = {
    if (caches.isEmpty) return
    val spark = caches.head.sparkSession
    // the listener bus delivers one event at a time, so no lock
    var pending = consumers
    val listener = new QueryExecutionListener {
      private def observe(qe: QueryExecution, failed: Boolean): Unit = {
        val (fed, rest) = pending.partition(fedBy(qe, _))
        pending = rest
        if (rest.isEmpty || (failed && fed.nonEmpty)) {
          caches.foreach { df =>
            try df.unpersist(blocking = false)
            catch { case _: Throwable => () }
          }
          spark.listenerManager.unregister(this)
        } else if (caches.forall(_.storageLevel == StorageLevel.NONE))
          spark.listenerManager.unregister(this)
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = observe(qe, failed = false)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = observe(qe, failed = true)
    }
    spark.listenerManager.register(listener)
  }

  /** Whether the action `qe` read `consumer`: its plan holds the
    * consumer's plan by reference, or, where the analyzer copied that
    * plan with fresh attribute ids (the right side of a join whose sides
    * share lineage), a subtree with the same result. */
  private def fedBy(qe: QueryExecution, consumer: DataFrame): Boolean = {
    val plan = GraftSqlBridge.logicalPlan(consumer)
    val logical = consumer.queryExecution.logical
    holds(qe.logical, p => (p eq plan) || (p eq logical)) ||
      Try(holds(qe.analyzed, _.sameResult(plan))).getOrElse(false)
  }

  // leaf writer commands (`saveAsTable`, non-file V1 sources) hold their
  // query as an inner child, not a child
  private def holds(plan: LogicalPlan, hit: LogicalPlan => Boolean): Boolean =
    hit(plan) || plan.children.exists(holds(_, hit)) ||
      plan.innerChildren.exists {
        case p: LogicalPlan => holds(p, hit)
        case _ => false
      }

  /** Unpersist `dfs` once the session has no active streaming queries
    * left — the streaming twin of [[releaseAfterConsumers]]. A stream-static
    * join's cached static side (the banded minhash reference, an index
    * artifact) must live for the WHOLE streaming query, not one action,
    * so the release trigger is a query-terminated event with no other
    * query still active. A session running several concurrent streaming
    * queries releases only when the last one stops (caches live longer
    * than strictly needed, never shorter), and repeated builder calls
    * each release their own frames at that point instead of accumulating
    * for the session's lifetime.
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
