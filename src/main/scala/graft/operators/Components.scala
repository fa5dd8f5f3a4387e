package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (Dedup.minhashCandidates, jaccardPairs, …) into dedup CLUSTERS:
  * duplicate relations are transitive in effect (A≈B, B≈C ⇒ keep one of
  * {A,B,C}), so keeper election needs the component, not the pair.
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts labeled with its own id; each round (1) hooks: every node takes
  * the minimum label among itself and its neighbours — one shuffle join +
  * hash agg; (2) jumps: every node replaces its label with its label's
  * label (path halving) — one self-join. Hooking alone needs O(diameter)
  * rounds (a 1M-node chain would need 1M rounds); the jump halves label
  * paths so convergence is O(log n) rounds — the standard star-contraction
  * family (Kiveris et al. "Connected Components in MapReduce and Beyond"
  * describes the same trade).
  *
  * Each round ends in `localCheckpoint(eager)`: the label frame is
  * node-sized (bounded by docs that HAVE a near-dup, far below the
  * corpus), and truncating lineage there keeps round N's plan constant
  * size — without it the nested join lineage grows per round until plan
  * stringification alone OOMs the driver. On a production cluster prefer
  * `spark.sparkContext.setCheckpointDir` + `checkpoint()` if executor
  * loss during the loop must be recoverable.
  *
  * Determinism: labels are min() folds of node ids — associative,
  * partitioning-independent, bit-stable.
  *
  * @param edges undirected pair list (one row per pair, either order)
  * @return `(id, comp)` — one row per node appearing in `edges`, `comp` =
  *         the minimum node id of its component
  */
object Components {

  /** Rows a loop-round shuffle partition should carry — sizes the iterative
    * joins to the LABEL frame (nodes-with-a-near-dup, far below the corpus),
    * not to `spark.sql.shuffle.partitions`. AQE can't help here: every round
    * ends in a checkpoint, so each round is its own query with no runtime
    * stats carried across — without this, a thousand-node pair set pays a
    * 32-way (or 200-way) shuffle's scheduling overhead per round, ~10× the
    * actual work. At 100 TB the same formula spreads a billion-edge frame
    * across thousands of tasks. */
  private val RowsPerPartition = 2000000L

  /** @param rowsPerPartition loop-shuffle sizing override (tests force a
    *        small value to exercise the multi-partition propagation loop
    *        on small fixtures; production callers keep the default) */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25,
      rowsPerPartition: Long = RowsPerPartition): DataFrame = {
    val spark = edges.sparkSession
    // symmetrize in ONE scan of the (often expensive — an LSH candidate
    // plan) edge subtree: explode each pair into both orientations. The
    // union-of-two-selects form evaluates the edge plan twice.
    val sym0 = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .select(explode(array(
        struct(col("s").as("a"), col("d").as("b")),
        struct(col("d").as("a"), col("s").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist()
    val nEdges = sym0.count() // also materializes the persist
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nEdges / rowsPerPartition + 1)).toInt
    // re-lay the edge frame on the loop's partitioning only when it is
    // smaller than the session default (the whole point: tiny pair sets
    // should not pay 32-way shuffles per round); a big frame stays put
    val sym =
      if (parts < sym0.rdd.getNumPartitions) {
        val s = sym0.repartition(parts, col("b")).persist()
        s.count()
        sym0.unpersist(blocking = false)
        s
      } else sym0
    // Seed labels by PARTITION-LOCAL contraction: a union-find over each
    // partition's edges, roots canonicalized to the minimum member id
    // (attach the larger root under the smaller — the root then IS the
    // local min). This is the "local contraction" step of the MapReduce-CC
    // literature (Kiveris et al. §5): each partition's subgraph collapses
    // to depth-0 stars in ONE narrow pass, and the pointer-jumping loop
    // only has to merge ACROSS partitions. On a single partition the seed
    // is already the fixpoint (the loop runs once to observe changed=0);
    // at cluster scale the loop starts from per-partition minima instead
    // of raw ids — strictly fewer rounds over the same edge frame. State
    // is O(nodes in partition), bounded by RowsPerPartition.
    import org.apache.spark.sql.Encoders
    val tupleEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val seed = sym.select(col("a"), col("b")).map { r =>
        (r.getLong(0), r.getLong(1))
      }(tupleEnc)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        // ids reaching here were cast to long upstream: a null (from a
        // non-numeric id column) would die as an opaque executor NPE —
        // the callers' integral-id requirement is asserted there
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        val keys = parent.keys.toArray
        keys.iterator.map(n => (n, find(n)))
      }(tupleEnc)
      .toDF("id", "comp")
    // a node split across partitions carries one root per partition — fold
    // to the min (still an id inside the node's own component, so the
    // min-label invariant holds)
    // Single-partition edge frame: the union-find seed saw EVERY edge, so
    // it already IS the global fixpoint — skip the propagation loop (and
    // its per-round checkpoint jobs) instead of running one round just to
    // observe changed=0. Small pair sets (the common case for verified
    // near-dup pairs) pay one narrow pass; the loop below is the
    // multi-partition scale path.
    if (sym.rdd.getNumPartitions == 1) {
      val out = seed.groupBy("id").agg(min(col("comp")).as("comp"))
        .localCheckpoint(true)
      sym.unpersist(blocking = false)
      return out
    }
    var labels = seed.groupBy("id").agg(min(col("comp")).as("comp"))
      .repartition(parts, col("id"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      // hook: fold the neighbour minimum into the node's own label. The
      // union form needs ONE join (neighbour contributions + the node's own
      // labelled row through a single hash agg); the node's pre-round label
      // rides along as `old` (min over the self rows — exactly one per id)
      // for the convergence metric.
      val hooked = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("comp"), lit(false).as("self"))
        .unionByName(labels.select(col("id"), col("comp"), lit(true).as("self")))
        .groupBy("id").agg(
          min(col("comp")).as("comp"),
          min(when(col("self"), col("comp"))).as("old"))
        .persist() // the jump self-join reads it twice; released below
      // jump: comp := comp(comp) — path halving. The convergence count
      // rides the SAME action as the checkpoint via Observation: one job
      // per round total, no separate count pass.
      val obs = new org.apache.spark.sql.Observation()
      val next = hooked.alias("x")
        .join(hooked.select(col("id").as("jid"), col("comp").as("jcomp")).alias("j"),
          col("x.comp") === col("j.jid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("j.jcomp"), col("x.comp")).as("comp"),
          col("x.old").as("old"))
        .observe(obs, // coalesce: sum over an EMPTY label frame is NULL
          coalesce(sum(when(col("comp") =!= col("old"), 1L).otherwise(0L)),
            lit(0L)).as("changed"))
        .drop("old")
        .localCheckpoint(true) // constant-size plan + one action per round
      hooked.unpersist(blocking = false)
      // drop the PREVIOUS round's checkpoint blocks now that `next` has
      // materialized (plain unpersist is a no-op on checkpointed frames
      // — Caches.releaseBlocks goes through the underlying RDD; r17):
      // peak label storage is two node-sized frames, not O(rounds)
      graft.Caches.releaseBlocks(labels)
      labels = next
      converged = obs.get("changed").asInstanceOf[Long] == 0
      rounds += 1
      // no per-round timer here: `perfbench/run.py --trace 1` times this
      // loop as its operators.Components layer
    }
    sym.unpersist(blocking = false)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxRounds rounds — " +
          "raise maxRounds (a silent partial labelling would split " +
          "components and let duplicate keepers through)")
    labels
  }
}
