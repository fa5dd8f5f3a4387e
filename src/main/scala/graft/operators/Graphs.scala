package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over edge-list DataFrames — the second
  * graph family beside [[Components]]' connected components. PageRank is
  * the canonical O(rounds)-of-shuffles distributed workload: each round
  * is two keyed joins plus one aggregation, which is exactly the shape a
  * 1000-executor cluster executes well (hash-partitioned, map-side
  * combined, no driver participation beyond the loop counter).
  */
object Graphs {

  /** PageRank with a FIXED iteration count (power iteration, damping
    * `d`): pr₀(v) = 1/N; prₜ₊₁(v) = (1−d)/N + d·Σ_{u→v} prₜ(u)/outdeg(u).
    * Dangling nodes (no out-edges) simply leak their mass — the formula
    * above is applied literally, which keeps the computation a pure
    * function any engine can replay (the pr1 oracle unrolls the same
    * fixed rounds in SQL).
    *
    * Scale shape: edges, out-degrees and the (node, N) frame are
    * persisted once (each round re-reads all three); every round is
    * edges ⋈ outdeg ⋈ rank → per-dst sum — hash joins and one
    * partial+final agg, all keyed on node id, nothing driver-side. The
    * loop is built LAZILY (one action executes all rounds; same stance
    * as [[Ann]]'s Lloyd loop) because `iters` is a small constant — an
    * open-ended convergence loop would instead checkpoint per round like
    * [[Components]]. N rides a 1-row broadcast, never a collected
    * scalar. CRITICAL lineage shape: each round references the previous
    * `rank` frame exactly ONCE (the carry-forward joins the static
    * persisted node frame instead) — a second reference would double the
    * unrolled plan per round, 2^iters subtree copies by the end.
    *
    * Even the single-reference lineage still grows LINEARLY in `iters`
    * (analyzer/optimizer cost per action, stage-graph size), so every
    * `checkpointEvery` rounds the rank frame is `localCheckpoint`ed —
    * lineage resets to a materialized-RDD scan, bounding plan depth at
    * O(checkpointEvery) regardless of `iters` (asserted in GraphsSpec).
    * Executor-local checkpoint blocks are the right durability tradeoff
    * here: losing an executor costs a rerun, not correctness, and a
    * reliable-storage `checkpoint()` would add an HDFS round-trip per
    * interval — swap it in only for day-long jobs.
    *
    * @param edges frame with `src` and `dst` columns (any numeric/string
    *              id type; duplicates collapse to one edge)
    * @param checkpointEvery rounds between lineage truncations
    * @return (id, pr) — one row per node appearing in any edge
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "pageRank: iters must be >= 1")
    require(checkpointEvery >= 1, "pageRank: checkpointEvery must be >= 1")
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val out = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // round-invariant (src, dst, outdeg) — hoisted so each round pays one
    // join against rank, not a rebuild of edges ⋈ outdeg
    val eo = e.join(out, "src").persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val nn = nodes.agg(count(lit(1)).as("n"))
    val nodesN = nodes.crossJoin(broadcast(nn)).persist()
    var rank = nodesN.withColumn("pr", lit(1.0) / col("n")).select("id", "pr")
    var i = 0
    while (i < iters) {
      val contrib = eo
        .join(rank.select(col("id").as("src"), col("pr")), "src")
        .select(col("dst").as("id"), (col("pr") / col("outdeg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("m"))
      rank = nodesN.join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(1.0 - damping) / col("n") +
          lit(damping) * coalesce(col("m"), lit(0.0))).as("pr"))
      i += 1
      // values are materialized EXACTLY as computed, so checkpointing
      // never changes a bit of the result — only the plan shape. LAZY
      // (eager = false): the plan truncates immediately either way, but
      // an eager checkpoint runs the full job during plan CONSTRUCTION.
      if (i % checkpointEvery == 0 && i < iters)
        rank = rank.localCheckpoint(eager = false)
    }
    graft.Caches.releaseAfterConsumers(Seq(rank), e, eo, nodesN)
    rank
  }

  /** Per-node triangle counts over an undirected edge list, via DEGREE
    * ORIENTATION (Chiba–Nishizeki / the standard distributed variant):
    * every undirected edge {u,v} is directed from the endpoint with the
    * smaller (degree, id) key to the larger, wedges are enumerated only
    * from each node's OUT-neighbours, and a wedge (v,w) closes iff the
    * oriented edge v→w exists. Orientation caps every out-degree at
    * O(√m), so the wedge join materializes Σ outdeg² = O(m^1.5) rows in
    * the worst case instead of Σ deg² — the difference between a plan
    * that survives a power-law web graph and one whose hub node puts
    * deg² pairs in one task. All three passes are keyed hash
    * joins/aggregations (edge key, then node key); nothing touches the
    * driver.
    *
    * Each triangle {x,y,z} is discovered exactly once (from its
    * lowest-key apex) and credited to all three corners.
    *
    * @param edges frame with `src`/`dst` columns; self-loops and
    *              duplicate/reversed copies of an edge are collapsed
    * @return (id, n_tri) — one row per node on ≥ 1 triangle
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical undirected edges (a < b), self-loops dropped
    val e = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    // persisted: BOTH orientation joins read it — unpersisted, the
    // explode+agg degree pass over the edge set would execute twice
    val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg")).persist()
    // orient by the total order (deg, id); carry the head's key so the
    // wedge join can order a node's two out-neighbours without a third
    // degree join
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val eo = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("u"),
        when(ka < kb, col("b")).otherwise(col("a")).as("v"),
        when(ka < kb, kb).otherwise(ka).as("vk"))
      .persist()
    // wedges from each apex's out-neighbours: the out-list is BOUNDED at
    // O(√m) by the orientation, so collecting it per apex is safe — one
    // hash agg plus ordered-pair explodes, instead of a sort-both-sides
    // self-join producing the identical wedge set. TWO-LEVEL explode
    // (r17, the coShipEdges fix applied here too): posexplode picks each
    // anchor, slice takes its strict successors — per-row state stays
    // O(out-list), where the old single-explode
    // flatten(transform(.., transform(slice(..)..))) materialized the
    // whole O(outdeg²) pair array of an apex in ONE row buffer (for a
    // √m-degree apex at web scale that is an O(m)-struct allocation in
    // a single task). Pair multiset identical: (i, j) with i < j over
    // the same sorted list. Closed by the oriented (v, w) edge — which,
    // if the undirected edge exists, is oriented exactly min-key →
    // max-key.
    val wedges = eo
      .groupBy("u")
      .agg(sort_array(collect_list(struct(col("vk"), col("v")))).as("nb"))
      .select(col("u").as("x"), col("nb"),
        posexplode(col("nb")).as(Seq("__i", "__w1")))
      .select(col("x"), col("__w1.v").as("y"),
        explode(slice(col("nb"), col("__i") + lit(2), size(col("nb"))))
          .as("__w2"))
      .select(col("x"), col("y"), col("__w2.v").as("z"))
    val tri = wedges
      .join(eo.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
    // one pass, three corners: explode instead of a 3-way union — a union
    // would reference (and thus RE-EXECUTE) the uncached triangle join
    // subtree once per branch
    val counts = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    graft.Caches.releaseAfterConsumers(Seq(counts), e, deg, eo)
    counts
  }

  /** k-core peel with a FIXED round count: each round drops every node
    * whose degree in the SURVIVING subgraph is < k, together with its
    * edges. After enough rounds this is exactly the k-core (the maximal
    * subgraph of min-degree ≥ k); with a fixed `rounds` it is the
    * well-defined `rounds`-step approximation both engines can replay —
    * the same fixed-iteration-for-an-oracle stance as [[pageRank]].
    *
    * Scale shape: each round is one degree aggregation plus two
    * node-keyed semi joins — all hash-partitioned on node id, no driver
    * participation. Each round's surviving edge frame is materialized
    * with an EAGER `localCheckpoint` (the [[Components]] idiom): the
    * round's three consumers (degree count, both next-round joins) read
    * the stored blocks, AND the next round's logical plan roots at a
    * constant-size RDD scan instead of the whole unrolled prefix. The
    * r16 optimization pass measured the old persist-per-round form
    * leaving the LOGICAL tree to grow ~4× per round (each round
    * references the previous frame four times: degree, keep ×2 via
    * degree, and the join base — 1,275 Exchange / 865 scan nodes in the
    * 3-round catalog query's explain), and Catalyst re-analyzed that
    * exponential tree at every round's action — pure driver-side
    * planning cost on top of the unchanged execution (guide §3.3 / §7.3:
    * "planning time itself can become the bottleneck; truncate with
    * localCheckpoint"). Post-truncation the final action's plan is 2
    * Exchanges over an RDD scan and the isolated catalog query dropped
    * 5.4 → 2.6–2.9 s (local[32], sf0.1; oracle hash unchanged).
    * Previous rounds' blocks are dropped as each round lands (via
    * `Caches.releaseBlocks` — `Dataset.unpersist` alone is a no-op on a
    * checkpointed frame), so peak storage is two edge frames; the FINAL
    * round's blocks outlive the function (the caller's action reads
    * them) and are reclaimed by the ContextCleaner once the frame is
    * unreferenced. Durability is the same trade [[pageRank]] documents:
    * checkpoint blocks are executor-local and NOT recomputable, so
    * losing an executor mid-job costs a rerun (swap in reliable
    * `checkpoint()` for day-long jobs). Monotone shrinkage means later
    * rounds cost less.
    *
    * @param edges `src`/`dst` frame; canonicalized like [[triangleCounts]]
    * @return (id, deg) — surviving nodes and their in-core degree after
    *         `rounds` peels
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"kCore: need k >= 1, rounds >= 1")
    var e = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct().persist()
    var i = 0
    var last = e
    while (i < rounds) {
      val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id")
      // eager localCheckpoint = the old persist+count materialization PLUS
      // lineage truncation (values land bit-identical either way — only
      // the plan shape changes; see the scaladoc's r16 measurement)
      val next = e.join(keep.withColumnRenamed("id", "a"), Seq("a"), "leftsemi")
        .join(keep.withColumnRenamed("id", "b"), Seq("b"), "leftsemi")
        .select("a", "b").localCheckpoint(eager = true)
      // the PREVIOUS round only, and only once `next` has materialized:
      // checkpoint blocks are not recomputable, so a frame a live plan
      // still reads must keep them
      graft.Caches.releaseBlocks(last)
      e = next
      last = next
      i += 1
    }
    // `e` is the last round's checkpoint, not a cache: see the scaladoc
    e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
  }

  /** Level-synchronous BFS to a FIXED depth over an undirected edge
    * list: round d joins the (d−1)-frontier with the adjacency list and
    * anti-joins the visited set, so every node gets its true hop
    * distance from the nearest source (≤ `maxDepth`). The fixed depth
    * is again what buys an iterative operator a full hash oracle
    * (unrolled-CTE replay, the [[pageRank]]/[[kCore]] stance) — and is
    * also how production BFS runs at scale (bounded supersteps).
    *
    * Scale shape: each round is one hash join frontier⋈adjacency plus
    * one anti join against visited — all keyed on node id. The visited
    * frame is materialized per round with an EAGER `localCheckpoint`
    * (the [[Components]]/[[kCore]] idiom, r16): the round's three
    * consumers (frontier filter, anti join, union) read the stored
    * blocks AND the next round's logical plan roots at a constant-size
    * RDD scan. The old persist-per-round form let the logical tree grow
    * ~3× per round (706 Exchange / 463 scan nodes in the 3-round
    * catalog query's explain) and Catalyst re-analyzed it per round —
    * guide §3.3's truncate-with-localCheckpoint case; isolated catalog
    * query 3.4 → 1.7–1.9 s (local[32], sf0.1; oracle hash unchanged).
    * Previous rounds' blocks are dropped as each round lands (via
    * `Caches.releaseBlocks` — plain `unpersist` is a no-op on checkpointed
    * frames): peak storage is two node-sized frames plus the adjacency;
    * the final round's blocks are ContextCleaner-reclaimed after the
    * caller's action. Same durability trade as [[pageRank]]/[[kCore]]:
    * executor loss costs a rerun — use reliable `checkpoint()` for
    * day-long jobs.
    *
    * @param edges   `src`/`dst` frame, treated as undirected
    * @param sources frame with an `id` column (dist 0)
    * @return (id, dist) — every node within `maxDepth` hops of a source
    */
  def bfsLevels(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "bfsLevels: maxDepth must be >= 1")
    val adj = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(explode(array(struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist()
    var visited = sources.select(col("id")).distinct()
      .withColumn("dist", lit(0L)).persist()
    visited.count()
    var last = visited
    var d = 1
    while (d <= maxDepth) {
      val frontier = visited.filter(col("dist") === (d - 1).toLong).select("id")
      val reached = adj.join(frontier.withColumnRenamed("id", "u"), Seq("u"))
        .select(col("v").as("id")).distinct()
      val fresh = reached.join(visited, Seq("id"), "leftanti")
        .withColumn("dist", lit(d.toLong))
      // eager localCheckpoint = materialize + truncate lineage (see doc)
      val next = visited.union(fresh).localCheckpoint(eager = true)
      // the PREVIOUS round only, once `next` has materialized (see kCore)
      graft.Caches.releaseBlocks(last)
      visited = next
      last = next
      d += 1
    }
    graft.Caches.releaseAfterConsumers(Seq(visited), adj)
    visited
  }
}
