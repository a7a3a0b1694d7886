package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics as DataFrame plans — the batch-graph
  * operations a training-data / analytics pipeline reaches for (influence
  * ranking, community structure) without leaving Spark SQL.
  *
  * Both operators are INTEGER-EXACT by construction: PageRank runs in
  * fixed-point arithmetic (damping as the rational 17/20, ranks as scaled
  * longs) so partial-aggregation order cannot perturb a single bit and the
  * DuckDB oracle reproduces results exactly — the float spelling would
  * hash-mismatch on summation order. Triangle counts are plain integers.
  */
object GraphAlgos {

  /** Fixed-point PageRank over a DIRECTED edge list (cols `s` → `d`).
    * Ranks are scaled longs (`scale` = 1.0); damping is the rational
    * dampNum/dampDen (default 17/20 = 0.85). Every arithmetic step is
    * integer (`div`), so the result is bitwise deterministic under any
    * partitioning and any engine. Returns (v, rank_fixed).
    *
    * rank₀(v) = scale/N;
    * rankₖ₊₁(v) = (scale·(den−num)/den)/N +
    *              Σ_{u→v} (rankₖ(u)·num/den)/outdeg(u)
    *
    * Scale (100 TB lens): each of the K iterations is one edge-sized
    * equi-join (edges ⨝ ranks on src, partial-agg sum on dst) plus a
    * node-sized left join — the textbook Pregel-on-DataFrames shape. No
    * collects, no windows; the rank lineage is cut every
    * `checkpointEvery` rounds — measured at 10× data: never cutting lets
    * the nested DAG's adaptive re-planning blow up (64 s vs 13 s), while
    * cutting every round pays an extra materialization barrier per step
    * (~30% slower than every-2 at both scales). Sinks (no out-edges)
    * leak rank mass by design — feed an undirected graph (both edge
    * directions) when sink handling matters, as the catalog entry does.
    *
    * When the node count is at most `broadcastNodesBelow`, the per-round
    * rank frame joins as a BROADCAST side: the edge frame then never
    * shuffles for the join (only the map-side-combined contribution agg
    * moves), at the cost of a node-sized collect per round. Web-scale
    * graphs (nodes ≫ executor memory) exceed the threshold and fall back
    * to the shuffled equi-join automatically.
    *
    * The default is MEMORY-DERIVED (r12 one-off probe, both paths at
    * 0.6M/1.1M/2.1M/4.2M nodes, two passes in one window, on a 56 GiB
    * driver — STATUS.md table "PageRank broadcast-vs-shuffled
    * crossover"): at ≤2.1M nodes the two paths tie
    * within the host band (winners swap between passes), while at 4.2M
    * broadcast collapses to 2.4–2.6× the shuffled wall in BOTH passes
    * (604–673 s vs 237–274 s — a per-round node-sized broadcast build +
    * driver collect paid five times, a driver-memory/GC artifact that a
    * CONSTANT threshold would not carry to other memory configs —
    * VERDICT r12 #8). [[derivedBroadcastNodesBelow]] therefore anchors
    * the safe point at the measured tie boundary (2.1M nodes on the
    * 56 GiB probe heap ⇒ ~28 KiB of heap per safe node, a linear-in-heap
    * model — the simplest that reproduces the measurement) and scales it
    * with this JVM's max heap, clamped to [256k, 16M]; 2M — the r12
    * constant the probe validated — is the floor behavior on the probe
    * box's default 28 GiB driver (⇒ 1M, still far above every catalog
    * graph and below the tie boundary, where the choice costs nothing).
    * Below the tie point the threshold choice costs nothing; above it
    * the post-r11 laid-out shuffled path (edge exchange paid once,
    * cached) is strictly safer. */
  /** Test seam (the crashHook convention): when set, receives each
    * PageRank round's executed-plan string before that round's
    * checkpoint — GraphAlgosSpec pins the edge-never-re-shuffles
    * property through it, since the returned frame's own plan is a
    * checkpoint scan that no longer shows the per-round joins. */
  private[graft] var roundPlanProbe: Option[(Int, String) => Unit] = None

  /** Memory-derived default for `broadcastNodesBelow` (scaladoc above):
    * maxHeap / 28 KiB-per-node — the linear-in-heap model anchored at
    * the r12 probe's measured tie boundary (2.1M nodes safe on a 56 GiB
    * driver; the 4.2M cliff is a per-round broadcast-build + collect
    * memory artifact). Clamped to [256k, 16M]: the floor keeps tiny test
    * JVMs on the broadcast path for the catalog-sized graphs where it
    * provably ties or wins, the ceiling respects Spark's own 8 GB
    * broadcast-table limit with wide margin. */
  private[graft] def derivedBroadcastNodesBelow(
      maxHeapBytes: Long = Runtime.getRuntime.maxMemory()): Long =
    math.min(16000000L, math.max(262144L, maxHeapBytes / 28672L))

  def pageRankFixedPoint(edges: DataFrame, iterations: Int = 5,
      scale: Long = 1000000000000L, dampNum: Int = 17, dampDen: Int = 20,
      checkpointEvery: Int = 2,
      broadcastNodesBelow: Long = derivedBroadcastNodesBelow()): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    val e = edges.select(col("s").cast("long").as("s"),
      col("d").cast("long").as("d")).localCheckpoint()
    // one aggregation yields the node set AND each node's has-in-edges
    // flag: the former spelling ran a distinct for `nodes` plus a
    // node-sized LEFT ANTI join for `noIn` below — two materializations
    // where one shuffle of the same union carries both (guide §1.2/§2.4;
    // max(isIn) over the same union is the same node set bit-for-bit,
    // and hasIn = 1 iff the node has an in-edge)
    val nodes = e.select(col("s").as("v"), lit(0).as("isIn"))
      .union(e.select(col("d").as("v"), lit(1).as("isIn")))
      .groupBy("v").agg(max(col("isIn")).as("hasIn"))
      .localCheckpoint()
    val n = nodes.count()
    val bcast = n <= broadcastNodesBelow
    // pre-join degree onto the edges ONCE: the iteration loop then joins
    // only on the rank frame, not rank + degree every round
    val deg = e.groupBy(col("s").as("v")).agg(count(lit(1)).as("dg"))
    val edRaw = e.join(deg.withColumnRenamed("v", "s"), "s")
    // Shuffled fallback: fix the edge frame's layout ON the join key
    // once — repartition(s) + sortWithinPartitions(s) before the
    // checkpoint (localCheckpoint preserves hash partitioning and
    // ordering through LogicalRDD), so every round's rank join plans an
    // Exchange/Sort only on the NODE-sized rank side. Without this the
    // edge table re-shuffled every iteration — at the 100× rehearsal
    // that was an edge-sized exchange × 5 rounds (326 s; VERDICT r10
    // #2). Plan-asserted in GraphAlgosSpec. The broadcast path never
    // shuffles the edge frame for the join, so it skips the layout pass.
    //
    // AQE caveat (measured on 4.1): under AQE a localCheckpoint origin's
    // executedPlan is an AdaptiveSparkPlanExec, which reports
    // UnknownPartitioning to LogicalRDD.fromDataset — the layout would be
    // silently dropped. The first fix (toggling spark.sql.adaptive.enabled
    // around the checkpoint) mutated SESSION-wide conf, turning AQE off
    // for any query planned concurrently in the same session during the
    // edge-sized materialization. cache() avoids both problems: an
    // InMemoryRelation preserves its child's outputPartitioning and
    // outputOrdering even under AQE (canChangeCachedPlanOutputPartitioning
    // defaults to false for exactly this stability — plan-asserted in
    // GraphAlgosSpec), and is unpersisted after the final round's
    // checkpoint severs the lineage. The count() is load-bearing: until
    // the cached ADAPTIVE plan is finalized by a materialization it
    // reports UnknownPartitioning (isFinalPlan=false, measured on 4.1),
    // and a round planned against it would re-shuffle the edge side.
    val ed = if (bcast) edRaw.localCheckpoint()
      else {
        val c = edRaw.repartition(col("s")).sortWithinPartitions("s").cache()
        c.count()
        c
      }
    val base = (scale * (dampDen - dampNum) / dampDen) / n
    // every node with ≥1 in-edge receives a contribution row EVERY round
    // (all sources always carry a rank), so the per-round rank frame is
    // contrib ∪ constant-rank sinks-of-in-degree-0 — computed once here.
    // This replaces the former per-round node-sized LEFT JOIN with a
    // union: one fewer shuffle per iteration, bit-identical results.
    // noIn reads the checkpointed hasIn flag — a map-only filter, no
    // anti-join materialization of its own (see the nodes agg above).
    val noIn = nodes.filter(col("hasIn") === 0)
      .select(col("v"), lit(base).as("r"))
    var ranks = nodes.select(col("v"), lit(scale / n).as("r"))
    for (k <- 1 to iterations) {
      val rs = ranks.withColumnRenamed("v", "s")
      val contrib = ed
        .join(if (bcast) broadcast(rs) else rs, "s")
        .groupBy(col("d").as("v"))
        .agg(sum(expr(s"r * $dampNum div $dampDen div dg")).as("m"))
      ranks = contrib.select(col("v"), (lit(base) + col("m")).as("r"))
        .unionByName(noIn)
      roundPlanProbe.foreach(p =>
        p(k, ranks.queryExecution.executedPlan.toString))
      // broadcasting evaluates the rank frame every round anyway (the
      // broadcast build IS a materialization) — checkpoint each round so
      // that evaluation happens ONCE, not once for the broadcast and
      // again downstream; node-sized, so the extra caching is cheap.
      // Flat-stats variant: the rank recurrence is only linear in the
      // stats estimate (one self-reference per round), but severing the
      // estimate keeps arbitrarily high iteration counts planner-safe
      // (see T.checkpointFlatStats); the explicit broadcast() hint above
      // is unaffected by the default size estimate.
      // the shuffled path also checkpoints the FINAL round: the rank
      // lineage then no longer references the cached edge layout, so it
      // can be unpersisted before returning (a pinned edge-sized cache
      // would otherwise outlive the call)
      if (bcast || k % checkpointEvery == 0 || k == iterations)
        ranks = graft.T.checkpointFlatStats(ranks)
    }
    if (!bcast) ed.unpersist(blocking = false)
    ranks.select(col("v"), col("r").as("rank_fixed"))
  }

  /** Bounded-round k-core peeling over an UNDIRECTED simple graph given
    * as unique edges (`a`, `b`): repeatedly drop nodes of degree < k (and
    * the edges touching them) for up to `maxRounds` rounds, stopping
    * early at the fixpoint. Returns (v, core_deg): each surviving node
    * with its degree in the surviving subgraph — the k-core when
    * converged, the round-`maxRounds` peel state otherwise. The dense
    * cohesive cores this exposes are the curation signal (template farms
    * / boilerplate families in a near-dup graph survive peeling; loosely
    * attached docs fall away).
    *
    * Determinism: peeling is confluent — the round-r edge set is a pure
    * function of the round-(r−1) set, every step integer. Early exit is
    * indistinguishable from running all rounds (a fixpoint is stable
    * under further peels), so an oracle that unrolls exactly `maxRounds`
    * rounds matches REGARDLESS of when convergence happens.
    *
    * Scale (100 TB lens): each round is one degree partial-agg plus two
    * semi-join-shaped equi-joins, all edge-sized and monotonically
    * shrinking; the convergence check rides the per-round edge count
    * (driver-scalar). Lineage is cut per round (the count materializes
    * the checkpoint anyway). Rounds are bounded by `maxRounds`, not the
    * graph's peeling depth — the standard MapReduce k-core compromise. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 10): DataFrame = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 100)
    var e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint()
    var nEdges = e.count()
    var r = 0
    var done = nEdges == 0
    while (!done && r < maxRounds) {
      val keep = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("v")
      // flat-stats checkpoint: e appears 3× in e2's plan, so the
      // propagated size ESTIMATE grows 3^round in bit length and would
      // overflow the planner on deep peels (see T.checkpointFlatStats)
      val e2 = graft.T.checkpointFlatStats(
        e.join(keep.withColumnRenamed("v", "a"), "a")
          .join(keep.withColumnRenamed("v", "b"), "b")
          .select("a", "b"))
      val n2 = e2.count()
      // peeling only removes edges, so an unchanged count means an
      // unchanged set — the fixpoint
      done = n2 == nEdges
      e = e2; nEdges = n2; r += 1
    }
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_deg"))
  }

  /** Per-node triangle counts over an UNDIRECTED simple graph given as
    * unique edges with `a` < `b`. Returns (v, n_tri) for nodes in ≥ 1
    * triangle.
    *
    * Scale: the naive wedge join (all 2-paths) is quadratic in the hub
    * degree — one celebrity node of degree 10⁶ emits 5·10¹¹ wedges. This
    * runs the degree-ordered orientation (Cohen's MapReduce algorithm /
    * Suri–Vassilvitskii): orient every edge from its lower-(deg, id)
    * endpoint to the higher; every triangle then has exactly ONE vertex
    * with out-edges to the other two in that order, wedges are built only
    * from ORIENTED out-pairs — bounding wedge fan-out by the graph's
    * arboricity-ish out-degree (≤ √|E| on any simple graph) instead of
    * the raw hub degree — and each triangle is found exactly once, at its
    * lowest-ordered vertex. All equi-joins; integer-exact. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("a").cast("long"), col("b").cast("long"))
      .localCheckpoint()
    val deg = e0.select(col("a").as("v")).union(e0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    // orientation key: (deg, id) lexicographic, packed for one comparison
    val da = deg.select(col("v").as("a"), col("dg").as("dga"))
    val db = deg.select(col("v").as("b"), col("dg").as("dgb"))
    val oriented = e0.join(da, "a").join(db, "b")
      .select(
        when(col("dga") < col("dgb") ||
          (col("dga") === col("dgb") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("dga") < col("dgb") ||
          (col("dga") === col("dgb") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("w"))
      .localCheckpoint()
    // wedges at u: ordered out-pairs (v1 < v2 by node id keeps each
    // unordered out-pair once); close against the undirected edge set in
    // its canonical a<b spelling
    val o1 = oriented.select(col("u"), col("w").as("x"))
    val o2 = oriented.select(col("u"), col("w").as("y"))
    val wedges = o1.join(o2, "u").filter(col("x") < col("y"))
    val tri = wedges.join(e0, col("a") === col("x") && col("b") === col("y"))
      .select(col("u"), col("x"), col("y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
  }
}
