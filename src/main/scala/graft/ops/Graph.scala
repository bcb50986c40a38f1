package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.FixedPoint.units

/** Iterative graph analytics over edge DataFrames — the one
  * computational pattern (fixed-point iteration over a distributed
  * relation) the registry did not yet exercise. Everything stays in
  * the DataFrame API: each PageRank step is a join + aggregate that
  * Catalyst plans like any other, and the scale levers are the same
  * ones the rest of the engine uses — hash-partition the edges ONCE on
  * the join key and reuse that partitioning every iteration, keep the
  * per-iteration result persisted and the lineage truncated.
  *
  * 100 TB design: edges are the big side (persisted, partitioned by
  * `src`); ranks are |V| rows — orders of magnitude smaller — and
  * reshuffle each step. Per iteration exactly one shuffle of the rank
  * contributions (the groupBy on dst); the edges⋈ranks join reuses the
  * edge partitioning. Lineage is cut with `localCheckpoint` every few
  * iterations so iteration N's plan does not embed N copies of the
  * join tree (the classic iterative-Spark failure mode: an
  * exponentially growing logical plan that stalls the optimizer long
  * before the executors see work).
  */
object Graph {

  /** Bipartite supply graph from lineitem: supplier `s` supplied part
    * `p` ⇒ directed edges s→p and p→s (distinct). Part node ids are
    * offset so the two key spaces cannot collide. */
  val PartOffset = 10000000L

  def supplyEdges(lineitem: DataFrame): DataFrame = {
    val pairs = lineitem
      .select(col("l_suppkey").cast("long").as("s"),
        (lit(PartOffset) + col("l_partkey")).as("p"))
      .distinct()
    pairs.select(col("s").as("src"), col("p").as("dst"))
      .unionAll(pairs.select(col("p").as("src"), col("s").as("dst")))
  }

  /** Fixed-iteration PageRank with damping `d`:
    *   rank⁰(v) = 1/N
    *   rankⁱ(v) = (1−d)/N + d·(Σ_{(u,v)∈E} rankⁱ⁻¹(u)/outdeg(u) + DMⁱ⁻¹/N)
    * where DM = Σ over DANGLING nodes u (no out-edges) of rank(u) —
    * the classic dangling-mass redistribution (Page et al. 1999 §2.5;
    * "lumped" handling as in Langville & Meyer 2004), which keeps
    * Σ rank = 1 for ARBITRARY edge sets instead of silently dropping
    * the mass that flows into sink nodes.
    *
    * Nodes with no in-edges keep the teleport term (right join below).
    * Danglingness is detected ONCE up front (dst-only nodes, one
    * anti-join); when the set is empty — true for any bidirectional
    * edge set like [[supplyEdges]] — the loop runs the slimmer
    * DM-free plan, so the general contract costs the common case one
    * node-sized anti-join, not a per-iteration term.
    *
    * With dangling nodes present, DM enters the plan as a 1-row
    * broadcast aggregate over the previous ranks (never a collect) —
    * BUT it makes each step consume the previous ranks TWICE (inflow
    * join + DM semi-join), so inside a lazy multi-iteration span the
    * plan would DOUBLE per step (2^span subtree copies — measured
    * 18.6 s vs 5.0 s for 6 iterations at sf0.1 when left lazy).
    * Dangling mode therefore materializes each iteration
    * (localCheckpoint per step): both DM consumers then read one
    * cached node-sized relation, and the measured cost is the ordinary
    * cadence-1 one (GRAPH_BENCH `pagerank_12_ckpt_every_1`), not the
    * exponential one.
    *
    * The single driver-side scalar is N (one `count()`), needed for the
    * teleport constant — the iteration itself never collects (with
    * `tol > 0`, one additional 1-row max-delta aggregate per CHECKPOINT
    * span, not per iteration — convergence detection rides the
    * materialization the lineage truncation already pays for).
    *
    * `iterations` is the hard cap; `tol > 0` adds early exit when the
    * max per-node rank change across a whole checkpoint span falls
    * under `tol` — the fixed-point contract real deployments want
    * (iterate until stable, never past the cap).
    */
  /** `assumeNoDangling = true` is PROBLEM KNOWLEDGE the planner cannot
    * derive (optimization guide §8): for an edge set where every node
    * has an out-edge BY CONSTRUCTION — any bidirectional set like
    * [[supplyEdges]], where each s→p ships with p→s — the dangling set
    * is empty by theorem, so the detection pass (two node-set
    * distincts + an anti-join + an isEmpty action over the full edge
    * relation, one full extra job before the first iteration) is pure
    * waste. The flag skips it; the loop then runs the same slim
    * DM-free plan the detection would have selected, so results are
    * identical. Callers without the theorem keep the default and pay
    * the general check. */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               checkpointEvery: Int = 5, tol: Double = 0.0,
               assumeNoDangling: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

    // big side: partition + PERSIST the edge set once — the setup phase
    // consumes it four times (outdeg, the linked join, and both node-set
    // derivations for the dangling check), and for derived edge sets
    // like [[supplyEdges]] each un-cached consumer would re-run the
    // full fact-table distinct. Partitioning by src up front also makes
    // the outdeg aggregate and the linked join shuffle-free (both key
    // on src and reuse the cached partitioning).
    val e = edges.repartition(shufflePartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val linked = e.join(outDeg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // node set: distinct sources plus any dst-only (dangling) nodes.
    // Sources and dangling are disjoint distinct sets, so their union
    // needs no second distinct; when no node dangles — the common,
    // bidirectional case — `nodes` IS the source set and the loop
    // below skips the dangling-mass term entirely.
    val srcNodes = e.select(col("src").as("node")).distinct()
    val dangling =
      if (assumeNoDangling) spark.emptyDataFrame.withColumn("node", lit(0L))
      else e.select(col("dst").as("node")).distinct()
        .join(srcNodes, Seq("node"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    val hasDangling = if (assumeNoDangling) false else !dangling.isEmpty
    val nodes =
      (if (hasDangling) srcNodes.unionByName(dangling) else srcNodes)
        .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val teleport = (1.0 - damping) / n

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var ckpts = List.empty[DataFrame]
    var spanStart = ranks // ranks at the last convergence check
    var i = 1
    var converged = false
    while (i <= iterations && !converged) {
      val inflow = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node")
        .agg(sum("c").as("inflow"))
        .join(nodes, Seq("node"), "right")
      var next =
        if (hasDangling) {
          // DM = Σ rank over dangling nodes, as a 1-row broadcast that
          // stays lazy (never collected). This is the step's SECOND
          // consumer of `ranks`, which is why dangling mode
          // materializes every iteration below — left lazy, the span
          // plan doubles per step (see the method scaladoc).
          val dm = ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
          inflow.join(broadcast(dm))
            .select(col("node"),
              (lit(teleport) + lit(damping) *
                (coalesce(col("inflow"), lit(0.0)) + col("dm") / n)).as("rank"))
        } else inflow
          .select(col("node"),
            (lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      // No-dangling mode: iterations stay LAZY (one fused multi-join
      // plan per checkpoint span — a single Spark job, with `linked`
      // cached across its stages); lineage is truncated only every
      // `checkpointEvery` steps, which is what bounds optimizer time at
      // high iteration counts without paying a materialization per
      // step. Dangling mode: every iteration materializes (two
      // consumers of `ranks` per step make laziness exponential).
      if (hasDangling && !(i % checkpointEvery == 0) && i < iterations) {
        next = next.localCheckpoint(eager = true)
        ckpts ::= next
      }
      if (i % checkpointEvery == 0 && i < iterations) {
        next = next.localCheckpoint(eager = true)
        ckpts ::= next
        if (tol > 0.0) {
          val delta = next.as("b")
            .join(spanStart.as("a"), col("a.node") === col("b.node"))
            .agg(max(abs(col("b.rank") - col("a.rank"))).as("d"))
            .collect()(0).getDouble(0)
          if (delta < tol) converged = true
          spanStart = next
        }
      }
      ranks = next
      i += 1
    }
    // one final materialization: hands the caller a lineage-free result
    // so every iteration-scoped cache can be dropped deterministically
    val out = ranks.localCheckpoint(eager = true)
    ckpts.foreach(_.unpersist())
    linked.unpersist()
    nodes.unpersist()
    dangling.unpersist()
    e.unpersist()
    out
  }

  /** Multi-source BFS: hop distance from `seeds` (a `node` column)
    * over directed `edges`, bounded at `maxHops`. The OTHER iterative
    * shape next to [[pageRank]]'s fixed-width relaxation: a monotone
    * frontier expansion where each step is
    * edges⋈frontier → distinct → ANTI-join visited, and the working
    * set SHRINKS as the reachable set saturates (the loop exits early
    * on an empty frontier — `frontier.isEmpty` on a just-checkpointed
    * frame is a metadata-cheap check, not a recompute).
    *
    * Scale shape: the per-hop join carries only frontier-adjacent
    * edges; `visited` is node-sized and each hop's new slice is
    * checkpointed, so hop h's plan never re-derives hops 1..h−1. The
    * anti-join hash-partitions on node — same key as the frontier
    * join, so AQE reuses the exchange where sizes allow. */
  def bfsLevels(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // derive + partition the edge set ONCE: every hop joins it on src,
    // and without the persist each hop re-runs the edge derivation
    // (for supplyEdges, a full fact-table distinct PER HOP — measured
    // 6.2 s -> 3.6 s in GraphBench at sf0.1 when hoisted)
    val e = edges.repartition(shufflePartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var visited = seeds.select(col("node")).distinct()
      .withColumn("level", lit(0))
      .localCheckpoint(eager = true)
    var frontier = visited.select("node")
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val next = e
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("level", lit(hop))
        .localCheckpoint(eager = true)
      if (next.isEmpty) done = true
      else {
        visited = visited.unionByName(next)
        frontier = next.select("node")
      }
      hop += 1
    }
    // every visited slice is checkpointed, so the cache can drop now
    e.unpersist()
    visited
  }

  /** Registry query: reachability profile of the supply graph —
    * nodes by hop distance from one nation's suppliers. Pure integer
    * output (level, node count), so the unrolled DuckDB oracle
    * hash-matches with no FP concerns. */
  def bfsSupply(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                nationKey: Int = 0, maxHops: Int = 4): DataFrame = {
    val edges = supplyEdges(graft.Tables.lineitem(spark, sfDir))
    val seeds = graft.Tables.supplier(spark, sfDir)
      .filter(col("s_nationkey") === nationKey)
      .select(col("s_suppkey").cast("long").as("node"))
    bfsLevels(edges, seeds, maxHops)
      .groupBy(col("level").cast("long").as("level"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Registry query: 3-iteration PageRank over the bipartite supply
    * graph. Ranks ship as 1e9-scaled BIGINTs: the per-node inflow sums
    * are doubles whose engine-vs-oracle difference is bounded by FP
    * summation order (~1e-13 relative) — 6+ orders of magnitude below
    * the 0.5 rounding granularity at this scale, so the hashes are
    * stable; the raw doubles never cross engines (the invariants-as-
    * data convention every sketch query here follows). */
  def pagerankSupply(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String, iterations: Int = 3): DataFrame = {
    val edges = supplyEdges(graft.Tables.lineitem(spark, sfDir))
    // bidirectional by construction ⇒ no node dangles (see pageRank)
    pageRank(edges, iterations, assumeNoDangling = true)
      .select(col("node"),
        units(col("rank"), 9).as("rank_e9"))
  }

  /** PERSONALIZED PageRank (Page et al. 1999 §6 "personalized" E
    * vector; the random-walk-with-restart form): the walker teleports
    * to the SEED set instead of uniformly, so rank measures relevance
    * TO THE SEEDS — the recommendation/similarity query ("parts most
    * relevant to these suppliers") where global PageRank measures
    * importance overall.
    *
    *   rank⁰(v)  = s(v)
    *   rankⁱ(v) = (1−d)·s(v) + d·(Σ_{(u,v)∈E} rankⁱ⁻¹(u)/outdeg(u)
    *                              + DMⁱ⁻¹·s(v))
    * with s(v) = 1/|S| on seeds, 0 elsewhere, and DM the dangling
    * mass (which in PPR restarts at the seeds, not uniformly).
    *
    * Same scale mechanics as [[pageRank]], same reasons: edges
    * partitioned+persisted once, one rank shuffle per iteration, lazy
    * fused spans with lineage truncation every `checkpointEvery`
    * steps when no node dangles, per-step materialization when one
    * does (the DM term makes each step consume the previous ranks
    * twice — left lazy the span plan doubles per step). The per-node
    * teleport weight rides the persisted node relation as a column,
    * so personalization adds ZERO extra shuffles over the uniform
    * operator. Seeds outside the node set would silently lose
    * teleport mass, so they fail loudly instead. */
  /** `assumeNoDangling`: same theorem-backed skip as [[pageRank]] —
    * see its scaladoc; identical results, one less full-edge-set job. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int, damping: Double = 0.85,
                           checkpointEvery: Int = 5,
                           assumeNoDangling: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = edges.repartition(shufflePartitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val linked = e.join(outDeg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcNodes = e.select(col("src").as("node")).distinct()
    val dangling =
      if (assumeNoDangling) spark.emptyDataFrame.withColumn("node", lit(0L))
      else e.select(col("dst").as("node")).distinct()
        .join(srcNodes, Seq("node"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    val hasDangling = if (assumeNoDangling) false else !dangling.isEmpty
    val allNodes =
      if (hasDangling) srcNodes.unionByName(dangling) else srcNodes
    val seedSet = seeds.select(col("node")).distinct()
    val k = seedSet.count()
    require(k > 0, "personalizedPageRank needs a non-empty seed set")
    // node relation WITH the teleport weight column — persisted once,
    // read by every iteration's right join
    val nodes = allNodes
      .join(seedSet.withColumn("sv", lit(1.0 / k)), Seq("node"), "left")
      .select(col("node"), coalesce(col("sv"), lit(0.0)).as("sv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Materialize the node+weight relation once, up front — and ride
    // that same job for the seed-containment check: seeds are distinct
    // and nodes unique, so |{nodes with sv > 0}| < k iff some seed is
    // outside the graph (it would silently lose teleport mass). The
    // previous seedSet-anti-nodes `require` spent a SECOND full
    // edge-distinct job on the same fact (guide §1.2: don't compute
    // things twice).
    // coalesce: with an empty edge set the sum aggregates over zero
    // rows to NULL, and a bare getLong would NPE instead of reaching
    // the clear require message below (r17 advisor finding)
    val seedsFound = nodes
      .agg(coalesce(sum(when(col("sv") > 0.0, 1L).otherwise(0L)), lit(0L)))
      .head().getLong(0)
    require(seedsFound == k,
      "personalizedPageRank: every seed must be a node of the edge set" +
        " (a seed outside the graph would silently lose teleport mass)")

    var ranks = nodes.select(col("node"), col("sv").as("rank"))
    var ckpts = List.empty[DataFrame]
    var i = 1
    while (i <= iterations) {
      // zero-rank nodes contribute nothing to inflow, so the outflow
      // side prunes them — in early iterations the walker's support is
      // seed-local and this keeps the join frontier-sized, the PPR
      // analog of BFS's shrinking frontier (exact: 0/outdeg = 0)
      val inflow = linked
        .join(ranks.filter(col("rank") =!= 0.0)
          .select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("node")
        .agg(sum("c").as("inflow"))
        .join(nodes, Seq("node"), "right")
      var next =
        if (hasDangling) {
          val dm = ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
          inflow.join(broadcast(dm))
            .select(col("node"), col("sv"),
              (lit(1.0 - damping) * col("sv") + lit(damping) *
                (coalesce(col("inflow"), lit(0.0)) + col("dm") * col("sv")))
                .as("rank"))
        } else inflow
          .select(col("node"), col("sv"),
            (lit(1.0 - damping) * col("sv") +
              lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      if ((hasDangling || i % checkpointEvery == 0) && i < iterations) {
        next = next.localCheckpoint(eager = true)
        ckpts ::= next
      }
      ranks = next
      i += 1
    }
    val out = ranks.select("node", "rank").localCheckpoint(eager = true)
    ckpts.foreach(_.unpersist())
    linked.unpersist(); nodes.unpersist(); dangling.unpersist(); e.unpersist()
    out
  }

  /** Registry query: 3-iteration personalized PageRank over the supply
    * graph, seeded at suppliers with suppkey ≡ 1 (mod 10) — "which
    * parts and suppliers are most relevant to THIS supplier cohort".
    * Same 1e9-scaled integer output convention as [[pagerankSupply]]
    * (same FP-order bound, 6+ orders below rounding granularity). */
  def pprSupply(spark: org.apache.spark.sql.SparkSession,
                sfDir: String, iterations: Int = 3): DataFrame = {
    val edges = supplyEdges(graft.Tables.lineitem(spark, sfDir))
    val seeds = graft.Tables.supplier(spark, sfDir)
      .filter(pmod(col("s_suppkey"), lit(10)) === 1)
      .select(col("s_suppkey").cast("long").as("node"))
    // bidirectional by construction ⇒ no node dangles (see pageRank)
    personalizedPageRank(edges, seeds, iterations, assumeNoDangling = true)
      .select(col("node"),
        units(col("rank"), 9).as("rank_e9"))
  }
}
