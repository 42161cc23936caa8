package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over similarity graphs — the centrality companion to
  * the q52 connected-components labeling (reference: n/a — the reference
  * is telemetry-only; this serves the LLM-pipeline brief's dedup
  * governance: pick the most/least central member of a duplicate
  * cluster, rank boilerplate hubs).
  *
  * Why INTEGER-scaled PageRank: floating-point PageRank is not
  * replayable across engines — per-node inbound sums run in partition
  * order, and iteration compounds the reassociation error, so a DuckDB
  * oracle would drift from Spark in the low bits and a hash gate could
  * never pin it. With ranks carried as integer micro-units (scale 10⁶)
  * and every step an integer multiply/divide, BOTH engines compute the
  * identical number regardless of summation order — the BPE-oracle
  * discipline applied to graph iteration. Truncation replaces the
  * analytic damping formula's low bits; the measured effect at scale 10⁶
  * is < 1e-4 relative, far inside ranking noise, and the determinism is
  * what buys the end-to-end gate (q152).
  *
  * Scale shape: each iteration is (edges ⋈ ranks on src) → groupBy dst
  * sum → (nodes left-⋈ sums): three hash-partitioned equi-shuffles, the
  * Pregel message-passing shape. Ranks and contributions are 16-byte
  * rows; no text, no arrays, no windows. Contributions combine map-side
  * (sum of longs). Isolated nodes ride the left join at base rank. The
  * plan grows LINEARLY in iterations (each rank feeds the next exactly
  * once); past ~10 iterations localCheckpoint the rank relation to cap
  * lineage, as the BPE trainer does per 25 rounds.
  *
  * Dangling nodes (outdeg 0) leak their damped mass — the classic
  * simplified PageRank; acceptable for centrality RANKING (all ranks
  * shrink by the same leaked mass) and what keeps every step a pure
  * equi-join (redistributing dangling mass needs a global scalar per
  * iteration — a one-row broadcast, deliberately omitted; callers that
  * need stochastic-matrix PageRank can add it without changing the
  * join shape).
  */
object Graph {

  /** Fixed-point PageRank. `nodes`: one column `id` (long); `edges`:
    * `src`, `dst` (long, directed, duplicates allowed — a repeated edge
    * contributes twice, matching the multigraph reading). Returns
    * (id, pr) with pr in micro-units: pr₀ = scale; prₙ = base +
    * (dampNum · Σ inbound(prₙ₋₁ div outdeg)) div dampDen, all integer.
    */
  def pageRankIntScaled(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(outdeg, "src")
    val base = scale * (dampDen - dampNum) / dampDen // driver-side constant
    var rank = nodes.select(col("id"), lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("pr div outdeg").as("c"))
      val inSum = contrib.groupBy("id").agg(sum(col("c")).as("in_sum"))
      rank = nodes.join(inSum, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(in_sum, " +
            s"CAST(0 AS BIGINT))) div $dampDen")).as("pr"))
    }
    rank
  }

  /** PageRank over an UNDIRECTED pair relation (id_a, id_b): both
    * directions materialize as edges — the near-dup similarity graph
    * shape (q11 pairs), where centrality ranks cluster members.
    */
  def pageRankOverPairs(nodes: DataFrame, pairs: DataFrame,
      iters: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    pageRankIntScaled(nodes, edges, iters)
  }

  /** TrustRank-style seeded propagation (Gyöngyi, Garcia-Molina &
    * Pedersen, VLDB'04): personalized PageRank whose teleport mass lands
    * on a SEED set instead of uniformly — the quality-propagation
    * primitive over the similarity graph: seed documents from
    * editorially trusted sources and let trust flow to structurally
    * nearby docs, so a curation run can promote unlabeled pages that
    * cluster with known-good ones (and, with bad seeds, the dual:
    * spam-mass estimation). Same integer fixed-point discipline as
    * [[pageRankIntScaled]] (bit-replayable in any engine at any
    * summation order): seeds start at `scale` and receive the
    * per-iteration base term; non-seeds start at 0 and receive ONLY
    * propagated mass — an isolated non-seed stays at exactly 0, the
    * in-band "no trust evidence" marker. Plan shape identical to
    * PageRank: three equi-shuffles per iteration, lineage linear.
    *
    * `nodes`: (id, is_seed); `edges`: (src, dst) directed multigraph.
    */
  def trustRankIntScaled(nodes: DataFrame, edges: DataFrame, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val e = edges.join(outdeg, "src")
    val base = scale * (dampDen - dampNum) / dampDen
    val seedBase = when(col("is_seed"), lit(base)).otherwise(lit(0L))
    var rank = nodes.select(col("id"),
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = e.join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("pr div outdeg").as("c"))
      val inSum = contrib.groupBy("id").agg(sum(col("c")).as("in_sum"))
      rank = nodes.join(inSum, Seq("id"), "left")
        .select(col("id"),
          (seedBase + expr(s"($dampNum * coalesce(in_sum, " +
            s"CAST(0 AS BIGINT))) div $dampDen")).as("pr"))
    }
    rank
  }

  /** [[trustRankIntScaled]] over an UNDIRECTED pair relation — the
    * near-dup graph symmetrization [[pageRankOverPairs]] uses.
    */
  def trustRankOverPairs(nodes: DataFrame, pairs: DataFrame,
      iters: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    trustRankIntScaled(nodes, edges, iters)
  }

  /** Bounded k-core peeling (Seidman 1983, the distributed
    * simultaneous-removal form): `rounds` rounds of "drop every node
    * whose degree in the CURRENT subgraph is < k" over an undirected
    * pair relation; returns the surviving (id, core_deg). The true
    * k-core is the fixpoint; bounding the rounds is what makes the gate
    * replayable (the PageRank/BPE generated-CTE discipline), and a
    * converged round is a NO-OP, so rounds ≥ the peel depth returns the
    * exact core — GraphSpec pins convergence on the gate graph. Why a
    * curation pipeline cares: the k-core of the near-dup graph isolates
    * DENSE template families from the chains and hub-stars that
    * connected components lump into one label — the q162 LCC signal at
    * subgraph granularity, and the subgraph a keep-one-per-component
    * policy should treat differently from a loose chain.
    *
    * Plan shape: each round is one map-side-combining degree aggregate
    * + two equi semi-join-shaped reductions of the edge list — 3 hash
    * shuffles of 16-byte rows. Unlike PageRank's rank relation (one
    * self-reference per iteration → linear lineage), each round reads
    * the edge relation THREE times (degrees + both join sides), so an
    * unchecked plan grows 3^rounds; every round therefore eagerly
    * `localCheckpoint`s its shrunken edge set and releases the previous
    * round's blocks through the raw-RDD handle — the starClusters
    * discipline (`Dedup.scala`). A round that drops no node is the
    * fixpoint (degrees can only have been ≥ k everywhere), detected by
    * an edge count over the fresh checkpoint blocks, so converged tail
    * rounds cost nothing. Edges only ever SHRINK.
    */
  def kCorePeel(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0; got $k, $rounds")
    val und = pairs.select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("n"))
      val next = edges
        .join(keep.select(col("n").as("src")), "src")
        .join(keep.select(col("n").as("dst")), "dst")
        .select(col("src"), col("dst"))
        .localCheckpoint(true) // eager: materializes and truncates lineage
      val nextCount = next.count()
      converged = nextCount == edgeCount // no node dropped → fixpoint
      Stages.releaseCheckpoint(edges)
      edges = next
      edgeCount = nextCount
      round += 1
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("id"), col("core_deg"))
  }

  /** Bounded-round synchronous label propagation (Raghavan–Albert–Kumara
    * 2007, the deterministic synchronous form): labels₀(v) = v; each
    * round every node adopts the most frequent label among its
    * NEIGHBORS, ties broken toward the SMALLEST label — a total,
    * engine-replayable rule (the usual random tie-break is what makes
    * vanilla LPA non-reproducible; min tie-break trades a little merge
    * aggressiveness for bit-stable output). Communities differ from the
    * q52 components (which merge anything connected) and the q167 core
    * (which thresholds density): LPA splits a connected graph along its
    * sparse cuts — two template families bridged by one shared
    * boilerplate pair stay two communities. Synchronous LPA can 2-cycle
    * on bipartite structure, so `rounds` is a CONTRACT, not a
    * convergence hope: the result is the round-N snapshot, deterministic
    * at any N (the replayable-gate discipline of the PageRank/BPE/k-core
    * generated oracles).
    *
    * Plan shape per round: edges ⋈ labels on src (equi), a map-side-
    * combining (dst, label) count, and an argmax-as-aggregate
    * `max(struct(cnt, −label))` — NEVER a window over a node's neighbor
    * list (a hub's votes collapse to one partial per map task). Labels
    * are referenced once per round → lineage linear in rounds, no
    * checkpoint needed at gate depths.
    */
  def labelPropagation(pairs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to rounds) {
      labels = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("lbl"))
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("community"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected pair relation — the cohesion metric next to the q52
    * component labels and the q152 centrality ranks: a near-dup cluster
    * with LCC ≈ 1 is a genuine template family (every member pairs with
    * every other), LCC ≈ 0 at high degree flags a HUB (one boilerplate
    * page chaining otherwise-unrelated docs into a giant component —
    * exactly the case where keep-one-per-component over-deletes).
    *
    * Algorithm: the classic degree-ordered orientation (compact-forward,
    * Latapy 2008; the MapReduce form is Suri & Vassilvitskii WWW'11).
    * Each undirected edge is oriented from its lower to its higher
    * endpoint under the TOTAL order (degree, id); wedges self-join the
    * oriented list on the center `src` and the closing edge is looked up
    * with a plain equi-join on (v, w) — orientation consistency
    * guarantees each triangle materializes exactly once, as its single
    * (lowest-order corner, middle, highest) form. Why degree order and
    * not id order: forward-degree under degree-ordering is O(√m), so a
    * boilerplate hub with 10⁶ neighbors contributes ~m wedges instead of
    * 10¹² — the skew that kills id-ordered wedge joins at 100 TB. All
    * joins are equi (shuffle-hash/AQE-splittable); no windows, no
    * per-node adjacency list ever materializes.
    *
    * Output: (id, degree, n_tri, lcc) for every node incident to a pair;
    * lcc = 2·n_tri / (deg·(deg−1)) rounded to 4, NULL below degree 2
    * (undefined, not zero — the in-band "leaf" marker). Counts are exact
    * integers; the one double division replays bit-for-bit in any engine.
    */
  def triangleStats(pairs: DataFrame): DataFrame = {
    // canonicalize defensively: direction-insensitive, self-loop-free,
    // duplicate pairs collapsed (a multigraph has no extra triangles)
    val p = pairs.select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = p.select(col("a").as("id")).unionAll(p.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val withDeg = p
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val fwd = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("dd"))
    val e1 = fwd.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = fwd.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    val tri = wedges
      .join(fwd.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2,
          graft.functions.AggFunctions.ratioQ(
            lit(2L) * coalesce(col("n_tri"), lit(0L)),
            col("degree") * (col("degree") - lit(1L)), 4)).as("lcc"))
  }
}
