package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Integer-scaled PageRank: exact fixed-point arithmetic pinned against
  * a hand-folded reference, plus the structural properties the q152
  * oracle replay depends on.
  */
class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  // path + triangle + isolated node: 1→2→3 (path), 4↔5↔6↔4 (triangle,
  // undirected via both directions), 7 isolated
  private def nodes = (1L to 7L).toDF("id")
  private def edges = Seq(
    1L -> 2L, 2L -> 3L,
    4L -> 5L, 5L -> 4L, 5L -> 6L, 6L -> 5L, 6L -> 4L, 4L -> 6L)
    .toDF("src", "dst")

  /** Driver-side reference fold of the exact integer recurrence. */
  private def reference(iters: Int): Map[Long, Long] = {
    val es = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 4L), (5L, 6L),
      (6L, 5L), (6L, 4L), (4L, 6L))
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    var r = (1L to 7L).map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _) => r(s) / outdeg(s) }.sum }
      r = r.keys.map(k => k -> (150000L + 85L * in.getOrElse(k, 0L) / 100L))
        .toMap
    }
    r
  }

  test("exact fixed-point recurrence matches the driver fold at 1..4 iters") {
    for (it <- 1 to 4) {
      val got = Graph.pageRankIntScaled(nodes, edges, it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference(it), s"iters=$it")
    }
  }

  test("structure: isolated node at base, triangle members equal, hubs rank") {
    val r = Graph.pageRankIntScaled(nodes, edges, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(7L) === 150000L)              // isolated: pure base after iter 1+
    assert(r(4L) === r(5L) && r(5L) === r(6L)) // symmetric triangle
    assert(r(4L) > r(3L))                  // recirculating mass beats a path tail
    assert(r(3L) > r(1L))                  // 1 has no inbound at all
    assert(r(1L) === 150000L)
  }

  test("duplicated edges contribute twice (multigraph semantics)") {
    val doubled = edges.unionByName(edges)
    val once = Graph.pageRankIntScaled(nodes, edges, 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val twice = Graph.pageRankIntScaled(nodes, doubled, 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // doubling every edge doubles outdeg AND doubles inbound count: the
    // per-edge contribution halves (pr div 2d) but arrives twice — equal
    // up to the div-truncation parity, so pin a tight band not equality
    for (k <- 1L to 7L)
      assert(math.abs(once(k) - twice(k)) <= 2L, s"node $k")
  }

  test("pageRankOverPairs symmetrizes: both endpoints of a lone pair equal") {
    val r = Graph.pageRankOverPairs((1L to 3L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b"), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === r(2L))
    assert(r(1L) > r(3L)) // paired nodes receive mass, isolated does not
  }

  test("iters=0 returns the uniform start vector") {
    val r = Graph.pageRankIntScaled(nodes, edges, 0)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.values.toSet === Set(1000000L))
  }

  test("trustRank: seeds take base mass, isolated non-seed stays at 0") {
    // 1(seed)-2-3 chain, 4 isolated non-seed, 5 isolated seed
    val ns = Seq((1L, true), (2L, false), (3L, false), (4L, false),
      (5L, true)).toDF("id", "is_seed")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Graph.trustRankOverPairs(ns, pairs, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(4L) === 0L, "no path from any seed -> exactly zero trust")
    assert(r(5L) === 150000L, "isolated seed keeps only its base term")
    // NOT r(1) > r(2): a degree-1 seed exports its whole mass each
    // iteration, so on a chain the neighbor legitimately out-ranks it —
    // what IS guaranteed is decay with distance among non-seeds
    assert(r(2L) > r(3L), "trust decays with distance from the seed")
    assert(r(3L) > 0L, "two hops still receive propagated mass")
  }

  test("trustRank: exact fixed-point recurrence matches a driver fold") {
    val ns = Seq((1L, true), (2L, false), (3L, false)).toDF("id", "is_seed")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L))
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = Map(1L -> 1000000L, 2L -> 0L, 3L -> 0L)
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => pr(s) / outdeg(s) }.sum).toMap
      pr = pr.keySet.map(k => k ->
        ((if (k == 1L) 150000L else 0L) +
          85L * in.getOrElse(k, 0L) / 100L)).toMap
    }
    val got = Graph.trustRankOverPairs(ns, pairs, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === pr)
  }

  private def triMap(pairs: Seq[(Long, Long)]) =
    Graph.triangleStats(pairs.toDF("id_a", "id_b"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3))))
      .toMap

  test("triangleStats: K4 — every node in 3 triangles, lcc 1") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = triMap(k4)
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    assert(r.values.forall(_ == ((3L, 3L, 1.0))))
  }

  test("triangleStats: square has wedges but zero triangles") {
    val r = triMap(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(r.values.forall { case (d, t, l) => d == 2L && t == 0L && l == 0.0 })
  }

  test("triangleStats: hub star — high degree, lcc 0; leaves lcc NULL") {
    val star = (2L to 6L).map(b => (1L, b))
    val r = triMap(star)
    assert(r(1L) === ((5L, 0L, 0.0)))
    (2L to 6L).foreach(b => assert(r(b)._1 == 1L && r(b)._3.isNaN,
      s"leaf $b: degree-1 lcc must be NULL, not 0"))
  }

  test("triangleStats: triangle + pendant — counts and lcc exact") {
    val r = triMap(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(r(1L) === ((2L, 1L, 1.0)))
    assert(r(2L) === ((2L, 1L, 1.0)))
    assert(r(3L) === ((3L, 1L, round4(2.0 * 1 / (3 * 2)))))
    assert(r(4L)._2 == 0L)
  }

  test("triangleStats: reversed/duplicate pairs and self-loops collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (2L, 2L))
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(triMap(messy) === triMap(clean))
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def core(pairs: Seq[(Long, Long)], k: Int, rounds: Int) =
    Graph.kCorePeel(pairs.toDF("id_a", "id_b"), k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCorePeel: K4 + pendant chain — the chain peels round by round") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L)) // 7 is the loose end
    val g = k4 ++ chain
    // round 1 drops only the degree-1 tip (7); the chain unravels one
    // node per round under SIMULTANEOUS removal
    assert(core(g, 2, 1).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(core(g, 2, 2).keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(core(g, 2, 3).keySet === Set(1L, 2L, 3L, 4L))
    // fixpoint: extra rounds are no-ops; K4 degrees all 3
    assert(core(g, 2, 4) === core(g, 2, 9))
    assert(core(g, 2, 4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCorePeel: a cycle is its own 2-core; k=3 dissolves it") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(core(cyc, 2, 3).keySet === Set(1L, 2L, 3L, 4L))
    assert(core(cyc, 3, 2).isEmpty)
  }

  test("kCorePeel: rounds=0 returns the full graph with raw degrees") {
    val g = Seq((1L, 2L), (2L, 3L))
    assert(core(g, 2, 0) === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  private def lpa(pairs: Seq[(Long, Long)], rounds: Int) =
    Graph.labelPropagation(pairs.toDF("id_a", "id_b"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation: K4 converges to the min label by round 2") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    // round 1: node 1 sees {2,3,4} (all count 1 → min 2); the rest see
    // label 1 among their votes and adopt it
    assert(lpa(k4, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(lpa(k4, 2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(lpa(k4, 4) === lpa(k4, 2)) // stable fixpoint
  }

  test("labelPropagation: a bridge does NOT merge two cliques (vs CC)") {
    val k4a = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4b = for (a <- 5L to 8L; b <- (a + 1) to 8L) yield (a, b)
    val g = k4a ++ k4b :+ (4L, 5L)
    val out = lpa(g, 4)
    assert(Set(1L, 2L, 3L, 4L).map(out) === Set(1L))
    assert(Set(5L, 6L, 7L, 8L).map(out) === Set(5L))
    // connected components would label all eight the same — LPA's
    // sparse-cut split is the point of the operator
  }

  test("labelPropagation: the synchronous 2-cycle is a deterministic snapshot") {
    val e = Seq((1L, 2L))
    assert(lpa(e, 1) === Map(1L -> 2L, 2L -> 1L)) // swapped
    assert(lpa(e, 2) === Map(1L -> 1L, 2L -> 2L)) // swapped back
    assert(lpa(e, 3) === lpa(e, 1)) // the documented oscillation
  }

  test("labelPropagation is invariant to input partitioning") {
    val g = (0L until 300L).map(i => (i, (i * 7 + 1) % 300))
    val one = Graph.labelPropagation(g.toDF("id_a", "id_b").repartition(1), 3)
      .collect().map(_.toSeq).toSet
    val many = Graph.labelPropagation(g.toDF("id_a", "id_b").repartition(17), 3)
      .collect().map(_.toSeq).toSet
    assert(one === many)
  }

  test("q167's gate graph converges within its 4 rounds") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val pairs = graft.operators.Dedup.minhashNearDupsStage(docs, 0.5).result
      .select($"id_a", $"id_b")
    def run(r: Int) = Graph.kCorePeel(pairs, 2, r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(run(4) === run(6), "4 rounds must already be the fixpoint")
  }
}
