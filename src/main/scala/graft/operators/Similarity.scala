package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{vec_cosine, vec_dot}

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding array<float>`, `label`).
  *
  * Two paths:
  *  - [[bruteTopK]]: exact cosine top-k — the correctness baseline. The
  *    (small) query set is broadcast so the big side streams through one
  *    scan with no shuffle of the corpus; ranking shuffles only
  *    (query, candidate, score) triples.
  *  - [[ivfTopK]]: IVF-style cell-probed ANN — each vector is assigned to a
  *    coarse cell (here the pre-assigned `label`; in prod a k-means
  *    quantizer), and a query only scores vectors in its own cell. This is
  *    the 100 TB path: the corpus is hash-partitioned (or bucketed) by
  *    cell, the query→cell map broadcasts, and each executor scans only
  *    its cells' vectors.
  *
  * Scores come from [[graft.functions.VectorDot]] — a codegen'd Catalyst
  * expression (Spark's higher-order array lambdas are interpreted and were
  * the bottleneck) that widens float elements to double and accumulates
  * sequentially, matching the oracle's `list_sum(list_transform(...))`
  * fold. Ranking uses (round(cos, 6) DESC, vec_id) so ordering is
  * deterministic under floating-point jitter.
  */
object Similarity {

  /** Exact cosine top-k for each query vector (default: the full corpus is
    * the candidate set, self-match excluded).
    */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb")))
    val c = embeddings.select(col("vec_id"), col("embedding").as("emb"))
    val scored = c.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF-style ANN: only candidates in the query's cell are scored. */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("label").as("q_label"), col("embedding").as("q_emb")))
    val c = embeddings.select(col("vec_id"), col("label"),
      col("embedding").as("emb"))
    val scored = c.join(q,
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos"))
    rankTopK(scored, k)
  }

  /** Rank scored candidates to per-query top-k by (round(cos,6) desc,
    * vec_id) — via the bounded [[graft.functions.TopKByScoreAgg]] heap,
    * NOT a row_number window: the window form sorts the whole candidate
    * stream per map partition before WindowGroupLimit prunes, which at
    * probe scale (~10⁸ candidates) spills gigabytes and dominates
    * wall-clock (measured 1,433 s for IVF multi-probe at 1M vectors;
    * ~30 s with the heap). State is O(queries × k) per task, map-side
    * combined; output is bit-identical to the window form because
    * (score, vec_id) is a strict total order.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    scored
      .groupBy(col("q_id"))
      .agg(graft.functions.AggFunctions.top_k_by_score(
        round(col("cos"), 6), col("vec_id"), array(col("cos")), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(element_at(col("col.payload"), 1), 4).as("cos"))
  }

  /** Default Lloyd training-sample bound for [[kmeansCells]]. */
  val DefaultTrainN = 256

  /** Deterministic Lloyd's k-means over the embedding column, for building
    * real IVF cells (instead of the pre-assigned `label`).
    *
    * Division of labor mirrors MLlib: centroids live on the driver (k×dim
    * doubles — tiny) and broadcast into the assignment expression each
    * iteration; assignments are fully distributed (argmin over k literal
    * centroids via [[graft.functions.VectorDot]]). Seeded by the k lowest
    * vec_ids, so results are reproducible run to run.
    *
    * The Lloyd iterations train on a BOUNDED deterministic sample — the
    * `trainN` lowest vec_ids, the same rule as the seeding — and only the
    * final assignment touches the full corpus. That is standard IVF
    * practice (a coarse quantizer needs a representative sample, not the
    * corpus) and it is what makes the build memory-safe at 100 TB: the
    * per-(cell, dim) `collect_list` in the centroid step buffers at most
    * `trainN` doubles by construction, instead of an unbounded corpus
    * cell. Assumes embedding elements are non-NULL (both engines' folds
    * would diverge on NULLs; the oracle's count() mirrors collect_list's
    * null-skipping regardless).
    *
    * Returns (vec_id, cell) for the FULL corpus. Use with [[ivfTopK]] by
    * joining the cell back as the `label` column.
    */
  def kmeansCells(embeddings: DataFrame, k: Int, iters: Int,
                  trainN: Int = DefaultTrainN): DataFrame =
    kmeansFit(embeddings, k, iters, trainN).cells

  /** A fitted coarse quantizer: the k×dim centroid matrix (driver-side,
    * tiny — it broadcasts into assignment/probe expressions) and the full
    * corpus assignment (vec_id, cell).
    */
  case class KmeansModel(centroids: Array[Seq[Double]], cells: DataFrame)

  /** [[kmeansCells]], but keeping the centroids so callers can rank cells
    * per query (multi-probe) instead of only reading the argmin assignment.
    */
  def kmeansFit(embeddings: DataFrame, k: Int, iters: Int,
                trainN: Int = DefaultTrainN): KmeansModel = {
    // ONE bounded-sample collect, then Lloyd on the driver (r19,
    // guide §5 division of labor: the fit was already sample-bounded —
    // trainN×dim doubles — but ran `2 + iters·2` Spark jobs per fit,
    // pure scheduling overhead; pqFit paid it ×m subspaces, and every
    // job's TakeOrdered re-scanned the corpus. Centroids are
    // bit-identical to the distributed loop: assignment calls the SAME
    // [[graft.functions.VectorKernels.nearestCells]] kernel the
    // distributed expression called, and the mean step replays the same
    // sorted left-to-right IEEE fold + HALF_UP round-6 the
    // `aggregate(array_sort(...))`/`round(·,6)` spelling evaluated —
    // KMeansSpec/SimilaritySpec pin the values, the 200-query gate pins
    // every consumer.)
    val sample = collectTrainSample(embeddings, trainN)
    val centroids = kmeansFitLocal(sample, k, iters)
    // full-corpus assignment reads the RAW float embedding — NearestCells
    // widens per element exactly as the double-cast path did
    KmeansModel(centroids, embeddings.select(col("vec_id"),
      element_at(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), centroids.toIndexedSeq, nProbe = 1), 1).as("cell")))
  }

  /** The deterministic bounded training sample (the `trainN` lowest
    * vec_ids, elements widened to double) as driver-side arrays — one
    * TakeOrdered job, shared by every local fit that slices it.
    */
  private[graft] def collectTrainSample(embeddings: DataFrame,
                                        trainN: Int): Array[Array[Double]] =
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .orderBy(col("vec_id")).limit(trainN)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Driver-side Lloyd over an already-collected sample — the arithmetic
    * twin of the former distributed loop, operation for operation:
    *  - init: the first k sample rows (the k lowest vec_ids);
    *  - assign: `|c_j|² − 2·(x·c_j)` argmin with (dist, j) tie-break via
    *    the SAME [[graft.functions.VectorKernels.nearestCells]] kernel
    *    (norms pre-folded left-to-right, exactly as the expression's
    *    constructor folded them);
    *  - means: per (cell, dim), values sorted ascending and summed by a
    *    sequential left-to-right double fold, divided by the count, then
    *    HALF_UP-rounded at 6 via the shortest-decimal BigDecimal — the
    *    `round(aggregate(array_sort(vs), 0.0, _+_) / size(vs), 6)`
    *    semantics (Spark's Round on double is
    *    `BigDecimal.decimal(d).setScale(6, HALF_UP)`, which is [[round6]]);
    *  - empty cells keep their previous centroid.
    */
  private[graft] def kmeansFitLocal(sample: Array[Array[Double]], k: Int,
                                    iters: Int): Array[Seq[Double]] = {
    var centroids: Array[Seq[Double]] =
      sample.take(k).map(v => v.toIndexedSeq: Seq[Double])
    for (_ <- 1 to iters) {
      val mat = centroids.map(_.toArray)
      val norms = centroids.map(_.map(x => x * x).sum)
      val cells = sample.map { v =>
        graft.functions.VectorKernels.nearestCells(
          org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray(v),
          false, mat, norms, 1)(0)
      }
      centroids = centroids.indices.map { j =>
        val members = sample.indices.filter(cells(_) == j)
        if (members.isEmpty) centroids(j)
        else {
          val dim = members.map(i => sample(i).length).max
          (0 until dim).map { d =>
            // ragged-length guard mirrors posexplode: a vector
            // contributes to dimension d only if it HAS a d-th element
            val vs = members.iterator.map(i => sample(i))
              .filter(_.length > d).map(_(d)).toArray
            java.util.Arrays.sort(vs)
            var s = 0.0
            var i = 0
            while (i < vs.length) { s += vs(i); i += 1 }
            round6(s / vs.length)
          }
        }
      }.toArray
    }
    centroids
  }

  /** A two-level assignment index over a fitted quantizer: the k cell
    * centroids, themselves clustered into g groups (driver-side — the
    * centroid array IS model-sized, so this costs k·g·iters dots on the
    * driver, microseconds at any sane k).
    */
  case class HierIndex(groupCents: IndexedSeq[Seq[Double]],
                       members: IndexedSeq[Seq[Int]])

  /** Build the [[HierIndex]]: deterministic Lloyd over the centroid
    * ARRAY (init = first g centroids, fixed iteration count, ties to the
    * smaller group — the [[kmeansFit]] discipline applied driver-side).
    * Default g = ⌈√k⌉, the cost-optimal split for two-level probing.
    */
  def hierIndex(model: KmeansModel, groups: Int = 0,
                iters: Int = 5): HierIndex = {
    val pts = model.centroids.map(_.toArray)
    val k = pts.length
    // clamp: more groups than cells would index past the init prefix
    val g = math.min(k,
      if (groups > 0) groups else math.max(1, math.ceil(math.sqrt(k)).toInt))
    var gc: Array[Array[Double]] = pts.take(g).map(_.clone())
    val assign = new Array[Int](k)
    // one assignment pass against the CURRENT gc — factored so a final
    // pass can run after the last centroid update (ADVICE r13: without
    // it, `members` reflects the pre-update assignment while
    // `groupCents` are post-update, so a cell can sit in a group whose
    // centroid it is no longer nearest — silently worse probed-group
    // recall at low nProbeGroups)
    def assignPass(): Unit = {
      // group norms hoisted out of the per-point loop (the kernel's own
      // gNorms discipline): g·dim work per iteration, not k·g·dim
      val norms = gc.map(c => { var n2 = 0.0; var d = 0
        while (d < c.length) { n2 += c(d) * c(d); d += 1 }; n2 })
      var j = 0
      while (j < k) {
        var best = -1; var bestD = 0.0
        var gi = 0
        while (gi < g) {
          val c = gc(gi)
          var s = 0.0; var d = 0
          while (d < c.length) { s += pts(j)(d) * c(d); d += 1 }
          val dist = norms(gi) - 2.0 * s
          if (best < 0 || java.lang.Double.compare(dist, bestD) < 0) {
            best = gi; bestD = dist
          }
          gi += 1
        }
        assign(j) = best
        j += 1
      }
    }
    for (_ <- 1 to iters) {
      assignPass()
      val next = Array.fill(g)(new Array[Double](pts.head.length))
      val cnt = new Array[Int](g)
      var j2 = 0
      while (j2 < k) {
        val a = assign(j2); cnt(a) += 1
        var d = 0
        while (d < pts(j2).length) { next(a)(d) += pts(j2)(d); d += 1 }
        j2 += 1
      }
      gc = (0 until g).map { gi =>
        if (cnt(gi) == 0) gc(gi)
        else next(gi).map(_ / cnt(gi))
      }.toArray
    }
    // final assignment against the LAST centroid update, so the published
    // members are each nearest their own group among all published groups
    assignPass()
    // drop groups Lloyd left EMPTY (a stale centroid with no members):
    // probing one could otherwise return zero candidates — with them
    // pruned, every probed group contributes cells and the kernel's
    // flat-scan fallback can never trigger through this index
    val kept = (0 until g).filter(gi => assign.contains(gi))
    HierIndex(
      kept.map(gi => gc(gi).toSeq).toIndexedSeq,
      kept.map(gi => (0 until k).filter(assign(_) == gi): Seq[Int])
        .toIndexedSeq)
  }

  /** Full-corpus cell assignment through the two-level index — the
    * k-big scale path the r13 semdedup probe called for: √k·(1+p) dots
    * per vector instead of k. Exact wherever the true cell's group is
    * probed; agreement vs the flat argmin is the measured quantity
    * (1 M vectors / k = 10,000: SURVEY.md's SemDeDup and two-level
    * assignment rows). Same output shape as `model.cells`.
    */
  def assignCellsTwoLevel(embeddings: DataFrame, model: KmeansModel,
                          index: HierIndex, nProbeGroups: Int): DataFrame =
    embeddings.select(col("vec_id"),
      graft.functions.VectorFunctions.nearest_cell_two_level(
        col("embedding"), index.groupCents, index.members,
        model.centroids.toIndexedSeq, nProbeGroups).as("cell"))

  /** The `nProbe` nearest cells for each input vector, ranked by the same
    * `|c|² − 2·(emb·c)` distance and (dist, cell) tie-break as the argmin
    * assignment — probe 1 is always the vector's own cell.
    */
  def probeCells(vectors: DataFrame, centroids: Array[Seq[Double]],
                 nProbe: Int): DataFrame =
    vectors.select(col("vec_id"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), centroids.toIndexedSeq, nProbe)).as("cell"))

  /** Multi-probe IVF ANN over learned k-means cells: each query scores the
    * candidates in its `nProbe` nearest cells instead of only its own,
    * buying back the recall a single-probe IVF loses at cell boundaries.
    * The plan shape is unchanged from [[ivfTopK]] — (query, cell) pairs
    * broadcast, the corpus is equi-joined on its one assigned cell, so at
    * 100 TB the corpus still partitions by cell and nothing non-equi ever
    * enters the join; multi-probe only multiplies the broadcast side by
    * nProbe.
    */
  def ivfTopKMultiProbe(embeddings: DataFrame, queryFilter: DataFrame => DataFrame,
                        k: Int, kCells: Int, iters: Int, nProbe: Int): DataFrame =
    ivfTopKMultiProbeModel(embeddings, kmeansFit(embeddings, kCells, iters),
      queryFilter, k, nProbe)

  /** [[ivfTopKMultiProbe]] over an already-fitted model (the shared-index
    * entry point, as [[ivfTopKKmeansModel]]).
    */
  def ivfTopKMultiProbeModel(embeddings: DataFrame, model: KmeansModel,
                             queryFilter: DataFrame => DataFrame,
                             k: Int, nProbe: Int): DataFrame = {
    val c = embeddings.select(col("vec_id"), col("embedding").as("emb"))
      .join(model.cells, "vec_id")
    val q = queryFilter(embeddings)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qp = probeCells(queryFilter(embeddings), model.centroids, nProbe)
      .select(col("vec_id").as("q_id"), col("cell"))
    val scored = c.join(broadcast(qp.join(q, "q_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos"))
    rankTopK(scored, k)
  }

  /** True when `df`'s plan already ends in a shuffle that spreads rows
    * uniformly across map blocks — a hash repartition on THE SAME
    * attribute [[scattered]] would shuffle on (the output's `vec_id`,
    * resolved by exprId and chased down through pass-through
    * projections/filters/aliases) or a round-robin repartition. In that
    * case the re-scatter would be a purely redundant exchange: the
    * skew-split precondition (every cell spanning all map blocks)
    * already holds. Matching by exprId, not name (ADVICE r18), means a
    * join-derived or merely-renamed column that happens to be CALLED
    * `vec_id` at the repartition — a different, possibly skewed
    * attribute — does NOT suppress the scatter; and a shuffle narrower
    * than half the session's shuffle parallelism is not accepted either,
    * since it leaves too few map-block cut points for the skew split.
    */
  private[graft] def alreadyScattered(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, ExprId}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, LogicalPlan, Project, Repartition,
      RepartitionByExpression, SubqueryAlias}
    val analyzed = df.queryExecution.analyzed
    val minParts = math.max(2,
      df.sparkSession.sessionState.conf.numShufflePartitions / 2)
    @annotation.tailrec
    def walk(p: LogicalPlan, target: Option[ExprId]): Boolean = p match {
      case Project(exprs, child) =>
        // chase the target through the projection: pass-through
        // attribute keeps its exprId, a pure-rename Alias retargets to
        // its child's, anything computed loses the chain (round-robin
        // below can still prove uniformity)
        val next = target.flatMap { t =>
          exprs.collectFirst {
            case a: AttributeReference if a.exprId == t => Some(a.exprId)
            case al @ Alias(ar: AttributeReference, _) if al.exprId == t =>
              Some(ar.exprId)
          }.flatten
        }
        walk(child, next)
      case LFilter(_, child)       => walk(child, target)
      case SubqueryAlias(_, child) => walk(child, target)
      case r: Repartition          => // round-robin = uniform by definition
        r.shuffle && r.numPartitions >= minParts
      case r: RepartitionByExpression =>
        r.optNumPartitions.forall(_ >= minParts) &&
          (r.partitionExpressions match {
            case Seq(a: AttributeReference) => target.contains(a.exprId)
            case _                          => false
          })
      case _ => false
    }
    walk(analyzed, analyzed.output.find(_.name == "vec_id").map(_.exprId))
  }

  /** The sorted-ingest scatter guard: one uniform hash(vec_id) exchange
    * so that every IVF cell's rows span ALL map blocks of the downstream
    * cell-keyed join exchange — the precondition for AQE's skew-join
    * split, which cuts a skewed reduce partition only at map-output
    * boundaries (the contiguous-layout caveat of SURVEY.md row "IVF
    * viral-cell skew", made engine behavior — VERDICT r16 #2). No-op
    * when `on` is false, and skipped
    * when [[alreadyScattered]] shows the input's lineage already ends in
    * a uniform shuffle — the caller's own exchange scatters for free, so
    * re-scattering would only add a redundant embedding-wide shuffle
    * (VERDICT r17 #8).
    */
  private def scattered(df: DataFrame, on: Boolean): DataFrame =
    if (on && !alreadyScattered(df)) df.repartition(col("vec_id")) else df

  /** Fragment-replicate salt factor for the cell-keyed candidate joins:
    * the smallest S with nCells·S ≥ the session's shuffle parallelism.
    * A cell-keyed exchange has at most nCells non-empty partitions, and
    * when nCells < parallelism the candidate-scoring stage — the one
    * stage whose cost is per CANDIDATE PAIR, orders of magnitude more
    * work per byte than the exchange that feeds it — runs nearly serial
    * no matter how many cores the cluster has; AQE's byte-based
    * coalescing cannot see the compute amplification and makes it worse
    * (guide §2.5 synthetic keys / §3.3 exploding joins; ProbeJobs r19
    * measured q155/q184/q185 at ONE task per stage on local[32]).
    * S is derived from conf and the model (never from data, no extra
    * job), so it scales itself: a production index with cells ≥
    * parallelism gets S = 1 and the plan is unchanged from r18.
    *
    * S is CAPPED at `graft.cell.salt.maxReplicate` (default 16 — r20,
    * VERDICT r19 #5): the probe side replicates ×S, so an uncapped
    * S = ⌈parallelism/nCells⌉ turns a tiny index on a big cluster
    * (16 cells, parallelism 2000 ⇒ S = 125) into a 125× shuffle-volume
    * multiplier on a possibly corpus-sized probe leg. At the cap the
    * scoring stage still fans out nCells·16 ways — the volume/parallelism
    * trade is bounded on both sides (CellSaltCapSpec pins meet-exactly-
    * once and the cap under a high-parallelism conf).
    */
  private def cellSalt(df: DataFrame, nCells: Int): Int = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val cap = df.sparkSession.conf
      .getOption("graft.cell.salt.maxReplicate").map(_.toInt).getOrElse(16)
    math.max(1, math.min(cap, (p + nCells - 1) / nCells))
  }

  /** The cell-keyed candidate join with an S-way fragment-replicate
    * salt: the corpus side carries ONE deterministic salt per row
    * (hash(vec_id) mod S), the query side replicates each probe row S
    * ways, and both sides hash-partition EXPLICITLY on (cell, salt)
    * into the session's shuffle parallelism — a user-specified
    * partitioning AQE must not coalesce, so the per-pair scoring stage
    * keeps nCells·S ≥ parallelism workers. Every (query, candidate)
    * pair still meets exactly once (the corpus row's single salt value
    * matches exactly one of the S query replicas), so the candidate
    * stream — and everything ranked from it — is row-identical to the
    * unsalted join. At S = 1 this IS the plain cell join, exchanges
    * included; the salted regime also subsumes the scatter guard (the
    * salt spreads every cell across the full parallelism
    * deterministically — stronger than the AQE skew split the scatter
    * exists to enable), so callers skip [[scattered]] when S > 1.
    */
  private def cellSaltedJoin(corpus: DataFrame, probes: DataFrame,
                             s: Int, idCol: String = "vec_id"): DataFrame =
    if (s <= 1) corpus.join(probes, Seq("cell"))
    else {
      val p = corpus.sparkSession.sessionState.conf.numShufflePartitions
      val c = corpus
        .withColumn("salt", pmod(xxhash64(col(idCol)), lit(s.toLong)).cast("int"))
        .repartition(p, col("cell"), col("salt"))
      val q = probes
        .withColumn("salt", explode(typedLit((0 until s).toArray)))
        .repartition(p, col("cell"), col("salt"))
      c.join(q, Seq("cell", "salt")).drop("salt")
    }

  /** Corpus-wide k-NN JOIN: every left-relation vector's top-k cosine
    * neighbors among the right relation, through the shared IVF coarse
    * quantizer — the batch pair-mining primitive (kNN-graph construction
    * for SemDeDup-style analyses, bitext/parallel-pair mining when the
    * two sides are different corpora, retrieval-pair generation).
    *
    * This is NOT [[ivfTopKMultiProbeModel]] with more queries: that
    * operator BROADCASTS the query side, which is correct for a golden
    * query sample and catastrophic when the query side IS a corpus. Here
    * both sides are corpus-sized, so the plan is the symmetric-shuffle
    * IVF join: the right side assigns its one coarse cell inside the
    * scan projection (fused [[graft.functions.NearestCells]] argmin — no
    * join against a stored assignment, so ANY relation with an
    * `embedding` column works), the left side explodes into its
    * `nProbe` nearest cells, and the two exchange hash-partitioned BY
    * CELL — the only shuffle wider than the embedding itself. Ranking is
    * the bounded [[graft.functions.TopKByScoreAgg]] heap (O(queries × k)
    * state, map-side combined), never a window over the candidate
    * stream. Probed cells are ranked by the same `|c|² − 2·(emb·c)`
    * distance and (dist, cell) tie-break as every IVF operator, so the
    * result is exactly the multi-probe answer at any scale.
    *
    * 100 TB posture: cost is Σ_q Σ_{probed cells} |cell| candidate dots
    * — cells must stay bounded, so k grows with the corpus (the SemDeDup
    * cell contract; the two-level assignment of q138 keeps large k
    * affordable). A viral cell (similarity-defined skew) is an AQE
    * skew-join split — but ONLY if the cell's rows span many map-output
    * blocks: AQE splits a skewed reduce partition at MAP-BLOCK
    * granularity, so a viral cluster stored CONTIGUOUSLY (sorted or
    * clustered ingest — exactly how a near-dup burst lands when files
    * are written in crawl order) is unsplittable and the straggler
    * survives (measured at 10 M vectors: split fired, +1 task,
    * straggler unchanged — SURVEY.md row "IVF viral-cell skew").
    * `scatter` (default ON) closes that hole in-engine: the
    * corpus side takes one uniform hash(vec_id) exchange before the
    * cell-keyed join exchange, spreading every cell across all map
    * blocks so the skew split always has cut points. Cost is one extra
    * embedding-wide shuffle of the corpus — skipped automatically when
    * the input's lineage already ends in a uniform repartition
    * ([[alreadyScattered]]), which scatters for free. Self-pairs are
    * excluded by id equality — callers
    * mining ACROSS relations with overlapping id spaces should disable
    * `excludeSameId`.
    */
  def knnJoin(left: DataFrame, right: DataFrame, model: KmeansModel,
              k: Int, nProbe: Int, excludeSameId: Boolean = true,
              scatter: Boolean = true): DataFrame = {
    // the salted regime (S > 1: small index, cells < parallelism) spreads
    // every cell deterministically, which is what the scatter exists for —
    // so the vec_id pre-shuffle only runs in the S = 1 production regime
    val s = cellSalt(right, model.centroids.length)
    val c = scattered(right, scatter && s <= 1).select(col("vec_id"),
      col("embedding").as("emb"),
      element_at(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, 1), 1).as("cell"))
    // probe explode fused into the scan projection (embedding carried —
    // no (q_id → embedding) join-back; the left side is scanned once)
    val q = scattered(left, scatter && s <= 1).select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, nProbe)).as("cell"))
    val joined = cellSaltedJoin(c, q, s)
    val candidates =
      if (excludeSameId) joined.filter(col("vec_id") =!= col("q_id"))
      else joined
    rankTopK(candidates.select(col("q_id"), col("vec_id"),
      vec_cosine(col("q_emb"), col("emb")).as("cos")), k)
  }

  /** Hard-negative mining for contrastive training — per query vector,
    * the top-k most-similar vectors with a DIFFERENT label (the
    * DPR/sentence-encoder curriculum: random negatives are too easy;
    * the negatives that teach are the ones the current embedding space
    * confuses with the positives). Same symmetric-shuffle IVF plan as
    * [[knnJoin]] with the label-mismatch predicate applied AT THE
    * CANDIDATE STAGE — same-label candidates drop before the heap, so
    * k genuinely different-label negatives survive per query (a
    * post-filter on a top-k result would under-fill: the nearest
    * neighbors of a vector are usually its OWN label). State stays
    * O(queries × k) via the bounded heap; the mismatch filter only
    * shrinks the candidate stream. `scatter` is [[knnJoin]]'s
    * sorted-ingest guard (default ON, same cost/disable contract).
    */
  def hardNegatives(embeddings: DataFrame, model: KmeansModel,
                    k: Int, nProbe: Int, scatter: Boolean = true): DataFrame = {
    // scatter ONCE and derive both join legs from it: the two legs then
    // share one canonical exchange subtree, which ReuseExchange executes
    // a single time — one embedding-wide shuffle, not two (ADVICE r17).
    // In the salted regime (S > 1) the salt spreads the cells itself, so
    // the scatter is skipped, as in [[knnJoin]].
    val s = cellSalt(embeddings, model.centroids.length)
    val e = scattered(embeddings, scatter && s <= 1)
    val c = e
      .select(col("vec_id"), col("label").as("c_label"),
      col("embedding").as("emb"),
      element_at(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, 1), 1).as("cell"))
    val q = e
      .select(col("vec_id").as("q_id"),
      col("label").as("q_label"),
      col("embedding").as("q_emb"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, nProbe)).as("cell"))
    val candidates = cellSaltedJoin(c, q, s)
      .filter(col("vec_id") =!= col("q_id") &&
        col("c_label") =!= col("q_label"))
    rankTopK(candidates.select(col("q_id"), col("vec_id"),
      vec_cosine(col("q_emb"), col("emb")).as("cos")), k)
  }

  /** Integer NDCG discount weights: d_i = round(10⁶ / log₂(i+1)).
    * Folding the discounts to integer literals makes per-query DCG an
    * EXACT integer sum both engines replay bit-for-bit — the q179
    * all-integer-until-one-division discipline applied to ranking
    * evaluation (the 10⁻⁶ quantization is ~10 orders below any
    * decision NDCG feeds).
    */
  private[graft] def ndcgDiscounts(k: Int): IndexedSeq[Long] =
    (1 to k).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** Retrieval-quality evaluation of the IVF index: per label, mean
    * NDCG@k of [[knnJoin]] retrieval with binary relevance "same label
    * as the query" — the ranking-aware companion to q99's recall@k
    * (recall counts hits anywhere in the top-k; NDCG pays MORE for
    * hits at the TOP, which is what a retrieval consumer actually
    * sees). IDCG normalizes by the best achievable prefix: min(R, k)
    * relevant results, R = the query's label population minus itself —
    * so a label with only 3 other members can still score NDCG 1.
    *
    * Scale shape: the [[knnJoin]] candidate plan with the candidate's
    * label riding the top-k heap PAYLOAD (no corpus-sized join-back to
    * recover labels after ranking); per-query DCG is an exact integer
    * sum of [[ndcgDiscounts]] literals, IDCG an element_at into their
    * prefix-sum literal array keyed by the broadcast label census.
    * One double division per query, means rounded 4. Queries whose
    * probed cells hold no other vector drop out (no retrieval, no
    * score — q155 semantics); a query whose label has no other member
    * has undefined NDCG (null) and is excluded from n_q.
    */
  def retrievalNdcg(embeddings: DataFrame, model: KmeansModel,
                    k: Int, nProbe: Int): DataFrame = {
    val d = ndcgDiscounts(k)
    val cum = d.scanLeft(0L)(_ + _).tail
    val s = cellSalt(embeddings, model.centroids.length)
    val c = embeddings.select(col("vec_id"), col("label").as("c_label"),
      col("embedding").as("emb"),
      element_at(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, 1), 1).as("cell"))
    val q = embeddings.select(col("vec_id").as("q_id"),
      col("label").as("q_label"),
      col("embedding").as("q_emb"),
      explode(graft.functions.VectorFunctions.nearest_cells(
        col("embedding"), model.centroids.toIndexedSeq, nProbe)).as("cell"))
    val ranked = cellSaltedJoin(c, q, s)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos"), col("c_label"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(graft.functions.AggFunctions.top_k_by_score(
        round(col("cos"), 6), col("vec_id"),
        array(col("cos"), col("c_label").cast("double")), k).as("tk"))
      .select(col("q_id"), col("q_label"), posexplode(col("tk")))
      .select(col("q_id"), col("q_label"),
        (col("pos") + 1).cast("int").as("rank"),
        (element_at(col("col.payload"), 2) ===
          col("q_label").cast("double")).cast("long").as("rel"))
    val dArr = array(d.map(lit): _*)
    val dcg = ranked.groupBy(col("q_id"), col("q_label"))
      .agg(sum(col("rel") * element_at(dArr, col("rank"))).as("dcg"))
    val labCnt = embeddings.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val cumArr = array(cum.map(lit): _*)
    val idcg = element_at(cumArr,
      greatest(least(col("n_label") - 1, lit(k.toLong)), lit(1L)).cast("int"))
    dcg.join(broadcast(labCnt), "q_label")
      .select(col("q_label"), col("dcg"),
        when(col("n_label") > 1,
          col("dcg").cast("double") / idcg.cast("double")).as("ndcg"))
      .groupBy(col("q_label").as("label"))
      .agg(count(col("ndcg")).as("n_q"),
        sum(col("dcg")).cast("long").as("dcg_total"),
        graft.functions.AggFunctions.mean4(col("ndcg")).as("mean_ndcg"))
  }

  /** Embedding-space near-duplicate pairs: cosine >= threshold within a
    * vec_id window. Correctness demo only — the id-window predicate is
    * non-equi (nested-loop join); the scale path is [[cellNearDupPairs]].
    *
    * The WHOLE conjunction is constructed as the join condition, id
    * predicates first: written as join-then-filter, the optimizer folds
    * the cosine filter into the BNLJ condition AHEAD of the id checks, and
    * every id pair then pays round(cosine) — BigDecimal and a 64-dim
    * kernel per pair (~26 µs; measured 3.2 s for 4M pairs at sf0.1).
    * Constructed cheap-first, the And short-circuits and only
    * window-passing pairs (~2%) reach the cosine (~0.3 s same input).
    * Predicate ORDER inside a hand-built join condition survives
    * optimization; a pushed filter's position does not.
    */
  def nearDupPairs(embeddings: DataFrame, threshold: Double, idWindow: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding").as("emb"))
    val a = v.select(col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = v.select(col("vec_id").as("id_b"), col("emb").as("emb_b"))
    val cos = round(vec_cosine(col("emb_a"), col("emb_b")), 4)
    a.join(b, col("id_b") > col("id_a") &&
        col("id_b") <= col("id_a") + idWindow &&
        cos >= threshold)
      .select(col("id_a"), col("id_b"), cos.as("cos"))
  }

  /** Embedding near-dup detection at scale: candidates from coarse cells.
    *
    * `cells` is (vec_id, cell) — typically [[kmeansCells]] output. The
    * candidate set is an equi-self-join on the cell id, so the plan is
    * shuffle-by-cell + hash join: no nested loop, no cross product, and at
    * 100 TB the corpus partitions by cell with each executor scoring only
    * its own cells' pairs. Like any IVF-style method this trades recall at
    * cell boundaries for the equi-join shape (pairs straddling two cells
    * are not candidates); multi-probe or soft assignment buys recall back
    * without changing the plan. Verification predicate (exact cosine >=
    * threshold) is identical to [[nearDupPairs]].
    */
  def cellNearDupPairs(embeddings: DataFrame, cells: DataFrame,
                       threshold: Double, nCells: Int = 0): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding").as("emb"))
      .join(cells, "vec_id")
    val a = v.select(col("cell"), col("vec_id").as("id_a"), col("emb").as("emb_a"))
    val b = v.select(col("cell"), col("vec_id").as("id_b"), col("emb").as("emb_b"))
    // with a known cell count, the within-cell pair stream takes the
    // salted fragment-replicate join — same pairs, parallelism floored
    // at the session's shuffle width (see [[cellSaltedJoin]])
    val s = if (nCells > 0) cellSalt(embeddings, nCells) else 1
    cellSaltedJoin(b, a, s, idCol = "id_b")
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        round(vec_cosine(col("emb_a"), col("emb_b")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — the embedding-space dedup pass LLM pipelines run
    * AFTER lexical dedup): within-cluster cosine near-duplicate pairs
    * are connected into duplicate GROUPS, and one survivor is kept per
    * group — the member LEAST similar to its k-means cell centroid (the
    * paper's diversity-preserving policy: peripheral examples carry more
    * information than the mode; ties break to the smaller vec_id).
    * Output: one row per duplicate-group member with its component
    * label, centroid cosine, and keep flag — vectors in no near-dup
    * pair are untouched survivors by definition and don't appear.
    *
    * Scale shape: candidate generation is cell-bounded
    * ([[cellNearDupPairs]] — never all-pairs), grouping is the q52
    * log-diameter star CC, the centroid cosine is one fused
    * [[graft.functions.VectorCosine]] pass against the broadcast k×dim
    * centroid relation, and the survivor argmin is an aggregate +
    * join-back — no window over a (potentially viral) duplicate group.
    *
    * The scored member relation feeds both the argmin aggregate and the
    * join-back, so it persists (it is group-members-sized —
    * pairs-participating vectors only); unpersisted, the
    * label⋈cells⋈centroid⋈embedding chain would scan the corpus twice.
    * On the distributed CC path the labels sit on a checkpoint this
    * stage created; the handle owns it (never `scored`'s leaves, which
    * include the model's cell checkpoint).
    */
  def semanticDedupStage(embeddings: DataFrame, model: KmeansModel,
                         threshold: Double): Stage = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pairs = cellNearDupPairs(embeddings, model.cells, threshold,
      nCells = model.centroids.length)
    val labels = graft.operators.Dedup.starClusters(pairs).labels
      .withColumnRenamed("doc_id", "vec_id")
    val cents = model.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
    val scored = Stages.persisted(labels
      .join(model.cells, "vec_id")
      .join(broadcast(cents), "cell")
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("cluster"), col("vec_id"),
        round(vec_cosine(col("embedding"), col("centroid")), 6).as("c2c")))
    val best = scored.groupBy(col("cluster"))
      .agg(min(struct(col("c2c"), col("vec_id"))).as("b"))
    val result = scored.join(best, "cluster")
      .select(col("cluster"), col("vec_id"),
        round(col("c2c"), 4).as("cos_centroid"),
        when(col("vec_id") === col("b.vec_id"), 1).otherwise(0).as("keep"))
    Stage(result, Seq(scored), Seq(labels))
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * path for vector corpora at scale (4× smaller than float32, 8× smaller
    * than the float64 compute type; IVF+int8 is the standard compressed
    * layout). Per vector: `scale = 127 / max|x|`, `q_i = floor(x_i * scale
    * + 0.5)` (explicit half-up — `round()` tie behavior differs between
    * engines, `floor(x + 0.5)` does not), and the reconstruction error
    * `max|x_i − q_i/scale|`, which is ≤ 0.5/scale by construction; the
    * `err_ok` flag asserts that bound in-band (with one ulp of slack).
    * Everything is element-wise or order-free (max, not sum), so the
    * doubles are bit-identical under any parallelism and the DuckDB
    * oracle replays them exactly. Zero vectors are excluded (scale would
    * divide by zero; L2-normalized corpora have none).
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    // one fused QuantizeInt8Stats pass — the HOF chain
    // (transform/array_max/zip_with/aggregate) is identical arithmetic but
    // every step is CodegenFallback with per-element lambda dispatch on
    // the corpus-sized stage (the round-9 kernel discipline)
    embeddings
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quant_stats(col("embedding")).as("s"))
      .filter(col("s.amax") > 0.0)
      .select(col("vec_id"),
        round(col("s.amax"), 6).as("amax"),
        col("s.q_sum").as("q_sum"),
        round(col("s.max_err"), 6).as("max_err"),
        (col("s.max_err") <= (lit(0.5) + lit(1e-9)) / (lit(127.0) / col("s.amax")))
          .cast("int").as("err_ok"))

  /** Int8-quantized brute-force top-k — the compute side of the
    * compressed-corpus layout ([[quantizeInt8]] is the storage side).
    * Scores are integer dot products of the quantized vectors — exact in
    * doubles (|q_i| ≤ 127, so a 64-dim dot is < 2²¹) — rescaled by the
    * two per-vector scales. Every arithmetic step is order-free or a
    * sequential fold, so scores are BIT-IDENTICAL cross-engine: a
    * quantized ANN hash-gates exactly where float ANN needs round-6
    * tie-break scaffolding. At scale the corpus side carries 1 byte per
    * element instead of 4 (the scan and shuffle shrink 4×); recall loss
    * vs [[bruteTopK]] is the quantization tradeoff, bounded by the q55
    * reconstruction-error gate.
    */
  def quantizedTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // one fused QuantizeInt8Codes pass per side (see [[quantizeInt8]]);
    // codes are exact small-integer doubles — the dot kernel's input type
    def qz(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
          graft.functions.VectorFunctions.quant_codes(col("embedding")).as("qc"))
        .filter(col("qc.amax") > 0.0)
        .select(col("vec_id"), col("qc.codes").as("q"), col("qc.amax").as("amax"))
    val c = qz(embeddings)
    val q = broadcast(qz(queries).select(col("vec_id").as("q_id"),
      col("q").as("qq"), col("amax").as("q_amax")))
    val scored = c.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VectorFunctions.vec_dot(col("qq"), col("q")).as("idot"),
        col("q_amax"), col("amax"))
      .withColumn("qcos",
        col("idot") * (col("q_amax") / lit(127.0)) * (col("amax") / lit(127.0)))
    // same bounded-heap ranking as [[rankTopK]] (payload carries the
    // integer dot alongside the rescaled score)
    scored
      .groupBy(col("q_id"))
      .agg(graft.functions.AggFunctions.top_k_by_score(
        round(col("qcos"), 6), col("vec_id"),
        array(col("idot"), col("qcos")), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"),
        element_at(col("col.payload"), 1).cast("long").as("q_dot"),
        round(element_at(col("col.payload"), 2), 4).as("qcos"))
  }

  /** Array higher-order-function battery over the embedding column:
    * filter / exists / transform / sequential-fold aggregate, each with a
    * DuckDB list-function twin. Interpreted lambdas are fine here — the
    * per-element work is trivial and nothing re-evaluates a child per
    * element (the [[graft.functions]] kernels exist for the cases where
    * that trap bites).
    */
  def arrayFunctions(embeddings: DataFrame): DataFrame = {
    val embD = transform(col("embedding"), x => x.cast("double"))
    embeddings.select(
      col("vec_id"),
      size(filter(embD, x => x > 0)).as("n_pos"),
      exists(embD, x => abs(x) > 0.3).cast("int").as("any_big"),
      round(aggregate(transform(embD, x => abs(x)), lit(0.0d), (a, x) => a + x), 4)
        .as("l1_norm"),
      round(element_at(slice(embD, 1, 4), 1), 4).as("first_dim"))
  }

  /** First-class ANN recall report (VERDICT r6 #5): per query, the
    * fraction of the EXACT top-k (`truth`, e.g. [[bruteTopK]] over a
    * deterministic sampled query set) that the index's top-k (`approx`,
    * e.g. [[ivfTopKKmeans]] / [[ivfTopKMultiProbe]]) recovers. This is
    * the operator an index rollout gates on — "recall@k >= 0.95 on the
    * golden query sample" — rather than a spec-only assertion.
    *
    * Output is exact rationals (hit and truth counts are integers; the
    * ratio rounds at 4), so the report gates hash-portably across
    * engines. Scale shape: both inputs are query-sample-sized (|Q| x k
    * rows, never corpus-sized — the expensive part is PRODUCING them,
    * and the brute-force truth side is priced for a sampled golden set,
    * not the full corpus), and every join here is an 8-byte-id
    * equi-join followed by query-keyed aggregates.
    */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("q_id"), col("vec_id"))
    val a = approx.select(col("q_id"), col("vec_id"))
    val nT = t.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
    val nH = t.join(a, Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    nT.join(nH, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        graft.functions.AggFunctions.ratioQ(
          coalesce(col("n_hit"), lit(0L)), col("n_truth"), 4).as("recall"))
  }

  /** Recall-vs-cost frontier of the IVF index (VERDICT r11 #5): one row
    * per (nProbe level, golden query) with the approximate top-k's recall
    * against brute-force truth AND the price paid for it — `n_scored`,
    * the number of candidates that probe level actually scored. This is
    * the table an index-tuning decision reads: recall climbs with nProbe,
    * n_scored prices the climb, and the claim is oracle-gated instead of
    * probe-asserted.
    *
    * Scale shape: ONE fitted model and ONE brute-truth build are shared
    * by every probe level (the persisted truth is |Q|·k rows; the labeled
    * corpus persists once and each level equi-joins it on the cell id
    * exactly as [[ivfTopKMultiProbe]] does — broadcast (query, cell)
    * pairs, corpus partitioned by cell, nothing non-equi). Probe sets are
    * PREFIXES of one ranked [[probeCells]] explode at max(nProbe), so the
    * cell ranking also computes once. Costs are integer counts; recall
    * rounds at 4 — hash-portable. The handle owns both persisted
    * relations.
    */
  def annFrontierStage(embeddings: DataFrame, model: KmeansModel,
                       queryFilter: DataFrame => DataFrame,
                       k: Int, probes: Seq[Int]): Stage = {
    require(probes.nonEmpty, "annFrontier needs at least one probe level")
    // eager: every level's two candidate aggregates scan it in one
    // action, and the lazy fill raced (sf0.01, local[4]: 6 of 25 runs
    // recomputed a block)
    val c = Stages.materialized(
      embeddings.select(col("vec_id"), col("embedding").as("emb"))
        .join(model.cells, "vec_id"))
    val queries = queryFilter(embeddings)
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qpAll = queries.select(col("vec_id").as("q_id"),
        posexplode(graft.functions.VectorFunctions.nearest_cells(
          col("embedding"), model.centroids.toIndexedSeq, probes.max)))
      .select(col("q_id"), (col("pos") + 1).as("rn"), col("col").as("cell"))
    val truth = Stages.persisted(bruteTopK(embeddings, queries, k))
    val result = probes.map { p =>
      val qp = qpAll.filter(col("rn") <= p).select(col("q_id"), col("cell"))
      val cand = c.join(broadcast(qp.join(q, "q_id")), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
      val nScored = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_scored"))
      val approx = rankTopK(cand.select(col("q_id"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos")), k)
      recallAtK(approx, truth)
        .join(nScored, Seq("q_id"), "left")
        .select(lit(p).as("n_probe"), col("q_id"), col("n_truth"),
          col("n_hit"), col("recall"),
          coalesce(col("n_scored"), lit(0L)).as("n_scored"))
    }.reduce(_.unionByName(_))
    Stage(result, Seq(c, truth))
  }

  // --- product quantization (IVF-PQ — the compressed 100 TB ANN layout) --

  /** PQ defaults: 8 subspaces × 16 codes = 8 bytes/vector (vs 256 for
    * float32×64) — the Jégou et al. (TPAMI 2011) layout every large-scale
    * ANN system ships. Codebook size is deliberately small at the gate SF
    * (16 codes train meaningfully from a 256-vector sample); production
    * uses 256 codes (1 byte/subspace) with the same plan shape.
    */
  val PqM = 8
  val PqK = 16
  val PqIters = 2

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A trained product quantizer: `codebooks(m)(j)` is subspace m's j-th
    * centroid (subDim doubles, driver-held — m×k×subDim = the whole model,
    * a few KB; the kmeansFit division of labor). `cnorm2` is the rounded
    * per-code squared-norm lookup the ADC scorer and its oracle replay
    * share as identical literals: |x̂|² = Σ_m |c_m,code|² EXACTLY because
    * the subspaces are orthogonal coordinate blocks.
    */
  case class PqModel(codebooks: IndexedSeq[IndexedSeq[Seq[Double]]], subDim: Int) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    lazy val cnorm2Flat: IndexedSeq[Double] =
      codebooks.flatMap(_.map(c => round6(c.map(x => x * x).sum)))
  }

  /** Train per-subspace codebooks with the exact [[kmeansFit]] discipline
    * (deterministic bounded sample, sorted-fold round-6 means, (dist,
    * cell) tie-break) applied to each coordinate slice — so the PQ model
    * inherits the IVF quantizer's reproducibility and oracle story
    * wholesale. m fits of a subDim-dimensional k-means over trainN rows:
    * training cost is independent of corpus size.
    */
  def pqFit(embeddings: DataFrame, dim: Int, m: Int = PqM, k: Int = PqK,
            iters: Int = PqIters, trainN: Int = DefaultTrainN): PqModel = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    // ONE sample collect for all m subspace fits (r19): the former
    // per-subspace `kmeansFit(slice(...))` ran m independent corpus-wide
    // TakeOrdered scans plus m distributed Lloyd loops — m·(2+2·iters)
    // jobs for a model whose training is corpus-size-independent by
    // construction. Slicing the collected sample is the same arithmetic
    // (element cast and slice commute), so the codebooks are unchanged.
    val sample = collectTrainSample(embeddings, trainN)
    PqModel((0 until m).map { mi =>
      kmeansFitLocal(sample.map(v =>
        v.slice(mi * sub, mi * sub + sub)), k, iters)
        .map(_.toSeq).toIndexedSeq
    }, sub)
  }

  /** The m-byte PQ code of a vector: per subspace, the argmin codebook
    * entry — the same fused [[graft.functions.NearestCells]] kernel (and
    * the same `|c|² − 2·dot` + (dist, code) tie-break) as the coarse IVF
    * assignment, run on the coordinate slice. Encoding is a pure scan
    * projection: at 100 TB the codes column is what gets STORED (32×
    * smaller than the float vectors) and the raw embeddings leave the
    * working set.
    */
  def pqCodes(emb: Column, model: PqModel): Column =
    array((0 until model.m).map { mi =>
      element_at(graft.functions.VectorFunctions.nearest_cells(
        slice(emb, mi * model.subDim + 1, model.subDim),
        model.codebooks(mi), 1), 1)
    }: _*)

  /** The coarse residual x − c_coarse(cell): what production IVF-PQ
    * (Jégou et al. 2011, the Faiss `IndexIVFPQ` shape) encodes instead of
    * the raw vector — residuals concentrate near zero once the coarse
    * quantizer removes the cell offset, so a fixed code budget spends
    * its resolution on the informative within-cell variation. Pure
    * fixed-order arithmetic (per element: widen-to-double minus a
    * published round-6 centroid literal), so the oracle replays it
    * bit-exact. The centroid matrix rides in the plan as ONE typed
    * literal (k×dim doubles — model-sized); past ~10⁵ cells the scale
    * path swaps this for a broadcast centroid relation joined on cell,
    * exactly like the q136 centroid-cosine stage.
    */
  def residualVec(emb: Column, cell: Column, coarse: KmeansModel): Column =
    zip_with(emb,
      element_at(typedLit(coarse.centroids.map(_.toSeq).toSeq), cell + 1),
      (a, b) => a.cast("double") - b)

  /** Residual PQ codes via the fused [[graft.functions.PqResidualCodes]]
    * kernel — bit-identical to `pqCodes(residualVec(emb, cell), model)`
    * but one codegen'd pass (the compositional form pays an interpreted
    * `zip_with` per subspace slice on the corpus-sized encode stage;
    * measured 8× the frontier wall at 1 M vectors).
    */
  def pqCodesResidual(emb: Column, cell: Column, coarse: KmeansModel,
                      model: PqModel): Column =
    graft.functions.VectorFunctions.pq_residual_codes(emb, cell,
      coarse.centroids.map(_.toSeq).toSeq,
      model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Train the PQ codebooks on coarse RESIDUALS (the production IVF-PQ
    * pairing): each training vector is replaced by x − c_coarse(x) —
    * cell assigned with the same fused argmin kernel as `coarse.cells`,
    * so fit needs no join — then [[pqFit]] runs unchanged on the
    * residual column. Same bounded deterministic sample, same round-6
    * means, same (dist, code) tie-break: the reproducibility story is
    * inherited wholesale.
    */
  def pqFitResidual(embeddings: DataFrame, coarse: KmeansModel, dim: Int,
                    m: Int = PqM, k: Int = PqK, iters: Int = PqIters,
                    trainN: Int = DefaultTrainN): PqModel = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val sub = dim / m
    // residuals computed driver-side over the same one-collect sample
    // (r19, as [[pqFit]]): cell = the same nearestCells kernel the fused
    // expression ran (float→double widening is exact, so assigning from
    // the double-cast sample is bit-identical), residual_d = x_d −
    // centroid_d — the residualVec arithmetic on the sampled rows.
    val sample = collectTrainSample(embeddings, trainN)
    val mat = coarse.centroids.map(_.toArray)
    val norms = coarse.centroids.map(_.map(x => x * x).sum).toArray
    val res = sample.map { v =>
      val cell = graft.functions.VectorKernels.nearestCells(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(v),
        false, mat, norms, 1)(0)
      val c = mat(cell)
      val r = new Array[Double](v.length)
      var d = 0
      while (d < v.length) {
        r(d) = v(d) - (if (d < c.length) c(d) else 0.0)
        d += 1
      }
      r
    }
    PqModel((0 until m).map { mi =>
      kmeansFitLocal(res.map(v =>
        v.slice(mi * sub, mi * sub + sub)), k, iters)
        .map(_.toSeq).toIndexedSeq
    }, sub)
  }

  /** IVF-PQ recall-vs-cost frontier (VERDICT r12 #5) — the q120 table
    * extended to the compressed layout: per golden query, the recall and
    * candidate count of (a) `float` exact brute force (the truth anchor,
    * recall 1), (b) `int8` — the q73 exact-integer scorer (4 bytes →
    * 1 byte/dim), (c) `pq` — asymmetric-distance brute force over PQ
    * codes only (~1 bit/dim), pricing pure quantization loss, (d)
    * `ivfpq_pN` — the real production shape: coarse cells prune
    * candidates, ADC scores them, recall compounds coarse pruning ×
    * code quantization, and (e) `ivfpq_res_pN` when `resModel` is given —
    * the same probe/candidate set scored from RESIDUAL codes (x −
    * c_coarse), the Jégou production pairing: most of PQ's recall at a
    * fixed code budget comes from encoding the small residual instead of
    * the absolute vector. One table, the whole compression axis.
    *
    * Asymmetric distance computation (ADC): each query precomputes the
    * m×k table T[m][j] = round₆(q_m · c_{m,j}) driver-side (a few KB,
    * broadcast as an array column); a candidate's approximate dot is the
    * FIXED-ORDER m-term sum of table lookups by its stored code — no
    * float vector is read at scoring time. The approximate cosine divides
    * by |q| and the reconstructed norm √(Σ N[m][code]), both round-6
    * literals, so every score is a deterministic fold of identical
    * literals in both engines — the frontier hash-gates with no
    * tolerance scaffolding.
    *
    * Scale shape: the corpus relation is (vec_id, 8-byte code, cell) —
    * persisted once, shared by every variant; candidate pruning and
    * ranking are exactly the q120 plan (broadcast query×cell pairs,
    * cell equi-join, bounded-heap top-k). Scoring cost per candidate is
    * m table lookups instead of a dim-wide dot: at 1 M vectors the probe
    * records the ADC-vs-float scan economics.
    */
  def pqFrontier(embeddings: DataFrame, coarse: KmeansModel, model: PqModel,
                 queryFilter: DataFrame => DataFrame, kTop: Int,
                 probes: Seq[Int],
                 resModel: Option[PqModel] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val m = model.m
    val kk = model.k
    val nAll = embeddings.count()
    val c = Stages.persisted(embeddings
      .join(coarse.cells, "vec_id")
      .select(Seq(col("vec_id"), col("cell"),
        pqCodes(col("embedding"), model).as("codes")) ++
        resModel.map(rm => pqCodesResidual(col("embedding"), col("cell"),
          coarse, rm).as("rcodes")): _*))
    val queries = queryFilter(embeddings)
    // golden queries driver-side (bounded — the recall-gate sample set):
    // T tables, |q|, residual-codebook tables, and per-cell q·c_coarse
    // all fold in index order, rounded at 6, so the oracle recomputes
    // the identical doubles
    def dotTables(q: Seq[Double], books: IndexedSeq[IndexedSeq[Seq[Double]]],
                  sub: Int): Seq[Double] =
      books.indices.flatMap { mi =>
        books(mi).map { cb =>
          round6(cb.indices.map(d => q(mi * sub + d) * cb(d)).sum)
        }
      }
    val qRows = queries.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val q = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }
        (r.getLong(0), dotTables(q, model.codebooks, model.subDim),
          round6(math.sqrt(q.map(x => x * x).sum)),
          resModel.fold(Seq.empty[Double])(rm =>
            dotTables(q, rm.codebooks, rm.subDim)),
          resModel.fold(Seq.empty[Double])(_ => coarse.centroids.toSeq.map(
            cc => round6(cc.indices.map(d => q(d) * cc(d)).sum))))
      }
    val qdf = qRows.toSeq.toDF("q_id", "t", "qnorm", "tr", "qc")
    val nLit = array(model.cnorm2Flat.map(lit): _*)
    def adcScore(codes: Column, t: Column, qnorm: Column): Column = {
      val adc = (0 until m).map(mi =>
        element_at(t, lit(mi * kk + 1) + element_at(codes, mi + 1)))
        .reduce(_ + _)
      val cn = (0 until m).map(mi =>
        element_at(nLit, lit(mi * kk + 1) + element_at(codes, mi + 1)))
        .reduce(_ + _)
      when(cn > 0.0 && qnorm > 0.0, adc / (qnorm * sqrt(cn)))
        .otherwise(lit(-2.0)) // degenerate all-zero reconstruction sinks
    }
    val truth = Stages.persisted(bruteTopK(embeddings, queries, kTop))
    val floatVariant = recallAtK(truth, truth)
      .select(lit("float").as("variant"), col("q_id"), col("n_truth"),
        col("n_hit"), col("recall"), lit(nAll - 1).as("n_scored"))
    // int8 sits between float and pq on the compression axis (4 bytes →
    // 1 byte → 1 bit/dim): the q73 exact-integer scorer, graded here so
    // the frontier table holds all three levels side by side
    val nQz = embeddings
      .select(graft.functions.VectorFunctions.quant_stats(col("embedding")).as("s"))
      .filter(col("s.amax") > 0.0).count()
    val int8Variant = recallAtK(quantizedTopK(embeddings, queries, kTop), truth)
      .select(lit("int8").as("variant"), col("q_id"), col("n_truth"),
        col("n_hit"), col("recall"), lit(nQz - 1).as("n_scored"))
    val pqCand = c.join(broadcast(qdf), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        adcScore(col("codes"), col("t"), col("qnorm")).as("cos"))
    val pqVariant = recallAtK(rankTopK(pqCand, kTop), truth)
      .select(lit("pq").as("variant"), col("q_id"), col("n_truth"),
        col("n_hit"), col("recall"), lit(nAll - 1).as("n_scored"))
    val qpAll = queries.select(col("vec_id").as("q_id"),
        posexplode(graft.functions.VectorFunctions.nearest_cells(
          col("embedding"), coarse.centroids.toIndexedSeq, probes.max)))
      .select(col("q_id"), (col("pos") + 1).as("rn"), col("col").as("cell"))
    val ivfVariants = probes.map { p =>
      val qp = qpAll.filter(col("rn") <= p).select(col("q_id"), col("cell"))
      val cand = c.join(broadcast(qp.join(qdf, "q_id")), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
      val nScored = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_scored"))
      val approx = rankTopK(cand.select(col("q_id"), col("vec_id"),
        adcScore(col("codes"), col("t"), col("qnorm")).as("cos")), kTop)
      recallAtK(approx, truth)
        .join(nScored, Seq("q_id"), "left")
        .select(lit(s"ivfpq_p$p").as("variant"), col("q_id"), col("n_truth"),
          col("n_hit"), col("recall"),
          coalesce(col("n_scored"), lit(0L)).as("n_scored"))
    }
    // residual-encoded IVF-PQ (VERDICT r14 #2): the candidates and their
    // cost are IDENTICAL to ivfpq_pN (same coarse probe, same cells) —
    // only the scorer changes. Approximate dot q·x̂ = q·c_cell + Σ_m
    // T_res[m][code] (the coarse term restores what the residual encoding
    // removed), reconstructed |x̂|² = Σ_m |c_cell,m + r̂_m,code|² — a
    // per-(cell, m, code) round-6 table, model-sized here as ONE typed
    // literal; past ~10⁵ cells the scale path keys it as a broadcast
    // relation joined on cell (same swap as residualVec's centroids).
    val resVariants = resModel.toSeq.flatMap { rm =>
      val mk = rm.m * rm.k
      val nres: Seq[Double] = coarse.centroids.toSeq.flatMap { cc =>
        (0 until rm.m).flatMap { mi =>
          rm.codebooks(mi).map { cb =>
            round6((0 until rm.subDim).map { d =>
              val s = cc(mi * rm.subDim + d) + cb(d); s * s
            }.sum)
          }
        }
      }
      val nresLit = typedLit(nres)
      def adcResScore(rcodes: Column, tr: Column, qcArr: Column,
                      cellCol: Column, qnorm: Column): Column = {
        val adc = (0 until rm.m).map(mi =>
          element_at(tr, lit(mi * rm.k + 1) + element_at(rcodes, mi + 1)))
          .reduce(_ + _)
        val cn = (0 until rm.m).map(mi =>
          element_at(nresLit,
            cellCol * mk + lit(mi * rm.k + 1) + element_at(rcodes, mi + 1)))
          .reduce(_ + _)
        val qc = element_at(qcArr, cellCol + 1)
        when(cn > 0.0 && qnorm > 0.0, (qc + adc) / (qnorm * sqrt(cn)))
          .otherwise(lit(-2.0))
      }
      probes.map { p =>
        val qp = qpAll.filter(col("rn") <= p).select(col("q_id"), col("cell"))
        val cand = c.join(broadcast(qp.join(qdf, "q_id")), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
        val nScored = cand.groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_scored"))
        val approx = rankTopK(cand.select(col("q_id"), col("vec_id"),
          adcResScore(col("rcodes"), col("tr"), col("qc"), col("cell"),
            col("qnorm")).as("cos")), kTop)
        recallAtK(approx, truth)
          .join(nScored, Seq("q_id"), "left")
          .select(lit(s"ivfpq_res_p$p").as("variant"), col("q_id"),
            col("n_truth"), col("n_hit"), col("recall"),
            coalesce(col("n_scored"), lit(0L)).as("n_scored"))
      }
    }
    (Seq(floatVariant, int8Variant, pqVariant) ++ ivfVariants ++ resVariants)
      .reduce(_.unionByName(_))
  }

  // --- PCA (the embedding pipeline's dimensionality-reduction step) ----

  /** A fitted PCA basis: per-component unit vectors (round-6, driver-
    * held), the round-6 per-component `mean · v` scalars (so the
    * projection `(x − mean) · v` rewrites to `x·v − meanDot` — one dot
    * against a literal vector and one literal subtraction, no per-element
    * centering on the corpus), and the eigenvalue estimates (the
    * variance-explained report).
    */
  case class PcaModel(components: IndexedSeq[Seq[Double]],
                      meanDots: IndexedSeq[Double],
                      eigenvalues: IndexedSeq[Double])

  val PcaPowerIters = 50

  /** Deterministic PCA via the model-on-driver discipline every trainer
    * here follows (kmeansFit / BPE / QualityModel): the covariance is
    * estimated from the `trainN` LOWEST vec_ids (the established
    * deterministic sample rule — rows sorted by vec_id before any fold,
    * so every sum is a fixed sequential order), eigenvectors come from
    * power iteration + Gram-Schmidt deflation on the driver (64×64
    * doubles — microseconds), and the published model rounds at 6 so the
    * oracle interpolates bit-identical literals. Fitting cost is
    * corpus-size-independent; only the PROJECTION touches the corpus.
    *
    * Near-isotropic data (the synthetic corpus) makes leading
    * eigenvalues nearly equal — power iteration then lands on an
    * init-dependent basis vector, which is FINE for the gate (the
    * procedure is deterministic, both engines fold the same literals)
    * and for whitening (any orthonormal basis of the top eigenspace
    * whitens equally); the anisotropic fixture spec pins that a planted
    * dominant direction IS recovered.
    */
  def pcaFit(embeddings: DataFrame, k: Int,
             trainN: Int = DefaultTrainN): PcaModel = {
    val sample = embeddings
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
      .orderBy(col("vec_id")).limit(trainN)
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "pcaFit needs a non-empty corpus")
    val n = sample.length
    val dim = sample.head.length
    require(k >= 1 && k <= dim, s"k $k out of range for dim $dim")
    val mean = Array.tabulate(dim) { d =>
      var s = 0.0; var i = 0
      while (i < n) { s += sample(i)(d); i += 1 }
      s / n
    }
    // covariance (population): C = Σ (x−mean)(x−mean)ᵀ / n — driver
    // loops in fixed index order
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < n) {
      val x = sample(i)
      var a = 0
      while (a < dim) {
        val xa = x(a) - mean(a)
        var b = a
        while (b < dim) {
          cov(a)(b) += xa * (x(b) - mean(b)); b += 1
        }
        a += 1
      }
      i += 1
    }
    for (a <- 0 until dim; b <- a until dim) {
      cov(a)(b) /= n
      cov(b)(a) = cov(a)(b)
    }
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { a =>
        var s = 0.0; var b = 0
        while (b < dim) { s += cov(a)(b) * v(b); b += 1 }
        s
      }
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val eigs = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (j <- 0 until k) {
      // deterministic init: basis vector e_j (orthogonalized below)
      var v = Array.tabulate(dim)(d => if (d == j) 1.0 else 0.0)
      for (_ <- 0 until PcaPowerIters) {
        var w = matVec(v)
        // Gram-Schmidt against accepted components (deflation)
        comps.foreach { c =>
          var dot = 0.0; var d = 0
          while (d < dim) { dot += w(d) * c(d); d += 1 }
          d = 0
          while (d < dim) { w(d) -= dot * c(d); d += 1 }
        }
        val nw = norm(w)
        v = if (nw > 1e-12) w.map(_ / nw) else v
      }
      val cv = matVec(v)
      var eig = 0.0
      var d = 0
      while (d < dim) { eig += v(d) * cv(d); d += 1 }
      comps += v
      eigs += eig
    }
    val rounded = comps.map(_.map(round6).toSeq).toIndexedSeq
    PcaModel(rounded,
      rounded.map { c =>
        round6(c.indices.map(d => mean(d) * c(d)).sum)
      },
      eigs.map(round6).toIndexedSeq)
  }

  /** Project the corpus onto a fitted PCA basis: per component,
    * `round₄(x · v − meanDot)` — one codegen'd [[graft.functions
    * .VectorDot]] against a literal vector plus a literal subtraction
    * per component, scan-fused, zero shuffle. This is the storage/ANN
    * prep step that shrinks a 64-dim corpus to k dims (and the first
    * half of whitening — divide by √λ for the second). The oracle
    * replays the identical literals with the identical index-order fold,
    * so the projection hash-gates exactly.
    */
  def pcaProject(embeddings: DataFrame, model: PcaModel): DataFrame = {
    val cols = model.components.indices.map { j =>
      round(vec_dot(col("embedding"),
        array(model.components(j).map(lit): _*)) - lit(model.meanDots(j)), 4)
        .as(s"p${j + 1}")
    }
    embeddings.select((col("vec_id") +: cols): _*)
  }

  /** IVF ANN over LEARNED cells: [[kmeansCells]] assignments replace the
    * pre-assigned `label` column, closing the "ANN index build" loop
    * (build the coarse quantizer, assign, probe).
    */
  def ivfTopKKmeans(embeddings: DataFrame, queryIds: DataFrame => DataFrame,
                    k: Int, kCells: Int, iters: Int): DataFrame =
    ivfTopKKmeansModel(embeddings, kmeansFit(embeddings, kCells, iters),
      queryIds, k)

  /** [[ivfTopKKmeans]] over an ALREADY-FITTED model — how SparkEntry's
    * kmeans memo feeds the ANN family one shared index instead of each
    * query re-fitting the identical deterministic quantizer (the
    * lshPairsShared discipline; a production IVF index is built once and
    * queried many times).
    */
  def ivfTopKKmeansModel(embeddings: DataFrame, model: KmeansModel,
                         queryIds: DataFrame => DataFrame, k: Int): DataFrame = {
    val labeled = embeddings.drop("label")
      .join(model.cells, "vec_id")
      .withColumnRenamed("cell", "label")
    ivfTopK(labeled, queryIds(labeled), k)
  }

  // --- signed-random-projection LSH (angular / cosine family) -----------

  /** Gate defaults: 16 bits / 2 bands suit the small-SF oracle corpus.
    * Signature width is a CORPUS-SIZE parameter, not a constant: expected
    * random-pair collisions per band are n²/2^(bits/bands+1), so a 1M-row
    * corpus wants ≥ 4×16-bit bands and a 100 TB one wider still — the
    * probe runs 64/4. [[SrpMaxBits]] planes exist; callers pick a prefix.
    */
  val SrpBits = 16
  val SrpBands = 2
  val SrpDim = 64
  val SrpMaxBits = 64
  val SrpMaxBucket = 1000

  /** Deterministic Rademacher hyperplanes: entry (bit, dim) is ±1 from the
    * md5 parity of "srp:bit:dim". Rademacher entries are the standard
    * database-side substitute for Gaussian planes (Achlioptas, JCSS 2003:
    * same JL/angular guarantees in expectation) and make the projections
    * exact-arithmetic: each product is a sign-flip of the float element,
    * so engines agree bit-for-bit as long as they fold in index order,
    * which [[graft.functions.VectorDot]] and DuckDB's
    * `list_sum(list_transform(...))` both do. The matrix is a compile-time
    * constant — the oracle SQL inlines the same literals.
    */
  lazy val srpPlanes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(SrpMaxBits, SrpDim) { (b, d) =>
      if (md.digest(s"srp:$b:$d".getBytes("UTF-8"))(0) % 2 == 0) 1.0 else -1.0
    }
  }

  /** The SLIM (vec_id, band_idx, band_val) band relation for SRP-LSH —
    * ~20 bytes/row; the 256-byte vectors never enter a band exchange.
    */
  private def srpBandRelation(embeddings: DataFrame,
                              bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, s"$bits bits not divisible into $bands bands")
    require(bits <= SrpMaxBits, s"$bits > $SrpMaxBits available planes")
    require(bits / bands <= 30, s"band width ${bits / bands} overflows the int band value")
    // one fused SrpBandValues pass — `bits` stacked literal-dot bit columns
    // are identical arithmetic but fall off the JIT cliff at probe widths
    // (see the expression's scaladoc)
    val planes = (0 until bits).map(b => srpPlanes(b).toIndexedSeq)
    embeddings
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions
          .srp_bands(col("embedding"), planes, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
  }

  /** SRP-LSH near-dup pairs — the third near-dup family next to
    * MinHash/LSH (set overlap) and SimHash (token multiset): candidates
    * bucket by ANGLE of the raw embedding. Each vector gets a
    * [[SrpBits]]-bit signature (bit b = sign of the dot with hyperplane
    * b); a pair within angle θ agrees on each bit with probability
    * 1 − θ/π (Charikar, STOC'02), so near-parallel vectors collide in a
    * whole [[SrpBandBits]]-bit band with high probability and random
    * pairs with probability 2^−[[SrpBandBits]].
    *
    * Scale shape: identical to [[Dedup.simhashBucketedNearDups]] — the
    * signature is a pure projection (`bits` codegen'd [[graft.functions
    * .VectorDot]]s against literal planes, fused into the scan), the
    * candidate step is an equi-join on (band_idx, band_val), and exact
    * cosine verifies only bucket-mates. No nested loop, no cross product;
    * the corpus hash-partitions by band value at 100 TB. A pair may
    * collide in several bands → distinct at the end (q12's discipline).
    * Two guards bound the worst case: band width scales with corpus size
    * (see [[SrpBits]] note), and buckets larger than `maxBucket` are
    * dropped outright (the [[Dedup.lshStage]] cap — a giant angular
    * bucket is a pile of trivial near-dups, not signal).
    */
  def srpStage(embeddings: DataFrame,
               threshold: Double = 0.35,
               bits: Int = SrpBits, bands: Int = SrpBands,
               maxBucket: Int = SrpMaxBucket): Stage = {
    // Candidates dedup across bands BEFORE verification, then only
    // candidate rows fetch their vectors back by vec_id (the
    // minhashNearDupsStage shape, and exactly the oracle's own CTE structure).
    // The PRE-cap keyed signature relation persists, so the `bits` dot
    // products run once for the cap's aggregate, its anti-join left and
    // both sides of the band self-join.
    val keyed = Stages.persisted(srpBandRelation(embeddings, bits, bands))
    // hot-bucket cap as groupBy hot-list + anti-join, never a window
    // (VERDICT r7 #1) — a viral band bucket must not buffer in one task
    val capped = Dedup.capHotBuckets(keyed, Seq("band_idx", "band_val"), maxBucket)
    val a = capped.select(col("band_idx"), col("band_val"), col("vec_id").as("id_a"))
    val b = capped.select(col("band_idx"), col("band_val"), col("vec_id").as("id_b"))
    val cands = a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b")).distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val result = cands
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(vec_cosine(col("emb_a"), col("emb_b")), 4).as("cos"))
      .filter(col("cos") >= threshold)
    Stage(result, Seq(keyed))
  }

  /** SRP-LSH approximate top-k — the query-driven form of the same index:
    * a query's candidates are the corpus vectors sharing at least ONE of
    * its band values, scored exactly, ranked top-k. Plan shape matches
    * [[ivfTopK]]: the query band relation (|Q| × bands rows) broadcasts,
    * the corpus side is the slim band relation equi-joined on
    * (band_idx, band_val), and only deduped candidates fetch vectors back
    * by vec_id. The hot-bucket cap applies to the corpus side exactly as
    * in [[srpStage]] — a viral angular bucket would otherwise fan every
    * query that lands in it across the whole bucket.
    *
    * Expected candidates/query ≈ bands × n / 2^(bits/bands) for random
    * pairs, so bits/bands is a corpus-size parameter (the [[SrpBits]]
    * note); recall against brute-force truth is measured by
    * [[recallAtK]] — SURVEY.md's "Round 9 probe numbers" record the
    * shipped configs at 1M vectors.
    */
  def srpTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              bits: Int = SrpBits, bands: Int = SrpBands,
              maxBucket: Int = SrpMaxBucket): DataFrame = {
    val keyed = srpBandRelation(embeddings, bits, bands)
    val capped = Dedup.capHotBuckets(keyed, Seq("band_idx", "band_val"), maxBucket)
    val qKeyed = srpBandRelation(queries, bits, bands)
      .select(col("vec_id").as("q_id"), col("band_idx"), col("band_val"))
    val cands = capped.join(broadcast(qKeyed), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb")))
    val scored = cands
      .join(embeddings.select(col("vec_id"), col("embedding").as("emb")), "vec_id")
      .join(q, "q_id")
      .select(col("q_id"), col("vec_id"),
        vec_cosine(col("q_emb"), col("emb")).as("cos"))
    rankTopK(scored, k)
  }
}
