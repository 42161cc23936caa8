package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.0f, 1.0f), 1),
    (3L, Array(0.5f, 0.5f), 1),
    (4L, Array(-1.0f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("vec_dot matches an explicit double fold") {
    val d = vecs.filter($"vec_id" === 1)
      .select(vec_dot(col("embedding"), col("embedding"))).as[Double].head()
    val expected = 0.9f.toDouble * 0.9f.toDouble + 0.1f.toDouble * 0.1f.toDouble
    assert(d === expected)
  }

  test("vec_cosine of identical vectors is 1, orthogonal 0, opposite -1") {
    val one = Seq((Array(0.6f, 0.8f), Array(0.6f, 0.8f))).toDF("a", "b")
      .select(vec_cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(one - 1.0) < 1e-12)
    val zero = Seq((Array(1.0f, 0.0f), Array(0.0f, 2.0f))).toDF("a", "b")
      .select(vec_cosine(col("a"), col("b"))).as[Double].head()
    assert(zero === 0.0)
    val neg = Seq((Array(1.0f, 0.0f), Array(-3.0f, 0.0f))).toDF("a", "b")
      .select(vec_cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(neg + 1.0) < 1e-12)
  }

  test("bruteTopK ranks by cosine desc with vec_id tie-break, excludes self") {
    val out = Similarity.bruteTopK(vecs, vecs.filter($"vec_id" === 0), k = 4)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // cosines vs (1,0): v1 ~0.994, v3 ~0.707, v2 0.0, v4 -1.0
    assert(out === Seq(1L, 3L, 2L, 4L))
  }

  test("ivfTopK only scores the query's own cell") {
    val out = Similarity.ivfTopK(vecs, vecs.filter($"vec_id" === 0), k = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(out === Set(1L, 4L))   // label 0 cell only, self excluded
  }

  test("cellNearDupPairs = all-pairs cosine restricted to same cell") {
    val cells = Seq((0L, 0), (1L, 0), (2L, 1), (3L, 1), (4L, 0)).toDF("vec_id", "cell")
    val out = Similarity.cellNearDupPairs(vecs, cells, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // same-cell qualifying pair: (0,1) cos~0.994; (3 vs 2) cos~0.707 < 0.9;
    // (0,4) cos=-1; cross-cell (1,3) cos~0.78 is NOT a candidate
    assert(out === Set((0L, 1L)))
  }

  test("multi-probe IVF recall >= single-probe recall vs brute-force truth") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteTopK(e, e.filter($"vec_id" < 8), k = 5))
    val single = pairs(Similarity.ivfTopKKmeans(e, l => l.filter($"vec_id" < 8),
      k = 5, kCells = SparkEntry.KmeansK, iters = SparkEntry.KmeansIters))
    val multi = pairs(Similarity.ivfTopKMultiProbe(e, v => v.filter($"vec_id" < 8),
      k = 5, kCells = SparkEntry.KmeansK, iters = SparkEntry.KmeansIters, nProbe = 2))
    val recallSingle = (single & truth).size.toDouble / truth.size
    val recallMulti = (multi & truth).size.toDouble / truth.size
    assert(recallMulti >= recallSingle)   // probing 2 cells can only add recall
    assert(single.subsetOf(multi) || recallMulti >= recallSingle)
    assert(recallMulti > 0.0)
  }

  test("recallAtK report: multi-probe >= single-probe >= fixture floor") {
    // the first-class recall-report operator (VERDICT r6 #5): exact
    // per-query rationals, macro average gates like an index rollout
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val truth = Similarity.bruteTopK(e, e.filter($"vec_id" < 8), k = 5)
    def macroRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, truth)
        .agg(org.apache.spark.sql.functions.avg($"recall"))
        .as[Double].head()
    val single = macroRecall(Similarity.ivfTopKKmeans(
      e, l => l.filter($"vec_id" < 8),
      k = 5, kCells = SparkEntry.KmeansK, iters = SparkEntry.KmeansIters))
    val multi = macroRecall(Similarity.ivfTopKMultiProbe(
      e, v => v.filter($"vec_id" < 8),
      k = 5, kCells = SparkEntry.KmeansK, iters = SparkEntry.KmeansIters,
      nProbe = 2))
    assert(multi >= single)       // probing 2 cells can only add recall
    assert(single >= 0.2)         // fixture floor on the golden queries
    // self-recall sanity: truth graded against itself is exactly 1.0
    val self = Similarity.recallAtK(truth, truth)
      .select($"recall").as[Double].collect()
    assert(self.forall(_ === 1.0))
  }

  test("srpTopK with 1-bit bands recovers the exact brute-force top-k") {
    // bands == bits makes each band a single sign bit: a candidate is
    // missed only if it disagrees with the query on ALL 16 planes — for
    // the fixture corpus every top-5 neighbor shares at least one sign,
    // so the approximate ranking must equal the exact one
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 8)
    val truth = Similarity.bruteTopK(e, q, k = 5)
      .select($"q_id", $"vec_id", $"rank", $"cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    val srp = Similarity.srpTopK(e, q, k = 5,
        bits = 16, bands = 16, maxBucket = Int.MaxValue)
      .select($"q_id", $"vec_id", $"rank", $"cos")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(srp === truth)
    spark.catalog.clearCache()
  }

  test("srpTopK at the shipped 16/2 config reports sane recall") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 8)
    val truth = Similarity.bruteTopK(e, q, k = 5)
    val rec = Similarity.recallAtK(Similarity.srpTopK(e, q, k = 5), truth)
      .agg(avg($"recall")).as[Double].head()
    assert(rec >= 0.0 && rec <= 1.0)
    // every query id appears in the report even if its bucket went empty
    val n = Similarity.recallAtK(Similarity.srpTopK(e, q, k = 5), truth)
      .select($"q_id").distinct().count()
    assert(n === q.count())
    spark.catalog.clearCache()
  }

  test("probeCells ranks the vector's own cell first") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = Similarity.kmeansFit(e, k = SparkEntry.KmeansK,
      iters = SparkEntry.KmeansIters)
    val own = model.cells.filter($"vec_id" < 8)
      .as[(Long, Int)].collect().toMap
    // probe rank 1 (first element of the sorted slice) = argmin assignment
    val firstProbe = Similarity.probeCells(e.filter($"vec_id" < 8),
        model.centroids, nProbe = 1)
      .as[(Long, Int)].collect().toMap
    assert(firstProbe === own)
  }

  test("quantizeInt8: error bound holds and codes reconstruct the direction") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.quantizeInt8(e)
    assert(out.count() === e.count())                 // L2-normalized: no zero vectors
    assert(out.filter($"err_ok" === 0).count() === 0) // 0.5/scale bound everywhere
    // max_err <= 0.5 * amax / 127 numerically
    val viol = out.filter($"max_err" > $"amax" * 0.5 / 127.0 + 1e-6).count()
    assert(viol === 0)
  }

  test("quantizeInt8 codes fit int8 range") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val emb = transform(col("embedding"), x => x.cast("double"))
    val amax = array_max(transform(emb, x => abs(x)))
    val codes = e.select(explode(transform(emb,
      x => floor(x * (lit(127.0) / amax) + lit(0.5)).cast("long"))).as("c"))
    assert(codes.filter($"c" > 127 || $"c" < -128).count() === 0)
  }

  test("quantizedTopK: integer dot products exact, rescale recovers the score") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.5f, 0.5f), 0),
      (3L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.quantizedTopK(vecs, vecs.filter($"vec_id" === 1), k = 2)
      .orderBy($"rank").collect()
    // query (1,0) -> q=(127,0); vec 2 (0.5,0.5) -> q=(127,127): dot 16129;
    // vec 3 (0,1) -> q=(0,127): dot 0
    assert(out.map(r => (r.getLong(1), r.getLong(3))).toSeq ===
      Seq((2L, 16129L), (3L, 0L)))
    // rescale is exact here: 16129 * (1/127) * (0.5/127) = 0.5 = true dot
    assert(out(0).getDouble(4) === 0.5)
  }

  test("quantizedTopK approximates exact cosine ranking on real embeddings") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 4)
    val exact = Similarity.bruteTopK(e, q, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(e, q, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // int8 on 64-dim normalized vectors: overlap must dominate (the
    // quantization step is ~amax/127 per element)
    val overlap = exact.intersect(quant).size.toDouble / exact.size
    assert(overlap >= 0.6, s"quantized recall too low: $overlap")
  }

  test("kmeans cells feed ivfTopK end-to-end on real embeddings") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cells = Similarity.kmeansCells(e, k = SparkEntry.KmeansK,
      iters = SparkEntry.KmeansIters)
    val n = e.count()
    assert(cells.count() === n)                      // every vector assigned
    val k = cells.select("cell").distinct().count()
    assert(k > 1 && k <= SparkEntry.KmeansK)         // non-degenerate quantizer
    val out = Similarity.ivfTopKKmeans(e, l => l.filter($"vec_id" < 3),
      k = 3, kCells = SparkEntry.KmeansK, iters = SparkEntry.KmeansIters)
    assert(out.count() > 0)
    // per-query ranks are 1..k and candidates come from the query's cell
    val ranks = out.groupBy($"q_id").agg(max($"rank").as("mx"), count(lit(1)).as("n"))
      .select("mx", "n").as[(Int, Long)].collect()
    assert(ranks.forall { case (mx, cnt) => mx.toLong === cnt && cnt <= 3 })
  }

  test("cluster-quality report partitions every embedded document once") {
    val out = SparkEntry.queries("q96_cluster_quality")(
      spark, "/root/testdata/sf0.001")
    val total = out.agg(sum($"n_docs")).as[Long].head()
    val nDocs = graft.sources.Tables
      .documents(spark, "/root/testdata/sf0.001").count()
    assert(total === nDocs)    // every doc in exactly one (cell, lang)
    val q = out.select("avg_quality").as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    spark.catalog.clearCache()
  }

  test("SRP-LSH: parallel vectors always collide, antipodal vectors never") {
    // v2 = 2*v1 -> identical signature (signs are scale-invariant), must
    // survive as a pair with cos 1.0; v3 = -v1 flips EVERY bit, so no band
    // can match (a band value never equals its own complement)
    val vecs = Seq(
      (1L, Array(1.0f, 0.5f, -0.25f), 0),
      (2L, Array(2.0f, 1.0f, -0.5f), 0),
      (3L, Array(-1.0f, -0.5f, 0.25f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.srpStage(vecs, threshold = 0.35).result
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 2L, 1.0)))
  }

  test("SRP-LSH finds the high-cosine pairs band-bucketing promises on real data") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.srpStage(e, threshold = 0.0).result
    // every reported pair is band-verified and scored in [ -1, 1 ]
    val cos = out.select("cos").as[Double].collect()
    assert(cos.forall(c => c >= 0.0 && c <= 1.0))
    // no duplicate pairs despite two bands
    assert(out.count() === out.select("id_a", "id_b").distinct().count())
  }

  test("vector kernels: empty arrays, mismatched lengths, float/double mix") {
    // dot/cosine use the shorter prefix; each cosine self-dot uses its OWN
    // length (parity with the composed dot/(sqrt·sqrt) form it replaced)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 4.0))).toDF("f", "d")
    val dot = df.select(vec_dot(col("f"), col("d"))).as[Double].head()
    assert(dot === 1.0 * 2.0 + 2.0 * 4.0)     // prefix of length 2
    val cosMixed = df.select(vec_cosine(col("f"), col("d"))).as[Double].head()
    // xy over prefix 2; xx over ALL 3 of f; yy over all 2 of d
    val expected = 10.0 / (math.sqrt(1 + 4 + 9) * math.sqrt(4 + 16))
    assert(math.abs(cosMixed - expected) < 1e-15)
    // empty arrays: dot = 0.0, cosine = 0/0 = NaN — never an exception
    val empty = Seq((Array.empty[Float], Array(1.0f))).toDF("a", "b")
    assert(empty.select(vec_dot(col("a"), col("b"))).as[Double].head() === 0.0)
    assert(empty.select(vec_cosine(col("a"), col("b"))).as[Double].head().isNaN)
    // srp_bands / nearest_cells on an empty vector: all dots 0.0 → every
    // sign bit set (0.0 >= 0), all cell dists = |c|² → argmin is the
    // smallest-norm centroid, lowest id on ties — defined, no exception
    val ev = Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding")
    val bands = ev.select(srp_bands(col("embedding"),
      Seq(Seq(1.0), Seq(-1.0)), 2)).as[Seq[Int]].head()
    assert(bands === Seq(1, 1))
    val cells = ev.select(nearest_cells(col("embedding"),
      Seq(Seq(3.0), Seq(1.0), Seq(-1.0)), 3)).as[Seq[Int]].head()
    assert(cells === Seq(1, 2, 0))   // by |c|²: 1.0, 1.0 (tie → lower id), 9.0
  }

  test("heap rankTopK ≡ row_number window ranking (bruteTopK vs explicit window)") {
    // the bounded top-k heap replaced the window; pin bit-identical output
    // including ranks and rounded scores against the window form it
    // replaced, on real embeddings with a real tie-domain (round 6)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" < 16)
    val heap = Similarity.bruteTopK(e, q, k = 7)
    val qb = broadcast(q.select($"vec_id".as("q_id"), $"embedding".as("q_emb")))
    val scored = e.select($"vec_id", $"embedding".as("emb"))
      .join(qb, $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id", vec_cosine($"q_emb", $"emb").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy(round($"cos", 6).desc, $"vec_id".asc)
    val window = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 7)
      .select($"q_id", $"vec_id", $"rank", round($"cos", 4).as("cos"))
    assert(heap.except(window).count() === 0)
    assert(window.except(heap).count() === 0)
    assert(heap.count() === window.count())
  }

  test("TopKByScoreAgg keeps NaN-first desc order and survives tiny groups") {
    // NaN scores sort first on desc (Spark's DoubleType total order);
    // groups smaller than k emit all their rows
    val df = Seq(
      (1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, 0.9), (1L, 13L, 0.9),
      (2L, 20L, 0.1)
    ).toDF("q_id", "vec_id", "cos")
    val out = df.groupBy($"q_id")
      .agg(graft.functions.AggFunctions.top_k_by_score(
        $"cos", $"vec_id", array($"cos"), 3).as("tk"))
      .select($"q_id", posexplode($"tk"))
      .select($"q_id", $"pos", $"col.id".as("vec_id"))
      .as[(Long, Int, Long)].collect().toSet
    // q1: NaN first, then 0.9 twice (id asc tie-break), 0.5 dropped
    assert(out === Set((1L, 0, 11L), (1L, 1, 12L), (1L, 2, 13L), (2L, 0, 20L)))
  }

  test("TopKByScoreAgg rejects ragged payloads and skips null payload rows") {
    // the serialized buffer carries ONE payload width per group (ADVICE
    // r9): ragged arrays must fail fast, not corrupt shuffle state
    val ragged = Seq(
      (1L, 10L, 0.5, Seq(1.0, 2.0)),
      (1L, 11L, 0.7, Seq(1.0))
    ).toDF("g", "id", "score", "p")
    val ex = intercept[Exception] {
      ragged.groupBy($"g")
        .agg(graft.functions.AggFunctions.top_k_by_score(
          $"score", $"id", $"p", 3).as("tk"))
        .collect()
    }
    // Spark wraps the executor-side IAE; the contract message must survive
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("fixed payload width")))

    // null payload rows are ignored (same semantics as null score/id)
    val withNull = Seq(
      (1L, 10L, 0.5, Some(Seq(1.0))),
      (1L, 11L, 0.9, None)
    ).toDF("g", "id", "score", "p")
    val kept = withNull.groupBy($"g")
      .agg(graft.functions.AggFunctions.top_k_by_score(
        $"score", $"id", $"p", 3).as("tk"))
      .select(explode($"tk").as("e")).select($"e.id".as[Long]).collect().toSet
    assert(kept === Set(10L))
  }

  test("fused srp_bands ≡ stacked literal-dot bit columns at full 64/4 width") {
    // the fused expression exists for JIT survival; this pins that its
    // arithmetic is EXACTLY the stacked vec_dot form it replaced (same
    // index-order fold, same >= 0 sign rule, same bit packing)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (bits, bands) = (64, 4)
    val bandBits = bits / bands
    val bitCols = (0 until bits).map { b =>
      (vec_dot(col("embedding"), typedlit(Similarity.srpPlanes(b).toSeq)) >= 0)
        .cast("int")
    }
    val stacked = e.select(col("vec_id") +: (0 until bands).map { bd =>
      (0 until bandBits).map(i => bitCols(bd * bandBits + i) * lit(1 << i))
        .reduce(_ + _).as(s"b$bd")
    }: _*)
    val planes = (0 until bits).map(b => Similarity.srpPlanes(b).toIndexedSeq)
    val fused = e.select(col("vec_id"),
      srp_bands(col("embedding"), planes, bands).as("bv"))
      .select(col("vec_id") +:
        (0 until bands).map(bd => element_at(col("bv"), bd + 1).as(s"b$bd")): _*)
    assert(fused.except(stacked).count() === 0)
    assert(stacked.except(fused).count() === 0)
  }

  test("fused nearest_cells ≡ array_sort over per-centroid distance structs") {
    // same pin for the IVF assignment/probe: the struct-sort form is the
    // reference semantics (dist asc, cell asc), the fused loop must agree
    // on every vector for both nProbe = 1 (assignment) and nProbe = 3
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents: Array[Seq[Double]] =
      Similarity.kmeansFit(e, k = 5, iters = 2).centroids
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val scored = cents.zipWithIndex.map { case (c, j) =>
      struct((lit(c.map(x => x * x).sum) -
        lit(2.0) * vec_dot(col("emb"), typedlit(c))).as("dist"),
        lit(j).as("cell"))
    }
    for (nProbe <- Seq(1, 3)) {
      val ref = v.select(col("vec_id"),
        posexplode(slice(array_sort(array(scored.toIndexedSeq: _*)), 1, nProbe)))
        .select(col("vec_id"), col("pos"), col("col.cell").as("cell"))
      val fused = v.select(col("vec_id"),
        posexplode(nearest_cells(col("emb"), cents.toIndexedSeq, nProbe)))
        .select(col("vec_id"), col("pos"), col("col").as("cell"))
      assert(fused.except(ref).count() === 0, s"nProbe=$nProbe")
      assert(ref.except(fused).count() === 0, s"nProbe=$nProbe")
    }
    spark.catalog.clearCache()
  }

  test("annFrontier: recall and cost are monotone in nProbe, full probe is exact") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.annFrontier(e, d => d.filter(col("vec_id") < 8),
        k = 5, kCells = 4, iters = 2, probes = Seq(1, 2, 4))
      .collect()
      .map(r => (r.getAs[Int]("n_probe"), r.getAs[Long]("q_id"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_scored")))
    assert(rows.length === 3 * 8)
    rows.groupBy(_._2).foreach { case (q, rs) =>
      val byP = rs.sortBy(_._1)
      // more probes never lose recall and never scan less
      assert(byP.sliding(2).forall { case Array(a, b) =>
        b._3 >= a._3 && b._4 >= a._4 })
      // probing all 4 of 4 cells IS brute force: recall must be exact
      assert(byP.last._3 === 1.0, s"q=$q")
    }
    spark.catalog.clearCache()
  }

  test("pcaFit: orthonormal deterministic basis; a planted dominant " +
    "direction is recovered; projection matches driver math") {
    // anisotropic fixture: dim 0 carries 20x the spread of the rest, so
    // the top component must align with e0
    val aniso = (0L until 64L).map { i =>
      val big = ((i % 8).toDouble - 3.5).toFloat * 20f
      (i, big +: Array.tabulate(3)(d =>
        (((i * 7 + d) % 5).toDouble - 2.0).toFloat))
    }.map { case (id, arr) => (id, arr.toArray) }
      .toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(aniso, k = 2)
    assert(math.abs(m.components(0)(0)) > 0.99,
      s"top component must align with the planted axis: ${m.components(0)}")
    assert(m.eigenvalues(0) > m.eigenvalues(1)) // dominant direction first
    // orthonormal (round-6 components: tolerance a few 1e-6)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1.0) < 1e-4)
    assert(math.abs(dot(m.components(1), m.components(1)) - 1.0) < 1e-4)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-4)
    // deterministic across fits
    val m2 = Similarity.pcaFit(aniso, k = 2)
    assert(m.components === m2.components && m.meanDots === m2.meanDots)
    // projection = driver-side replay of the same literals
    val proj = Similarity.pcaProject(aniso, m)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = aniso.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (id, x) =>
      val p1 = r4(dot(x, m.components(0)) - m.meanDots(0))
      val p2 = r4(dot(x, m.components(1)) - m.meanDots(1))
      assert(proj(id) === ((p1, p2)), s"vec $id")
    }
    // eigenvalues are non-negative variances
    assert(m.eigenvalues.forall(_ >= 0.0))
    spark.catalog.clearCache()
  }

  test("pqCodes picks per-subspace argmins with the (dist, code) tie-break") {
    // hand-built 2-subspace model over 4-dim vectors: subspace codebooks
    // are the unit axes, so the code is just "which axis is closer"
    val model = Similarity.PqModel(IndexedSeq(
      IndexedSeq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      IndexedSeq(Seq(1.0, 0.0), Seq(0.0, 1.0))), subDim = 2)
    val df = Seq(
      (0L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // sub1 → axis0, sub2 → axis1
      (1L, Array(0.1f, 0.9f, 0.9f, 0.1f)), // sub1 → axis1, sub2 → axis0
      (2L, Array(0.5f, 0.5f, 0.5f, 0.5f))  // exact ties → lowest code
    ).toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"),
        Similarity.pqCodes(col("embedding"), model).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) === Seq(0, 1))
    assert(codes(1L) === Seq(1, 0))
    assert(codes(2L) === Seq(0, 0)) // tie-break: lowest code wins
  }

  test("pqFit is deterministic and reconstruction beats a wrong codebook") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.pqFit(e, dim = 64)
    val b = Similarity.pqFit(e, dim = 64)
    assert(a.codebooks === b.codebooks) // deterministic sample + means
    assert(a.m === Similarity.PqM && a.k === Similarity.PqK)
    assert(a.cnorm2Flat.length === a.m * a.k)
    assert(a.cnorm2Flat.forall(n => n >= 0.0 && !n.isNaN))
    spark.catalog.clearCache()
  }

  test("pqFrontier: float anchors at recall 1, IVF-PQ cost is monotone " +
    "in nProbe and bounded by the pq brute cost") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = Similarity.pqFit(e, dim = 64)
    val coarse = Similarity.kmeansFit(e, 4, 2)
    val rows = Similarity.pqFrontier(e, coarse, model,
        q => q.filter(col("vec_id") < 8), kTop = 5, probes = Seq(1, 2))
      .collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("q_id"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_scored")))
    val byVariant = rows.groupBy(_._1)
    assert(byVariant.keySet ===
      Set("float", "int8", "pq", "ivfpq_p1", "ivfpq_p2"))
    assert(byVariant("float").forall(_._3 === 1.0))
    // int8 is nearly lossless at 1 byte/dim — it must dominate the
    // 8-byte-per-vector pq codes on mean recall
    val mean = (v: String) =>
      byVariant(v).map(_._3).sum / byVariant(v).size
    assert(mean("int8") >= mean("pq"))
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // brute variants score the whole corpus minus self
    val n = e.count() - 1
    assert(byVariant("pq").forall(_._4 === n))
    // per query: more probes never scan less, and pruned never scans
    // more than brute
    rows.filter(_._1.startsWith("ivfpq")).groupBy(_._2).foreach {
      case (q, rs) =>
        val p1 = rs.find(_._1 == "ivfpq_p1").get._4
        val p2 = rs.find(_._1 == "ivfpq_p2").get._4
        assert(p1 <= p2 && p2 <= n, s"q=$q p1=$p1 p2=$p2 n=$n")
    }
    spark.catalog.clearCache()
  }

  test("residualVec subtracts the assigned coarse centroid exactly") {
    val coarse = Similarity.KmeansModel(
      Array(Seq(1.0, 2.0), Seq(-3.0, 4.0)), spark.emptyDataFrame)
    val df = Seq((0L, Array(1.0f, 2.0f), 0), (1L, Array(-3.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "cell")
    val out = df.select(col("vec_id"),
        Similarity.residualVec(col("embedding"), col("cell"), coarse).as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(0L) === Seq(0.0, 0.0)) // a vector AT its centroid → zero
    assert(out(1L) === Seq(0.0, 1.0))
  }

  test("fused pqCodesResidual ≡ pqCodes over a materialized residualVec") {
    val coarse = Similarity.KmeansModel(
      Array(Seq(1.0, 2.0, -1.0, 0.5), Seq(-3.0, 4.0, 2.0, -2.0)),
      spark.emptyDataFrame)
    val model = Similarity.PqModel(IndexedSeq(
      IndexedSeq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, -1.0)),
      IndexedSeq(Seq(0.5, 0.5), Seq(-0.5, 0.5), Seq(2.0, 0.0))),
      subDim = 2)
    val df = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 13 + d * 7) % 11 - 5) * 0.7f),
        i % 2)
    }.toDF("vec_id", "embedding", "cell")
    val both = df.select(
        Similarity.pqCodesResidual(col("embedding"), col("cell"), coarse,
          model).as("fused"),
        Similarity.pqCodes(Similarity.residualVec(col("embedding"),
          col("cell"), coarse), model).as("composed"))
      .as[(Seq[Int], Seq[Int])].collect()
    both.foreach { case (f, c) => assert(f === c) }
    // zero vector at a zero-distance tie exercises the first-wins break
    val tie = Seq((0L, Array(1.0f, 2.0f, -1.0f, 0.5f), 0))
      .toDF("vec_id", "embedding", "cell")
      .select(Similarity.pqCodesResidual(col("embedding"), col("cell"),
        coarse, model).as("f")).as[Seq[Int]].head()
    assert(tie.length === 2)
  }

  test("residual-encoded IVF-PQ: recall >= raw encoding at equal candidate " +
    "cost on a clustered corpus") {
    // 4 well-separated clusters (corners of a 2-block pattern, ±20) with
    // small structured within-cluster deltas: a k=4 RAW codebook per
    // subspace must spend all its codes on the cluster offsets (every
    // member of a cluster collapses to one code — zero within-cluster
    // discrimination), while the RESIDUAL codebooks see only the deltas.
    // This is exactly the geometry Jégou's residual encoding wins on.
    val dim = 8
    val e = (0 until 64).map { i =>
      val c = i % 4
      val emb = Array.tabulate(dim) { d =>
        val base = if (d < 4) (c % 2) * 40.0f - 20.0f
                   else (c / 2) * 40.0f - 20.0f
        base + ((i / 4 * 7 + d * 3) % 5 - 2) * 0.3f
      }
      (i.toLong, emb)
    }.toDF("vec_id", "embedding")
    val coarse = Similarity.kmeansFit(e, k = 4, iters = 2, trainN = 64)
    val raw = Similarity.pqFit(e, dim = dim, m = 2, k = 4, trainN = 64)
    val res = Similarity.pqFitResidual(e, coarse, dim = dim, m = 2, k = 4,
      trainN = 64)
    val res2 = Similarity.pqFitResidual(e, coarse, dim = dim, m = 2, k = 4,
      trainN = 64)
    assert(res.codebooks === res2.codebooks) // inherited determinism
    val rows = Similarity.pqFrontier(e, coarse, raw,
        q => q.filter(col("vec_id") < 4), kTop = 5, probes = Seq(1),
        resModel = Some(res)).collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("q_id"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_scored")))
    val byV = rows.groupBy(_._1)
    assert(byV.keySet ===
      Set("float", "int8", "pq", "ivfpq_p1", "ivfpq_res_p1"))
    // equal candidate cost by construction: same coarse probe, same cells
    val rawByQ = byV("ivfpq_p1").map(r => r._2 -> r).toMap
    val resByQ = byV("ivfpq_res_p1").map(r => r._2 -> r).toMap
    assert(rawByQ.keySet === resByQ.keySet)
    rawByQ.keySet.foreach(q => assert(resByQ(q)._4 === rawByQ(q)._4,
      s"q=$q: n_scored must match between raw and residual variants"))
    // residual dominates raw on mean recall at that equal cost
    def mean(v: String) = byV(v).map(_._3).sum / byV(v).size
    assert(mean("ivfpq_res_p1") >= mean("ivfpq_p1"),
      s"residual ${mean("ivfpq_res_p1")} < raw ${mean("ivfpq_p1")}")
    assert(mean("ivfpq_res_p1") > 0.0)
    spark.catalog.clearCache()
  }

  test("semanticDedup keeps the group member least similar to its " +
    "centroid and leaves singletons out") {
    // one tight near-dup trio around (1,0) plus a lone orthogonal vector;
    // vec 2 points furthest from the cluster centroid -> the survivor
    val e = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f)),
      (2L, Array(0.9f, 0.25f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // hand-built quantizer so the fixture pins the POLICY, not Lloyd
    // dynamics: the trio shares cell 0, the singleton sits in cell 1
    val model = Similarity.KmeansModel(
      Array(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq((0L, 0), (1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "cell"))
    val stage1 = Similarity.semanticDedupStage(e, model, threshold = 0.9)
    val out = stage1.result
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Int]("keep"),
          r.getAs[Double]("cos_centroid"))).toMap
    // the trio forms one group labeled by its min id; vec 3 is a
    // singleton and must not appear
    assert(out.keySet === Set(0L, 1L, 2L))
    assert(out.values.forall(_._1 === 0L))
    // exactly one survivor: the member with the LOWEST centroid cosine
    assert(out.count(_._2._2 === 1) === 1)
    val survivor = out.find(_._2._2 === 1).get._1
    val minCos = out.values.map(_._3).min
    assert(out(survivor)._3 === minCos)
    assert(survivor === 2L, s"expected the peripheral member, got $survivor")
    // tie policy: identical vectors tie on c2c -> smaller vec_id kept
    val t = Seq(
      (5L, Array(1.0f, 0.0f)), (7L, Array(1.0f, 0.0f)),
      (6L, Array(0.0f, 1.0f)), (8L, Array(0.3f, 0.3f))
    ).toDF("vec_id", "embedding")
    val tm = Similarity.KmeansModel(
      Array(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq((5L, 0), (7L, 0), (6L, 1), (8L, 1)).toDF("vec_id", "cell"))
    val stage2 = Similarity.semanticDedupStage(t, tm, threshold = 0.99)
    val ts = stage2.result
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("keep"))
      .toMap
    assert(ts.getOrElse(5L, 0) === 1 && ts.getOrElse(7L, -1) === 0)
    // release everything SYNCHRONOUSLY — the stage persists and the star-CC
    // checkpoint blocks; left to the async ContextCleaner they release at
    // arbitrary later points and corrupt CacheHygieneSpec's baselines
    Seq(stage1, stage2).foreach { st =>
      st.unpersist()
      st.result.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(false))
    }
    spark.catalog.clearCache()
  }
}
