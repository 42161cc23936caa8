package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Pins the corpus-wide k-NN join (q155): equality with the broadcast
  * query-sample twin, brute-force exactness at full probe, self-pair
  * semantics, and plan shape (no nested loop, probe explode present).
  */
class KnnJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val embs =
    graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val model = Similarity.kmeansFit(embs, k = 4, iters = 2)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect().toSet

  test("knnJoin equals the broadcast multi-probe twin on a query sample") {
    // same model, same k/nProbe: the symmetric-shuffle plan must produce
    // exactly the broadcast-query-side plan's answer
    val sample: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(col("vec_id") < 16)
    val twin = rows(Similarity.ivfTopKMultiProbeModel(
      embs, model, sample, k = 5, nProbe = 2))
    val knn = rows(Similarity.knnJoin(sample(embs), embs, model,
      k = 5, nProbe = 2))
    assert(knn === twin)
    assert(knn.nonEmpty)
  }

  test("knnJoin probing every cell equals the exact brute-force top-k") {
    // nProbe = kCells scores the whole corpus per query: the IVF join
    // degenerates to exact k-NN, so it must match bruteTopK bit-for-bit
    val sample = embs.filter(col("vec_id") < 8)
    val brute = rows(Similarity.bruteTopK(embs, sample, k = 5))
    val full = rows(Similarity.knnJoin(sample, embs, model,
      k = 5, nProbe = 4))
    assert(full === brute)
  }

  test("excludeSameId=false surfaces the self-pair at rank 1 with cos 1") {
    val sample = embs.filter(col("vec_id") < 4)
    val out = Similarity.knnJoin(sample, embs, model, k = 1, nProbe = 1,
      excludeSameId = false)
      .select("q_id", "vec_id", "cos").as[(Long, Long, Double)]
      .collect().toSet
    assert(out === Set((0L, 0L, 1.0), (1L, 1L, 1.0), (2L, 2L, 1.0), (3L, 3L, 1.0)))
  }

  test("every query emits at most k neighbors, ranks dense from 1") {
    val out = Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2)
      .groupBy("q_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .as[(Long, Long, Int, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, n, lo, hi) => n <= 5 && lo == 1 && hi == n })
  }

  test("plan shape: probe explode + cell equi-join, never a nested loop") {
    val df = Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Generate")) // the nProbe cell explode
  }

  test("scatter guard: hash(vec_id) exchange present by default, gone " +
       "when disabled, results identical either way") {
    // the sorted-ingest guard (the contiguous-layout caveat of SURVEY.md
    // row "IVF viral-cell skew", made engine behavior): AQE's skew split
    // cuts a viral cell's reduce partition only at map-block boundaries,
    // so the corpus must be hash-scattered BEFORE the cell-keyed exchange
    val on = Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(vec_id".r.findFirstIn(on).isDefined,
      s"scatter exchange missing with scatter=true:\n$on")
    val off = Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2,
        scatter = false)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(vec_id".r.findFirstIn(off).isEmpty,
      s"unexpected vec_id exchange with scatter=false:\n$off")
    // pure layout change: the answer must not move
    assert(rows(Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2,
        scatter = false)) ===
      rows(Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2)))
  }

  test("scatter redundancy guard: pre-scattered input skips the " +
       "re-scatter (single exchange), identical results both paths") {
    // an input whose lineage already ends in a uniform shuffle (the
    // caller's own repartition) is already skew-splittable — re-scattering
    // it would only add a redundant embedding-wide exchange (VERDICT r17
    // #8)
    val pre = embs.repartition(col("vec_id"))
    assert(Similarity.alreadyScattered(pre))
    assert(Similarity.alreadyScattered(pre.select(col("vec_id"),
      col("embedding"), col("label"))), "projection preserves partitioning")
    assert(Similarity.alreadyScattered(embs.repartition(8)),
      "round-robin is uniform too")
    assert(!Similarity.alreadyScattered(embs), "raw scan is not scattered")
    assert(!Similarity.alreadyScattered(embs.repartition(col("label"))),
      "a skew-prone key is not the uniform guard")
    // exprId semantics (ADVICE r18): a repartition on a DIFFERENT
    // attribute that merely shares the name "vec_id" at the shuffle —
    // here the (possibly skewed) label aliased to vec_id — must NOT
    // suppress the scatter once the REAL id is re-exposed as vec_id
    val nameTrap = embs
      .select(col("label").as("vec_id"), col("vec_id").as("real_id"),
        col("embedding"))
      .repartition(col("vec_id"))
      .select(col("real_id").as("vec_id"), col("embedding"))
    assert(!Similarity.alreadyScattered(nameTrap),
      "name-only vec_id match must not skip the scatter")
    // but a pure RENAME of the shuffled attribute is still the same
    // values — redundant to re-scatter
    val renamed = embs.repartition(col("vec_id"))
      .select(col("vec_id").as("tmp"), col("embedding"))
      .select(col("tmp").as("vec_id"), col("embedding"))
    assert(Similarity.alreadyScattered(renamed),
      "alias chain back to the shuffled attribute is still scattered")
    // a 1-partition shuffle leaves no map-block cut points for the
    // skew split — not accepted as scattered
    assert(!Similarity.alreadyScattered(embs.repartition(1)),
      "single-partition round-robin is not splittable")
    assert(!Similarity.alreadyScattered(embs.repartition(1, col("vec_id"))),
      "single-partition hash shuffle is not splittable")
    def nRepart(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r
      }.size
    // guard active: scatter=true adds NO repartition beyond the caller's
    val a = Similarity.knnJoin(pre, pre, model, k = 5, nProbe = 2)
    val b = Similarity.knnJoin(pre, pre, model, k = 5, nProbe = 2,
      scatter = false)
    assert(nRepart(a) === nRepart(b), "guard must make scatter a no-op")
    // and on a raw scan the scatter still fires (one per leg) vs zero
    // with it disabled
    assert(nRepart(Similarity.knnJoin(embs, embs, model, k = 5,
      nProbe = 2)) === 2)
    assert(nRepart(Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2,
      scatter = false)) === 0)
    // pure layout change: the answer must not move
    assert(rows(a) === rows(Similarity.knnJoin(embs, embs, model,
      k = 5, nProbe = 2)))
  }

  test("retrievalNdcg: hand-traced geometry — perfect, zero, and " +
       "tie-broken partial rankings") {
    // 2-D fixture, ONE cell (k=1 quantizer) so ranking is exact:
    //   ids 0,1 label 0 at [1,0];  id 2 label 0 at [0.6,0.8]
    //   ids 3,4 label 1 at [0,1];  id 5 label 1 at [0.6,0.8]
    // k=3. Hand NDCG (d = 1000000, 630930, 500000; cum = 1000000,
    // 1630930, 2130930):
    //   q0/q1: top3 = (twin 1.0 rel1), (id2 0.6 rel1), (id5 0.6 rel0)
    //          → dcg d1+d2, R=2 → idcg d1+d2 → ndcg 1
    //   q2:    top3 = id5 (1.0 rel0), id3, id4 (0.8 rel0) → ndcg 0
    //   q3/q4: top3 = (twin 1.0 rel1), id2 (0.8 rel0, id-tiebreak over
    //          id5), id5 (0.8 rel1) → (d1+d3)/(d1+d2) = 0.9197…
    //   q5:    top3 = id2 (1.0 rel0), id3+id4 (0.8 rel1) →
    //          (d2+d3)/(d1+d2) = 0.6934…
    val fix = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.6f, 0.8f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1),
      (5L, Array(0.6f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val d = Similarity.ndcgDiscounts(3)
    assert(d === Seq(1000000L, 630930L, 500000L))
    val m1 = Similarity.kmeansFit(fix, k = 1, iters = 1)
    val out = Similarity.retrievalNdcg(fix, m1, k = 3, nProbe = 1)
      .as[(Int, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val n1 = math.rint(2e4 * 1500000.0 / 1630930 +
      1e4 * 1130930.0 / 1630930) / 3e4 // mean of the three, round 4
    assert(out(0) === ((3L, 2L * 1630930L, math.rint(2e4 / 3) / 1e4)))
    assert(out(1)._1 === 3L)
    assert(out(1)._2 === 2L * 1500000L + 1130930L)
    assert(math.abs(out(1)._3 - n1) < 2e-4, s"got ${out(1)._3} want ~$n1")
  }

  test("hardNegatives: no pair shares a label, and the candidate-stage " +
       "filter out-fills a post-filtered knnJoin") {
    val labels = embs.select(col("vec_id"), col("label")).as[(Long, Int)]
      .collect().toMap
    val hard = Similarity.hardNegatives(embs, model, k = 5, nProbe = 2)
      .select("q_id", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    assert(hard.nonEmpty)
    hard.foreach { case (q, v, _, _) =>
      assert(labels(q) !== labels(v), s"pair ($q, $v) shares a label")
    }
    // filtering AFTER a top-k would under-fill: nearest neighbors are
    // mostly same-label, so per-query hard-negative counts must be >=
    // the post-filter's everywhere and > somewhere
    val post = rows(Similarity.knnJoin(embs, embs, model, k = 5, nProbe = 2))
      .toSeq.filter { case (q, v, _, _) => labels(q) != labels(v) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val hardCnt = hard.groupBy(_._1).view.mapValues(_.size).toMap
    assert(hardCnt.keySet.forall(q =>
      hardCnt(q) >= post.getOrElse(q, 0)))
    assert(hardCnt.exists { case (q, n) => n > post.getOrElse(q, 0) })
  }
}
