package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Round-10 operators: BM25 retrieval, Kneser-Ney bigram LM, cluster
  * survivor selection, cross-document shingle novelty.
  */
class Round10OpsSpec extends SparkSpecBase {
  import spark.implicits._

  // --- BM25 --------------------------------------------------------------

  test("bm25TopK matches a hand-computed Okapi score on a tiny corpus") {
    val docs = Seq(
      (1L, "dup alpha beta"),        // tf(dup)=1, dl=3
      (2L, "dup dup alpha"),         // tf(dup)=2, dl=3
      (3L, "alpha beta gamma delta") // tf(dup)=0, dl=4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopKStage(docs, Seq("dup"), topN = 3).result
      .select("doc_id", "score").as[(Long, Double)].collect().toMap

    val n = 3.0; val df_ = 2.0; val avgdl = 10.0 / 3.0
    val idf = math.log(1.0 + (n - df_ + 0.5) / (df_ + 0.5))
    def s(tf: Double, dl: Double) =
      BigDecimal(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === s(1, 3))
    assert(out(2L) === s(2, 3))
    assert(out(3L) === 0.0)
  }

  test("bm25TopK ranks higher-tf docs first at equal length and caps at topN") {
    val docs = (1L to 20L).map { i =>
      (i, (Seq.fill(i.toInt)("dup") ++ Seq.fill(21 - i.toInt)("pad")).mkString(" "))
    }.toDF("doc_id", "text") // all dl=21, tf(dup)=doc_id
    val got = TextAnalysis.bm25TopKStage(docs, Seq("dup"), topN = 5).result
      .select("doc_id").as[Long].collect()
    assert(got.toSeq === Seq(20L, 19L, 18L, 17L, 16L)) // monotone in tf
  }

  test("bm25TopK plan is a TakeOrdered heap, not a global sort") {
    val docs = (1L to 200L).map(i => (i, s"dup pad$i")).toDF("doc_id", "text")
    val q = TextAnalysis.bm25TopKStage(docs, Seq("dup")).result.queryExecution
    q.executedPlan.executeCollect() // drive AQE to the final plan
    val plan = q.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Sort ["), plan)
  }

  // --- Kneser-Ney --------------------------------------------------------

  test("lmScoreKneserNey matches the closed-form KN probability on a fixture") {
    // corpus bigrams: d1 "a b a b" -> (a,b)x2 (b,a)x1 ; d2 "a c" -> (a,c)x1
    // c1(a)=3 nf(a)=2 ; c1(b)=1 nf(b)=1 ; nr(a)=nr(b)=nr(c)=1 ; T=3
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreKneserNeyStage(docs).result
      .select("doc_id", "n_bigrams", "avg_nll").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val D = 0.75
    def p(c2: Double, c1: Double, nf: Double, nr: Double, t: Double) =
      (c2 - D) / c1 + ((D * nf) / c1) * (nr / t)
    val pAB = p(2, 3, 2, 1, 3)
    val pBA = p(1, 1, 1, 1, 3)
    val pAC = p(1, 3, 2, 1, 3)
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 === 3L)
    assert(out(1L)._2 === r4((2 * -math.log(pAB) + -math.log(pBA)) / 3.0))
    assert(out(2L)._1 === 1L)
    assert(out(2L)._2 === r4(-math.log(pAC)))
  }

  test("KN probabilities normalize: sum over the vocab is 1 per context") {
    // Σ_v p(v|u) = Σ_obs (c2−D)/c1 + (D·nf/c1)·Σ_v nr(v)/T
    //            = (c1 − D·nf)/c1 + D·nf/c1 = 1  (Σ_v nr(v) = T)
    val docs = Seq((1L, "x y x z y x"), (2L, "y z z x")).toDF("doc_id", "text")
    val toks = docs.collect().flatMap(_.getString(1).split(" "))
    val bgs = docs.collect().flatMap { r =>
      val t = r.getString(1).split(" "); t.sliding(2).map(a => (a(0), a(1)))
    }.toSeq
    val c2 = bgs.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val c1 = c2.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val nf = c2.groupBy(_._1._1).map { case (u, m) => u -> m.size.toDouble }
    val nr = c2.groupBy(_._1._2).map { case (v, m) => v -> m.size.toDouble }
    val t = c2.size.toDouble
    val vocab = toks.distinct
    for (u <- c1.keys) {
      val total = vocab.map { v =>
        val disc = c2.get((u, v)).map(c => (c - 0.75) / c1(u)).getOrElse(0.0)
        disc + ((0.75 * nf(u)) / c1(u)) * (nr.getOrElse(v, 0.0) / t)
      }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"context $u sums to $total")
    }
  }

  test("KN scores match a driver-side reference on a 100-doc corpus") {
    // deterministic pseudo-random corpus over a 12-word vocabulary
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l")
    def text(id: Long): String = {
      var x = id * 2654435761L + 1
      (0 until (5 + (id % 7).toInt)).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        vocab(((x >>> 33) % vocab.size).toInt)
      }.mkString(" ")
    }
    val rows = (1L to 100L).map(i => (i, text(i)))
    val docs = rows.toDF("doc_id", "text")

    // reference model from raw bigrams
    val bgs = rows.flatMap { case (id, t) =>
      t.split(" ").toSeq.sliding(2).collect { case Seq(u, v) => (id, u, v) }
    }
    val c2 = bgs.groupBy { case (_, u, v) => (u, v) }.map { case (k, g) => k -> g.size.toDouble }
    val c1 = c2.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val nf = c2.groupBy(_._1._1).map { case (u, m) => u -> m.size.toDouble }
    val nr = c2.groupBy(_._1._2).map { case (v, m) => v -> m.size.toDouble }
    val tt = c2.size.toDouble
    def p(u: String, v: String) =
      (c2((u, v)) - 0.75) / c1(u) + ((0.75 * nf(u)) / c1(u)) * (nr(v) / tt)
    val expect = rows.map { case (id, t) =>
      val bg = t.split(" ").toSeq.sliding(2).collect { case Seq(u, v) => (u, v) }.toSeq
      val nll = bg.map { case (u, v) => -math.log(p(u, v)) }.sum
      id -> BigDecimal(nll / bg.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap

    val got = TextAnalysis.lmScoreKneserNeyStage(docs).result
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    expect.foreach { case (id, e) =>
      assert(math.abs(got(id) - e) <= 0.0001, s"doc $id: got ${got(id)} want $e")
    }
  }

  test("docs under 2 tokens carry zero bigrams and NULL KN scores") {
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val rows = TextAnalysis.lmScoreKneserNeyStage(docs).result.collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) === 0L)
    assert(rows(1L).isNullAt(2) && rows(1L).isNullAt(3))
    assert(rows(2L).getLong(1) === 1L && !rows(2L).isNullAt(3))
  }

  // --- cluster survivors --------------------------------------------------

  test("clusterSurvivors keeps the highest-quality doc, min-id on ties") {
    val docs = Seq(
      (1L, "the and for dup dup dup dup dup"), // stopword-rich: higher quality
      (2L, "dup dup dup dup dup dup dup dup"),
      (3L, "same text here and the for"),
      (4L, "same text here and the for") // identical to 3 -> tie, min id wins
    ).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster")
    val out = Dedup.clusterSurvivors(labels, docs)
      .select("cluster", "survivor_id", "cluster_size")
      .as[(Long, Long, Long)].collect().map { case (c, s, z) => c -> ((s, z)) }.toMap

    val q = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    val expect1 = Seq(1L, 2L).maxBy(id => (q(id), -id))
    assert(out(1L) === ((expect1, 2L)))
    assert(out(3L) === ((3L, 2L))) // tie -> min doc_id
  }

  test("clusterSurvivors emits one row per cluster") {
    val docs = (1L to 30L).map(i => (i, s"text body number $i dup")).toDF("doc_id", "text")
    val labels = (1L to 30L).map(i => (i, i % 5)).toDF("doc_id", "cluster")
    val out = Dedup.clusterSurvivors(labels, docs)
    assert(out.count() === 5L)
    assert(out.select("cluster").distinct().count() === 5L)
  }

  // --- shingle novelty ----------------------------------------------------

  test("shingleNovelty scores shared vs unique shingles") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4"), // shingles: w1w2w3, w2w3w4
      (2L, "w2 w3 w4 w5"), // shingles: w2w3w4 (shared), w3w4w5
      (3L, "x y z"),       // one unique shingle
      (4L, "too short")    // no shingles -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.shingleNoveltyStage(docs).result
      .select("doc_id", "n_shingles", "n_unique", "novelty")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((1L, 1L, 1.0)))
    assert(!out.contains(4L))
  }

  test("within-doc repeated shingles count once (distinct at the source)") {
    val docs = Seq((1L, "r r r r r")).toDF("doc_id", "text")
    val out = TextAnalysis.shingleNoveltyStage(docs).result
      .select("n_shingles", "n_unique", "novelty")
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq === Seq((1L, 1L, 1.0)))
  }

  // --- quality percentile --------------------------------------------------

  test("qualityPercentile is the per-source midrank, ties sharing one value") {
    // srcA: 3 docs with distinct qualities -> pct (i-0.5)/3; srcB: 2
    // identical docs -> one tie group, pct (2-0.5*2)/2 = 0.5 for both
    val docs = Seq(
      (1L, "short", "srcA"),
      (2L, "the and for with dup spark window alpha beta gamma", "srcA"),
      (3L, "the and for", "srcA"),
      (4L, "same text here", "srcB"),
      (5L, "same text here", "srcB")
    ).toDF("doc_id", "text", "source")
    val out = graft.operators.Curation.qualityPercentileStage(docs).result
      .select("doc_id", "quality", "pctl").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val aSorted = Seq(1L, 2L, 3L).sortBy(id => out(id)._1)
    assert(out(aSorted(0))._2 === 0.1667) // (1-0.5)/3
    assert(out(aSorted(1))._2 === 0.5)
    assert(out(aSorted(2))._2 === 0.8333)
    assert(out(4L) === out(5L))
    assert(out(4L)._2 === 0.5)
  }

  test("qualityPercentile windows only touch the histogram, not the corpus") {
    val docs = (1L to 500L).map(i => (i, s"text $i dup and the", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val plan = graft.operators.Curation.qualityPercentileStage(docs).result
      .queryExecution.optimizedPlan.toString
    // the Window's child must be the (source, quality) aggregate, never
    // the raw docs relation
    val windowIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("Aggregate", windowIdx)
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"expected Window over Aggregate in:\n$plan")
  }

  // --- minhash calibration -------------------------------------------------

  test("minhashCalibration: identical docs estimate and measure J=1 exactly") {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((1L, text), (2L, text), (3L, "completely different words x y z"))
      .toDF("doc_id", "text")
    val rows = Dedup.minhashCalibrationStage(docs).result
      .select("id_a", "id_b", "est_jaccard", "jaccard", "abs_err")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(rows.exists(r => r._1 == 1L && r._2 == 2L &&
      r._3 == 1.0 && r._4 == 1.0 && r._5 == 0.0))
    assert(!rows.exists(r => r._2 == 3L || r._1 == 3L)) // no shared bands
  }

  test("minhashCalibration estimates are k-quantized and err is |est-exact|") {
    val docs = (1L to 40L).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      val tail = if (i % 2 == 0) Seq("even", "suffix") else Seq("odd", s"tail$i")
      (i, (base ++ tail).mkString(" "))
    }.toDF("doc_id", "text")
    val rows = Dedup.minhashCalibrationStage(docs).result
      .select("est_jaccard", "jaccard", "abs_err")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (est, ja, err) =>
      val m = math.round(est * Dedup.MinhashK)
      val grid = BigDecimal(m.toDouble / Dedup.MinhashK)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(est === grid,
        s"est $est is not round(m/${Dedup.MinhashK}, 4) for any m")
      assert(est >= 0.0 && est <= 1.0 && ja >= 0.0 && ja <= 1.0)
      assert(err === BigDecimal(math.abs(est - ja))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  // --- source overlap ------------------------------------------------------

  test("sourceOverlap counts cross-source and diagonal near-dup pairs") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, t1, "crawlA"), (2L, t1, "crawlB"),     // cross-source pair
      (3L, t2, "crawlB"), (4L, t2, "crawlB"),     // within-source pair
      (5L, "unrelated totally different words here now", "crawlA")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs)
      .as[(String, String, Long)].collect()
      .map { case (x, y, n) => (x, y) -> n }.toMap
    assert(out === Map(("crawlA", "crawlB") -> 1L, ("crawlB", "crawlB") -> 1L))
  }

  // --- top boilerplate -----------------------------------------------------

  test("topBoilerplate surfaces the dominant shingle with its doc share") {
    val docs = (1L to 10L).map(i => (i, s"the same prefix unique$i tail$i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.topBoilerplateStage(docs, topN = 3).result
      .orderBy(col("df").desc, col("shingle"))
      .as[(String, Long, Double)].collect()
    assert(out.length === 3)
    assert(out.head === (("the same prefix", 10L, 1.0)))
    // runner-up shingles each span 10 docs ("same prefix uniqueN" is
    // per-doc): df 1, share 0.1
    assert(out(1)._2 === 1L && out(1)._3 === 0.1)
  }

  // --- cross-family agreement ----------------------------------------------

  test("familyAgreement: identical docs are caught by both families") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, t), (2L, t), (3L, "entirely different other words here now"))
      .toDF("doc_id", "text")
    val row = Dedup.familyAgreement(docs)
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(row._1 === 1L && row._2 === 1L && row._3 === 1L)
    assert(row._4 === Some(1.0))
  }

  test("familyAgreement on an empty corpus is 0/0/0 with NULL jaccard") {
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val row = Dedup.familyAgreement(empty)
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(row === ((0L, 0L, 0L, None)))
  }

  // --- viral shingle alarm (streaming) -------------------------------------

  test("viralShingleAlarm fires once per finalized window, only above minDf") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val name = s"viral_${System.nanoTime()}"
    val q = graft.streaming.StreamingCuration
      .viralShingleAlarm(df, minDf = 3L, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // window [00:00, 01:00): 3 docs share "tpl boiler plate", one unique
      input.addData(
        (ts("2024-01-01 00:00:01"), 1L, "tpl boiler plate alpha"),
        (ts("2024-01-01 00:00:02"), 2L, "tpl boiler plate beta"),
        (ts("2024-01-01 00:00:03"), 3L, "tpl boiler plate gamma"),
        (ts("2024-01-01 00:00:04"), 4L, "different text entirely here"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 0) // window still open
      // advance the watermark past the window end
      input.addData((ts("2024-01-01 00:02:00"), 5L, "late mover"))
      q.processAllAvailable()
      val rows = spark.table(name).select("s_fp", "df")
        .as[(Long, Long)].collect().toSeq
      assert(rows.map(_._2) === Seq(3L)) // exactly one alarm, df=3
      // re-running processAllAvailable adds nothing (emit-once)
      q.processAllAvailable()
      assert(spark.table(name).count() === 1)
    } finally q.stop()
  }

  // --- degenerate inputs ---------------------------------------------------

  test("round-10 operators return cleanly on an empty corpus") {
    val empty = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    val emptySrc = spark.emptyDataset[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val emptyLabels = spark.emptyDataset[(Long, Long)].toDF("doc_id", "cluster")
    assert(TextAnalysis.bm25TopKStage(empty, Seq("dup")).result.count() === 0L)
    assert(TextAnalysis.lmScoreKneserNeyStage(empty).result.count() === 0L)
    assert(TextAnalysis.shingleNoveltyStage(empty).result.count() === 0L)
    assert(Dedup.clusterSurvivors(emptyLabels, empty).count() === 0L)
    assert(graft.operators.Curation.qualityPercentileStage(emptySrc).result
      .count() === 0L)
    assert(Dedup.minhashCalibrationStage(empty).result.count() === 0L)
    assert(Dedup.sourceOverlap(emptySrc).count() === 0L)
    assert(TextAnalysis.topBoilerplateStage(empty).result.count() === 0L)
  }
}
