package graft

import org.apache.spark.sql.functions._

import graft.operators.{QualityModel, Sketches, Stats, TextAnalysis, Validation}

/** VERDICT r18 #5: the SURVEY documents a small family of ratios that
  * deliberately stay DOUBLE — the transcendental-sum class (per-doc NLL,
  * PSI/KL, BM25/TF-IDF, HLL estimates, sigmoid probabilities) and
  * grouped-trend r² — claiming they live in an audited "≤ 1e-9
  * same-double" band where exact integer arithmetic is unreachable in
  * principle. This spec turns that audit into enforced properties: for
  * each family, a seeded fixture is evaluated by the REAL operator under
  * several partitionings and compared against a driver-side sequential
  * reference that spells the identical closed form (the same fixed-order
  * expression both engines evaluate).
  *
  * The rounded comparison can only witness the band where the reference
  * sits CLEAR of a rounding boundary: a value within ~1e-9 of a half
  * boundary legitimately rounds either way across summation orders (the
  * seed-7249 mechanism — exactly why these families are documented out
  * of the exact-arithmetic conversion). So each fixture value is
  * classified by its boundary margin: values ≥ 1e-7 clear (two orders
  * above the claimed band) must round IDENTICALLY under every
  * partitioning, or the same-double claim is false; the rare
  * near-boundary values (a 1e-4-grid fixture of ~100 random
  * transcendentals always contains a few — they are data, not noise)
  * are instead pinned to within ONE grid step, which a formula or
  * fold-order error would exceed but a legitimate boundary flip cannot.
  * A floor on the clear-margin count keeps the exact half of the check
  * from going vacuous.
  */
class DoubleRatioBoundarySpec extends SparkSpecBase {
  import spark.implicits._

  private val Parts = Seq(1, 3, 7)
  private val Margin = 1e-7

  private def roundAt(x: Double, d: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()

  /** |x − nearest d-decimal half boundary| — the margin that decides
    * whether the rounded comparison is immune to the ≤1e-9 ulp band.
    */
  private def boundaryMargin(x: Double, d: Int): Double = {
    val scaled = BigDecimal(java.math.BigDecimal.valueOf(x)) *
      BigDecimal(10).pow(d) - BigDecimal("0.5")
    (scaled - scaled.setScale(0, BigDecimal.RoundingMode.HALF_EVEN))
      .abs.toDouble / math.pow(10, d)
  }

  /** One reference value: rounded expectation + whether it sits clear
    * of the boundary (exact compare) or near it (one-grid-step pin).
    */
  private case class Ref(rounded: Double, clear: Boolean, d: Int) {
    def check(got: Double, what: String): Unit =
      if (clear)
        assert(got === rounded, s"$what: clear-margin value diverged")
      else
        assert(math.abs(got - rounded) <= 1.5 * math.pow(10.0, -d),
          s"$what: near-boundary value moved more than one grid step " +
            "— that is a formula error, not a boundary flip")
  }

  private def mkRef(x: Double, d: Int): Ref =
    Ref(roundAt(x, d), boundaryMargin(x, d) > Margin, d)

  /** The exact half of the check must keep teeth: at least 80% of the
    * fixture must sit clear of the boundary (seeded, so deterministic).
    */
  private def assertNotVacuous(refs: Iterable[Ref], what: String): Unit = {
    val clear = refs.count(_.clear)
    assert(clear * 5 >= refs.size * 4,
      s"$what: only $clear/${refs.size} fixture values clear the " +
        "boundary margin — regenerate the fixture")
  }

  test("unigram-LM NLL/perplexity: rounded outputs equal the sequential " +
       "reference under any partitioning (the sum-of-logs class)") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 30).map(i => s"w$i")
    val docs = (0L until 40L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    // sequential reference: identical closed form, arbitrary fixed order
    val allToks = docs.flatMap(_._2.split(" "))
    val cnt = allToks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = allToks.size.toLong
    val v = cnt.size.toLong
    val ref = docs.map { case (id, text) =>
      val toks = text.split(" ").toSeq
      val nll = toks.groupBy(identity).toSeq.sortBy(_._1).map {
        case (t, xs) =>
          xs.size * -math.log((cnt(t) + 1).toDouble / (n + v))
      }.sum
      val avg = nll / toks.size
      id -> ((mkRef(avg, 4), mkRef(math.exp(avg), 4)))
    }.toMap
    assertNotVacuous(ref.values.flatMap(p => Seq(p._1, p._2)), "lm nll")
    Parts.foreach { p =>
      val got = TextAnalysis.lmScoreStage(
        docs.toDF("doc_id", "text").repartition(p)).result
        .select("doc_id", "avg_nll", "ppl")
        .as[(Long, Double, Double)].collect()
      assert(got.length === docs.size)
      got.foreach { case (id, a, ppl) =>
        ref(id)._1.check(a, s"doc $id avg_nll at parts=$p")
        ref(id)._2.check(ppl, s"doc $id ppl at parts=$p")
      }
      spark.catalog.clearCache()
    }
  }

  test("PSI drift: rounded sum of (p_ref-p_cur)ln(p_ref/p_cur) equals " +
       "the sequential reference under any partitioning") {
    val rnd = new scala.util.Random(7)
    val buckets = (0 until 40).map(i => (5 + i % 3, i.toLong))
    def side(): Map[(Int, Long), Long] =
      buckets.filter(_ => rnd.nextInt(10) > 1)
        .map(b => b -> (1L + rnd.nextInt(500))).toMap
    val byG = Seq("ga", "gb").map(g => g -> (side(), side())).toMap
    val refRows = byG.toSeq.flatMap { case (g, (r, _)) =>
      r.toSeq.map { case ((blen, sub), c) => (g, blen, sub, c) }
    }
    val curRows = byG.toSeq.flatMap { case (g, (_, c)) =>
      c.toSeq.map { case ((blen, sub), cc) => (g, blen, sub, cc) }
    }
    val ref = byG.map { case (g, (r, c)) =>
      val union = (r.keySet ++ c.keySet).toSeq.sorted
      val nRef = r.values.sum; val nCur = c.values.sum
      val b = union.size
      val psi = union.map { k =>
        val pa = (r.getOrElse(k, 0L) + 1).toDouble / (nRef + b)
        val pb = (c.getOrElse(k, 0L) + 1).toDouble / (nCur + b)
        (pa - pb) * math.log(pa / pb)
      }.sum
      g -> mkRef(psi, 4)
    }
    assertNotVacuous(ref.values, "psi")
    Parts.foreach { p =>
      val got = Validation.psiFromSketches(
        refRows.toDF("g", "blen", "sub", "cnt").repartition(p),
        curRows.toDF("g", "blen", "sub", "cnt").repartition(p))
        .select("g", "psi").as[(String, Double)].collect().toMap
      assert(got.keySet === ref.keySet, s"parts=$p")
      got.foreach { case (g, x) => ref(g).check(x, s"group $g at parts=$p") }
      spark.catalog.clearCache()
    }
  }

  test("BM25: rounded fixed-order score equals the sequential reference " +
       "under any partitioning") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 20).map(i => s"t$i")
    val terms = Seq("t1", "t3", "t7")
    val docs = (0L until 60L).map { id =>
      (id, Seq.fill(4 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val k1 = TextAnalysis.Bm25K1; val b = TextAnalysis.Bm25B
    val dls = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
    val tfs = docs.map { case (id, t) =>
      id -> terms.map(q => t.split(" ").count(_ == q).toLong)
    }.toMap
    val nDocs = docs.size.toLong
    val avgdl = dls.values.sum.toDouble / nDocs
    val dfs = terms.indices.map(i => tfs.values.count(_(i) > 0).toLong)
    val ref = docs.map { case (id, _) =>
      val score = terms.indices.map { i =>
        val idf = math.log(1.0 + (nDocs - dfs(i) + 0.5) / (dfs(i) + 0.5))
        val tf = tfs(id)(i).toDouble
        idf * ((tf * (k1 + 1.0)) /
          (tf + k1 * ((1.0 - b) + b * (dls(id) / avgdl))))
      }.sum
      id -> mkRef(score, 4)
    }.toMap
    assertNotVacuous(ref.values, "bm25")
    Parts.foreach { p =>
      val got = TextAnalysis.bm25TopKStage(
        docs.toDF("doc_id", "text").repartition(p), terms,
        topN = docs.size).result
        .select("doc_id", "score").as[(Long, Double)].collect().toMap
      assert(got.keySet === ref.keySet, s"parts=$p")
      got.foreach { case (id, x) => ref(id).check(x, s"doc $id at parts=$p") }
      spark.catalog.clearCache()
    }
  }

  test("HLL estimate: the per-group double chain over exact registers " +
       "equals the sequential reference (both correction branches)") {
    val rnd = new scala.util.Random(3)
    // ga: sparse registers (zeros > 0, low-range correction branch);
    // gb: all 256 present (raw branch)
    val rows =
      (0 until 90).map(i => ("ga", i, 1 + rnd.nextInt(12))) ++
        (0 until 256).map(i => ("gb", i, 1 + rnd.nextInt(20)))
    val m = Sketches.HllM
    val ref = rows.groupBy(_._1).map { case (g, rs) =>
      val sPresent = rs.map(r => 1L << (53 - r._3)).sum
      val nPresent = rs.size
      val s = (sPresent + (m - nPresent).toLong * (1L << 53)) / math.pow(2, 53)
      val zeros = m - nPresent
      val raw = Sketches.HllAlpha * (m.toDouble * m) / s
      val est = if (raw <= 2.5 * m && zeros > 0)
        m.toDouble * math.log(m.toDouble / zeros)
      else raw
      g -> mkRef(est, 4)
    }
    assertNotVacuous(ref.values, "hll")
    Parts.foreach { p =>
      val got = Sketches.hllEstimate(
        rows.toDF("g", "bucket", "m").repartition(p))
        .select("g", "est").as[(String, Double)].collect().toMap
      assert(got.keySet === ref.keySet, s"parts=$p")
      got.foreach { case (g, x) => ref(g).check(x, s"group $g at parts=$p") }
      spark.catalog.clearCache()
    }
  }

  test("sigmoid probabilities: per-row logit/p_good equal the sequential " +
       "reference (fixed-order dot product + exp)") {
    val w = Seq(-1.2, 2.5, -3.5, 1.75)
    val dict = TextAnalysis.StopwordDicts.head._2
    val rnd = new scala.util.Random(13)
    val vocab = dict ++ Seq("cat", "dog", "runs.", "fast,", "x9")
    val docs = (0L until 50L).map { id =>
      (id, Seq.fill(2 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val ref = docs.map { case (id, text) =>
      val lowered = text.toLowerCase
      val toks = text.split(" ", -1)
      val nChars = text.length
      val nPunct = lowered.count(c => !(c.isDigit || c == ' ' ||
        (c >= 'a' && c <= 'z')))
      val nStop = lowered.split(" ", -1).count(dict.contains)
      val x = Seq(1.0,
        math.min(toks.length / 100.0, 1.0),
        if (nChars > 0) nPunct.toDouble / nChars else 0.0,
        math.min(nStop.toDouble / toks.length * 5.0, 1.0))
      val z = w.zip(x).map { case (wi, xi) => wi * xi }.reduce(_ + _)
      id -> ((mkRef(z, 4), mkRef(1.0 / (1.0 + math.exp(-z)), 4)))
    }.toMap
    assertNotVacuous(ref.values.flatMap(p => Seq(p._1, p._2)), "sigmoid")
    Parts.foreach { p =>
      val got = QualityModel.scoreDocs(
        docs.toDF("doc_id", "text").repartition(p), w)
        .select("doc_id", "logit", "p_good")
        .as[(Long, Double, Double)].collect()
      assert(got.length === docs.size)
      got.foreach { case (id, z, pg) =>
        ref(id)._1.check(z, s"doc $id logit at parts=$p")
        ref(id)._2.check(pg, s"doc $id p_good at parts=$p")
      }
      spark.catalog.clearCache()
    }
  }

  test("grouped-trend r²: the double chain over exact decimal operands " +
       "equals the BigInt reference under any partitioning") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 200).map { i =>
      (s"g${i % 4}",
        new java.sql.Timestamp((Stats.TrendEpochOrigin +
          1000L + rnd.nextInt(500000)) * 1000L),
        (1000 + rnd.nextInt(800000)) / 100.0)
    }
    val ref = rows.groupBy(_._1).map { case (g, rs) =>
      val xy = rs.map { case (_, ts, value) =>
        (BigInt(ts.getTime / 1000L - Stats.TrendEpochOrigin),
          BigInt(math.round(value * 100)))
      }
      val n = BigInt(xy.size)
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val num = n * sxy - sx * sy
      val denx = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      val r2 = num.toDouble * num.toDouble / (denx.toDouble * deny.toDouble)
      g -> mkRef(r2, 6)
    }
    // the r² chain divides exact-integer-derived doubles, so its
    // fold-order band is one ulp of each operand — near-boundary groups
    // still get the one-grid-step pin rather than exclusion
    assertNotVacuous(ref.values, "r2")
    Parts.foreach { p =>
      val got = Stats.groupedTrend(rows.toDF("g", "ts", "value").repartition(p),
        col("g"), col("ts"), col("value"))
        .select("g", "r2").as[(String, Double)].collect().toMap
      assert(got.keySet === ref.keySet, s"parts=$p")
      got.foreach { case (g, x) => ref(g).check(x, s"group $g at parts=$p") }
      spark.catalog.clearCache()
    }
  }
}
