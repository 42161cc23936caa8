package graft

import java.math.RoundingMode
import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import org.apache.spark.sql.functions.col

import graft.operators.Solar

/** Property tests (SURVEY.md §5.4): the engine's windowed aggregates,
  * rounded-mean variance, and z-filter match a direct Scala computation of
  * the reference semantics (`SolarModuleAggregator.java:32-41`,
  * `SolarPanelAggregator.java:45-59`, `SolarConsumer.java:198-201`) on
  * random inputs.
  */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val Base = 1704067200L // 2024-01-01T00:00:00Z

  private case class Ev(off: Int, panel: String, module: String, power: Double)

  private val genEv: Gen[Ev] = for {
    off <- Gen.choose(0, 120)
    panel <- Gen.oneOf("p1", "p2", "p3")
    module <- Gen.oneOf("1", "2", "3", "4")
    power <- Gen.chooseNum(-100.0, 100.0)
  } yield Ev(off, panel, module, power)

  private val genEvents: Gen[List[Ev]] = Gen.nonEmptyListOf(genEv)

  private def toDf(evs: List[Ev]) =
    evs.map(e => (new Timestamp((Base + e.off) * 1000L), e.panel, e.module.toLong, e.power))
      .toDF("ts", "event_type", "user_id", "value")

  private def round1(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(1, RoundingMode.HALF_UP).doubleValue()

  /** Reference fold, computed directly: (w,panel,module) → (cnt, sum). */
  private def refModuleAgg(evs: List[Ev]): Map[(Long, String, String), (Long, Double)] =
    evs.groupBy(e => (Base + e.off - (Base + e.off) % 30, e.panel, e.module))
      .map { case (k, g) => k -> (g.size.toLong, g.map(_.power).sum) }

  private def approx(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15).withMaxSize(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("windowed module aggregate equals the floor(ts/30) reference fold") {
    check(Prop.forAll(genEvents) { evs =>
      val got = Solar.moduleAgg(toDf(evs))
        .select("w_start", "panel", "module", "m_cnt", "m_sum_power")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)) ->
          (r.getLong(3), r.getDouble(4))).toMap
      val ref = refModuleAgg(evs)
      got.keySet == ref.keySet && ref.forall { case (k, (cnt, sum)) =>
        got(k)._1 == cnt && approx(got(k)._2, sum)
      }
    })
  }

  test("variance/deviance equal the reference's rounded-mean computation") {
    check(Prop.forAll(genEvents) { evs =>
      val m = refModuleAgg(evs) // (w, panel, module) -> (cnt, sum)
      val ref = m.groupBy { case ((w, p, _), _) => (w, p) }.map { case ((w, p), g) =>
        val sums = g.values.map(_._2).toList
        val avgR = round1(sums.sum / sums.size)
        val squares = sums.map(s => math.pow(s - avgR, 2)).sum
        val variance = squares / sums.size
        (w, p) -> (variance, round1(math.sqrt(variance)))
      }
      val got = Solar.panelAgg(Solar.moduleWindowAgg(Solar.normalize(toDf(evs))))
        .select(Solar.windowStart, col("panel"), col("variance"), col("deviance"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      got.keySet == ref.keySet && ref.forall { case (k, (v, d)) =>
        approx(got(k)._1, v) && got(k)._2 == d
      }
    })
  }

  test("as-of join matches brute force on random data with time collisions") {
    // small time domain forces equal-time ties; the property pins the
    // <=-inclusive, max-tiebreak semantics of AsOf.asOfJoin
    case class R(k: String, t: Long, id: Long)
    val genRows: Gen[(List[R], List[R])] = for {
      n <- Gen.choose(1, 25); m <- Gen.choose(1, 25)
      lks <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 12L)))
      rks <- Gen.listOfN(m, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 12L)))
    } yield (
      lks.zipWithIndex.map { case ((k, t), i) => R(k, t, i.toLong) },
      rks.zipWithIndex.map { case ((k, t), i) => R(k, t, 1000L + i) })
    check(Prop.forAll(genRows) { case (ls, rs) =>
      val left = ls.map(r => (r.k, r.t, r.id)).toDF("k", "t", "lid")
      val right = rs.map(r => (r.k, r.t, r.id, r.id * 10.0)).toDF("k", "t", "rid", "px")
      val got = graft.operators.AsOf
        .asOfJoin(left, right, Seq("k"), "t", "rid", Seq("rid", "px"))
        .select("lid", "rid").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      val expected = ls.map { l =>
        val c = rs.filter(r => r.k == l.k && r.t <= l.t)
        l.id -> (if (c.isEmpty) None
                 else Some(c.maxBy(r => (r.t, r.id)).id))
      }.toMap
      got == expected
    })
  }

  test("simhash64 pigeonhole: hamming<=3 pairs always share a 16-bit block") {
    // the invariant q31's bucketing depends on — losing it would silently
    // drop pairs at any scale
    val genDoc: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))
    check(Prop.forAll(Gen.listOfN(12, genDoc)) { docLists =>
      val df = docLists.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val fps = graft.operators.Dedup.simhash(df)
        .as[(Long, Long)].collect().toMap
      fps.values.toList.combinations(2).forall { case List(a, b) =>
        val h = java.lang.Long.bitCount(a ^ b)
        h > 3 || (0 until 4).exists(bi => ((a >> (bi * 16)) & 0xffff) == ((b >> (bi * 16)) & 0xffff))
      }
    })
  }

  test("punct_count equals the regex formulation on random unicode strings") {
    import org.apache.spark.sql.functions._
    val genStr: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', '!', ',', '.', '?', '¿', '的', 'é', '\t', '\n')))
      .map(_.mkString)
    check(Prop.forAll(Gen.listOfN(20, genStr)) { strs =>
      val df = strs.toDF("text")
      val kernel = df.select(
        graft.functions.TextFunctions.punct_count(lower(col("text"))).as("n"))
        .as[Int].collect().toSeq
      val regex = df.select(
        size(regexp_extract_all(lower(col("text")), lit("[^a-z0-9 ]"), lit(0))).as("n"))
        .as[Int].collect().toSeq
      kernel == regex
    })
  }

  test("word_chunks stride arithmetic matches a direct Scala computation") {
    import org.apache.spark.sql.functions.col
    val genToks: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.oneOf("aa", "b", "cc", "d", "e"))
    val genParams: Gen[(Int, Int)] = for {
      n <- Gen.choose(1, 6); s <- Gen.choose(1, n)
    } yield (n, s)
    check(Prop.forAll(genToks, genParams) { case (toks, (n, s)) =>
      val text = toks.mkString(" ")
      val got = Seq(text).toDF("text")
        .select(graft.functions.TextFunctions.word_chunks(col("text"), n, s))
        .as[Seq[String]].head()
      val len = toks.length
      val nChunks = if (len <= n) 1 else 1 + (len - n + s - 1) / s
      val want = (0 until nChunks)
        .map(i => toks.slice(i * s, math.min(i * s + n, len)).mkString(" "))
      got == want
    })
  }

  test("span dedup: exact whole-doc copies always score dup_frac 1.0") {
    val genDoc: Gen[List[String]] = Gen.nonEmptyListOf(
      Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6"))
    check(Prop.forAll(Gen.listOfN(4, genDoc)) { docLists =>
      // docs 0..3 unique-ish, docs 10..13 exact copies of them
      val rows = docLists.zipWithIndex.flatMap { case (ws, i) =>
        Seq((i.toLong, ws.mkString(" ")), (i + 10L, ws.mkString(" ")))
      }
      val out = graft.operators.Dedup
        .spanDedupStage(rows.toDF("doc_id", "text"), spanTokens = 3,
          stride = 1).result
        .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
      // every doc has an exact twin, so every span is shared: frac 1.0
      out.values.forall(_ === 1.0)
    })
  }

  test("anomaly verdicts match Java double z-score semantics (Inf/NaN edges)") {
    check(Prop.forAll(genEvents) { evs =>
      val m = refModuleAgg(evs)
      val verdicts = m.groupBy { case ((w, p, _), _) => (w, p) }.flatMap {
        case ((w, p), g) =>
          val sums = g.map { case ((_, _, mod), (_, s)) => mod -> s }
          val avgR = round1(sums.values.sum / sums.size)
          val squares = sums.values.map(s => math.pow(s - avgR, 2)).sum
          val deviance = round1(math.sqrt(squares / sums.size))
          sums.collect {
            // the reference's exact predicate, Java double division:
            case (mod, s) if math.abs(s - avgR) / deviance > Solar.Z => (w, p, mod)
          }
      }.toSet
      val got = Solar.pipeline(toDf(evs))
        .select("w_start", "panel", "module")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      got == verdicts
    })
  }

  // --- round-12 operator invariants (fixed corpus, swept parameters:
  // each property is a containment/partition law that must hold for ANY
  // input, checked across a parameter range on the sf0.001 corpus) ---

  test("mixToTargets selection grows monotonically with the budget") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val targets = Map("src0" -> 0.5, "src1" -> 0.5)
    // whole-bucket takes and the boundary running sum are both prefix
    // conditions in the budget: raising it can only ADD documents
    val sels = Seq(200L, 600L, 1200L, 2400L).map { b =>
      graft.operators.Curation.mixToTargets(corpus, targets, b)
        .select("doc_id").as[Long].collect().toSet
    }
    sels.sliding(2).foreach { case Seq(small, big) =>
      assert(small.subsetOf(big),
        s"budget increase dropped docs: ${small -- big}")
    }
    spark.catalog.clearCache()
  }

  test("decontamination flags shrink monotonically as the shingle widens") {
    // a shared n-shingle contains shared (n-1)-shingles, so the
    // contaminated set at n+1 is always a subset of the set at n
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pool = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val flagged = Seq(3, 4, 5, 6).map { n =>
      graft.operators.Dedup.decontaminationReport(pool, bench, n)
        .filter(col("contaminated") === 1)
        .select("doc_id").as[Long].collect().toSet
    }
    flagged.sliding(2).foreach { case Seq(narrow, wide) =>
      assert(wide.subsetOf(narrow),
        s"widening the shingle flagged NEW docs: ${wide -- narrow}")
    }
    spark.catalog.clearCache()
  }

  test("mergeCorpus output ids partition as existing ∪ incoming, classes disjoint") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source")
    for (k <- Seq(2, 3, 7)) {
      val existing = docs.filter(col("doc_id") % k =!= 0)
      val incoming = docs.filter(col("doc_id") % (k + 1) === 0)
      val out = graft.operators.Curation.mergeCorpus(existing, incoming)
        .select("doc_id", "change").as[(Long, String)].collect()
      val exIds = existing.select("doc_id").as[Long].collect().toSet
      val inIds = incoming.select("doc_id").as[Long].collect().toSet
      // exactly one row per id in the union, never more
      assert(out.map(_._1).toSet === (exIds ++ inIds))
      assert(out.length === (exIds ++ inIds).size)
      // class laws: carry = existing-only; insert = incoming-only;
      // rewrite/refresh = the intersection
      val byClass = out.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1).toSet }
      assert(byClass.getOrElse("carry", Set.empty) === (exIds -- inIds))
      assert(byClass.getOrElse("insert", Set.empty) === (inIds -- exIds))
      assert((byClass.getOrElse("rewrite", Set.empty) ++
        byClass.getOrElse("refresh", Set.empty)) === (exIds & inIds))
    }
    spark.catalog.clearCache()
  }

  test("mean4 is partitioning-invariant and exact on micros-grid values") {
    // the property round(avg(x), 4) LACKS (fuzz seed 3153): the result
    // must not depend on how rows are split across partitions, and for
    // inputs on the 1e-6 grid it must equal the exact rational mean
    // rounded at 4 — computed here in BigDecimal, no doubles in the
    // expected path
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 1 + rnd.nextInt(200)
      // cents-scale values, the 2-dp testdata shape (exact on the grid)
      val cents = Seq.fill(n)(rnd.nextInt(2000000) - 500000)
      val xs = cents.map(c => c / 100.0)
      val expected = cents.map(c => BigDecimal(c))
        .sum./(BigDecimal(100) * n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val results = Seq(1, 3, 32).map { p =>
        xs.toDF("x").repartition(p)
          .agg(graft.functions.AggFunctions.mean4(col("x")).as("m"))
          .head().getDouble(0)
      }
      assert(results.distinct.size === 1,
        s"trial $trial: partitioning changed mean4: $results")
      assert(results.head === expected,
        s"trial $trial: mean4=${results.head} exact=$expected")
    }
    // nulls drop from numerator and denominator, exactly like avg
    val withNulls = Seq(Some(1.0), None, Some(2.0), None)
      .toDF("x")
      .agg(graft.functions.AggFunctions.mean4(col("x"))).head().getDouble(0)
    assert(withNulls === 1.5)
    spark.catalog.clearCache()
  }

  test("meanQ rounds the TRUE rational at exact half boundaries " +
       "(fuzz seed 7249's fixture)") {
    // eight c_acctbal values summing to 40054270000 micros: the true
    // mean is 5006.78375 EXACTLY (on the 4-dp half boundary) while the
    // nearest double is below it — round-of-double answered .7837 or
    // .7838 depending on the engine's round definition; the exact
    // integer spelling must give the rational's HALF_UP, .7838, under
    // any partitioning
    val vals = Seq(5006.78, 5006.78, 5006.78, 5006.78,
      5006.78, 5006.78, 5006.80, 5006.79) // sum 40054.27 → mean 5006.78375
    assert(vals.map(v => math.round(v * 100).toLong).sum * 10000L ===
      40054270000L) // fixture sanity: the seed's exact micros sum
    Seq(1, 3, 8).foreach { p =>
      val m = vals.toDF("x").repartition(p)
        .agg(graft.functions.AggFunctions.mean4(col("x")))
        .head().getDouble(0)
      assert(m === 5006.7838, s"partitions=$p")
    }
    // the d=1 twin at a .05 boundary: mean 7.25 → 7.3 (away from zero),
    // and -7.25 → -7.3
    val up = Seq(7.2, 7.3).toDF("x")
      .agg(graft.functions.AggFunctions.meanQ(col("x"), 1))
      .head().getDouble(0)
    assert(up === 7.3)
    val dn = Seq(-7.2, -7.3).toDF("x")
      .agg(graft.functions.AggFunctions.meanQ(col("x"), 1))
      .head().getDouble(0)
    assert(dn === -7.3)
    spark.catalog.clearCache()
  }

  test("MicrosSumAgg (meanQ's int128 micros sum): carry across the long " +
       "boundary, negative sums, NaN skip, all-null groups") {
    // two 8e12 values: the micros sum is 1.6e19 > Long.MaxValue — only a
    // correct 128-bit carry gives the exact mean back
    def m4(xs: Seq[java.lang.Double], parts: Int = 3): Option[Double] = {
      val r = xs.toDF("x").repartition(parts)
        .agg(graft.functions.AggFunctions.mean4(col("x"))).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    Seq(1, 7, 32).foreach { p =>
      assert(m4(Seq(8e12, 8e12), p) === Some(8e12), s"parts=$p")
      assert(m4(Seq(-8e12, -8e12), p) === Some(-8e12), s"parts=$p")
      assert(m4(Seq(8e12, -8e12), p) === Some(0.0), s"parts=$p")
    }
    // NaN rows are skipped by the SUM but counted by count(c) — the
    // declarative round(NaN)→null→sum-skip semantics, replicated
    assert(m4(Seq(1.5, Double.NaN, 1.5)) === Some(1.0))
    // all-null and all-NaN groups yield null, like sum
    assert(m4(Seq(null, null)) === None)
    assert(m4(Seq(Double.NaN)) === None)
    spark.catalog.clearCache()
  }

  test("MicrosSumAgg domain edge: in-domain magnitudes stay exact, " +
       "out-of-domain raises instead of saturating, infinities skip") {
    def m4(xs: Seq[java.lang.Double]): Option[Double] = {
      val r = xs.toDF("x").repartition(3)
        .agg(graft.functions.AggFunctions.mean4(col("x"))).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    // just INSIDE the domain on both sides: |x·1e6| = 9.2e18 < 2^63
    assert(m4(Seq(9.2e12, 9.2e12)) === Some(9.2e12))
    assert(m4(Seq(-9.2e12, -9.2e12)) === Some(-9.2e12))
    // just OUTSIDE: |x·1e6| ≥ 2^63 — Math.round would silently clamp at
    // ±Long.MaxValue where the replaced decimal spelling stayed exact;
    // the guard must raise, not accumulate a wrong sum
    Seq(1e13, -1e13, 9.3e12, -9.3e12).foreach { bad =>
      val e = intercept[org.apache.spark.SparkException] {
        m4(Seq(bad, 1.0))
      }
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain(e).exists(c => c.isInstanceOf[ArithmeticException] &&
        c.getMessage.contains("micros_sum domain overflow")), s"x=$bad: $e")
    }
    // ±Infinity skips like NaN (declarative: cast(∞ as decimal) → null →
    // sum skips, count still counts the row)
    assert(m4(Seq(1.5, Double.PositiveInfinity, 1.5)) === Some(1.0))
    assert(m4(Seq(1.5, Double.NegativeInfinity, 1.5)) === Some(1.0))
    assert(m4(Seq(Double.PositiveInfinity, Double.NegativeInfinity)) === None)
    spark.catalog.clearCache()
  }

  test("ratioQ: exact HALF_UP at boundary rationals, sign, zero and " +
       "null denominators") {
    import graft.functions.AggFunctions.ratioQ
    // 1/160 = 0.00625 exactly on the 4-dp boundary but NOT binary-
    // representable — the double-round class the exact spelling closes
    val rows = Seq[(Long, Long)]((1L, 160L), (-1L, 160L), (1L, -160L),
      (3L, 8L), (7L, 0L)).toDF("a", "b")
      .select(ratioQ(col("a"), col("b"), 4).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(rows(0) === Some(0.0063)) // half up
    assert(rows(1) === Some(-0.0063)) // away from zero
    assert(rows(2) === Some(-0.0063)) // sign from either operand
    assert(rows(3) === Some(0.375)) // binary-exact stays exact
    assert(rows(4) === None) // b = 0 → null (the NULLIF discipline)
    // null operands propagate
    val n = Seq[(Option[Long], Option[Long])]((None, Some(2L)),
      (Some(2L), None)).toDF("a", "b")
      .select(ratioQ(col("a"), col("b"), 4)).collect()
    assert(n.forall(_.isNullAt(0)))
    // agrees with BigDecimal HALF_UP of the exact rational on a sweep
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(300)((rnd.nextInt(20001) - 10000).toLong ->
      (1L + rnd.nextInt(25000)))
    val got = cases.toDF("a", "b")
      .select(ratioQ(col("a"), col("b"), 4)).collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b), g) =>
      val exact = (BigDecimal(a) / BigDecimal(b))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(g === exact, s"$a/$b")
    }
    spark.catalog.clearCache()
  }
}
