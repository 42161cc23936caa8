package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, EventAnalytics}

/** Round-11 continuation operators: per-doc similar-top-k lookup, funnel
  * conversion, cohort retention, DSIR importance resampling.
  */
class Round11OpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // --- similarTopK -------------------------------------------------------

  test("similarTopK symmetrizes pairs and ranks by jaccard then neighbor") {
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 3L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val got = Dedup.similarTopK(pairs, k = 2)
      .select("doc_id", "rnk", "neighbor_id", "jaccard")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (1L, 1, 2L, 0.9), (1L, 2, 3L, 0.8),
      (2L, 1, 1L, 0.9), (2L, 2, 3L, 0.7),
      (3L, 1, 1L, 0.8), (3L, 2, 2L, 0.7)))
  }

  test("similarTopK breaks rounded-jaccard ties on the smaller neighbor id") {
    val pairs = Seq((1L, 3L, 0.5), (1L, 2L, 0.5)).toDF("id_a", "id_b", "jaccard")
    val got = Dedup.similarTopK(pairs, k = 1)
      .filter(col("doc_id") === 1L)
      .select("neighbor_id").as[Long].collect()
    assert(got.toSeq === Seq(2L))
  }

  test("similarTopK caps each doc's list at k and plans as WindowGroupLimit") {
    val pairs = (2L to 20L).map(i => (1L, i, 1.0 - i * 0.01))
      .toDF("id_a", "id_b", "jaccard")
    val q = Dedup.similarTopK(pairs, k = 3)
    assert(q.filter(col("doc_id") === 1L).count() === 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in plan:\n$plan")
  }

  // --- funnel ------------------------------------------------------------

  private val funnelEvents = Seq(
    // u1 converts all the way: view 10:00, click 11:30, purchase 13:30
    (1L, ts("2024-01-01 10:00:00"), "view"),
    (1L, ts("2024-01-01 11:30:00"), "click"),
    (1L, ts("2024-01-01 13:30:00"), "purchase"),
    // u2's click precedes its first view — must NOT count as converted
    (2L, ts("2024-01-01 09:00:00"), "click"),
    (2L, ts("2024-01-01 10:00:00"), "view"),
    // u2's purchase without any post-view click — must not count either
    (2L, ts("2024-01-01 12:00:00"), "purchase"),
    // u3 views only
    (3L, ts("2024-01-01 08:00:00"), "view"),
    // noise the funnel must ignore
    (1L, ts("2024-01-01 09:59:00"), "error")
  ).toDF("user_id", "ts", "event_type")

  test("funnel enforces strictly-after stage semantics") {
    val got = EventAnalytics.funnel(funnelEvents)
      .select("stage_idx", "stage", "n_users", "conv_from_prev",
        "avg_hours_from_prev")
      .as[(Int, String, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(got(0) === ((0, "view", 3L, None, None)))
    // only u1 clicks after its first view; 1.5 h from view to click
    assert(got(1) === ((1, "click", 1L, Some(0.3333), Some(1.5))))
    // only u1 purchases after that click; 2 h from click to purchase
    assert(got(2) === ((2, "purchase", 1L, Some(1.0), Some(2.0))))
  }

  test("funnelWithin: the conversion window drops late stages without " +
       "re-anchoring, boundary is inclusive, wide window equals funnel") {
    // u1: view 10:00 → click 11:30 (1.5 h) → purchase 13:30 (2 h after
    // click). A 1.75-hour window keeps the click but drops the purchase.
    val got = EventAnalytics.funnelWithin(funnelEvents, maxGapHours = 1.75)
      .select("stage_idx", "n_users")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got === Seq(3L, 1L, 0L))
    // inclusive boundary: exactly 1.5 h still converts the click
    val edge = EventAnalytics.funnelWithin(funnelEvents, maxGapHours = 1.5)
      .select("stage_idx", "n_users")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(edge === Seq(3L, 1L, 0L))
    // just under: the click is outside the window
    val under = EventAnalytics.funnelWithin(funnelEvents, maxGapHours = 1.49)
      .select("stage_idx", "n_users")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(under === Seq(3L, 0L, 0L))
    // a window wider than every gap reproduces the unbounded funnel
    val wide = EventAnalytics.funnelWithin(funnelEvents, maxGapHours = 1e6)
      .collect().map(_.toSeq).toSet
    assert(wide === EventAnalytics.funnel(funnelEvents)
      .collect().map(_.toSeq).toSet)
  }

  test("funnel on an empty event stream reports zero users and NULL rates") {
    val empty = Seq.empty[(Long, Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(empty)
      .select("stage_idx", "n_users", "conv_from_prev")
      .as[(Int, Long, Option[Double])].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq === Seq(0L, 0L, 0L))
    assert(got.forall(_._3.isEmpty))
  }

  test("funnel plans window-free: aggregate cascade, no per-user buffering") {
    val plan = EventAnalytics.funnel(funnelEvents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"funnel must not buffer users through WindowExec:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      plan)
  }

  // --- retentionCohorts --------------------------------------------------

  test("retentionCohorts counts distinct active users per cohort offset") {
    val events = Seq(
      // u1 cohort Jan 1, active Jan 1 (twice — must dedup) and Jan 2
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-02 10:00:00"), "view"),
      // u2 cohort Jan 1, never returns
      (2L, ts("2024-01-01 12:00:00"), "view"),
      // u3 cohort Jan 2, returns Jan 4
      (3L, ts("2024-01-02 09:00:00"), "view"),
      (3L, ts("2024-01-04 09:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.retentionCohorts(events)
      .select(col("cohort_day").cast("string"), col("day_offset"),
        col("n_active"), col("n_cohort"), col("retention"))
      .as[(String, Int, Long, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      ("2024-01-01", 0, 2L, 2L, 1.0),
      ("2024-01-01", 1, 1L, 2L, 0.5),
      ("2024-01-02", 0, 1L, 1L, 1.0),
      ("2024-01-02", 2, 1L, 1L, 1.0)))
  }

  // --- importanceResample ------------------------------------------------

  test("importanceResample matches the closed-form log-ratio on a fixture") {
    val docs = Seq(
      (1L, "a a b", "src0"), // target
      (2L, "a a", "src1"),   // pool, target-like
      (3L, "c c", "src1")    // pool, target-unlike
    ).toDF("doc_id", "text", "source")
    val got = Curation.importanceStage(docs, "src0", n = 10).result
      .select("doc_id", "n_tokens", "avg_lr")
      .as[(Long, Long, Double)].collect()
    // vocab: a (t=2, r=2), b (t=1, r=0), c (t=0, r=2); tn=3 rn=4 v=3
    def lr(t: Long, r: Long): Double =
      math.log((t + 1) / 6.0) - math.log((r + 1) / 7.0)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._1).toSeq === Seq(2L, 3L)) // d2 outranks d3
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(2L) === ((2L, 2L, r4(lr(2, 2)))))
    assert(byId(3L) === ((3L, 2L, r4(lr(0, 2)))))
  }

  test("importanceResample excludes the target source and caps at n") {
    val docs = ((1L to 5L).map(i => (i, "a b c", "src0")) ++
      (6L to 20L).map(i => (i, s"a tok$i", "src1"))).toDF("doc_id", "text", "source")
    val got = Curation.importanceStage(docs, "src0", n = 7).result
    assert(got.count() === 7)
    assert(got.filter(col("source") === "src0").count() === 0)
  }

  test("importanceResample plans selection as a TakeOrdered heap") {
    val docs = (1L to 50L)
      .map(i => (i, s"a b tok$i", if (i <= 5) "src0" else "src1"))
      .toDF("doc_id", "text", "source")
    val q = Curation.importanceStage(docs, "src0", n = 5)
    val plan = q.result.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    q.unpersist()
  }

  test("importanceResample on a corpus with no pool docs returns empty") {
    val docs = Seq((1L, "a b", "src0")).toDF("doc_id", "text", "source")
    assert(Curation.importanceStage(docs, "src0").result.count() === 0)
  }

  test("transitionMatrix: exact counts, per-key reset, singletons drop") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // user 1: A→B→B→C; user 2: C→A; user 3: lone event (no pair)
    val events = Seq(
      (1L, ts(0), 10L, "A"), (1L, ts(1), 11L, "B"),
      (1L, ts(2), 12L, "B"), (1L, ts(3), 13L, "C"),
      (2L, ts(0), 20L, "C"), (2L, ts(1), 21L, "A"),
      (3L, ts(0), 30L, "A"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val out = graft.operators.EventAnalytics.transitionMatrix(events)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out === Map(
      ("A", "B") -> ((1L, 1L, 1.0)),
      ("B", "B") -> ((1L, 2L, 0.5)),
      ("B", "C") -> ((1L, 2L, 0.5)),
      ("C", "A") -> ((1L, 1L, 1.0))))
    // and the user-boundary pair (1's C → 2's C) must NOT exist: the
    // fold resets per key, so no ("C","C") row appears above
  }

  test("transitionMatrix is invariant to input partitioning") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    val events = (0 until 500).map { j =>
      (j % 13L, ts(j / 13), j.toLong, "t" + (j * 7 % 4))
    }.toDF("user_id", "ts", "event_id", "event_type")
    val one = graft.operators.EventAnalytics
      .transitionMatrix(events.repartition(1)).collect().map(_.toSeq).toSet
    val many = graft.operators.EventAnalytics
      .transitionMatrix(events.repartition(11)).collect().map(_.toSeq).toSet
    assert(one === many)
  }

  test("topPaths and transitionTiming: hand-traced trigrams, per-key " +
       "reset, exact mean gaps, partition invariance") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // user 1: A(0s) B(10s) B(40s) C(100s) → trigrams ABB, BBC;
    //   pairs A→B 10s, B→B 30s, B→C 60s
    // user 2: C(0s) A(5s) → pair C→A 5s, no trigram
    val events = Seq(
      (1L, ts(0), 10L, "A"), (1L, ts(10), 11L, "B"),
      (1L, ts(40), 12L, "B"), (1L, ts(100), 13L, "C"),
      (2L, ts(0), 20L, "C"), (2L, ts(5), 21L, "A"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val paths = graft.operators.EventAnalytics.topPaths(events, k = 5)
      .as[(String, String, String, Long)].collect().toSet
    assert(paths === Set(("A", "B", "B", 1L), ("B", "B", "C", 1L)))
    val timing = graft.operators.EventAnalytics.transitionTiming(events)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(timing === Map(
      ("A", "B") -> ((1L, 10.0)), ("B", "B") -> ((1L, 30.0)),
      ("B", "C") -> ((1L, 60.0)), ("C", "A") -> ((1L, 5.0))))
    val one = graft.operators.EventAnalytics
      .topPaths(events.repartition(1), 5).collect().map(_.toSeq).toSet
    val many = graft.operators.EventAnalytics
      .topPaths(events.repartition(7), 5).collect().map(_.toSeq).toSet
    assert(one === many)
  }

  test("attribution: hand-traced first/last credits with purchase reset, " +
       "direct conversions, ignored noise, and user boundaries") {
    def ts(s: Long) = new Timestamp(1700000000000L + s * 1000L)
    // user 1: view click [purchase] click [purchase] — seg1 f=view
    //   l=click; seg2 f=l=click
    // user 2: [purchase] (direct, no touch), then error view [purchase]
    //   — error ignored so seg2 f=l=view
    // user 3: view click, NO purchase → no credits at all
    val events = Seq(
      (1L, ts(0), 10L, "view"), (1L, ts(1), 11L, "click"),
      (1L, ts(2), 12L, "purchase"), (1L, ts(3), 13L, "click"),
      (1L, ts(4), 14L, "purchase"),
      (2L, ts(0), 20L, "purchase"), (2L, ts(1), 21L, "error"),
      (2L, ts(2), 22L, "view"), (2L, ts(3), 23L, "purchase"),
      (3L, ts(0), 30L, "view"), (3L, ts(1), 31L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val out = graft.operators.EventAnalytics.attribution(events)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out === Map(
      "view" -> ((2L, 1L)),      // first: u1 seg1 + u2 seg2; last: u2 seg2
      "click" -> ((1L, 2L)),     // first: u1 seg2; last: u1 seg1 + seg2
      "(direct)" -> ((1L, 1L)))) // u2's untouched first purchase
    // partition invariance (the fold's determinism claim)
    val one = graft.operators.EventAnalytics
      .attribution(events.repartition(1)).collect().map(_.toSeq).toSet
    val many = graft.operators.EventAnalytics
      .attribution(events.repartition(7)).collect().map(_.toSeq).toSet
    assert(one === many)
  }
}
