package graft

import graft.operators.{Relational, Windows}

class RelationalSpec extends SparkSpecBase {
  import spark.implicits._

  test("topKRevenue keeps k per group ordered by revenue with id tie-break") {
    val li = Seq(
      ("A", 1L, 100.0, 0.0), ("A", 2L, 200.0, 0.0), ("A", 3L, 150.0, 0.0),
      ("A", 4L, 50.0, 0.0), ("R", 9L, 10.0, 0.5)
    ).toDF("l_returnflag", "l_orderkey", "l_extendedprice", "l_discount")
    val out = Relational.topKRevenue(li, k = 2)
      .select("l_returnflag", "l_orderkey", "rank")
      .as[(String, Long, Int)].collect().toSet
    assert(out === Set(("A", 2L, 1), ("A", 3L, 2), ("R", 9L, 1)))
  }

  test("semi/anti joins partition the customer set") {
    val c = Seq((1L, "S1"), (2L, "S1"), (3L, "S2")).toDF("c_custkey", "c_mktsegment")
    val o = Seq((10L, 1L)).toDF("o_orderkey", "o_custkey")
    val anti = Relational.customersWithoutOrders(c, o)
      .select("c_custkey").as[Long].collect().toSet
    assert(anti === Set(2L, 3L))
    val semi = Relational.activeCustomersBySegment(c, o)
      .as[(String, Long)].collect().toSet
    assert(semi === Set(("S1", 1L)))
  }

  test("rollup emits detail, subtotal, and grand-total rows") {
    val li = Seq(("A", "F", 1.0, 10.0), ("A", "O", 2.0, 20.0), ("R", "F", 3.0, 30.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    val rows = Relational.rollupTotals(li).collect()
    assert(rows.length === 3 + 2 + 1) // details + per-flag subtotals + total
    val grand = rows.find(r => r.isNullAt(0) && r.isNullAt(1)).get
    assert(grand.getDouble(3) === 6.0)
  }

  test("except keeps only exclusively-high-value customers") {
    val o = Seq((1L, 100.0), (1L, 400.0), (2L, 500.0), (3L, 50.0))
      .toDF("o_custkey", "o_totalprice")
    val out = Relational.exclusivelyHighValueCustomers(o, threshold = 250.0)
      .as[Long].collect().toSet
    assert(out === Set(2L)) // 1 has a low order too, 3 has none high
  }

  test("sliding windows assign each event to exactly two 60s/30s windows") {
    val ev = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:40"), "p1", 1L, 5.0))
      .toDF("ts", "event_type", "user_id", "value")
    val w = Windows.slidingAgg(ev).select("w_start").as[Long].collect().sorted
    // event epoch 1704067240 -> windows starting 00:00:00 and 00:00:30
    assert(w.toSeq === Seq(1704067200L, 1704067230L))
  }

  test("outer join keeps customers with no orders at count 0 / sum 0.0") {
    val c = Seq((1L, "x"), (2L, "y")).toDF("c_custkey", "c_name")
    val o = Seq((10L, 1L, 100.0)).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Relational.customerOrderTotals(c, o)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 1L, 100.0), (2L, 0L, 0.0)))
  }

  test("collect csv pins ordering regardless of arrival order") {
    val o = Seq((1L, 1L, 300.4), (2L, 1L, 100.6), (3L, 1L, 200.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Relational.orderPricesCsv(o).as[(Long, String)].collect().toSet
    assert(out === Set((1L, "101,200,300"))) // rounded longs, ascending
  }

  test("running window stats: cumulative sum, lag with 0 default, quartiles") {
    val o = Seq((1L, 9L, 10.0), (2L, 9L, 20.0), (3L, 9L, 30.0), (4L, 9L, 40.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Relational.orderRunningStats(o)
      .select("o_orderkey", "running_total", "prev_price", "quartile")
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 10.0, 0.0, 1), (2L, 30.0, 10.0, 2),
      (3L, 60.0, 20.0, 3), (4L, 100.0, 30.0, 4)))
  }

  test("global top-n plans as TakeOrderedAndProject and orders correctly") {
    val o = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val df = Relational.globalTopOrders(o, 5)
    assert(df.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    val prices = df.select("o_totalprice").as[Double].collect()
    assert(prices.length === 5 && prices.sameElements(prices.sortBy(-_)))
  }

  test("unpivot retains NULL measure cells (pinned: q63 oracle mirrors this)") {
    import spark.implicits._
    // flag B never ships status O -> its pivoted qty_o is NULL; the
    // unpivoted long form must still carry the (B, O, NULL) row
    val li = Seq(("A", "F", 1.0), ("A", "O", 2.0), ("B", "F", 3.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val out = Relational.unpivotQuantities(li)
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(out === Set(
      ("A", "F", Some(1.0)), ("A", "O", Some(2.0)),
      ("B", "F", Some(3.0)), ("B", "O", None)))
  }

  test("approx distinct lands within tolerance of exact (flags all 1)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val out = Relational.approxDistinct(li).select("hll_ok").as[Int].collect()
    assert(out.nonEmpty && out.forall(_ === 1))
  }

  test("cube emits all four grouping sets") {
    val li = Seq(("A", "F", 1.0), ("A", "O", 2.0), ("R", "F", 3.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
    val out = Relational.cubeTotals(li)
      .select("l_returnflag", "l_linestatus", "n_rows", "sum_qty").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out.contains((None, None, 3L, 6.0)))            // grand total
    assert(out.contains((Some("A"), None, 2L, 3.0)))       // by flag
    assert(out.contains((None, Some("F"), 2L, 4.0)))       // by status (cube-only)
    assert(out.contains((Some("A"), Some("O"), 1L, 2.0)))  // full detail
  }

  test("intersect finds customers present in both order-value classes") {
    val o = Seq((1L, 100.0), (1L, 400.0), (2L, 500.0), (3L, 50.0))
      .toDF("o_custkey", "o_totalprice")
    val out = Relational.mixedValueCustomers(o, threshold = 250.0)
      .as[Long].collect().toSet
    assert(out === Set(1L)) // only customer 1 has both high and low orders
  }

  test("approx quantiles land within tolerance of exact (flags all 1)") {
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val out = Relational.approxQuantiles(li)
      .select("p50_ok", "p95_ok").as[(Int, Int)].collect()
    assert(out.nonEmpty && out.forall { case (a, b) => a === 1 && b === 1 })
  }

  test("profileKeys: uniform keys read as balanced, a hot key reads as skewed") {
    val uniform = (1 to 400).map(i => (i % 8, "x")).toDF("k", "v")
    val u = Relational.profileKeysStage(uniform, "k").result
      .select("n", "n_distinct", "top1_frac", "entropy_nats")
      .as[(Long, Long, Double, Double)].head()
    assert(u === ((400L, 8L, 0.125, // each key 1/8 of rows
      BigDecimal(math.log(8)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // 393 rows on one key, 7 singletons: the salt-this-join signature
    val hot = ((1 to 393).map(_ => (0, "x")) ++ (1 to 7).map(i => (i, "x")))
      .toDF("k", "v")
    val h = Relational.profileKeysStage(hot, "k").result
      .select("top1_frac", "entropy_nats").as[(Double, Double)].head()
    assert(h._1 === 0.9825 && h._2 < 0.2)
  }

  test("two-pass exact quantiles equal percentile on adversarial groups") {
    // all-equal group, singleton group, heavy ties, negatives, and a
    // spread group wider than the bucket count
    val rows =
      (1 to 40).map(i => ("eq", 7.0)) ++
        Seq(("one", 3.25)) ++
        (1 to 30).map(i => ("tie", if (i <= 15) 1.0 else 2.0)) ++
        (1 to 50).map(i => ("neg", -i * 13.7)) ++
        (1 to 200).map(i => ("wide", i * 997.0))
    val df = rows.toDF("g", "v")
    val got = Relational
      .exactQuantilesTwoPassStage(df, "g", "v", Seq(0.5, 0.95),
        nBuckets = 8).result
      .select("g", "p", "q").as[(String, Double, Double)].collect()
      .map { case (g, p, q) => (g, p) -> q }.toMap
    import org.apache.spark.sql.functions.{lit, percentile, round}
    val want = df.groupBy($"g")
      .agg(round(percentile($"v", lit(0.5)), 4).as("a"),
        round(percentile($"v", lit(0.95)), 4).as("b"))
      .select("g", "a", "b").as[(String, Double, Double)].collect()
      .flatMap { case (g, a, b) => Seq((g, 0.5) -> a, (g, 0.95) -> b) }.toMap
    assert(got === want)
  }

  test("ohlc candles: open/close by event order with id tie-break on equal ts") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // bucket 00:00: open=5 (earliest), close=2 (latest by (ts, id):
      // two events share 00:50:00, id 4 wins)
      (1L, ts("2024-01-01 00:10:00"), 1L, "t", 5.0, ""),
      (2L, ts("2024-01-01 00:20:00"), 1L, "t", 9.0, ""),
      (3L, ts("2024-01-01 00:50:00"), 1L, "t", 1.0, ""),
      (4L, ts("2024-01-01 00:50:00"), 1L, "t", 2.0, ""),
      // bucket 01:00, different user: singleton candle
      (5L, ts("2024-01-01 01:05:00"), 2L, "t", 7.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.Windows.ohlcDownsample(ev)
      .select("user_id", "w_start", "open", "high", "low", "close", "n_events")
      .as[(Long, Long, Double, Double, Double, Double, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    val h1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00").getTime / 1000
    assert(out((1L, h0)) === ((1L, h0, 5.0, 9.0, 1.0, 2.0, 4L)))
    assert(out((2L, h1)) === ((2L, h1, 7.0, 7.0, 7.0, 7.0, 1L)))
  }

  test("gap filling generates missing buckets and carries the last " +
    "observation forward") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (ts("2024-01-01 00:10:00"), 1L, 4.0),
      (ts("2024-01-01 00:20:00"), 1L, 6.0),   // same bucket -> avg 5.0
      (ts("2024-01-01 03:30:00"), 1L, 9.0),   // 2 missing buckets before
      (ts("2024-01-01 05:00:00"), 2L, 1.0))   // other user: single bucket
      .toDF("ts", "user_id", "value")
    val out = Windows.gapFillLocf(ev)
      .select("user_id", "b_start", "v_filled", "is_gap")
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    // user 1: 4 buckets from 00 to 03 — observed, gap, gap, observed
    assert(out((1L, h0)) === ((5.0, 0)))
    assert(out((1L, h0 + 3600)) === ((5.0, 1)))  // LOCF
    assert(out((1L, h0 + 7200)) === ((5.0, 1)))  // LOCF
    assert(out((1L, h0 + 10800)) === ((9.0, 0)))
    // user 2: span is one bucket, no gaps generated
    assert(out((2L, h0 + 18000)) === ((1.0, 0)))
    assert(out.size === 5)
    // non-default bucket: the aggregation and the grid step share the
    // one parameter (review r13: the grid was once hardcoded hourly)
    val q = Windows.gapFillLocf(ev, bucketSec = 900L)
      .select("user_id", "b_start", "is_gap")
      .as[(Long, Long, Int)].collect()
    val u1 = q.filter(_._1 == 1L)
    // 00:00 (obs), 00:15 (obs), then gaps every 900s up to 03:30
    assert(u1.length === 15 && u1.count(_._3 == 0) === 3)
    assert(u1.map(_._2).sorted.toSeq === (0 until 15).map(h0 + _ * 900L))
  }

  test("gap filling survives an outlier span: the grid is chunked, " +
    "never one unbounded sequence") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // chunk-boundary exactness first: a span crossing several chunks with
    // a TINY chunkLen must produce the identical grid as the default
    // (no duplicate, no dropped bucket at any boundary)
    val ev = Seq(
      (ts("2024-01-01 00:00:30"), 1L, 2.0),
      (ts("2024-01-01 00:03:10"), 1L, 4.0),  // 00:03 bucket at 10s grain
      (ts("2024-01-01 00:07:55"), 1L, 8.0))
      .toDF("ts", "user_id", "value")
    def rows(chunk: Long) =
      Windows.gapFillLocf(ev, bucketSec = 10L, chunkLen = chunk)
        .select("user_id", "b_start", "v_filled", "is_gap")
        .as[(Long, Long, Double, Int)].collect().sortBy(_._2).toSeq
    val chunked = rows(4)       // 45 buckets over ~12 chunks
    assert(chunked === rows(65536L))
    assert(chunked.length === 45 && chunked.map(_._2).distinct.length === 45)
    // adversarial span (ADVICE r13): ONE user with a decade of history at
    // a 60 s bucket — 5.26 M grid buckets. The un-chunked form builds the
    // whole span as a single array (and dies outright past Spark's max
    // array length); the chunked grid completes cleanly.
    val decade = Seq(
      (ts("2014-01-01 00:00:00"), 9L, 1.0),
      (ts("2024-01-01 00:00:00"), 9L, 5.0))
      .toDF("ts", "user_id", "value")
    val out = Windows.gapFillLocf(decade, bucketSec = 60L)
    val expected = (ts("2024-01-01 00:00:00").getTime
      - ts("2014-01-01 00:00:00").getTime) / 60000L + 1L
    val agg = out.agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.countDistinct($"b_start"),
      org.apache.spark.sql.functions.sum($"is_gap")).head
    assert(agg.getLong(0) === expected)      // dense: every bucket present
    assert(agg.getLong(1) === expected)      // and exactly once
    assert(agg.getLong(2) === expected - 2L) // all but the two observed
  }

  test("session windows split on the inactivity gap") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (ts("2024-01-01 00:00:00"), "x", 1L, 1.0),
      (ts("2024-01-01 00:30:00"), "x", 1L, 2.0),  // same session (gap 30m < 1h)
      (ts("2024-01-01 02:00:00"), "x", 1L, 3.0))  // new session (gap 90m)
      .toDF("ts", "event_type", "user_id", "value")
    val out = Windows.sessionAgg(ev).select("cnt", "sum_value")
      .as[(Long, Double)].collect().toSet
    assert(out === Set((2L, 3.0), (1L, 3.0)))
  }

  test("summaryApplyDelta: merge laws incl. null semantics equal the " +
       "one-shot recompute on every group shape") {
    import org.apache.spark.sql.functions._
    // group shapes: a = both sides; b = summary-only; c = delta-only;
    // n = all-null sums on one side, values on the other;
    // z = all-null on BOTH sides (sum must STAY null)
    val prior = Seq(
      ("a", Some(1L), 10L), ("a", Some(2L), 20L),
      ("b", Some(5L), 50L),
      ("n", None: Option[Long], 70L),
      ("z", None: Option[Long], 90L)).toDF("g", "x", "k")
    val delta = Seq(
      ("a", Some(3L), 5L),
      ("c", Some(7L), 60L),
      ("n", Some(4L), 80L),
      ("z", None: Option[Long], 95L)).toDF("g", "x", "k")
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("x")).as("sum_x"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
    val merged = graft.operators.Relational.summaryApplyDelta(
        summarize(prior), delta, Seq("g"), "cnt",
        Map("x" -> "sum_x"), Map("k" -> "min_k"), Map("k" -> "max_k"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val full = summarize(prior.unionByName(delta))
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(merged === full)
    // the laws, spelled out: z's sum stays NULL; n's sum is 4 (the
    // all-null side contributes nothing, not a fake 0)
    assert(merged("z")(1) == null)
    assert(merged("n") === Seq(2L, 4L, 70L, 80L))
  }

  test("summaryRebuildGroups: touched groups recompute (incl. a " +
       "min/max retraction), a fully-deleted group disappears, " +
       "untouched groups ride the artifact") {
    import org.apache.spark.sql.functions._
    val base = Seq(("a", 1L), ("a", 9L), ("b", 5L), ("b", 6L), ("c", 3L))
      .toDF("g", "x")
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("cnt"),
        sum(col("x")).as("sum_x"), min(col("x")).as("min_x"),
        max(col("x")).as("max_x"))
    val artifact = summarize(base)
    // delete a's max (9 — the retraction q189 cannot do) and ALL of c
    val remaining = base.filter(!(col("g") === "a" && col("x") === 9L) &&
      col("g") =!= "c")
    val touched = Seq(("a", 0L), ("c", 0L)).toDF("g", "x").select("g")
    val out = graft.operators.Relational.summaryRebuildGroups(
        remaining, artifact, touched, Seq("g"), "cnt",
        Map("x" -> "sum_x"), Map("x" -> "min_x"), Map("x" -> "max_x"))
      .collect().map(_.toSeq).toSet
    assert(out === summarize(remaining).collect().map(_.toSeq).toSet)
    // spelled out: a's max retracted to 1, c gone, b untouched
    val m = out.map(s => s.head -> s.tail).toMap
    assert(m("a") === Seq(1L, 1L, 1L, 1L))
    assert(m("b") === Seq(2L, 11L, 5L, 6L))
    assert(!m.contains("c"))
  }
}
