package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General relational operators with no instance in the reference
  * (SURVEY.md §2.13) — ranking windows, top-k, semi/anti joins, grouping
  * sets, distinct aggregates — provided over the TPC-H-ish tables so a
  * user of this engine gets the full relational surface, not just the
  * reference's topology.
  *
  * Scale notes: top-k-per-group goes through `row_number` over a
  * partitioned window, which Spark executes with `WindowGroupLimit`
  * (partial top-k before the shuffle — no full sort of the fact table);
  * semi/anti joins broadcast the key side when small; rollup is one pass
  * (Expand + partial aggregation), not one job per grouping set.
  */
object Relational {

  /** Top-k orders by revenue within each return flag: ranking window +
    * limit-per-group (rank pushdown at scale).
    */
  def topKRevenue(lineitem: DataFrame, k: Int): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_returnflag"), col("l_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
    rev.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The TPC-H Q5 shape — local-supplier volume per nation: six tables,
    * two join keys on the fact (order AND supplier), the
    * customer-nation = supplier-nation equality that correlates two
    * dimension paths, region restriction, a date range, and one
    * aggregate. The canonical Catalyst join-ordering stressor, and the
    * first gate to touch region/nation at all. Scale shape: region,
    * nation, supplier, customer are dimension-sized → AQE/stats
    * broadcast them down the fact scan (no hint: a forced broadcast of
    * a 100 TB-scale customer side would OOM); the date filter pushes
    * into the orders scan; lineitem is the only shuffled relation and
    * only if the customer side outgrows broadcast.
    */
  def regionalSupplierVolume(region: DataFrame, nation: DataFrame,
      customer: DataFrame, supplier: DataFrame, orders: DataFrame,
      lineitem: DataFrame, regionName: String,
      dateLo: String, dateHi: String): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === regionName &&
        col("o_orderdate") >= lit(dateLo).cast("timestamp") &&
        col("o_orderdate") < lit(dateHi).cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))

  /** Customers with no orders: anti join (NOT EXISTS). */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** Customers with at least one order: semi join (EXISTS), counted per
    * market segment.
    */
  def activeCustomersBySegment(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_active"))

  /** Quantity/price totals by (returnflag, linestatus) with ROLLUP
    * subtotals and grand total — one Expand pass, not one job per set.
    */
  def rollupTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))

  /** Exact distinct aggregates per group (count distinct parts/suppliers
    * per return flag).
    */
  def distinctCounts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** Exact continuous quantiles per group (median / p95, linear
    * interpolation — same definition as the oracle's quantile_cont).
    * `percentile` buffers each group in memory, so this form is for
    * moderate group sizes; [[approxQuantiles]] is the sketch default and
    * [[exactQuantilesTwoPassStage]] the bounded-memory EXACT path at scale.
    */
  def quantiles(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50_price"),
        round(percentile(col("l_extendedprice"), lit(0.95)), 4).as("p95_price"),
        round(percentile(col("l_discount"), lit(0.5)), 4).as("p50_disc"))

  /** Join-key distribution profile — the pre-flight skew diagnosis run
    * before any large join: total rows, distinct keys, the share of the
    * hottest key and of the top-k keys, and the Shannon entropy of the
    * key distribution (H = ln n − Σc·ln c / n, computed from the count
    * aggregate without materializing probabilities). top1_frac near 1
    * says "salt this join" ([[Skew]]); entropy near ln(n_distinct) says
    * the hash partitioner will balance.
    *
    * Shape: one count aggregate (map-side combining), a one-row moment
    * aggregate over it, and a top-k via TakeOrdered heaps — all relations
    * after the first aggregate are metadata-sized; the crossJoins are
    * one-row-by-one-row.
    */
  def profileKeysStage(df: DataFrame, keyCol: String,
                      topK: Int = 10): Stage = {
    // persisted: the distinct-key counts feed both the moment aggregate
    // and the top-k heap, so the input scans ONCE
    val counts = Stages.persisted(
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c")))
    val totals = counts.agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_distinct"),
      sum(col("c") * log(col("c").cast("double"))).as("clogc"))
    val top = counts.orderBy(col("c").desc, col("k").asc).limit(topK)
      .agg(max(col("c")).as("top1"), sum(col("c")).as("topk"))
    val result = totals.crossJoin(broadcast(top))
      .select(col("n"), col("n_distinct"),
        graft.functions.AggFunctions.ratioQ(
          col("top1"), col("n"), 4).as("top1_frac"),
        graft.functions.AggFunctions.ratioQ(
          col("topk"), col("n"), 4).as("topk_frac"),
        round(log(col("n").cast("double")) - col("clogc") / col("n"), 4)
          .as("entropy_nats"))
    Stage(result, Seq(counts))
  }

  /** EXACT quantiles with bounded memory — the distributed-exact path that
    * retires [[quantiles]]' buffer-the-group weakness without giving up
    * exactness (the [[approxQuantiles]] sketch stays the cheap default;
    * this is for the "exact p99, no excuses" ask).
    *
    * Two corpus passes, both pure aggregates (the q80 boundary-bucket
    * trick applied to quantiles):
    *  1. per-group (n, min, max), then a per-(group, bucket) histogram of
    *     `nBuckets` equal-width buckets — fixed-size state, map-side
    *     combining, never a sorted group in memory;
    *  2. only the buckets that CONTAIN a target rank (≤ 2·|ps| buckets
    *     per group, ~n/nBuckets rows each) are re-scanned and ranked by a
    *     window — the sort touches ~|ps|·n/nBuckets rows per group, not n.
    * The interpolation positions are Spark `percentile` / DuckDB
    * `quantile_cont` semantics: rank = p·(n−1), value = v⌊rank⌋ +
    * frac·(v⌈rank⌉ − v⌊rank⌋).
    *
    * All the small relations here (stats = #groups rows, targets =
    * 2·|ps|·#groups rows, target-bucket list) are bounded by group count,
    * not corpus size — the broadcasts are safe by construction, same
    * argument as the one-row stats relations elsewhere.
    *
    * Assumes non-NULL values: n = count(*) counts every row while NULLs
    * are unbucketable/unrankable, so a column with NULLs must be filtered
    * first (SQL `quantile_cont` silently skips NULLs — the two would
    * diverge otherwise).
    *
    * The #groups stats relation and the #groups×nBuckets histogram are
    * each consumed by several branches (bucketing, target positions, the
    * final join) — persisted, the input is scanned exactly three times
    * (stats, histogram build, boundary ranking); unpersisted, every
    * branch would re-scan to rebuild them. The cached relations are
    * metadata-sized, never input-sized.
    */
  def exactQuantilesTwoPassStage(df: DataFrame, groupCol: String,
                                 valCol: String, ps: Seq[Double],
                                 nBuckets: Int = 1000): Stage = {
    val g = col(groupCol)
    val stats = Stages.persisted(df.groupBy(g).agg(count(lit(1)).as("n"),
      min(col(valCol).cast("double")).as("mn"),
      max(col(valCol).cast("double")).as("mx")))
    // pass 1: equal-width bucket per row; degenerate all-equal groups
    // collapse to bucket 0
    val width = (col("mx") - col("mn")) / lit(nBuckets)
    val bucketed = df.select(g, col(valCol).cast("double").as("v"))
      .join(broadcast(stats), Seq(groupCol))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(nBuckets - 1L),
            floor((col("v") - col("mn")) / width))))
    val hist = bucketed.groupBy(g, col("bucket")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(g).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hc = Stages.persisted(hist.withColumn("cum_before",
      coalesce(sum(col("c")).over(wcum), lit(0L))))
    // target positions: ⌊p(n−1)⌋ and ⌈p(n−1)⌉ per (group, p)
    val targets = stats
      .select(g, col("n"), explode(typedlit(ps)).as("p"))
      .select(g, col("p"),
        posexplode(array(floor(col("p") * (col("n") - 1)),
          ceil(col("p") * (col("n") - 1)))))
      .withColumnRenamed("pos", "side").withColumnRenamed("col", "tpos")
    // which bucket holds each target position (join over the ≤
    // #groups·nBuckets histogram relation — metadata-sized)
    val tb = targets.join(hc, Seq(groupCol))
      .filter(col("tpos") >= col("cum_before") &&
        col("tpos") < col("cum_before") + col("c"))
      .select(g, col("p"), col("side"), col("tpos"),
        col("bucket"), col("cum_before"))
    val tbuckets = tb.select(g, col("bucket")).distinct()
    // pass 2: rank ONLY the target buckets; within-bucket order extends
    // the cross-bucket value order, and equal values are interchangeable
    val wrank = Window.partitionBy(g, col("bucket")).orderBy(col("v"))
    // picked is ≤ 2·|ps|·#groups rows but derives from the boundary-bucket
    // scan — persisted so the lo and hi branches don't each re-run it
    val picked = Stages.persisted(bucketed
      .join(broadcast(tbuckets), Seq(groupCol, "bucket"))
      .withColumn("rn", row_number().over(wrank))
      .join(broadcast(tb), Seq(groupCol, "bucket"))
      .filter(col("rn") - 1 === col("tpos") - col("cum_before"))
      .select(g, col("p"), col("side"), col("v")))
    val lo = picked.filter(col("side") === 0)
      .select(g, col("p"), col("v").as("vlo"))
    val hi = picked.filter(col("side") === 1)
      .select(g, col("p"), col("v").as("vhi"))
    val rank = col("p") * (col("n") - 1)
    val result = lo.join(hi, Seq(groupCol, "p"))
      .join(broadcast(stats.select(g, col("n"))), Seq(groupCol))
      .select(g, col("p"),
        round(col("vlo") + (rank - floor(rank)) * (col("vhi") - col("vlo")), 4)
          .as("q"))
    Stage(result, Seq(stats, hc, picked))
  }

  /** Approximate quantiles — the 100 TB path for [[quantiles]], whose exact
    * `percentile` buffers every group value (OOM at 100 TB group sizes).
    * `percentile_approx` is a bounded-memory Greenwald-Khanna sketch with
    * mergeable partial state (rank error <= 1/accuracy), so memory is
    * O(accuracy·log n) per group regardless of group size.
    *
    * The gate is hash-exact, so the sketch asserts itself in-band: exact
    * quantiles are emitted (and oracle-checked exactly) alongside integer
    * flags the oracle expects to be 1. The flag checks what GK actually
    * guarantees — RANK error, not value error (a value-relative tolerance
    * fails on heavy tails where one rank step is a large value step): the
    * approx value must lie within the exact quantile envelope
    * [percentile(p−δ), percentile(p+δ)], δ = `rankMargin`/`accuracy`.
    *
    * Margin analysis, by group size n (ADVICE r3):
    *  - n ≤ accuracy/2: below the 1/(2ε) compression threshold the sketch
    *    never compresses — it stores every value and returns an element at
    *    the exact target rank. But the interpolated envelope can then be
    *    NARROWER than one rank step (δ·(n−1) < 1), so the envelope test is
    *    vacuous noise, not a guarantee; the flag short-circuits to 1 in
    *    this provably-exact regime instead of interpolating spurious
    *    alarms.
    *  - n > accuracy/2: the envelope spans δ·(n−1) > rankMargin/2 − δ ≥ 4
    *    rank steps, comfortably wider than both the GK bound (εn ranks,
    *    10× safety via `rankMargin`) and the ±1-rank interpolation slack,
    *    so the flag is guaranteed true by the sketch's contract for ANY
    *    value distribution — it only trips if the implementation breaks
    *    its bound.
    */
  def approxQuantiles(lineitem: DataFrame, accuracy: Int = 10000,
                      rankMargin: Int = 10): DataFrame = {
    val d = rankMargin.toDouble / accuracy
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50_price"),
        round(percentile(col("l_extendedprice"), lit(0.95)), 4).as("p95_price"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(accuracy)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(accuracy)).as("a95"),
        percentile(col("l_extendedprice"), lit(0.5 - d)).as("lo50"),
        percentile(col("l_extendedprice"), lit(0.5 + d)).as("hi50"),
        percentile(col("l_extendedprice"), lit(0.95 - d)).as("lo95"),
        percentile(col("l_extendedprice"), lit(0.95 + d)).as("hi95"))
      .select(col("l_returnflag"), col("p50_price"), col("p95_price"),
        (col("n") <= lit(accuracy / 2) ||
          (col("a50") >= col("lo50") && col("a50") <= col("hi50")))
          .cast("int").as("p50_ok"),
        (col("n") <= lit(accuracy / 2) ||
          (col("a95") >= col("lo95") && col("a95") <= col("hi95")))
          .cast("int").as("p95_ok"))
  }

  /** Set operation: customers who ONLY place orders above the threshold —
    * EXCEPT (distinct by definition) over the two key sets.
    */
  def exclusivelyHighValueCustomers(orders: DataFrame, threshold: Double): DataFrame = {
    val high = orders.filter(col("o_totalprice") > threshold)
      .select(col("o_custkey").as("custkey"))
    val low = orders.filter(col("o_totalprice") <= threshold)
      .select(col("o_custkey").as("custkey"))
    high.except(low)
  }

  /** Set operation: customers with BOTH high and low orders — INTERSECT
    * over the two key sets (EXCEPT's sibling, same one-shuffle shape).
    */
  def mixedValueCustomers(orders: DataFrame, threshold: Double): DataFrame = {
    val high = orders.filter(col("o_totalprice") > threshold)
      .select(col("o_custkey").as("custkey"))
    val low = orders.filter(col("o_totalprice") <= threshold)
      .select(col("o_custkey").as("custkey"))
    high.intersect(low)
  }

  /** CUBE grouping sets (all four of {flag}×{status} subtotals in one
    * Expand pass) — completes the grouping-sets family next to
    * [[rollupTotals]].
    */
  def cubeTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))

  /** LEFT OUTER join + aggregate: every customer with their order count
    * and total, zero/0.0 for customers with no orders (count skips the
    * null-extended rows; the sum is coalesced identically in the oracle).
    */
  def customerOrderTotals(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(round(sum(col("o_totalprice")), 4), lit(0.0)).as("sum_price"))

  /** collect_list + deterministic ordering: per-customer CSV of rounded
    * order prices. collect_list's arrival order is nondeterministic, so
    * sort_array pins it; values are rounded to integer longs so the
    * string rendering is engine-portable.
    */
  def orderPricesCsv(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_custkey"))
      .agg(array_join(
        sort_array(collect_list(round(col("o_totalprice")).cast("long"))), ",")
        .as("prices_csv"))

  /** Analytic window functions over a running frame: per-customer running
    * total, previous-order price (lag), and quartile bucket (ntile) in
    * order-key order — the ranking/analytic/frame classes SURVEY §2.13
    * lists as absent from the reference.
    */
  def orderRunningStats(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("price"))
      .withColumn("running_total", round(sum(col("price")).over(running), 4))
      .withColumn("prev_price", coalesce(lag(col("price"), 1).over(w), lit(0.0)))
      .withColumn("quartile", ntile(4).over(w))
  }

  /** Date/time scalar functions: order counts per (year, month) — the
    * date-function class (extract/trunc) absent from the reference.
    */
  def ordersByMonth(orders: DataFrame): DataFrame =
    orders
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))

  /** Global top-N: ORDER BY + LIMIT executes as TakeOrderedAndProject —
    * each partition keeps a local N-row heap and only those heaps travel
    * to the driver, so there is NO full sort and NO full shuffle of the
    * table at any scale. Tie-broken on the key for determinism.
    */
  def globalTopOrders(orders: DataFrame, n: Int): DataFrame =
    orders
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(n)

  /** PIVOT: per-linestatus quantity columns per return flag, with an
    * explicit value list so the output schema is static (dynamic pivot
    * would need a discovery pass — an extra job at 100 TB; a fixed value
    * list keeps it one aggregation).
    */
  def pivotQuantities(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 4))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): per
    * customer, how many high-value orders exceed their low-value order
    * count (multiset difference) and how many are matched 1:1 by one
    * (multiset intersection). Spark plans both as aggregate-and-replicate
    * (Generate over per-key counts) — one shuffle each, no join of the raw
    * tables.
    */
  def bagSetOps(orders: DataFrame, threshold: Double): DataFrame = {
    val high = orders.filter(col("o_totalprice") > threshold)
      .select(col("o_custkey").as("custkey"))
    val low = orders.filter(col("o_totalprice") <= threshold)
      .select(col("o_custkey").as("custkey"))
    val ex = high.exceptAll(low).groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_except"))
    val ia = high.intersectAll(low).groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_intersect"))
    ex.join(ia, Seq("custkey"), "full_outer")
      .select(col("custkey"),
        coalesce(col("n_except"), lit(0L)).as("n_except"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
  }

  /** Statistical aggregates over exact integer moments. `l_quantity` and
    * `l_discount*100` are integer-valued, so Σx, Σx², Σxy are EXACT in
    * doubles (≪ 2^53) and the derived stddev/corr — computed by the same
    * explicit formula text in both engines — are bit-identical, which no
    * cross-engine pair of native one-pass implementations guarantees
    * (Welford-style update order differs). Spark's native `stddev_samp` /
    * `corr` are then asserted in-band against the exact-moment values
    * (flags the oracle expects to be 1), gating the native implementations
    * without exposing their last-ulp noise to the hash.
    */
  def statsAggregates(lineitem: DataFrame): DataFrame = {
    val q = col("l_quantity")
    val d = round(col("l_discount") * 100).cast("long").cast("double")
    val agged = lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(q).as("sum_q"), sum(q * q).as("sum_qq"),
        sum(d).as("sum_d"), sum(d * d).as("sum_dd"),
        sum(q * d).as("sum_qd"),
        stddev_samp(q).as("native_sd"),
        corr(q, d).as("native_corr"))
    val sdExact = sqrt((col("n") * col("sum_qq") - col("sum_q") * col("sum_q"))
      / (col("n") * (col("n") - lit(1.0))))
    val corrExact = (col("n") * col("sum_qd") - col("sum_q") * col("sum_d")) /
      (sqrt(col("n") * col("sum_qq") - col("sum_q") * col("sum_q")) *
        sqrt(col("n") * col("sum_dd") - col("sum_d") * col("sum_d")))
    agged.select(col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      round(sdExact, 6).as("sd_qty"),
      round(corrExact, 6).as("corr_qty_disc"),
      (abs(col("native_sd") - sdExact) <= lit(1e-9) * sdExact)
        .cast("int").as("sd_ok"),
      (abs(col("native_corr") - corrExact) <= lit(1e-9)).cast("int").as("corr_ok"))
  }

  /** Nested-JSON round trip: build a nested document (struct + array) with
    * `to_json`, read it back with `from_json` + `get_json_object`, and
    * emit the extracted values — the oracle is the identity (the plain
    * source columns), so the gate proves encode→decode loses nothing.
    * JSON stays a wire format: nothing downstream parses strings twice.
    */
  def jsonNestedRoundtrip(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val js = to_json(struct(
      col("o_custkey").as("ck"),
      struct(round(col("o_totalprice"), 4).as("tp")).as("n"),
      array(col("o_orderkey"), col("o_custkey")).as("arr")))
    val schema = StructType(Seq(
      StructField("ck", LongType),
      StructField("n", StructType(Seq(StructField("tp", DoubleType)))),
      StructField("arr", ArrayType(LongType))))
    orders.select(col("o_orderkey"), js.as("js"))
      .select(col("o_orderkey"),
        get_json_object(col("js"), "$.ck").cast("long").as("ck"),
        from_json(col("js"), schema).getField("n").getField("tp").as("tp"),
        from_json(col("js"), schema).getField("arr").getItem(1).as("arr1"))
  }

  /** Ranking-function battery over a window WITH real ties (the order key
    * is a coarse price bucket): rank / dense_rank / percent_rank /
    * cume_dist all have order-independent values under ties, so the gate
    * pins Spark's tie semantics against the oracle's, not just the happy
    * unique-key path. percent_rank = (rank−1)/(n−1) and cume_dist =
    * peers≤/n are exact small rationals — identical doubles both engines.
    */
  def rankFunctions(orders: DataFrame): DataFrame = {
    val bucket = floor(col("o_totalprice") / 10000).cast("long")
    val w = Window.partitionBy(year(col("o_orderdate")).as("yr"))
      .orderBy(bucket)
    orders.select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      bucket.as("bucket_price"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      round(percent_rank().over(w), 6).as("prnk"),
      round(cume_dist().over(w), 6).as("cdist"))
  }

  /** UNPIVOT (melt): the pivoted per-status quantity columns back to long
    * form — one Expand pass, the inverse of [[pivotQuantities]]. The
    * round trip (pivot → unpivot) is the gate: it must reproduce the
    * grouped aggregate exactly.
    */
  def unpivotQuantities(lineitem: DataFrame): DataFrame =
    pivotQuantities(lineitem)
      .select(col("l_returnflag"), col("qty_f").as("F"), col("qty_o").as("O"))
      .unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
        "l_linestatus", "sum_qty")

  /** MapType end-to-end: build a map from arrays, read it back with
    * element_at / map_keys / size — identity-oracled like the JSON round
    * trip, proving the map layer loses nothing.
    */
  def mapRoundtrip(orders: DataFrame): DataFrame = {
    val m = map_from_arrays(
      array(lit("price"), lit("cust")),
      array(round(col("o_totalprice"), 4), col("o_custkey").cast("double")))
    orders.select(col("o_orderkey"), m.as("m"))
      .select(col("o_orderkey"),
        element_at(col("m"), "price").as("price"),
        element_at(col("m"), "cust").cast("long").as("cust"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        size(col("m")).as("n_entries"))
  }

  /** HLL++ approximate distinct counts — the 100 TB path for
    * [[distinctCounts]]: exact count-distinct shuffles every distinct key;
    * the HLL sketch is fixed-size (relativeSD=0.05 → ~1.5 KB) and merges
    * map-side. Gated like [[approxQuantiles]]: exact counts are
    * oracle-checked, the sketch asserts itself in-band via a flag the
    * oracle expects to be 1.
    *
    * Margin analysis for the flag: HLL++ error is approximately Gaussian
    * with σ = relativeSD = 0.05, so the default `relTol` = 0.25 is a 5σ
    * envelope — P(exceed) < 1e-6 per group for ANY data distribution or
    * scale factor (vs the previous 0.15 = 3σ, whose ~0.3% tail could trip
    * the gate on unlucky data without the engine being wrong).
    */
  def approxDistinct(lineitem: DataFrame, relTol: Double = 0.25): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        approx_count_distinct(col("l_partkey"), 0.05).as("a_parts"))
      .select(col("l_returnflag"), col("n_parts"),
        (abs(col("a_parts") - col("n_parts")) <= lit(relTol) * col("n_parts"))
          .cast("int").as("hll_ok"))

  /** Explicit GROUPING SETS — the general form behind rollup (q25) and
    * cube (q37): the set list ((flag, status), (status), ()) is NOT a
    * rollup prefix chain, and `grouping_id()` disambiguates
    * aggregated-away NULLs from data NULLs (bit per grouping column,
    * first column most significant). Still ONE Expand pass + one
    * aggregate, like the rollup/cube specializations.
    */
  def groupingSetsTotals(lineitem: DataFrame): DataFrame =
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))

  /** Bloom-filter join pre-filter ([[graft.functions.BloomAgg]]): build a
    * bloom over the selective side's join keys (one fixed `numBits/8`-byte
    * buffer, map-side OR-merged), broadcast it, and probe the big side's
    * rows AT THE SCAN — rows that cannot join are dropped before the
    * shuffle the real join would pay. This is the explicit form of
    * runtime row-level filtering: at 100 TB the probe side never shuffles
    * its non-matching majority.
    *
    * The gate asserts the filter's contract in-band: `is_member` is the
    * exact semi-join bit (oracle-checked exactly), and `no_false_neg`
    * must be 1 on every row — a bloom NEVER misses a true member, for any
    * data, any merge order, any scale. (False positives are expected and
    * sized by numBits/numHashes; the spec checks the rate separately.)
    */
  def bloomSemiFilter(customer: DataFrame, orders: DataFrame, threshold: Double,
                      numBits: Int = 4096, numHashes: Int = 3): DataFrame = {
    import graft.functions.AggFunctions.{bloom_agg, bloom_might_contain}
    val hiKeys = orders.filter(col("o_totalprice") > threshold)
      .select(col("o_custkey"))
    // one row: safe to broadcast by construction (like the CMS sketch)
    val bloom = hiKeys.agg(bloom_agg(col("o_custkey"), numBits, numHashes).as("bf"))
    val members = hiKeys.distinct()
      .select(col("o_custkey").as("c_custkey"), lit(1).as("is_member"))
    val might = bloom_might_contain(col("bf"), col("c_custkey"), numBits, numHashes)
    customer.select(col("c_custkey"))
      .join(members, Seq("c_custkey"), "left")
      .na.fill(0, Seq("is_member"))
      .crossJoin(broadcast(bloom))
      .select(col("c_custkey"), col("is_member"),
        when(col("is_member") === 1, might.cast("int"))
          .otherwise(lit(1)).as("no_false_neg"))
  }

  /** The summary rollup shared by [[summaryApplyDelta]] (append path)
    * and [[summaryRebuildGroups]] (delete path).
    */
  private def summaryRollup(df: DataFrame, groupCols: Seq[String],
                            cntCol: String, sumCols: Map[String, String],
                            minCols: Map[String, String],
                            maxCols: Map[String, String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as(cntCol),
      (sumCols.map { case (b, m) => sum(col(b)).as(m) } ++
        minCols.map { case (b, m) => min(col(b)).as(m) } ++
        maxCols.map { case (b, m) => max(col(b)).as(m) }).toSeq: _*)

  /** The DELETE path [[summaryApplyDelta]] refuses, done the only way
    * min/max allow — recompute, but ONLY where something changed: the
    * groups named by `touched` (the delete set's distinct group keys, a
    * broadcast-sized relation) rebuild from the post-delete base slice
    * (a broadcast semi-join gate, so with partition/cluster keys among
    * the group columns the scan prunes to the touched slice); every
    * untouched group rides the stored artifact untouched. A group whose
    * rows were all deleted is absent from the rebuild and anti-joined
    * out of the artifact — it disappears, exactly like a recompute.
    */
  def summaryRebuildGroups(base: DataFrame, summary: DataFrame,
                           touched: DataFrame, groupCols: Seq[String],
                           cntCol: String, sumCols: Map[String, String],
                           minCols: Map[String, String] = Map.empty,
                           maxCols: Map[String, String] = Map.empty): DataFrame = {
    val t = broadcast(touched.select(groupCols.map(col): _*).distinct())
    val rebuilt = summaryRollup(
      base.join(t, groupCols, "left_semi"),
      groupCols, cntCol, sumCols, minCols, maxCols)
    summary.join(t, groupCols, "left_anti").unionByName(rebuilt)
  }

  /** Incremental maintenance of a pre-aggregated summary (the q188
    * materialized view) from an APPEND batch — the daily-job companion
    * to the MvRewrite rule, and the q128/q134 incremental-artifact
    * discipline applied to relational summaries: the new summary is the
    * old ARTIFACT merged with the delta's own rollup, so corpus-sized
    * data enters the plan exactly once (the delta scan); the stored
    * summary rides as group-cardinality rows.
    *
    * Merge laws, exact by construction for APPEND deltas:
    *  - count: additive, absent side contributes 0;
    *  - sum:   additive with SQL null semantics — null iff every value
    *    on BOTH sides was null (an absent side and an all-null side
    *    both arrive as null and must stay null only together);
    *  - min/max: least/greatest with null-skip (nulls mean "no values
    *    on that side", never "smaller than everything").
    *
    * DELETES are deliberately out of scope: count and sum are
    * decrementable, min/max are NOT (retracting the current minimum
    * needs the base data) — a delete-bearing feed routes to the q175
    * CDC apply against the base and a summary REBUILD of the touched
    * groups. Refusing here keeps the exactness claim honest.
    */
  def summaryApplyDelta(summary: DataFrame, delta: DataFrame,
                        groupCols: Seq[String], cntCol: String,
                        sumCols: Map[String, String],
                        minCols: Map[String, String] = Map.empty,
                        maxCols: Map[String, String] = Map.empty): DataFrame = {
    val gcs = groupCols.map(col)
    val dRoll = summaryRollup(delta, groupCols, cntCol, sumCols,
      minCols, maxCols)
    def side(df: DataFrame, tag: String): DataFrame =
      (Seq(cntCol) ++ sumCols.values ++ minCols.values ++ maxCols.values)
        .foldLeft(df)((d, c) => d.withColumnRenamed(c, s"${c}_$tag"))
    def merged(c: String, add: Boolean): Column = {
      val (l, r) = (col(s"${c}_s"), col(s"${c}_d"))
      if (add)
        when(l.isNull && r.isNull, lit(null))
          .otherwise(coalesce(l, lit(0L)) + coalesce(r, lit(0L))).as(c)
      else when(l.isNull, r).when(r.isNull, l).otherwise(least(l, r)).as(c)
    }
    def mergedMax(c: String): Column = {
      val (l, r) = (col(s"${c}_s"), col(s"${c}_d"))
      when(l.isNull, r).when(r.isNull, l).otherwise(greatest(l, r)).as(c)
    }
    side(summary, "s").join(side(dRoll, "d"), groupCols, "full_outer")
      .select(gcs ++
        Seq(coalesce(col(s"${cntCol}_s"), lit(0L)) +
          coalesce(col(s"${cntCol}_d"), lit(0L))).map(_.as(cntCol)) ++
        sumCols.values.map(c => merged(c, add = true)) ++
        minCols.values.map(c => merged(c, add = false)) ++
        maxCols.values.map(mergedMax): _*)
  }
}
