package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.plans.MvCatalog

/** Pins the materialized-view rollup rule (q188): exactness vs the base
  * computation, the plan actually reading the VIEW files, preserved
  * output ids/types (the count coalesce), and every documented
  * stand-down. The catalog is cleaned per test — a leaked registration
  * would silently rewrite other suites' aggregates.
  */
class MvRewriteSpec extends SparkSpecBase {
  import spark.implicits._

  private def scannedFiles(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withMv[T](f: (String, String) => T): T = {
    val root = Bridge.tempDir("graft_mv_spec_")
    val base = s"$root/base"
    val mv = s"$root/mv"
    // base: (g, sub, x) with a group ("b", "v") that sums to null-free
    // longs and one value column
    Seq(("a", "u", 1L), ("a", "u", 2L), ("a", "v", 3L),
      ("b", "v", 10L), ("b", "v", 20L))
      .toDF("g", "sub", "x").write.parquet(base)
    spark.read.parquet(base)
      .groupBy(col("g"), col("sub"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .write.parquet(mv)
    MvCatalog.registerParquet(spark, "spec_mv", base, mv,
      groupCols = Set("g", "sub"), cntCol = "cnt",
      sumCols = Map("x" -> "sum_x"), minCols = Map("x" -> "min_x"),
      maxCols = Map("x" -> "max_x"))
    try f(base, mv) finally MvCatalog.unregister("spec_mv")
  }

  test("rollup fires: reads the view, not the base, and is exact") {
    withMv { (base, mv) =>
      val q = spark.read.parquet(base).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          min(col("x")).as("mn"), max(col("x")).as("mx"))
      val plan = scannedFiles(q)
      assert(plan.contains(mv), s"expected view scan in:\n$plan")
      assert(!plan.contains(base), s"base must not be scanned:\n$plan")
      val out = q.as[(String, Long, Long, Long, Long)].collect().toSet
      assert(out === Set(("a", 3L, 6L, 1L, 3L), ("b", 2L, 30L, 10L, 20L)))
    }
  }

  test("exact-grouping query (all view group cols) also rolls up") {
    withMv { (base, mv) =>
      val q = spark.read.parquet(base).groupBy(col("g"), col("sub"))
        .agg(count(lit(1)).as("n"))
      assert(scannedFiles(q).contains(mv))
      assert(q.as[(String, String, Long)].collect().toSet ===
        Set(("a", "u", 2L), ("a", "v", 1L), ("b", "v", 2L)))
    }
  }

  test("a filter over GROUPING columns commutes: fires and re-applies " +
       "over the view") {
    withMv { (base, mv) =>
      val q = spark.read.parquet(base)
        .filter(col("sub") === "u" || col("g") === "b")
        .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val plan = scannedFiles(q)
      assert(plan.contains(mv) && !plan.contains(base),
        s"group-col filter should commute:\n$plan")
      assert(q.as[(String, Long, Long)].collect().toSet ===
        Set(("a", 2L, 3L), ("b", 2L, 30L)))
    }
  }

  test("stand-downs: filter on an AGGREGATED column, avg, distinct, " +
       "global aggregate, and non-view grouping all fall through") {
    withMv { (base, _) =>
      val b = spark.read.parquet(base)
      val cases = Seq(
        b.filter(col("x") > 1).groupBy(col("g")).agg(count(lit(1)).as("n")),
        b.groupBy(col("g")).agg(avg(col("x")).as("a")),
        b.groupBy(col("g")).agg(countDistinct(col("x")).as("d")),
        b.agg(count(lit(1)).as("n")),
        b.groupBy(col("x")).agg(count(lit(1)).as("n")))
      cases.foreach { q =>
        assert(scannedFiles(q).contains(base),
          s"stand-down case must scan base:\n${scannedFiles(q)}")
      }
      // and each still computes correctly
      assert(cases(0).collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap === Map("a" -> 2L, "b" -> 2L))
      assert(cases(3).head().getLong(0) === 5L)
    }
  }

  test("two rollups of the same view in one query get fresh instances") {
    withMv { (base, mv) =>
      val b = spark.read.parquet(base)
      val l = b.groupBy(col("g")).agg(sum(col("x")).as("sx"))
      val r = b.groupBy(col("g")).agg(count(lit(1)).as("n"))
      val j = l.join(r, "g")
      val plan = scannedFiles(j)
      assert(plan.contains(mv) && !plan.contains(base))
      assert(j.as[(String, Long, Long)].collect().toSet ===
        Set(("a", 6L, 3L), ("b", 30L, 2L)))
    }
  }

  test("q188's gate query reads the registered documents summary") {
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q188_mv_rollup")(spark, dir)
    val plan = scannedFiles(q)
    assert(plan.contains("graft_mv_"), s"expected summary scan in:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"base documents must not be scanned:\n$plan")
    // and the rollup equals the base recomputation exactly. A filter over
    // a NON-GROUP column forces the stand-down path (lit(true) would be
    // pruned before the rule and, even surviving, vacuously passes the
    // group-column commute check — it does NOT force the base); doc_id is
    // a non-null key, so isNotNull is the identity predicate.
    val baseAgg = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id").isNotNull)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        max(col("doc_id")).as("max_doc"))
    val basePlan = scannedFiles(baseAgg)
    assert(basePlan.contains("documents.parquet"),
      s"stand-down comparator must scan the base table:\n$basePlan")
    assert(q.collect().map(_.toSeq).toSet ===
      baseAgg.collect().map(_.toSeq).toSet)
  }

  test("renamed group columns (select above the aggregate) still roll up") {
    withMv { (base, mv) =>
      // the fuzzer's kind-10 shape: groupBy raw columns, rename above —
      // CollapseProject merges the rename into the Aggregate's output
      // list as Alias(attr, name), which the rule must accept
      val q = spark.read.parquet(base).groupBy(col("g"), col("sub"))
        .agg(count(lit(1)).as("a_cnt"), sum(col("x")).as("a_sum"))
        .select(col("g").as("g1"), col("sub").as("g2"),
          col("a_cnt"), col("a_sum"))
      val plan = scannedFiles(q)
      assert(plan.contains(mv) && !plan.contains(base),
        s"renamed-group rollup should fire:\n$plan")
      assert(q.as[(String, String, Long, Long)].collect().toSet ===
        Set(("a", "u", 2L, 3L), ("a", "v", 1L, 3L), ("b", "v", 2L, 30L)))
    }
  }

  test("registerParquet rejects column names missing from the view schema") {
    withMv { (base, mv) =>
      val e = intercept[IllegalArgumentException] {
        MvCatalog.registerParquet(spark, "spec_mv_bad", base, mv,
          groupCols = Set("g", "sub"), cntCol = "cnt",
          sumCols = Map("x" -> "sum_nope"))
      }
      assert(e.getMessage.contains("sum_nope"))
      assert(MvCatalog.isEmpty === false) // the good registration survives
    }
  }

  test("type-widening rollup stands down: decimal sums fall through to base") {
    val root = Bridge.tempDir("graft_mv_dec_")
    val base = s"$root/base"
    val mv = s"$root/mv"
    Seq(("a", BigDecimal("1.50")), ("a", BigDecimal("2.25")),
      ("b", BigDecimal("10.00")))
      .toDF("g", "d").withColumn("d", col("d").cast("decimal(12,2)"))
      .write.parquet(base)
    spark.read.parquet(base).groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), sum(col("d")).as("sum_d"))
      .write.parquet(mv)
    MvCatalog.registerParquet(spark, "spec_mv_dec", base, mv,
      groupCols = Set("g"), cntCol = "cnt", sumCols = Map("d" -> "sum_d"))
    try {
      // sum(decimal(12,2)) resolves to decimal(22,2); the view partial is
      // already decimal(22,2), so the rewritten sum would widen to
      // decimal(32,2) — a silent dataType change under resolved parents.
      // The rule must stand down on the sum (count alone still fires).
      val q = spark.read.parquet(base).groupBy(col("g"))
        .agg(sum(col("d")).as("sd"))
      val plan = scannedFiles(q)
      assert(plan.contains(base),
        s"decimal sum rollup must stand down to the base scan:\n$plan")
      assert(q.collect().map(r => r.getString(0) -> r.getDecimal(1).toString)
        .toMap === Map("a" -> "3.75", "b" -> "10.00"))
      val qc = spark.read.parquet(base).groupBy(col("g"))
        .agg(count(lit(1)).as("n"))
      assert(scannedFiles(qc).contains(mv),
        "count-only rollup keeps firing on the decimal view")
    } finally MvCatalog.unregister("spec_mv_dec")
  }

  test("q198's GATED decimal rollup answers from the base; the count-only " +
       "twin proves the registration was live") {
    // VERDICT r16 #4: the stand-down as driver-gated behavior, not just a
    // handcrafted fixture — q198 is exactly the q188 MV shape over the
    // registered decimal(12,2) base, and the sum partial's widening must
    // push it to the base scan (DuckDB recomputes with its own decimal
    // engine, so the gate also pins cross-engine decimal arithmetic)
    val q = SparkEntry.queries("q198_decimal_rollup")(
      spark, "/root/testdata/sf0.001")
    val plan = scannedFiles(q)
    assert(plan.contains("lineitem_dec"),
      s"expected the decimal BASE scan:\n$plan")
    assert(!plan.contains("dec_summary"),
      s"decimal sum must not answer from the summary:\n$plan")
    // control on the very same registered base: a count-only rollup has
    // no widening and must fire — proving the catalog entry was live
    // when q198 stood down
    val basePath = "[^\\s,\\[\\]]*lineitem_dec".r.findFirstIn(plan)
      .getOrElse(fail(s"base path not found in plan:\n$plan"))
    val qc = spark.read.parquet(basePath).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    assert(scannedFiles(qc).contains("dec_summary"),
      s"count-only twin should roll up to the summary:\n${scannedFiles(qc)}")
    spark.catalog.clearCache()
  }

  test("q200's GATED decimal count/min/max rollup FIRES: view scanned, " +
       "base not, values equal the base recompute") {
    // VERDICT r17 #3: q198 gates the stand-down; this gates the decimal
    // FIRE path — count rolls up long→long and min/max keep decimal(12,2)
    // bit-for-bit, so the rewrite is legal and must answer from the
    // summary (the driver's oracle recomputes from lineitem, hash-gating
    // the rewritten plan's decimal values cross-engine)
    val q = SparkEntry.queries("q200_decimal_mv_fire")(
      spark, "/root/testdata/sf0.001")
    val plan = scannedFiles(q)
    assert(plan.contains("dec_summary"),
      s"expected the decimal SUMMARY scan:\n$plan")
    assert(!plan.contains("lineitem_dec"),
      s"base must not be scanned when the rollup fires:\n$plan")
    // exactness vs a forced base recompute (non-group filter blocks the
    // rewrite; l_orderkey is a non-null key so the predicate is identity)
    val basePath = "[^\\s,\\[\\]]*lineitem_dec".r
      .findFirstIn(scannedFiles(SparkEntry.queries("q198_decimal_rollup")(
        spark, "/root/testdata/sf0.001")))
      .getOrElse(fail("decimal base path not found"))
    val baseAgg = spark.read.parquet(basePath)
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), min(col("price_d")).as("min_price"),
        max(col("price_d")).as("max_price"))
    assert(scannedFiles(baseAgg).contains("lineitem_dec"))
    assert(q.collect().map(_.toSeq).toSet ===
      baseAgg.collect().map(_.toSeq).toSet)
    spark.catalog.clearCache()
  }
}
