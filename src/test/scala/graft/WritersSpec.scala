package graft

import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.{Tables, Writers}

class WritersSpec extends SparkSpecBase {

  /** Managed tables this suite created: dropped (data included) at the end. */
  private val tables = scala.collection.mutable.Buffer[String]()

  override protected def afterAll(): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    super.afterAll()
  }

  test("date partitioning prunes partitions at the scan") {
    val dir = Bridge.tempDir("graft_part_")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Writers.writeEventsPartitioned(events, dir)

    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_date") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains("event_date"))
    assert(pruned.count() > 0)
  }

  test("same-bucketing join runs with no shuffle on either side") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val or = Tables.orders(spark, "/root/testdata/sf0.001")
    // unique names: the warehouse dir outlives the in-memory catalog, so a
    // rerun would otherwise hit locationAlreadyExists on CREATE
    val t1 = s"li_bucketed_${System.nanoTime()}"
    val t2 = s"or_bucketed_${System.nanoTime()}"
    tables ++= Seq(t1, t2)
    Writers.writeBucketed(li.select("l_orderkey", "l_quantity"), t1, "l_orderkey", 8)
    Writers.writeBucketed(or.select("o_orderkey", "o_totalprice"), t2, "o_orderkey", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(t1)
        .join(spark.table(t2),
          org.apache.spark.sql.functions.col("l_orderkey") ===
            org.apache.spark.sql.functions.col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === 6000) // every lineitem matches its order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("q109 gated rollup prunes the partitioned layout (files skipped)") {
    val q = SparkEntry.queries("q109_partitioned_rollup")(spark, "/root/testdata/sf0.001")
    // collect() (not count()): count wraps the frame in a NEW query
    // execution, leaving this one's scan metrics unpopulated
    assert(q.collect().nonEmpty)
    // the date predicate must reach the PARTITION level of the scan, and
    // the partitions-read metric must show directories actually skipped
    // (events span 30 dates; the one-week predicate selects exactly 7)
    // QueryStageExec is a LEAF wrapping its materialized subtree, so a
    // plain collect over the adaptive plan never reaches the scan
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.flatMap {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(qs.plan)
        case _ => Nil
      }
    val scan = scans(q.queryExecution.executedPlan)
      .find(_.relation.partitionSchema.nonEmpty)
      .getOrElse(fail("no partitioned file scan in the q109 plan"))
    assert(scan.partitionFilters.nonEmpty,
      "date predicate did not reach the partition level")
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead === 7,
      s"expected 7 of 30 date partitions read, got $partsRead")
  }

  test("q112 gated bucketed join never shuffles on the orderkey") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the join must be a SortMergeJoin — the shape
    // that exposes whether bucketing really removed the key exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = SparkEntry.queries("q112_bucketed_join")(spark, "/root/testdata/sf0.001")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("hashpartitioning(l_orderkey") &&
        !plan.contains("hashpartitioning(o_orderkey"),
        s"join key shuffled despite bucketing:\n$plan")
      assert(q.collect().nonEmpty)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("gzip JSONL round trip is lossless and sharded for parallel reads") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = Bridge.tempDir("jsonl") + "/docs"
    Writers.writeJsonl(docs, dir, shards = 4)
    // shard count drives gzip read parallelism (non-splittable codec)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".json.gz"))
    assert(parts === 4)
    val back = Writers.readJsonl(spark, dir, docs.schema)
    assert(back.schema === docs.schema)
    // lossless: same rows, same values (doc_id is the row identity)
    val a = docs.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(b === a)
  }

  test("compactPartitioned collapses fragmented partitions losslessly") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val dir = Bridge.tempDir("compact_") + "/events"
    // 16-way fragmented write: streaming-ingest debris
    graft.sources.Writers.writeEventsPartitioned(events.repartition(16), dir)
    val pre = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val report = graft.sources.Writers
      .compactPartitioned(spark, dir, "event_date").collect()
    assert(report.nonEmpty)
    report.foreach { r =>
      assert(r.getAs[Long]("files_before") > 1L,
        s"${r.getAs[String]("partition")} was not fragmented")
      assert(r.getAs[Long]("files_after") === 1L)
      // compaction also shrinks bytes (footer/dictionary overhead per
      // file) — never grows them materially
      assert(r.getAs[Long]("bytes_after") <= r.getAs[Long]("bytes_before"))
    }
    // lossless: identical row multiset after the rewrite
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet === pre)
    // deterministic: recompacting an already-compact layout is a no-op
    // file-count-wise (1 -> 1)
    val again = graft.sources.Writers
      .compactPartitioned(spark, dir, "event_date").collect()
    assert(again.forall(r => r.getAs[Long]("files_after") === 1L))
  }

  test("compactPartitioned splits a giant partition via maxRecordsPerFile") {
    // pin every event to ONE date so a single partition carries all
    // 1,000 rows — the giant-partition shape the record cap exists for
    val docs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .limit(1000)
      .withColumn("ts",
        org.apache.spark.sql.functions.lit("2024-01-01 12:00:00")
          .cast("timestamp"))
    val dir = Bridge.tempDir("compact_big_") + "/events"
    graft.sources.Writers.writeEventsPartitioned(docs.repartition(4), dir)
    // target ~100 rows/file: a 1,000-row partition must split, not
    // produce one monolith
    val report = graft.sources.Writers
      .compactPartitioned(spark, dir, "event_date",
        filesPerPartition = 1, maxRecordsPerFile = 100L).collect()
    val total = spark.read.parquet(dir).count()
    assert(total === 1000L)
    assert(report.exists(_.getAs[Long]("files_after") > 1L))
  }

  test("z-order layout: lossless, prunes at planning time, and skips " +
    "fewer directories than a single-column sort on a 2-D box") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    val dir = Bridge.tempDir("graft_zorder_") + "/events"
    Writers.writeZOrdered(events, dir, "user_id", "value")
    val lay = spark.read.parquet(dir)
    // 1) lossless round trip
    assert(lay.count() === events.count())
    assert(lay.agg(sum(col("event_id"))).head.getLong(0) ===
      events.agg(sum(col("event_id"))).head.getLong(0))
    // 2) a z_file predicate prunes directories at PLANNING time — the
    // Morton key is a hive partition column, so skipping is free
    val pruned = lay.filter(col("z_file") < 8)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("z_file"))
    // 3) the point of the curve: for a box narrow in user_id and wide in
    // value, the per-directory min/max boxes of the Morton layout admit
    // FEWER directories than the boxes of a same-file-count layout
    // sorted on value alone (whose user_id ranges are useless)
    def hits(df: org.apache.spark.sql.DataFrame, file: String): Long =
      df.groupBy(col(file))
        .agg(min(col("user_id")).as("umn"), max(col("user_id")).as("umx"),
          min(col("value")).as("vmn"), max(col("value")).as("vmx"))
        .filter(col("umx") >= 5 && col("umn") <= 7 &&
          col("vmx") >= 50.0 && col("vmn") <= 400.0)
        .count()
    val nFiles = 1 << (2 * Writers.ZOrderBits)
    // simulated value-sorted baseline at the SAME file count: file =
    // equi-width value bucket (what a linear sort's file ranges give)
    val rng = events.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val linear = events.crossJoin(broadcast(rng))
      .withColumn("lin_file",
        least(greatest(floor((col("value") - col("mn")) /
          (col("mx") - col("mn")) * lit(nFiles.toDouble)), lit(0.0)),
          lit(nFiles - 1.0)).cast("int"))
    val zHits = hits(lay, "z_file")
    val linHits = hits(linear, "lin_file")
    assert(zHits < linHits,
      s"z-order must admit fewer directories: z=$zHits linear=$linHits")
    // 4) degenerate input: a constant column collapses to bucket 0 on
    // that axis without dividing by zero
    val const = events.withColumn("user_id", lit(7L))
    val dir2 = Bridge.tempDir("graft_zorder_c_") + "/e"
    Writers.writeZOrdered(const, dir2, "user_id", "value")
    val back = spark.read.parquet(dir2)
    assert(back.count() === events.count())
    // constant axis contributes only zero bits -> every key is even-bit-0
    assert(back.select(col("z_file")).distinct().collect()
      .forall(r => (r.getInt(0) & 0x15) === 0))
  }

  test("evolved read fuses layout generations with NULL-fill; schemaDiff " +
       "reports the delta; incompatible generations fail loudly") {
    import spark.implicits._
    val root = Bridge.tempDir("graft_evo_spec_")
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val v2 = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "s", "extra")
    v1.write.parquet(s"$root/v1")
    v2.write.parquet(s"$root/v2")
    val evolved = Writers.readEvolved(spark, Seq(s"$root/v1", s"$root/v2"))
    assert(evolved.columns.sorted === Array("extra", "k", "s"))
    val byK = evolved.collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(byK === Map(1L -> None, 2L -> None,
      3L -> Some(30L), 4L -> Some(40L)))
    val d = Writers.schemaDiff(spark, v1.schema, v2.schema).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d === Map("extra" -> "added"))
    val d2 = Writers.schemaDiff(spark, v2.schema,
        Seq((1L, 2, "x")).toDF("k", "extra", "added2").schema).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d2 === Map("s" -> "removed", "extra" -> "type_changed",
      "added2" -> "added"))
    // a STRING k generation conflicts with the LONG k generations:
    // evolution must refuse, not coerce
    Seq(("oops", "z")).toDF("k", "s").write.parquet(s"$root/v3")
    val err = intercept[Exception] {
      Writers.readEvolved(spark,
        Seq(s"$root/v1", s"$root/v3")).collect()
    }
    assert(err.getMessage != null)
  }
}
