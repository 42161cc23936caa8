package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamingDedup

/** GraftExtensions SQL registration (the shared test session is built with
  * Engine.builder, so the extensions are installed) + streaming dedup
  * semantics.
  */
class EngineSpec extends SparkSpecBase {

  test("custom expressions are callable from SQL via GraftExtensions") {
    val dot = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(dot === 11.0)
    val sh = spark.sql("SELECT word_shingles('a b c d', 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
    val sig = spark.sql("SELECT min_hash_sig(word_shingles('a b c d', 3), 4) AS s")
      .collect().head.getSeq[String](0)
    assert(sig.length === 4)
    assert(spark.sql("SELECT sim_hash16(split('a b', ' ')) AS s")
      .collect().head.getLong(0) >= 0L)
    assert(spark.sql("SELECT sim_hash64(split('a b', ' ')) AS s")
      .collect().head.get(0) != null)
    assert(spark.sql("SELECT punct_count('hello, world!') AS n")
      .collect().head.getInt(0) === 2)
    assert(spark.sql("SELECT lang_predict(split('the cat and the dog', ' ')) AS l")
      .collect().head.getString(0) === "en")
    assert(spark.sql("SELECT stopword_scores(split('the el', ' ')) AS s")
      .collect().head.getSeq[Int](0).take(2) === Seq(1, 1))
    // round-9 kernels: one-pass cosine and int8-quantization stats
    val cos = spark.sql(
      "SELECT vec_cosine(array(0.6D, 0.8D), array(0.6D, 0.8D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val qs = spark.sql("SELECT quant_stats(array(0.5D, -1.0D)) AS s")
      .collect().head.getStruct(0)
    assert(qs.getDouble(0) === 1.0)                 // amax
    assert(qs.getLong(1) === (64L - 127L))          // q_sum: floor(.5*127+.5)=64, -127
    assert(qs.getDouble(2) <= 0.5 / 127.0 + 1e-9)   // reconstruction bound
  }

  test("custom aggregates are callable from SQL via GraftExtensions") {
    import spark.implicits._
    Seq(1L, 5L, 25L, 93L).toDF("x").createOrReplaceTempView("hx")
    val hist = spark.sql("SELECT histogram_agg(x, 4, 10) AS h FROM hx")
      .collect().head.getSeq[Long](0)
    assert(hist === Seq(2L, 0L, 1L, 1L)) // 1,5 -> b0; 25 -> b2; 93 clamps to b3
    val est = spark.sql(
      """SELECT cms_query(count_min_agg(t, 4, 64), 'a', 4, 64) AS e
        |FROM (SELECT explode(array('a', 'a', 'b')) AS t)""".stripMargin)
      .collect().head.getLong(0)
    assert(est >= 2L) // CMS never underestimates
  }

  test("dropDuplicatesWithinWatermark drops dupes of the same fingerprint") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val name = s"dedup_${System.nanoTime()}"
    val q = StreamingDedup.dedupWithinWatermark(df, "10 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), 1L, "same text"),
        (ts("2024-01-01 00:00:02"), 2L, "same  TEXT"),  // same after normalize
        (ts("2024-01-01 00:00:03"), 3L, "other text"))
      q.processAllAvailable()
      val ids = spark.table(name).select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming near-dups against a static corpus index match and dedup bands") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val base = (1 to 24).map(i => s"w$i").mkString(" ")
    val corpus = Seq((100L, base),
      (200L, "a completely different corpus document here")).toDF("doc_id", "text")
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "doc_id", "text")
    val name = s"inc_dedup_${System.nanoTime()}"
    val q = StreamingDedup.nearDupsAgainstCorpusStage(df, corpus).result
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:01"), 1L, base),            // exact -> jaccard 1.0
        (ts("2024-01-01 00:00:02"), 2L, s"$base extra"),  // near dup
        (ts("2024-01-01 00:00:03"), 3L, "novel unrelated short doc"),
        (ts("2024-01-01 00:00:04"), 4L, "so")             // shingle-less
      )
      q.processAllAvailable()
      val out = spark.table(name)
        .select("doc_id", "corp_id", "jaccard")
        .as[(Long, Long, Double)].collect()
      // one row per (incoming, corpus) pair despite multi-band collisions
      assert(out.length === out.map(r => (r._1, r._2)).distinct.length)
      val byDoc = out.groupBy(_._1)
      assert(byDoc(1L).head._2 === 100L && byDoc(1L).head._3 === 1.0)
      assert(byDoc(2L).head._2 === 100L && byDoc(2L).head._3 > 0.9)
      assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    } finally q.stop()
  }
}
