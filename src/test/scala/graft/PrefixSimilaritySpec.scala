package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Pins the EXACT set-similarity join (prefix filtering / AllPairs):
  * output equality with the naive all-pairs join on real and adversarial
  * corpora, LSH ⊆ exact containment, plan shape, and cache hygiene.
  */
class PrefixSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  /** Naive all-pairs reference over the same distinct fp60 shingle sets
    * and the same unrounded-quotient threshold filter — the definition
    * the prefix join must reproduce exactly.
    */
  private def brutePairs(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.select(col("doc_id"),
        array_distinct(transform(
          array_distinct(Dedup.shingles(col("text"))),
          s => TextAnalysis.fp60(s))).as("f"))
      .filter(size(col("f")) > 0)
    val a = sets.select(col("doc_id").as("id_a"), col("f").as("fa"))
    val b = sets.select(col("doc_id").as("id_b"), col("f").as("fb"))
    val inter = size(array_intersect(col("fa"), col("fb"))).cast("long")
    a.join(b, col("id_b") > col("id_a"))
      .select(col("id_a"), col("id_b"),
        (inter / (size(col("fa")).cast("long") + size(col("fb")).cast("long") - inter)).as("j"))
      .filter(col("j") >= lit(t))
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
  }

  private def enginePairs(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val stage = Dedup.prefixSimilarityJoinStage(docs, t)
    val out = stage.result.as[(Long, Long, Double)].collect().toSet
    stage.unpersist()
    out
  }

  test("prefix join equals the naive all-pairs join on the sf0.001 corpus") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    for (t <- Seq(0.2, 0.5)) {
      val expected = brutePairs(corpus, t)
      assert(enginePairs(corpus, t) === expected, s"threshold $t")
      if (t == 0.2) assert(expected.nonEmpty) // the corpus exercises the join
    }
  }

  test("prefix join equals brute force on seeded random corpora") {
    // small vocab + short docs force heavy overlap: many borderline pairs,
    // ties in df, docs sharing only hot shingles — the prefix lemma's
    // edge cases. Three seeds x three thresholds.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (seed <- Seq(7, 41, 1234)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 80L).map { id =>
        val n = 3 + rnd.nextInt(10)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      for (t <- Seq(0.25, 0.5, 0.8)) {
        val expected = brutePairs(docs, t)
        assert(enginePairs(docs, t) === expected, s"seed $seed threshold $t")
        if (t == 0.25) assert(expected.nonEmpty, s"seed $seed degenerate fixture")
      }
    }
  }

  test("MinHash-LSH pairs are a subset of the exact join at the same threshold") {
    // LSH is lossy by design (banding + hot-bucket cap); the exact join is
    // its completeness ceiling — every verified LSH pair must be in it
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val lshStage = Dedup.minhashNearDupsStage(corpus, threshold = 0.5)
    val lsh = lshStage.result.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    lshStage.unpersist()
    val exactStage = Dedup.prefixSimilarityJoinStage(corpus, 0.5)
    val exact = exactStage.result.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    exactStage.unpersist()
    assert(lsh.subsetOf(exact))
  }

  test("fixture semantics: exact dups at J=1, disjoint and sub-shingle docs clean") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),          // exact dup of 1
      (3L, "totally different words in this text"), // disjoint
      (4L, "ab cd")                                 // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val out = enginePairs(docs, 0.5)
    assert(out === Set((1L, 2L, 1.0)))
  }

  test("empty corpus and all-short corpus return empty without error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(enginePairs(empty, 0.5).isEmpty)
    val short = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    assert(enginePairs(short, 0.5).isEmpty)
  }

  test("plan shape: candidate generation is an equi-join, never a nested loop") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val stage = Dedup.prefixSimilarityJoinStage(corpus, 0.5)
    stage.result.collect()
    val plan = stage.result.queryExecution.executedPlan.toString
    stage.unpersist()
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  private def bruteCross(corpus: DataFrame, incoming: DataFrame,
                         t: Double): Set[(Long, Long, Double)] = {
    def sets(d: DataFrame) = d.select(col("doc_id"),
        array_distinct(transform(
          array_distinct(Dedup.shingles(col("text"))),
          s => TextAnalysis.fp60(s))).as("f"))
      .filter(size(col("f")) > 0)
    val a = sets(incoming).select(col("doc_id").as("id_a"), col("f").as("fa"))
    val b = sets(corpus).select(col("doc_id").as("id_b"), col("f").as("fb"))
    val inter = size(array_intersect(col("fa"), col("fb"))).cast("long")
    a.crossJoin(b)
      .select(col("id_a"), col("id_b"),
        (inter / (size(col("fa")).cast("long") + size(col("fb")).cast("long") - inter)).as("j"))
      .filter(col("j") >= lit(t))
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("incremental prefix join equals brute cross-relation force") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    for (t <- Seq(0.2, 0.5)) {
      val st = Dedup.prefixJoinAgainstCorpusStage(corpus, incoming, t)
      val got = st.result.as[(Long, Long, Double)].collect().toSet
      st.unpersist()
      val expected = bruteCross(corpus, incoming, t)
      assert(got === expected, s"threshold $t")
      if (t == 0.2) assert(expected.nonEmpty)
    }
  }

  test("incremental join = full join restricted to cross pairs") {
    // consistency across the two operators: the incremental answer is
    // exactly the corpus-wide q154 answer filtered to (incoming, corpus)
    // pairs, even though the two run under DIFFERENT df orders (the
    // lemma needs only a total order — the result must not move)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val full = enginePairs(docs, 0.5).map { case (a, b, j) =>
      (math.min(a, b), math.max(a, b), j)
    }
    val crossOnly = full.filter { case (a, b, _) =>
      (a % 4 == 0) != (b % 4 == 0)
    }
    val st = Dedup.prefixJoinAgainstCorpusStage(
      docs.filter(col("doc_id") % 4 =!= 0),
      docs.filter(col("doc_id") % 4 === 0), 0.5)
    val inc = st.result.as[(Long, Long, Double)].collect().toSet
      .map((p: (Long, Long, Double)) =>
        (math.min(p._1, p._2), math.max(p._1, p._2), p._3))
    st.unpersist()
    assert(inc === crossOnly)
  }

  test("incremental join: novel incoming text yields no pairs, no error") {
    val corpus = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, "totally novel words never seen before anywhere"),
      (101L, "xy")).toDF("doc_id", "text")
    val st = Dedup.prefixJoinAgainstCorpusStage(corpus, incoming, 0.5)
    assert(st.result.count() === 0)
    st.unpersist()
  }

  test("stage handle releases the persisted fingerprint relation") {
    val corpus = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val stage = Dedup.prefixSimilarityJoinStage(corpus, 0.5)
    stage.result.collect()
    assert(stage.cached.head.storageLevel.useMemory ||
      stage.cached.head.storageLevel.useDisk)
    stage.unpersist()
    assert(stage.cached.head.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }

  // ---- containment join (q170) ----

  /** Naive needle×corpus containment reference: |Sa∩Sb|/|Sa| with the
    * unrounded-quotient filter — the definition q170 must reproduce.
    */
  private def bruteContainment(corpus: DataFrame, needles: DataFrame,
      t: Double): Set[(Long, Long, Double)] = {
    def sets(d: DataFrame) = d.select(col("doc_id"),
        array_distinct(transform(
          array_distinct(Dedup.shingles(col("text"))),
          s => TextAnalysis.fp60(s))).as("f"))
      .filter(size(col("f")) > 0)
    val a = sets(needles).select(col("doc_id").as("id_a"), col("f").as("fa"))
    val b = sets(corpus).select(col("doc_id").as("id_b"), col("f").as("fb"))
    val inter = size(array_intersect(col("fa"), col("fb"))).cast("long")
    a.crossJoin(b)
      .select(col("id_a"), col("id_b"),
        (inter / size(col("fa")).cast("long")).as("c"))
      .filter(col("c") >= lit(t))
      .select(col("id_a"), col("id_b"), round(col("c"), 4).as("containment"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("containment join equals brute needle×corpus force") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val needles = docs.filter(col("doc_id") % 3 === 0)
    for (t <- Seq(0.2, 0.35, 0.8)) {
      val st = Dedup.containmentJoinAgainstCorpusStage(corpus, needles, t)
      val got = st.result.as[(Long, Long, Double)].collect().toSet
      st.unpersist()
      val expected = bruteContainment(corpus, needles, t)
      assert(got === expected, s"threshold $t")
      if (t <= 0.35) assert(expected.nonEmpty)
    }
  }

  test("containment finds the short-inside-long pair Jaccard misses") {
    // needle fully contained in a corpus doc ~6x its size: containment
    // 1.0, Jaccard well under 0.5 — the asymmetric measure's reason to
    // exist, pinned end to end against both operators
    val needleText = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((2L, needleText + " " + filler),
      (4L, "completely different content here entirely"))
      .toDF("doc_id", "text")
    val needles = Seq((3L, needleText)).toDF("doc_id", "text")
    val st = Dedup.containmentJoinAgainstCorpusStage(corpus, needles, 0.9)
    val got = st.result.as[(Long, Long, Double)].collect().toSet
    st.unpersist()
    assert(got.map(p => (p._1, p._2)) === Set((3L, 2L)))
    assert(got.head._3 === 1.0)
    // the symmetric join at the same threshold sees nothing
    val both = Seq((3L, needleText), (2L, needleText + " " + filler))
      .toDF("doc_id", "text")
    val sym = Dedup.prefixSimilarityJoinStage(both, 0.9)
    assert(sym.result.count() === 0)
    sym.unpersist()
  }

  test("containment join: empty sides and sub-shingle needles are clean") {
    val corpus = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val empty = corpus.filter(col("doc_id") < 0)
    val st1 = Dedup.containmentJoinAgainstCorpusStage(corpus, empty, 0.5)
    assert(st1.result.count() === 0); st1.unpersist()
    val st2 = Dedup.containmentJoinAgainstCorpusStage(empty, corpus, 0.5)
    assert(st2.result.count() === 0); st2.unpersist()
    val shorty = Seq((9L, "xy")).toDF("doc_id", "text") // below shingle width
    val st3 = Dedup.containmentJoinAgainstCorpusStage(corpus, shorty, 0.5)
    assert(st3.result.count() === 0); st3.unpersist()
  }
}
