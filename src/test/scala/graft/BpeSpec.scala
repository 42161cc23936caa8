package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** BPE tokenizer training: exact merges on a hand-computed corpus, greedy
  * non-overlapping application order, and determinism (q98 has no SQL
  * oracle — this spec is its exactness gate).
  */
class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  test("bpe_apply merges greedily left-to-right without overlap") {
    val out = Seq("x").toDF("d")
      .select(graft.functions.TextFunctions.bpe_apply(
        typedlit(Seq("a", "a", "a", "b", "a")), "a", "a").as("s"))
      .as[Seq[String]].head()
    assert(out === Seq("aa", "a", "b", "a")) // "aaa" -> [aa, a], not [a, aa]
  }

  test("train learns the hand-computed merge sequence with exact counts") {
    // corpus: "aaab" x3, "ab" x2 (chars a,a,a,b / a,b)
    //  round 1: pairs (a,a)=2*3=6 > (a,b)=3+2=5        -> merge (a,a)
    //  round 2: [aa,a,b]x3 + [a,b]x2: (a,b)=5 > (aa,a)=3 -> merge (a,b)
    //  round 3: [aa,ab]x3 + [ab]x2: (aa,ab)=3            -> merge (aa,ab)
    //  round 4: no pairs left -> training stops early
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val model = Bpe.train(docs, nMerges = 10)
    val merges = model.merges
      .select("rank", "left", "right", "merged", "pair_count")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(merges === Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L)))
    // final segmentation: both words collapse to single learned tokens
    val seg = model.vocab.select("word", "segmentation")
      .as[(String, Seq[String])].collect().toMap
    assert(seg("aaab") === Seq("aaab"))
    assert(seg("ab") === Seq("ab"))
    model.stage.unpersist()
    // deterministic: retraining reproduces the identical table
    val again = Bpe.train(docs, nMerges = 10)
    assert(again.merges.collect().toSeq === model.merges.collect().toSeq)
    again.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("batched rounds reproduce the sequential greedy merge order") {
    // batchK=1 degenerates to one merge per aggregate (the pure
    // sequential form); the default batch must learn the IDENTICAL
    // table — order, ranks, and counts (the strict-cutoff argument in
    // Bpe.acceptBatch, exercised on real text)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(120)
    val seq = Bpe.train(docs, nMerges = 12, batchK = 1)
    val bat = Bpe.train(docs, nMerges = 12)
    assert(bat.merges.collect().toSeq === seq.merges.collect().toSeq)
    seq.stage.unpersist(); bat.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("acceptBatch: prefix-disjoint, strict cutoff, top-pair fallback") {
    // interacting second pair stops the prefix; ties at the cutoff drop
    assert(Bpe.acceptBatch(Seq("a b" -> 9L, "c d" -> 7L, "b e" -> 7L), 8)
      === Seq("a b" -> 9L)) // "c d" ties the 7-count cutoff "b e" -> dropped
    assert(Bpe.acceptBatch(Seq("a b" -> 9L, "c d" -> 8L, "b e" -> 7L), 8)
      === Seq("a b" -> 9L, "c d" -> 8L))
    // top pair interacts immediately at equal count -> fallback keeps it
    assert(Bpe.acceptBatch(Seq("a b" -> 5L, "b c" -> 5L), 8)
      === Seq("a b" -> 5L))
    // exhausted window, pairwise disjoint -> everything is safe to take
    assert(Bpe.acceptBatch(Seq("a b" -> 5L, "c d" -> 5L), 8)
      === Seq("a b" -> 5L, "c d" -> 5L))
    // full window + disjoint -> strict cutoff vs the (windowK+1)th row:
    // counts 5,5 > cutoff 4 -> both kept; a 4-count prefix row would drop
    assert(Bpe.acceptBatch(Seq("a b" -> 5L, "c d" -> 5L, "e f" -> 4L), 2)
      === Seq("a b" -> 5L, "c d" -> 5L))
    assert(Bpe.acceptBatch(Seq("a b" -> 5L, "c d" -> 4L, "e f" -> 4L), 2)
      === Seq("a b" -> 5L))
  }

  test("batched == sequential on a collision-heavy corpus (ADVICE r7)") {
    // engineered to hit every guard: letter runs ("aaaa") force
    // self-pairs, and the vocabulary re-mints earlier results ("in"+"g"
    // vs "i"+"ng"-shaped alternatives compete) — the exact scenarios
    // where the unguarded strict-cutoff proof could diverge from
    // sequential greedy
    val texts = Seq(
      "aaaa aaab baaa running ring singing king",
      "aaa aa running singing ring ring kingkin",
      "inging ging ning inin gggg aaag gaaa",
      "ring king sing singing running gunning")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val seq = Bpe.train(docs, nMerges = 40, batchK = 1)
    val bat = Bpe.train(docs, nMerges = 40)
    assert(bat.merges.collect().toSeq === seq.merges.collect().toSeq)
    seq.stage.unpersist(); bat.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("acceptBatch: merged-string collisions and self-pairs stop the prefix") {
    // ADVICE r7: a batch merge whose result equals a symbol minted by a
    // PRIOR round would ADD occurrences to that symbol's existing pairs
    // (up to 2x the cutoff) — only the top pair is safe to take
    assert(Bpe.acceptBatch(
      Seq("i ng" -> 9L, "x y" -> 8L, "p q" -> 7L), 2, Set("ing"))
      === Seq("i ng" -> 9L))
    assert(Bpe.acceptBatch(
      Seq("x y" -> 9L, "i ng" -> 8L, "p q" -> 7L), 2, Set("ing"))
      === Seq("x y" -> 9L))
    // without the prior symbol the same window accepts the full prefix
    assert(Bpe.acceptBatch(Seq("x y" -> 9L, "i ng" -> 8L, "p q" -> 7L), 2)
      === Seq("x y" -> 9L, "i ng" -> 8L))
    // two disjoint batch members minting the same string ("a"+"bc" and
    // "ab"+"c" -> "abc"): the second re-runs through the next aggregate
    assert(Bpe.acceptBatch(Seq("a bc" -> 9L, "ab c" -> 8L, "x y" -> 7L), 2)
      === Seq("a bc" -> 9L))
    // a self-pair mints ("aa","a") on runs without any second pair in
    // the list, so it never rides the exhausted-window shortcut and
    // stops the prefix behind itself
    assert(Bpe.acceptBatch(Seq("a a" -> 9L, "c d" -> 8L, "e f" -> 7L), 2)
      === Seq("a a" -> 9L))
    assert(Bpe.acceptBatch(Seq("a a" -> 9L, "c d" -> 8L), 8)
      === Seq("a a" -> 9L))
    // exhausted + disjoint + no self-pair still takes everything even
    // when a result string matches a prior symbol: with the complete
    // pair list pairwise disjoint no new pair occurrence can be minted
    assert(Bpe.acceptBatch(Seq("i ng" -> 9L, "x y" -> 8L), 8, Set("ing"))
      === Seq("i ng" -> 9L, "x y" -> 8L))
  }

  // ---- application (VERDICT r8 #1: the inference side) ----

  private def mergePairs(model: Bpe.BpeModel): Seq[(String, String)] =
    model.merges.orderBy(col("rank")).select("left", "right")
      .as[(String, String)].collect().toSeq

  test("bpe_encode replays training: encode(word) == trained segmentation") {
    // every training word must tokenize to exactly the segmentation the
    // trainer left it with — the rank-priority loop visits merges in the
    // same order as training's one-pass-per-rank sweep (a pair minted by
    // merge r only participates in pairs of rank > r). Run on the
    // collision-heavy corpus: self-pairs and re-minted symbols are where
    // a wrong application order would show.
    val texts = Seq(
      "aaaa aaab baaa running ring singing king",
      "aaa aa running singing ring ring kingkin",
      "inging ging ning inin gggg aaag gaaa",
      "ring king sing singing running gunning")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val model = Bpe.train(docs, nMerges = 40)
    val pairs = mergePairs(model)
    val fromVocab = model.vocab.select("word", "segmentation")
      .as[(String, Seq[String])].collect().toMap
    val encoded = model.vocab.select(col("word"),
        graft.functions.TextFunctions.bpe_encode(col("word"), pairs).as("enc"))
      .as[(String, Seq[String])].collect().toMap
    assert(encoded === fromVocab)
    model.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("bpe_encode handles OOV words with the learned merges") {
    // fixture merges: (a,a) -> aa, (a,b) -> ab, (aa,ab) -> aaab
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaab ab")).toDF("doc_id", "text")
    val model = Bpe.train(docs, nMerges = 10)
    val pairs = mergePairs(model)
    def enc(w: String): Seq[String] =
      Seq(w).toDF("w").select(
        graft.functions.TextFunctions.bpe_encode(col("w"), pairs).as("e"))
        .as[Seq[String]].head()
    // "aabab": [a,a,b,a,b] -(a,a)-> [aa,b,a,b] -(a,b)-> [aa,b,ab]
    assert(enc("aabab") === Seq("aa", "b", "ab"))
    // no applicable merges: stays character-seeded
    assert(enc("xyz") === Seq("x", "y", "z"))
    // in-vocab word reproduces its trained single token
    assert(enc("aaab") === Seq("aaab"))
    model.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("encodeStage (distinct-word memo) equals encodeDirect") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(120)
    val model = Bpe.train(docs, nMerges = 25)
    val pairs = mergePairs(model)
    val direct = Bpe.encodeDirect(docs, pairs)
      .select(col("doc_id"), col("word"), concat_ws("|", col("pieces")).as("p"))
      .as[(Long, String, String)].collect().sorted.toSeq
    val stage = Bpe.encodeStage(docs, pairs)
    val memo = stage.result
      .select(col("doc_id"), col("word"), concat_ws("|", col("pieces")).as("p"))
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(memo === direct)
    assert(direct.nonEmpty)
    stage.unpersist()
    model.stage.unpersist()
    spark.catalog.clearCache()
  }

  test("encodeDocs equals the q118 oracle's string-replace replay") {
    // the DuckDB oracle replays apply as nested replace() calls over the
    // boundary-wrapped form '|c1||c2|…'; Java String.replace has the same
    // left-to-right non-overlapping contract, so the replay is provable
    // here without DuckDB — on the collision-heavy corpus, where a wrong
    // application order or a separator-sharing bug would show first
    val texts = Seq(
      "aaaa aaab baaa running ring singing king",
      "aaa aa running singing ring ring kingkin",
      "inging ging ning inin gggg aaag gaaa",
      "ring king sing singing running gunning")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val pairs = Bpe.trainMergePairs(docs, nMerges = 40)
    def replay(text: String): (Int, Int, String) = {
      val words = text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      val pieces = words.toSeq.flatMap { w =>
        val init = w.map(c => s"|$c|").mkString
        val fin = pairs.foldLeft(init) { case (s, (a, b)) =>
          s.replace(s"|$a||$b|", s"|$a$b|")
        }
        fin.stripPrefix("|").stripSuffix("|").split("\\|\\|", -1).toSeq
      }
      (words.length, pieces.length, pieces.mkString(" "))
    }
    val got = Bpe.encodeDocs(docs, pairs)
      .select("doc_id", "n_words", "n_tokens", "token_str")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    val want = texts.zipWithIndex.map { case (t, i) =>
      val (nw, nt, s) = replay(t); (i.toLong, nw, nt, s)
    }
    assert(got === want)
    assert(got.forall { case (_, nw, nt, _) => nt >= nw }) // merges never cross words
    spark.catalog.clearCache()
  }

  test("training on real documents yields the requested merge count") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMerges(docs, nMerges = 5)
    assert(merges.count() === 5)
    // counts are non-increasing is NOT guaranteed by BPE (merges create
    // new pairs), but every count is positive and ranks are dense
    val rows = merges.select("rank", "pair_count").as[(Int, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq === (1 to 5))
    assert(rows.forall(_._2 > 0))
    spark.catalog.clearCache()
  }

  test("fertilityReport aggregates encodeDocs exactly, bounded sensibly") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.trainMergePairs(docs, nMerges = 16)
    val rep = Bpe.fertilityReport(docs, merges).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // reference: the gated per-doc encode, rolled up independently
    val ref = Bpe.encodeDocs(docs, merges)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_words").as("w"),
        org.apache.spark.sql.functions.sum("n_tokens").as("p"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rep.keySet === ref.keySet)
    rep.foreach { case (src, r) =>
      assert(r.getAs[Long]("n_docs") === ref(src).getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_words") === ref(src).getAs[Long]("w"))
      assert(r.getAs[Long]("n_pieces") === ref(src).getAs[Long]("p"))
      val fert = r.getAs[Double]("fertility")
      // every word is at least one piece; merges can only shrink a
      // word's segmentation, never below 1
      assert(fert >= 1.0, s"$src fertility $fert")
      // pieces never out-length their words: chars/piece >= 1
      assert(r.getAs[Double]("chars_per_piece") >= 1.0)
    }
    spark.catalog.clearCache()
  }
}
