package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.TextAnalysis

class TextKernelsSpec extends SparkSpecBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("text kernels compile and agree under CODEGEN_ONLY (VERDICT r11 #2)") {
    // forces the doGenCode path with no interpreted fallback: a Janino
    // compile error in any ported kernel THROWS here instead of silently
    // degrading the whole stage to row-at-a-time eval. Results compared
    // against the interpreted path on the same rows (incl. the empty-array
    // null returns of min_hash_sig / sim_hash*).
    val dicts = TextAnalysis.StopwordDicts
    def everything() = {
      val docs = Seq(
        "the quick brown fox jumps over the lazy dog",
        "el rapido zorro marron salta sobre el perro",
        "short", "", "punct! and, marks? here: 42").toDF("text")
      docs.select(
          word_shingles(col("text"), 3).as("sh"),
          word_chunks(col("text"), 4, 2).as("ch"),
          stopword_scores(split(lower(col("text")), " "), dicts.map(_._2)).as("sw"),
          lang_predict(split(lower(col("text")), " "),
            dicts.map(_._2), dicts.map(_._1)).as("lp"),
          punct_count(lower(col("text"))).as("pc"))
        .select(min_hash_sig(col("sh"), 4).as("mh"),
          sim_hash16(col("sh")).as("s16"), sim_hash64(col("sh")).as("s64"),
          col("ch"), col("sw"), col("lp"), col("pc"))
        .collect().map(_.toSeq).toSeq
    }
    // force the INTERPRETED path explicitly (review r12 / ADVICE r12:
    // the first fix attempt used "spark.sql.wholeStage.codegen.enabled",
    // which is NOT a Spark conf key — the real key is
    // "spark.sql.codegen.wholeStage" (SQLConf.WHOLESTAGE_CODEGEN_ENABLED),
    // and factoryMode NO_CODEGEN alone does not touch expressions fused
    // into whole-stage code) — NO_CODEGEN + whole-stage off exercises
    // nullSafeEval, and the plan assertion below fails LOUDLY if a future
    // Spark renames the key again
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp =
      try {
        val plan = Seq("x").toDF("text")
          .select(punct_count(col("text"))).queryExecution.executedPlan
        val wscg = plan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }
        assert(wscg.isEmpty,
          s"interpreted leg still plans WholeStageCodegen — conf key wrong?\n$plan")
        everything()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val gen = everything()
      assert(gen === interp)
      // null path: empty shingle arrays stay SQL NULL under codegen
      val nulls = Seq("ab").toDF("t")
        .select(min_hash_sig(word_shingles(col("t"), 3), 4).as("mh"),
          sim_hash64(word_shingles(col("t"), 3)).as("s64"))
        .collect()(0)
      assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("text-kernel projections plan inside WholeStageCodegen") {
    // the r11 blemish: CodegenFallback kernels excluded their whole stage
    // from WSCG — pin that the corpus-scan projection now fuses
    val plan = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(min_hash_sig(word_shingles(col("text"), 3), 4).as("mh"),
        lang_predict(split(lower(col("text")), " "),
          TextAnalysis.StopwordDicts.map(_._2),
          TextAnalysis.StopwordDicts.map(_._1)).as("lp"),
        punct_count(lower(col("text"))).as("pc"))
      .queryExecution.executedPlan
    val wscg = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscg.nonEmpty, s"no WholeStageCodegen span in:\n$plan")
    val fused = wscg.map(_.toString).mkString
    assert(fused.contains("Project"), s"projection not fused:\n$plan")
  }

  test("word_shingles builds 3-grams; short/empty docs yield empty arrays") {
    val df = Seq("a b c d", "a b", "", "x y z").toDF("text")
      .select(word_shingles(col("text"), 3).as("sh"))
    assert(df.as[Seq[String]].collect().toSeq === Seq(
      Seq("a b c", "b c d"), Seq(), Seq(), Seq("x y z")))
  }

  test("word_shingles matches the HOF formulation (incl. double spaces)") {
    val docs = Seq("the quick brown fox", "a  b c", "one two three four five").toDF("text")
    val kernel = docs.select(word_shingles(col("text"), 3).as("sh"))
    val hof = docs.select(
      when(size(split(col("text"), " ")) >= 3,
        transform(sequence(lit(1), size(split(col("text"), " ")) - 2), i =>
          concat_ws(" ",
            element_at(split(col("text"), " "), i),
            element_at(split(col("text"), " "), i + 1),
            element_at(split(col("text"), " "), i + 2))))
        .otherwise(array().cast("array<string>")).as("sh"))
    assert(kernel.as[Seq[String]].collect().toSeq === hof.as[Seq[String]].collect().toSeq)
  }

  test("min_hash_sig = per-permutation min of md5(j|shingle)") {
    val sh = Seq("aa bb cc", "bb cc dd")
    val df = Seq("aa bb cc dd").toDF("text")
      .select(min_hash_sig(word_shingles(col("text"), 3), 3).as("sig"))
    val sig = df.as[Seq[String]].head()
    val expected = (0 until 3).map(j => sh.map(s => md5hex(s"$j|$s")).min)
    assert(sig === expected)
  }

  test("sim_hash16: single token equals its own 16-bit md5 prefix") {
    // one token: every bit votes +1/-1 by the token hash bit -> simhash = hash
    val df = Seq("hello").toDF("text")
      .select(sim_hash16(split(col("text"), " ")).as("s"))
    val h = Integer.parseInt(md5hex("hello").substring(0, 4), 16)
    assert(df.as[Long].head() === h.toLong)
  }

  test("sim_hash64: single token equals its own 64-bit md5 prefix") {
    val df = Seq("hello").toDF("text")
      .select(sim_hash64(split(col("text"), " ")).as("s"))
    val h = java.lang.Long.parseUnsignedLong(md5hex("hello").substring(0, 16), 16)
    assert(df.as[Long].head() === h)
  }

  test("sim_hash64 high/low halves match the 32-bit md5-prefix oracle split") {
    // the DuckDB oracle reads bit j>=32 from ('0x'||substr(md5,1,8))::BIGINT
    // and bit j<32 from substr(md5,9,8) — verify the kernel's bit layout
    val s = Seq("world").toDF("text")
      .select(sim_hash64(split(col("text"), " ")).as("s")).as[Long].head()
    val hi = java.lang.Long.parseLong(md5hex("world").substring(0, 8), 16)
    val lo = java.lang.Long.parseLong(md5hex("world").substring(8, 16), 16)
    assert((s >>> 32) === hi)
    assert((s & 0xffffffffL) === lo)
  }

  test("punct_count matches the regexp_extract_all formulation incl. unicode") {
    val samples = Seq("hello, world!", "abc 123", "", "¿qué? 的是不 ok!",
      "UPPER was lowered", "a.b,c;d:e", "tabs\tand\nnewlines", "émigré café")
    val df = samples.toDF("text")
    val kernel = df.select(punct_count(lower(col("text"))).as("n")).as[Int].collect()
    val regex = df.select(
      size(regexp_extract_all(lower(col("text")), lit("[^a-z0-9 ]"), lit(0))).as("n"))
      .as[Int].collect()
    assert(kernel.toSeq === regex.toSeq)
  }

  test("stopword_scores matches the filter+array_contains formulation") {
    val dicts = TextAnalysis.StopwordDicts.map(_._2)
    val df = Seq("the cat and the dog", "el que la y en un", "", "zzz qqq").toDF("text")
    val kernel = df.select(stopword_scores(split(lower(col("text")), " "), dicts).as("s"))
      .as[Seq[Int]].collect()
    val hof = df.select(array(dicts.map(d =>
      size(filter(split(lower(col("text")), " "),
        t => array_contains(array(d.map(lit): _*), t)))): _*).as("s"))
      .as[Seq[Int]].collect()
    assert(kernel.toSeq === hof.toSeq)
  }

  test("histogram_agg buckets with clamp at both ends, exact counts") {
    import graft.functions.AggFunctions.histogram_agg
    // buckets of 10: [-5 -> 0][0 -> 0][9 -> 0][10 -> 1][39 -> 3][40,99 -> 3(last)]
    val df = Seq(-5L, 0L, 9L, 10L, 39L, 40L, 99L).toDF("x")
    val hist = df.agg(histogram_agg(col("x"), 4, 10).as("h"))
      .as[Seq[Long]].head()
    assert(hist === Seq(3L, 1L, 0L, 3L))
  }

  test("histogram_agg merges partial buffers across partitions exactly") {
    import graft.functions.AggFunctions.histogram_agg
    val df = spark.range(0, 1000, 1, 16) // 16 partitions force merges
      .select((col("id") % 80).as("x"))
    val hist = df.agg(histogram_agg(col("x"), 8, 10).as("h"))
      .as[Seq[Long]].head()
    // 12 full cycles of 80 + 40 extra: residues 0..39 appear 13x, 40..79 12x
    assert(hist === Seq(130L, 130L, 130L, 130L, 120L, 120L, 120L, 120L))
    // grouped path: per-group buffers stay independent
    val grouped = df.withColumn("g", col("x") % 2)
      .groupBy("g").agg(histogram_agg(col("x"), 8, 10).as("h"))
      .orderBy("g").as[(Long, Seq[Long])].collect()
    assert(grouped.map(_._2.sum).toSeq === Seq(500L, 500L))
  }

  test("count-min sketch never underestimates and is exact without collisions") {
    import graft.functions.AggFunctions.{cms_query, count_min_agg}
    val toks = Seq.fill(7)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = toks.toDF("tok").repartition(4) // force partial-buffer merges
    val sk = df.agg(count_min_agg(col("tok"), 4, 64).as("sk"))
    val est = sk.select(
      cms_query(col("sk"), lit("a"), 4, 64).as("a"),
      cms_query(col("sk"), lit("b"), 4, 64).as("b"),
      cms_query(col("sk"), lit("c"), 4, 64).as("c"),
      cms_query(col("sk"), lit("zz"), 4, 64).as("zz"))
      .as[(Long, Long, Long, Long)].head()
    assert(est._1 >= 7 && est._2 >= 3 && est._3 >= 1) // never underestimate
    assert(est._1 <= 11 && est._2 <= 11 && est._4 <= 11) // bounded by N
    // 3 keys in a 4x64 sketch: some row is collision-free -> min is exact
    assert(est === ((7L, 3L, 1L, 0L)))
  }

  test("bloom filter: no false negatives, merge-order independent, sized fp rate") {
    import graft.functions.AggFunctions.{bloom_agg, bloom_might_contain}
    val keys = (0L until 200L).map(i => s"key_$i")
    val df = keys.toDF("k").repartition(8) // force partial-buffer OR merges
    val bf = df.agg(bloom_agg(col("k"), 4096, 3).as("bf"))
    // every inserted key must probe true (the bloom contract)
    val members = keys.toDF("k").crossJoin(bf)
      .select(bloom_might_contain(col("bf"), col("k"), 4096, 3))
      .as[Boolean].collect()
    assert(members.forall(identity))
    // OR merge is order-free: single-partition build = 8-partition build
    val bf1 = keys.toDF("k").coalesce(1)
      .agg(bloom_agg(col("k"), 4096, 3).as("bf")).as[Seq[Long]].head()
    assert(bf.as[Seq[Long]].head() === bf1)
    // false-positive rate for 200 keys / 4096 bits / 3 hashes is ~0.5%;
    // 1000 non-member probes should see only a handful
    val fps = (1000L until 2000L).map(i => s"other_$i").toDF("k").crossJoin(bf)
      .select(bloom_might_contain(col("bf"), col("k"), 4096, 3))
      .as[Boolean].collect().count(identity)
    assert(fps < 50, s"false-positive rate too high: $fps/1000")
  }

  test("fingerprint normalizes case and whitespace") {
    val df = Seq(("A  b C", 1L), ("a b c", 2L)).toDF("text", "doc_id")
    val fps = TextAnalysis.fingerprint(df).select("fp").as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) === md5hex("a b c"))
  }

  test("quality of an empty document is NULL, never NaN (division guard)") {
    // 0/0 would be NaN in Spark but NULL in DuckDB — the NULLIF-style
    // guard must make both engines produce NULL (ADVICE r1, q18 gate risk)
    val df = Seq((1L, ""), (2L, "real text here")).toDF("doc_id", "text")
    val out = TextAnalysis.quality(df)
      .select("doc_id", "punct_ratio", "quality").collect()
      .map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) === ((true, true)))   // NULL, not NaN
    assert(out(2L) === ((false, false)))
    val vals = TextAnalysis.quality(df).filter($"doc_id" === 2)
      .select("quality").as[Double].head()
    assert(!vals.isNaN)
  }

  test("langId picks the dominant stopword dictionary, und when none match") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "el que la y en un"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "und")
  }

  test("word_chunks slices at token boundaries and reconstructs losslessly") {
    val df = Seq("a b c d e", "a b", "", "x  y z").toDF("text")
      .select(col("text"), word_chunks(col("text"), 2).as("ch"))
    val rows = df.select("ch").as[Seq[String]].collect().toSeq
    assert(rows === Seq(
      Seq("a b", "c d", "e"), Seq("a b"), Seq(""), Seq("x ", "y z")))
    // joining the chunks back with single spaces is the identity — token
    // boundaries (including empty tokens from runs of spaces) survive
    val recon = df.select((array_join(col("ch"), " ") === col("text"))
      .as("ok")).as[Boolean].collect()
    assert(recon.forall(identity))
  }

  test("chunkDocuments: full chunks except the last, token counts add up") {
    val text = (1 to 71).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkDocuments(
      Seq((1L, text)).toDF("doc_id", "text"), chunkSize = 32)
      .select("chunk_idx", "n_tokens").as[(Int, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0, 1, 2))
    assert(out.map(_._2).toSeq === Seq(32, 32, 7))
  }

  test("word_chunks with stride overlaps windows and still covers the end") {
    // 10 tokens, size 4, stride 3: windows [0,4) [3,7) [6,10) — the last
    // window is the first that reaches the end, no pure-suffix trailer
    val df = Seq("a b c d e f g h i j").toDF("text")
      .select(word_chunks(col("text"), 4, 3).as("ch"))
    assert(df.as[Seq[String]].head() ===
      Seq("a b c d", "d e f g", "g h i j"))
    // docs shorter than the window: exactly one chunk whatever the stride
    val short = Seq("a b").toDF("text")
      .select(word_chunks(col("text"), 4, 1).as("ch"))
    assert(short.as[Seq[String]].head() === Seq("a b"))
  }

  test("chunkDocuments strided: starts stride apart, overlap = size - stride") {
    val text = (1 to 71).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkDocuments(
      Seq((1L, text)).toDF("doc_id", "text"), chunkSize = 32, stride = 24)
      .select("chunk_idx", "chunk_text", "n_tokens")
      .as[(Int, String, Int)].collect().sortBy(_._1)
    // 71 tokens: windows [0,32) [24,56) [48,71) — 1 + ceil((71-32)/24) = 3
    assert(out.map(_._1).toSeq === Seq(0, 1, 2))
    assert(out.map(_._3).toSeq === Seq(32, 32, 23))
    assert(out(1)._2.startsWith("w25 ")) // second window starts at token 24
    assert(out(2)._2.endsWith(" w71"))   // last window reaches the end
  }

  test("redactPii replaces each class and counts on pre-redaction text") {
    val df = Seq(
      (1L, "write to Bob.Smith+w@Example.org or call 555-014-7890 from 10.1.2.3"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.com c.d@e.net one ip 192.168.0.1 ssn 123-45-6789"),
      (4L, "dotted phone 555.867.5309 is not an ip")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df)
      .select("doc_id", "red_text", "n_email", "n_ssn", "n_phone", "n_ip")
      .as[(Long, String, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "write to <EMAIL> or call <PHONE> from <IP>")
    assert((out(1L)._3, out(1L)._4, out(1L)._5, out(1L)._6) === ((1, 0, 1, 1)))
    assert(out(2L)._2 === "no pii here at all") // untouched
    assert((out(2L)._3, out(2L)._4, out(2L)._5, out(2L)._6) === ((0, 0, 0, 0)))
    assert(out(3L)._2 === "two mails <EMAIL> <EMAIL> one ip <IP> ssn <SSN>")
    assert((out(3L)._3, out(3L)._4, out(3L)._5, out(3L)._6) === ((2, 1, 0, 1)))
    assert(out(4L)._2 === "dotted phone <PHONE> is not an ip")
    assert((out(4L)._3, out(4L)._4, out(4L)._5, out(4L)._6) === ((0, 0, 1, 0)))
  }

  test("redactPii adversarial edges: case, + tags, delimiters, adjacency") {
    val df = Seq(
      (1L, "UPPER.CASE+tag@MAIL.ORG shouts"),                // case-insensitive
      (2L, "ssn 078-05-1120 then phone 650-555-1234 apart"), // 3-2-4 vs 3-3-4
      (3L, "ip 8.8.8.8 vs dotted phone 555.123.4567 both"),  // dots disambiguate
      (4L, "multi-label user%x@sub.domain-y.co.uk works")    // %, -, nested domain
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df)
      .select("doc_id", "red_text", "n_email", "n_ssn", "n_phone", "n_ip")
      .as[(Long, String, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "<EMAIL> shouts")
    assert(out(1L)._3 === 1)
    assert(out(2L)._2 === "ssn <SSN> then phone <PHONE> apart")
    assert((out(2L)._4, out(2L)._5) === ((1, 1)))
    assert(out(3L)._2 === "ip <IP> vs dotted phone <PHONE> both")
    assert((out(3L)._5, out(3L)._6) === ((1, 1)))
    assert(out(4L)._2 === "multi-label <EMAIL> works")
    assert(out(4L)._3 === 1)
  }

  test("redactPii classes are mutually exclusive (email domain is not an IP)") {
    // the email is consumed whole by the first pattern; its dotted domain
    // must not additionally count or redact as an IP
    val df = Seq((1L, "mail me1.a2@host99.info now")).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(df)
      .select("red_text", "n_email", "n_ip").as[(String, Int, Int)].head()
    assert(r === (("mail <EMAIL> now", 1, 0)))
  }

  test("withSyntheticPii payloads carry exactly one of each class") {
    // odd and even ids: both phone delimiters AND both card groupings
    val docs = Seq((7L, "x " * 60), (122L, "y " * 60)).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(TextAnalysis.withSyntheticPii(docs))
      .select("n_email", "n_ssn", "n_phone", "n_cc", "n_ip")
      .as[(Int, Int, Int, Int, Int)].collect()
    assert(out.forall(_ === ((1, 1, 1, 1, 1))))
  }

  test("redactPii payment cards: groupings, lengths, ordering, Luhn fixtures") {
    // spec-side Luhn validator (r6 #7): a checksum is not RE2-expressible,
    // so the ENGINE class stays aggressive (any 13-19-digit delimited run
    // redacts) and the SPEC drives it with Luhn-VALID numbers in every
    // real-world grouping to prove no actual PAN shape escapes
    def luhn(s: String): Boolean = {
      val ds = s.filter(_.isDigit).map(_ - '0').reverse
      ds.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }
    val cards = Seq(
      "4539148803436467",      // visa, 16 contiguous
      "4539-1488-0343-6467",   // visa, 4-4-4-4 dashed
      "4539 1488 0343 6467",   // visa, 4-4-4-4 spaced
      "340000000000009",       // amex, 15 contiguous
      "3400-000000-00009",     // amex, 4-6-5 dashed
      "4222222222222",         // visa, 13 (shortest PAN)
      "6799990100000000019")   // maestro, 19 (longest PAN)
    assert(cards.forall(luhn), "fixture cards must be Luhn-valid")
    val df = cards.zipWithIndex
      .map { case (c, i) => (i.toLong, s"pay card $c today") }
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df)
      .select("red_text", "n_cc").as[(String, Int)].collect()
    assert(out.forall(_ === (("pay card <CC> today", 1))))
    // negatives: short runs survive, dots never join runs, and the
    // earlier classes keep their digits out of the card class
    val neg = Seq(
      (1L, "order 123456789012 is twelve digits"),
      (2L, "ip 10.1.2.3 dotted"),
      (3L, "078-05-1120 650-555-1234")) // SSN+phone, space-fused 19 digits
    .toDF("doc_id", "text")
    val nout = TextAnalysis.redactPii(neg)
      .select("doc_id", "red_text", "n_cc").as[(Long, String, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(nout(1L)._2 === "order 123456789012 is twelve digits")
    assert(nout(2L)._2 === "ip <IP> dotted")
    // ordering (the chain-point count rule): the SSN and phone are
    // replaced before the card class runs, so their 9+10 digits cannot
    // fuse into a fake card — neither in the text nor in n_cc
    assert(nout(3L)._2 === "<SSN> <PHONE>")
    assert(nout.values.forall(_._3 === 0))
  }

  test("lmScore: Laplace-smoothed unigram math is exact on a tiny corpus") {
    // corpus tokens: a a b | c  ->  N=4, V=3, p(a)=3/7, p(b)=p(c)=2/7
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreStage(docs).result
      .select("doc_id", "n_tokens", "avg_nll", "ppl")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val nll1 = (2 * -math.log(3.0 / 7) + -math.log(2.0 / 7)) / 3
    assert(out(1L) === ((1L, 3L,
      BigDecimal(nll1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(math.exp(nll1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // single token c: ppl = 1/p(c) = 7/2 exactly
    assert(out(2L)._4 === 3.5)
  }

  test("lmScoreBigram: conditional math exact; sub-2-token docs carry NULLs") {
    // doc 1 bigrams: "a b" x2, "b a" x2 -> c2=2 each, c1(a)=c1(b)=2, V=2
    // p = (2+1)/(2+2) = 3/4 everywhere -> ppl = 4/3
    val docs = Seq((1L, "a b a b a"), (2L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreBigramStage(docs).result
      .select("doc_id", "n_bigrams", "ppl")
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4L, Some(1.3333))))
    assert(out(2L) === ((2L, 0L, None)))
  }

  test("bigram LM separates fluent from shuffled text that unigram scores equally") {
    // same token multiset (3 x, 3 y) per doc: unigram ppl identical,
    // bigram ppl lower for the doc whose transitions dominate the corpus
    val docs = Seq((1L, "x y x y x y"), (2L, "x x x y y y")).toDF("doc_id", "text")
    val uni = TextAnalysis.lmScoreStage(docs).result
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(uni(1L) === uni(2L))
    val bi = TextAnalysis.lmScoreBigramStage(docs).result
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(bi(1L) < bi(2L))
  }

  test("blocklistFilter matches whole tokens only, never substrings") {
    val docs = Seq(
      (1L, "clean duplicate text"),      // "dup" is a substring, not a token
      (2L, "this has dup twice dup"),    // two whole-token hits
      (3L, "Dup at the start")           // case-folded token hit
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(docs)
      .select("doc_id", "n_blocked", "keep")
      .as[(Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 0, 1)))
    assert(out(2L) === ((2L, 2, 0)))
    assert(out(3L) === ((3L, 1, 0)))
  }

  test("vocabCoverage: monotone curve reaching exactly 1.0 when topV covers the vocab") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverageStage(docs, topV = 10).result
      .select("rank", "tok", "cnt", "cum_cov", "vocab")
      .as[(Int, String, Long, Double, Long)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq("a", "b", "c", "d")) // freq desc, tok tie-break
    assert(out.map(_._4).toSeq === out.map(_._4).toSeq.sorted) // monotone
    assert(out.last._4 === 1.0)                               // full coverage
    assert(out.forall(_._5 === 4L))
  }

  test("sourceDivergence: single source diverges exactly 0, disjoint sources > 0") {
    // one source == the corpus -> p and q identical -> KL 0.0 exactly
    val single = Seq((1L, "a b c", "s0"), (2L, "a a d", "s0"))
      .toDF("doc_id", "text", "source")
    val kl0 = TextAnalysis.sourceDivergenceStage(single).result
      .select("kl").as[Double].collect()
    assert(kl0.toSeq === Seq(0.0))
    // disjoint vocabularies: both sources far from the pooled corpus
    val split = Seq((1L, "a a b b", "s0"), (2L, "x x y y", "s1"))
      .toDF("doc_id", "text", "source")
    val kls = TextAnalysis.sourceDivergenceStage(split).result
      .select("source", "kl").as[(String, Double)].collect().toMap
    assert(kls.size === 2 && kls.values.forall(_ > 0.0))
  }

  test("lmScore ranks templated text below novel text") {
    // doc 3 repeats the corpus's dominant tokens; doc 4 is all-rare
    val docs = Seq(
      (3L, "the the the the the the"),
      (4L, "zq xw vv kj pq mn")).toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreStage(docs).result
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(out(3L) < out(4L))
  }
}
