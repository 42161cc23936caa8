package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Differential query fuzzing (VERDICT r14 #4): a SEEDED random generator
  * of project/filter/join/aggregate compositions over the catalog tables,
  * each emitted simultaneously as (a) a Spark DataFrame plan and (b) the
  * equivalent ANSI SQL for DuckDB — the 143 fixed gates pin 143 fixed
  * plans; the fuzzer hunts the semantics gaps fixed queries can't reach
  * (rounding, null handling, overflow, predicate edge cases) by sampling
  * the composition space. [[Fuzz]] writes the same `outDir/<name>/` +
  * `oracle_sql.json` layout as [[graft.Verify]], so the existing
  * `tools/check_oracle.py` rows+schema+hash comparator drives the
  * differential run unchanged.
  *
  * Generation discipline (what keeps a divergence a FINDING, not noise):
  * every double aggregate is rounded at 4 in both renderings (the
  * repo-wide parallel-summation rule), constants render as short
  * decimal literals both parsers bind to the identical IEEE double,
  * modulo predicates stay on non-negative keys (Spark's `%` and SQL `%`
  * agree there), and every output column is aliased identically on both
  * sides (the driver compare sorts columns by name).
  */
object QueryFuzz {

  /** A numeric column with the constant range predicates draw from. */
  final case class NumCol(name: String, lo: Double, hi: Double)
  /** A categorical column with its (stable, SF-independent) value set. */
  final case class CatCol(name: String, values: Seq[String])

  final case class Table(name: String,
                         load: (SparkSession, String) => DataFrame,
                         ints: Seq[String], nums: Seq[NumCol],
                         cats: Seq[CatCol])

  val tables: Seq[Table] = Seq(
    Table("lineitem", Tables.lineitem,
      ints = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
      nums = Seq(NumCol("l_quantity", 1, 50),
        NumCol("l_extendedprice", 900, 105000),
        NumCol("l_discount", 0, 0.1)),
      cats = Seq(CatCol("l_returnflag", Seq("A", "N", "R")),
        CatCol("l_linestatus", Seq("F", "O")))),
    Table("orders", Tables.orders,
      ints = Seq("o_orderkey", "o_custkey"),
      nums = Seq(NumCol("o_totalprice", 1000, 500000)),
      cats = Seq(CatCol("o_orderstatus", Seq("F", "O", "P")),
        CatCol("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")))),
    Table("customer", Tables.customer,
      ints = Seq("c_custkey", "c_nationkey"),
      nums = Seq(NumCol("c_acctbal", -1000, 10000)),
      cats = Seq(CatCol("c_mktsegment", Seq("AUTOMOBILE", "BUILDING",
        "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
    Table("events", (s, d) => Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value"),
      ints = Seq("event_id", "user_id"),
      nums = Seq(NumCol("value", 0, 490)),
      cats = Seq(CatCol("event_type",
        Seq("click", "error", "purchase", "signup", "view")))))

  /** Joinable pairs: (left idx, right idx, left key, right key). */
  private val joins = Seq((0, 1, "l_orderkey", "o_orderkey"),
    (1, 2, "o_custkey", "c_custkey"))

  /** One generated query: identical column names on both renderings. */
  final case class FuzzQuery(name: String,
                             build: (SparkSession, String) => DataFrame,
                             sql: String)

  /** A predicate/expression rendered for both engines. */
  private final case class Both(col: Column, sql: String)

  private def renderConst(x: Double): String = {
    val r = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    r.underlying().toPlainString
  }

  private def predicate(rnd: scala.util.Random, t: Table,
                        qualify: Boolean): Both = {
    val alias = if (qualify) t.name.take(1) + "." else ""
    rnd.nextInt(3) match {
      case 0 => // numeric comparison at a 2-dp constant
        val c = t.nums(rnd.nextInt(t.nums.length))
        val v = c.lo + rnd.nextDouble() * (c.hi - c.lo)
        val lit4 = renderConst(v)
        val ops = Seq(("<", (a: Column, b: Column) => a < b),
          ("<=", (a: Column, b: Column) => a <= b),
          (">", (a: Column, b: Column) => a > b),
          (">=", (a: Column, b: Column) => a >= b))
        val (os, of) = ops(rnd.nextInt(ops.length))
        Both(of(col(c.name), lit(lit4.toDouble)),
          s"$alias${c.name} $os $lit4")
      case 1 => // modulo class on a non-negative key
        val c = t.ints(rnd.nextInt(t.ints.length))
        val k = 2 + rnd.nextInt(6)
        val r = rnd.nextInt(k)
        Both(col(c) % k === r, s"$alias$c % $k = $r")
      case _ => // categorical equality / IN
        val c = t.cats(rnd.nextInt(t.cats.length))
        if (rnd.nextBoolean() || c.values.length < 3) {
          val v = c.values(rnd.nextInt(c.values.length))
          Both(col(c.name) === v, s"$alias${c.name} = '$v'")
        } else {
          val vs = rnd.shuffle(c.values).take(2).sorted
          Both(col(c.name).isin(vs: _*),
            s"$alias${c.name} IN (${vs.map(v => s"'$v'").mkString(", ")})")
        }
    }
  }

  private def aggregates(rnd: scala.util.Random,
                         ts: Seq[Table]): Seq[Both] = {
    val nums = ts.flatMap(t => t.nums.map(_.name))
    val ints = ts.flatMap(_.ints)
    val picks = scala.collection.mutable.ArrayBuffer[Both]()
    picks += Both(count(lit(1)).as("a_cnt"), "CAST(count(*) AS BIGINT) AS a_cnt")
    val extra = 1 + rnd.nextInt(2)
    val used = scala.collection.mutable.Set[String]()
    for (_ <- 1 to extra) {
      rnd.nextInt(4) match {
        case 0 =>
          val c = nums(rnd.nextInt(nums.length))
          if (used.add(s"sum_$c"))
            picks += Both(round(sum(col(c)), 4).as(s"a_sum_$c"),
              s"round(sum($c), 4) AS a_sum_$c")
        case 1 =>
          // mean4, not round(avg(x), 4): seed 3153 found the mean of a
          // parallel double sum within an ulp of a .00005 boundary —
          // the 4th decimal flipped between engines; and seed 7249
          // found round-of-double itself cross-engine-undefined when
          // the TRUE rational mean sits exactly ON the boundary, so
          // both renderings now round in exact integer arithmetic
          // (see AggFunctions.mean4/mean4Sql — a serialization pair)
          val c = nums(rnd.nextInt(nums.length))
          if (used.add(s"avg_$c"))
            picks += Both(
              graft.functions.AggFunctions.mean4(col(c)).as(s"a_avg_$c"),
              graft.functions.AggFunctions.mean4Sql(c) + s" AS a_avg_$c")
        case 2 =>
          val c = ints(rnd.nextInt(ints.length))
          val mx = rnd.nextBoolean()
          val f = if (mx) "max" else "min"
          if (used.add(s"${f}_$c"))
            picks += Both((if (mx) max(col(c)) else min(col(c)))
              .cast("long").as(s"a_${f}_$c"),
              s"CAST($f($c) AS BIGINT) AS a_${f}_$c")
        case _ =>
          val c = ints(rnd.nextInt(ints.length))
          if (used.add(s"nd_$c"))
            picks += Both(countDistinct(col(c)).as(s"a_nd_$c"),
              s"CAST(count(DISTINCT $c) AS BIGINT) AS a_nd_$c")
      }
    }
    picks.toSeq
  }

  /** Band self-join (r15): random constant-band conditions over an int
    * key — the [[graft.plans.BandJoinRewrite]] input space. The engine
    * plans these through the bin rewrite; DuckDB evaluates the naive
    * band (its IEJoin), so every seed differentially tests the rule:
    * bound spellings (two-sided, abs, crossed upper bounds), strict vs
    * non-strict edges, negative offsets, and duplicate keys
    * (lineitem's l_orderkey repeats ~4×) for multiplicity.
    */
  private def bandJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = if (rnd.nextBoolean()) tables.head else tables(3) // lineitem | events
    // high-cardinality keys only (the first two): a tiny-domain key like
    // l_linenumber collapses every row into one band/hash neighborhood,
    // and the query's OUTPUT is quadratic — not a rewrite pathology, a
    // degenerate query (the fuzzer's job is parity, not stress)
    val k = t.ints(rnd.nextInt(math.min(2, t.ints.length)))
    val m = 2 + rnd.nextInt(5)
    val r = rnd.nextInt(m)
    val lo = rnd.nextInt(13) - 6
    val hi = lo + rnd.nextInt(10)
    val (condCol, condSql) = rnd.nextInt(3) match {
      case 0 => // two-sided, independently strict/non-strict
        val sLo = rnd.nextBoolean(); val sHi = rnd.nextBoolean()
        val cl = if (sLo) col("kb") > col("ka") + lo else col("kb") >= col("ka") + lo
        val ch = if (sHi) col("kb") < col("ka") + hi else col("kb") <= col("ka") + hi
        (cl && ch,
          s"b.kb ${if (sLo) ">" else ">="} a.ka + ($lo) AND " +
            s"b.kb ${if (sHi) "<" else "<="} a.ka + ($hi)")
      case 1 => // absolute tolerance
        val tol = rnd.nextInt(10)
        (abs(col("kb") - col("ka")) <= tol, s"abs(b.kb - a.ka) <= $tol")
      case _ => // crossed upper bounds: d ∈ [-p, q]
        val p = rnd.nextInt(8); val q = rnd.nextInt(8)
        (col("ka") <= col("kb") + p && col("kb") <= col("ka") + q,
          s"a.ka <= b.kb + $p AND b.kb <= a.ka + $q")
    }
    val sql = s"SELECT CAST(count(*) AS BIGINT) AS a_cnt, " +
      s"CAST(sum(a.ka + 3 * b.kb) AS BIGINT) AS a_chk, " +
      s"CAST(min(b.kb - a.ka) AS BIGINT) AS a_mind, " +
      s"CAST(max(b.kb - a.ka) AS BIGINT) AS a_maxd" +
      s"\nFROM (SELECT $k AS ka FROM ${t.name} WHERE $k % $m = $r) a " +
      s"JOIN (SELECT $k AS kb FROM ${t.name} WHERE $k % $m = $r) b " +
      s"ON $condSql"
    val build = (s: SparkSession, dir: String) => {
      val base = t.load(s, dir).filter(col(k) % m === r)
      val a = base.select(col(k).as("ka"))
      val b = base.select(col(k).as("kb"))
      a.join(b, condCol)
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("ka") + col("kb") * 3).cast("long").as("a_chk"),
          min(col("kb") - col("ka")).cast("long").as("a_mind"),
          max(col("kb") - col("ka")).cast("long").as("a_maxd"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Hamming self-join (r15): the [[graft.plans.HammingJoinRewrite]]
    * input space, differentially tested — DuckDB evaluates the naive
    * popcount join. Hashes are CORRELATED by construction (groups of 8
    * consecutive keys share a 60-bit md5 base, perturbed by the low 3
    * key bits), so within-group pairs sit at hamming <= 3 and thresholds
    * 1..3 produce real matches; duplicate keys (lineitem) exercise the
    * first-agreeing-block multiplicity machinery. Both engines derive
    * the hash from md5 hex — bit-identical inputs.
    */
  private def hammingJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = if (rnd.nextBoolean()) tables.head else tables(3)
    val k = t.ints(rnd.nextInt(math.min(2, t.ints.length))) // high-card keys
    val m = 10 + rnd.nextInt(9) // sampled side stays <= ~6k rows
    val r = rnd.nextInt(m)
    val ham = 1 + rnd.nextInt(3)
    // 1/3 of hamming seeds take the LEFT ANTI (fuzzy decontamination)
    // flavor — the value-set-factored semi/anti rewrite's input space
    if (rnd.nextInt(3) == 0) return hammingAnti(seed, rnd, t, k, m, r, ham)
    val neq = rnd.nextBoolean() // kb > ka, or kb <> ka (both directions)
    val keySql = if (neq) "b.kb <> a.ka" else "b.kb > a.ka"
    val hashSqlDuck = (kc: String) =>
      s"xor(('0x' || substr(md5(($kc // 8)::VARCHAR), 1, 15))::BIGINT, $kc % 8)"
    val sql = s"SELECT CAST(count(*) AS BIGINT) AS a_cnt, " +
      s"CAST(sum(a.ka + 3 * b.kb) AS BIGINT) AS a_chk, " +
      s"CAST(max(bit_count(xor(a.ha, b.hb))) AS INTEGER) AS a_maxham" +
      s"\nFROM (SELECT $k AS ka, ${hashSqlDuck(k)} AS ha FROM ${t.name} " +
      s"WHERE ($k // 8) % $m = $r) a " +
      s"JOIN (SELECT $k AS kb, ${hashSqlDuck(k)} AS hb FROM ${t.name} " +
      s"WHERE ($k // 8) % $m = $r) b " +
      s"ON $keySql AND bit_count(xor(a.ha, b.hb)) <= $ham"
    val build = (s: SparkSession, dir: String) => {
      val hash = expr(s"conv(substring(md5(cast($k div 8 as string)), 1, 15)" +
        s", 16, 10)").cast("long").bitwiseXOR(col(k) % 8)
      val base = t.load(s, dir).filter(expr(s"($k div 8) % $m = $r"))
      val a = base.select(col(k).as("ka"), hash.as("ha"))
      val b = base.select(col(k).as("kb"), hash.as("hb"))
      val keyCond = if (neq) col("kb") =!= col("ka") else col("kb") > col("ka")
      a.join(b, keyCond &&
          bit_count(col("ha").bitwiseXOR(col("hb"))) <= ham)
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("ka") + col("kb") * 3).cast("long").as("a_chk"),
          max(bit_count(col("ha").bitwiseXOR(col("hb"))))
            .cast("int").as("a_maxham"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** The LEFT ANTI hamming flavor: keep left rows with NO right neighbor
    * within hamming `ham` — the q153 fuzzy-decontamination shape,
    * rewritten by value-set factoring while DuckDB evaluates the
    * correlated NOT EXISTS. The benchmark side optionally carries a
    * right-only filter conjunct (which the factoring must apply to the
    * matched set, not the kept rows).
    */
  private def hammingAnti(seed: Long, rnd: scala.util.Random,
      t: Table, k: String, m: Int, r: Int, ham: Int): FuzzQuery = {
    // the benchmark is the SAME sample class thinned to one key parity —
    // group-mates of the opposite parity then sit at genuine small
    // hamming distances, so the kept set is a nontrivial function of
    // `ham` (a disjoint class would remove ~nothing, an unthinned one
    // everything). The parity conjunct is also right-only — exactly the
    // rider the value-set factoring must apply to the matched set.
    val par = rnd.nextInt(2)
    val hashSqlDuck = (kc: String) =>
      s"xor(('0x' || substr(md5(($kc // 8)::VARCHAR), 1, 15))::BIGINT, $kc % 8)"
    val sql = s"SELECT CAST(count(*) AS BIGINT) AS a_cnt, " +
      s"CAST(sum(a.ka) AS BIGINT) AS a_chk" +
      s"\nFROM (SELECT $k AS ka, ${hashSqlDuck(k)} AS ha FROM ${t.name} " +
      s"WHERE ($k // 8) % $m = $r) a " +
      s"WHERE NOT EXISTS (SELECT 1 " +
      s"FROM (SELECT $k AS kb, ${hashSqlDuck(k)} AS hb FROM ${t.name} " +
      s"WHERE ($k // 8) % $m = $r) b " +
      s"WHERE bit_count(xor(a.ha, b.hb)) <= $ham AND b.kb % 2 = $par)"
    val build = (s: SparkSession, dir: String) => {
      val hash = expr(s"conv(substring(md5(cast($k div 8 as string)), 1, 15)" +
        s", 16, 10)").cast("long").bitwiseXOR(col(k) % 8)
      val base = t.load(s, dir).filter(expr(s"($k div 8) % $m = $r"))
      val a = base.select(col(k).as("ka"), hash.as("ha"))
      val b = base.select(col(k).as("kb"), hash.as("hb"))
      a.join(b, bit_count(col("ha").bitwiseXOR(col("hb"))) <= ham &&
          col("kb") % 2 === par, "left_anti")
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("ka")).cast("long").as("a_chk"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Point-in-interval join (r15): the conf-gated variable-span case of
    * [[graft.plans.BandJoinRewrite]] — per-row interval bounds derived
    * from the right key, a seed-chosen bin width set by the build (the
    * same session-conf contract q151 uses), DuckDB replaying the naive
    * IEJoin. Width varies 2..16 so bins both wider and narrower than
    * typical spans are exercised.
    */
  private def intervalJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val tp = if (rnd.nextBoolean()) tables.head else tables(3)
    val ti = if (rnd.nextBoolean()) tables(1) else tables(3)
    val kp = tp.ints(rnd.nextInt(math.min(2, tp.ints.length)))
    val ki = ti.ints(rnd.nextInt(math.min(2, ti.ints.length)))
    val mp = 2 + rnd.nextInt(4); val rp = rnd.nextInt(mp)
    val mi = 2 + rnd.nextInt(4); val ri = rnd.nextInt(mi)
    val m1 = 3 + rnd.nextInt(7); val m2 = 3 + rnd.nextInt(7)
    val width = 2 + rnd.nextInt(15)
    val sql = s"SELECT CAST(count(*) AS BIGINT) AS a_cnt, " +
      s"CAST(sum(p.kp + 3 * i.ki) AS BIGINT) AS a_chk, " +
      s"CAST(min(p.kp - i.ki) AS BIGINT) AS a_mind, " +
      s"CAST(max(p.kp - i.ki) AS BIGINT) AS a_maxd" +
      s"\nFROM (SELECT $kp AS kp FROM ${tp.name} WHERE $kp % $mp = $rp) p " +
      s"JOIN (SELECT $ki AS ki FROM ${ti.name} WHERE $ki % $mi = $ri) i " +
      s"ON p.kp >= i.ki - i.ki % $m1 AND p.kp <= i.ki + i.ki % $m2"
    val build = (s: SparkSession, dir: String) => {
      s.conf.set("spark.graft.bandJoinRewrite.intervalBinWidth",
        width.toString)
      val p = tp.load(s, dir).filter(col(kp) % mp === rp)
        .select(col(kp).as("kp"))
      val i = ti.load(s, dir).filter(col(ki) % mi === ri)
        .select(col(ki).as("ki"))
      p.join(i, col("kp") >= col("ki") - col("ki") % m1 &&
          col("kp") <= col("ki") + col("ki") % m2)
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("kp") + col("ki") * 3).cast("long").as("a_chk"),
          min(col("kp") - col("ki")).cast("long").as("a_mind"),
          max(col("kp") - col("ki")).cast("long").as("a_maxd"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Set-similarity join (r16): the [[graft.operators.Dedup]] prefix-
    * filter operators, differentially tested — the engine runs the
    * prefix-candidate + exact-verify pipeline while DuckDB evaluates the
    * NAIVE all-pairs Jaccard over the same distinct fp60 shingle sets.
    * Seeds vary the threshold (0.15..0.75), a doc-sample class, and 1/3
    * take the cross-relation incremental flavor (corpus-df order, the
    * q158 shape). Output folds to one checksum row so alias scanning
    * sees only the outer select list.
    */
  private def setSimJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val m = 1 + rnd.nextInt(3)
    val r = rnd.nextInt(m)
    val t = (15 + 5 * rnd.nextInt(13)) / 100.0
    // 0 → incremental Jaccard, 1 → containment (the q170 asymmetric
    // measure), else full all-pairs Jaccard
    val mode = rnd.nextInt(4)
    val incremental = mode == 0
    val containment = mode == 1
    val simCol = if (containment) "containment" else "jaccard"
    val innerSql = {
      val base =
        s"WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks " +
          s"FROM documents WHERE doc_id % $m = $r), " +
          "sh0 AS (SELECT doc_id, list_transform(range(1, len(toks) - 1), " +
          "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh FROM toks), " +
          "fpd AS (SELECT doc_id, list_distinct(list_transform(" +
          "list_distinct(sh), s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) " +
          "AS f FROM sh0 WHERE len(list_distinct(sh)) > 0) "
      val joinOn = if (incremental || containment)
        "a.doc_id % 2 = 0 AND b.doc_id % 2 = 1"
      else "b.doc_id > a.doc_id"
      val quotient = if (containment)
        "len(list_intersect(a.f, b.f)) / len(a.f)"
      else
        "len(list_intersect(a.f, b.f)) / (len(a.f) + len(b.f) " +
          "- len(list_intersect(a.f, b.f)))"
      base +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        s"round($quotient, 4) AS $simCol " +
        s"FROM fpd a JOIN fpd b ON $joinOn " +
        s"WHERE $quotient >= ${t}e0"
    }
    val sql = "SELECT CAST(count(*) AS BIGINT) AS a_cnt, " +
      "CAST(sum(id_a + 3 * id_b) AS BIGINT) AS a_chk, " +
      s"CAST(sum(CAST(round($simCol * 10000, 0) AS BIGINT)) AS BIGINT) AS a_jsum" +
      s"\nFROM ($innerSql) z"
    val build = (s: SparkSession, dir: String) => {
      val docs = graft.sources.Tables.documents(s, dir)
        .filter(col("doc_id") % m === r)
      val pairs =
        if (incremental)
          graft.operators.Dedup.prefixJoinAgainstCorpusStage(
            docs.filter(col("doc_id") % 2 === 1), // corpus = odd ids (id_b)
            docs.filter(col("doc_id") % 2 === 0), t).result
        else if (containment)
          graft.operators.Dedup.containmentJoinAgainstCorpusStage(
            docs.filter(col("doc_id") % 2 === 1), // corpus = odd ids (id_b)
            docs.filter(col("doc_id") % 2 === 0), t).result
        else graft.operators.Dedup.prefixSimilarityJoinStage(docs, t).result
      pairs.agg(count(lit(1)).as("a_cnt"),
        sum(col("id_a") + col("id_b") * 3).cast("long").as("a_chk"),
        sum(round(col(simCol) * 10000, 0).cast("long")).cast("long")
          .as("a_jsum"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Edit-distance join (r16): the [[graft.operators.EditDistance]]
    * segment-pigeonhole + early-exit verify pipeline while DuckDB
    * evaluates the NAIVE quadratic `levenshtein(a, b) <= k` join — a
    * seeded differential test of the multi-match-aware window's
    * completeness over arbitrary name corpora slices. Tables rotate
    * through the three name columns (distinct-heavy customer ids,
    * dup-heavy part names, tiny supplier set); k ∈ 1..3; a sampled id
    * class varies the corpus per seed.
    */
  private def editJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val (tbl, idc, strc) = Seq(
      ("part", "p_partkey", "p_name"),
      ("customer", "c_custkey", "c_name"),
      ("supplier", "s_suppkey", "s_name"))(rnd.nextInt(3))
    val k = 1 + rnd.nextInt(3)
    val m = 1 + rnd.nextInt(3)
    val r = rnd.nextInt(m)
    val sql =
      s"""SELECT CAST(count(*) AS BIGINT) AS a_cnt,
         |       CAST(sum(id_a + 3 * id_b) AS BIGINT) AS a_chk,
         |       CAST(sum(dist) AS BIGINT) AS a_dsum
         |FROM (
         |  SELECT a.$idc AS id_a, b.$idc AS id_b,
         |         levenshtein(a.$strc, b.$strc) AS dist
         |  FROM $tbl a JOIN $tbl b
         |    ON a.$idc < b.$idc AND levenshtein(a.$strc, b.$strc) <= $k
         |  WHERE a.$idc % $m = $r AND b.$idc % $m = $r) z""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      val base = tbl match {
        case "part" => Tables.part(s, dir)
        case "customer" => Tables.customer(s, dir)
        case _ => Tables.supplier(s, dir)
      }
      graft.operators.EditDistance.editDistanceJoinStage(
        base.filter(col(idc) % m === r), idc, strc, k).result
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("id_a") + col("id_b") * 3).cast("long").as("a_chk"),
          sum(col("dist")).cast("long").as("a_dsum"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** OR-of-equalities join (r17): the engine runs the NAIVE disjunctive
    * spelling through [[graft.plans.DisjunctiveJoinRewrite]] while
    * DuckDB evaluates it verbatim — a seeded differential test of the
    * exactly-one-branch decomposition across 2–3 disjuncts, key moduli
    * with real overlap, and sampled id classes.
    */
  private def orJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val (tbl, idc) = Seq(("customer", "c_custkey"),
      ("orders", "o_orderkey"), ("supplier", "s_suppkey"))(rnd.nextInt(3))
    val mods = rnd.shuffle(Seq(83L, 89L, 97L, 101L, 103L))
      .take(2 + rnd.nextInt(2))
    val m = 2 + rnd.nextInt(2)
    val r = rnd.nextInt(m)
    val condSql = mods.map(k => s"a.$idc % $k = b.$idc % $k")
      .mkString(" OR ")
    val sql =
      s"""SELECT CAST(count(*) AS BIGINT) AS a_cnt,
         |       CAST(sum(id_a + 3 * id_b) AS BIGINT) AS a_chk
         |FROM (
         |  SELECT a.$idc AS id_a, b.$idc AS id_b
         |  FROM $tbl a JOIN $tbl b ON ($condSql)
         |  WHERE a.$idc % 2 = 0 AND b.$idc % 2 = 1
         |    AND a.$idc % $m = ${r % m} AND b.$idc % $m = ${r % m}) z""".stripMargin
    val build = (s: SparkSession, dir: String) => {
      val base = tbl match {
        case "customer" => Tables.customer(s, dir)
        case "orders" => Tables.orders(s, dir)
        case _ => Tables.supplier(s, dir)
      }
      val a = base.filter(col(idc) % 2 === 0 && col(idc) % m === r % m)
        .select(col(idc).as("id_a"))
      val b = base.filter(col(idc) % 2 === 1 && col(idc) % m === r % m)
        .select(col(idc).as("id_b"))
      val cond = mods.map(k => col("id_a") % k === col("id_b") % k)
        .reduce(_ || _)
      a.join(b, cond)
        .agg(count(lit(1)).as("a_cnt"),
          sum(col("id_a") + col("id_b") * 3).cast("long").as("a_chk"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Generate the query for one seed — pure function of the seed.
    * Kind mix: 3/10 single-table, 1/10 equi-join, 1/10 band self-join,
    * 1/10 hamming self-join, 1/10 point-in-interval join, 1/10
    * set-similarity join (full / incremental / CONTAINMENT — the q170
    * asymmetric quotient — drawn per seed), 1/10 edit-distance join,
    * 1/10 OR-of-equalities join (the rewrite-rule, prefix-filter and
    * segment-pigeonhole input spaces).
    */
  /** MV-rewrite differential (kind 10): a rollup over `documents` with
    * the q188 summary REGISTERED — the engine side runs through
    * MvRewrite (firing on clean rollups, standing down when the seed
    * draws a filter), DuckDB recomputes from the base table; a
    * divergence is a rewrite-exactness finding. Grouping, aggregate
    * subset, and the optional stand-down filter are all seed-drawn.
    */
  private def mvRollup(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val groups = rnd.nextInt(3) match {
      case 0 => Seq("source")
      case 1 => Seq("lang")
      case _ => Seq("source", "lang")
    }
    val pool = Seq[(String, Column)](
      ("CAST(count(*) AS BIGINT) AS a_cnt", count(lit(1)).as("a_cnt")),
      ("CAST(sum(n_chars) AS BIGINT) AS a_sum",
        sum(col("n_chars")).as("a_sum")),
      ("CAST(min(doc_id) AS BIGINT) AS a_min",
        min(col("doc_id")).as("a_min")),
      ("CAST(max(doc_id) AS BIGINT) AS a_max",
        max(col("doc_id")).as("a_max")))
    val mask = 1 + rnd.nextInt(15)
    val aggs = pool.zipWithIndex.collect {
      case (a, i) if (mask & (1 << i)) != 0 => a
    }
    // filter modes: none (fires) / doc_id modulo (the rule must STAND
    // DOWN — a predicate over a non-grouped column) / source IN subset
    // (a GROUP-column predicate: commutes, fires, re-applies over the
    // view) — all three must answer exactly
    val mode = rnd.nextInt(3)
    val filt = if (mode == 1) Some(2 + rnd.nextInt(7)) else None
    val srcs = if (mode == 2)
      Some(rnd.shuffle((0 until 20).toList).take(1 + rnd.nextInt(6))
        .map(i => s"src$i").sorted)
    else None
    val gs = groups.zipWithIndex.map { case (c, i) => (c, s"g${i + 1}") }
    val whereSql = filt.map(k => s"\nWHERE doc_id % $k = 0")
      .orElse(srcs.map(v =>
        s"\nWHERE source IN (${v.map(x => s"'$x'").mkString(", ")})"))
      .getOrElse("")
    val sql = s"SELECT ${gs.map { case (c, a) => s"$c AS $a" }
        .mkString(", ")}, ${aggs.map(_._1).mkString(", ")}" +
      s"\nFROM documents$whereSql" +
      s"\nGROUP BY ${gs.indices.map(_ + 1).mkString(", ")}"
    val build = (s: SparkSession, dir: String) => {
      graft.SparkEntry.ensureMvRegistered(s, dir)
      var df = Tables.documents(s, dir)
      filt.foreach(k => df = df.filter(col("doc_id") % k === 0))
      srcs.foreach(v => df = df.filter(col("source").isInCollection(v)))
      // group by the RAW columns and apply the g1/g2 renames in a select
      // ABOVE the aggregate: a withColumn-before-groupBy leaves an
      // Alias-bearing Project under the Aggregate, which MvRewrite's
      // stripToBase rejects — the rewrite would stand down in ALL three
      // filter modes and the differential would compare base vs base
      val agged = df.groupBy(groups.map(col): _*)
        .agg(aggs.head._2, aggs.tail.map(_._2): _*)
      val aggNames = aggs.map(_._1.split(" AS ").last)
      agged.select(gs.map { case (c, a) => col(c).as(a) } ++
        aggNames.map(col): _*)
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Unique row key per table (total ordering for window fuzz): ties in
    * a window ORDER BY make `row_number` engine-dependent, so the
    * ranking kind either appends this key (total order — any rank
    * function is deterministic) or restricts the output columns to the
    * ORDER BY columns themselves (tied rows are then indistinguishable
    * in the output, so the emitted multiset is assignment-invariant).
    */
  private val uniqueKeys = Map(
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"),
    "customer" -> Seq("c_custkey"),
    "events" -> Seq("event_id"))

  /** Window-ranking fuzz (kind 11): top-k per category through
    * `row_number`/`rank`/`dense_rank` — the WindowGroupLimit planning
    * path (q42/q45/q114's shape) sampled across tables, order
    * directions, and tie structures. `row_number` rides the table's
    * unique key for a provably total order; `rank`/`dense_rank` order by
    * the (tie-prone) numeric alone — deterministic under ties by
    * definition — with the output restricted to partition + order + rank
    * columns so the comparison stays assignment-invariant.
    */
  private def windowRank(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    import org.apache.spark.sql.expressions.Window
    val t = tables(rnd.nextInt(tables.length))
    val part = t.cats(rnd.nextInt(t.cats.length)).name
    val num = t.nums(rnd.nextInt(t.nums.length)).name
    val desc = rnd.nextBoolean()
    val k = 1 + rnd.nextInt(4)
    val nPred = rnd.nextInt(2)
    val preds = Seq.fill(nPred)(predicate(rnd, t, qualify = false))
    val whereSql = if (preds.isEmpty) ""
      else s" WHERE (${preds.map(_.sql).mkString(") AND (")})"
    val fn = rnd.nextInt(3) match {
      case 0 => "row_number"
      case 1 => "rank"
      case _ => "dense_rank"
    }
    val uids = if (fn == "row_number") uniqueKeys(t.name) else Seq.empty
    val vDir = if (desc) "DESC" else "ASC"
    val orderSql = (s"v $vDir" +: uids.indices.map(i => s"u${i + 1}"))
      .mkString(", ")
    val selAliases = Seq("g1", "v") ++ uids.indices.map(i => s"u${i + 1}")
    val innerSel = (Seq(s"$part AS g1", s"$num AS v") ++
      uids.zipWithIndex.map { case (u, i) => s"$u AS u${i + 1}" })
      .mkString(", ")
    val sql = s"SELECT ${selAliases.map(a => s"$a AS $a").mkString(", ")}, " +
      s"rn AS rn" +
      s"\nFROM (SELECT $innerSel, $fn() OVER (PARTITION BY $part " +
      s"ORDER BY $orderSql) AS rn FROM ${t.name}$whereSql) sub " +
      s"WHERE rn <= $k"
    val build = (s: SparkSession, dir: String) => {
      var df = t.load(s, dir)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      df = df.select(col(part).as("g1") +: col(num).as("v") +:
        uids.zipWithIndex.map { case (u, i) => col(u).as(s"u${i + 1}") }: _*)
      val v = if (desc) col("v").desc else col("v").asc
      val w = Window.partitionBy(col("g1"))
        .orderBy(v +: uids.indices.map(i => col(s"u${i + 1}").asc): _*)
      val rankCol = fn match {
        case "row_number" => row_number()
        case "rank" => rank()
        case _ => dense_rank()
      }
      df.withColumn("rn", rankCol.over(w)).filter(col("rn") <= k)
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Rollup/cube fuzz (kind 12): multi-level aggregation over one
    * categorical and one DERIVED (int modulo) group column — subtotal
    * rows null-mark group keys in both engines, and the derived key
    * exercises expression (not bare-attribute) grouping through the
    * grouping-set expansion (q25/q37's shape, sampled).
    */
  private def rollupAgg(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = tables(rnd.nextInt(tables.length))
    val cat = t.cats(rnd.nextInt(t.cats.length)).name
    val ic = t.ints(rnd.nextInt(t.ints.length))
    val m = 2 + rnd.nextInt(5)
    val cube = rnd.nextBoolean()
    val nPred = rnd.nextInt(2)
    val preds = Seq.fill(nPred)(predicate(rnd, t, qualify = false))
    val aggs = aggregates(rnd, Seq(t))
    val whereSql = if (preds.isEmpty) ""
      else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
    val op = if (cube) "CUBE" else "ROLLUP"
    val sql = s"SELECT $cat AS g1, $ic % $m AS g2, " +
      s"${aggs.map(_.sql).mkString(", ")}" +
      s"\nFROM ${t.name}$whereSql" +
      s"\nGROUP BY $op($cat, $ic % $m)"
    val build = (s: SparkSession, dir: String) => {
      var df = t.load(s, dir)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      df = df.withColumn("g1", col(cat)).withColumn("g2", col(ic) % m)
      val g = if (cube) df.cube(col("g1"), col("g2"))
        else df.rollup(col("g1"), col("g2"))
      g.agg(aggs.head.col, aggs.tail.map(_.col): _*)
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Set-operation fuzz (kind 13): UNION / UNION ALL / INTERSECT /
    * EXCEPT between two predicate-sliced projections of one table, over
    * a deliberately SMALL value domain (categorical × modulo) so the
    * set semantics actually bite — distinct-vs-multiset behavior,
    * overlap elimination, difference — then aggregated per value so the
    * compared output stays bounded.
    */
  private def setOp(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = tables(rnd.nextInt(tables.length))
    val cat = t.cats(rnd.nextInt(t.cats.length)).name
    val ic = t.ints(rnd.nextInt(t.ints.length))
    val m = 2 + rnd.nextInt(4)
    val p1 = predicate(rnd, t, qualify = false)
    val p2 = predicate(rnd, t, qualify = false)
    val (opSql, opF) = rnd.nextInt(4) match {
      case 0 => ("UNION", (a: DataFrame, b: DataFrame) => a.union(b).distinct())
      case 1 => ("UNION ALL", (a: DataFrame, b: DataFrame) => a.union(b))
      case 2 => ("INTERSECT", (a: DataFrame, b: DataFrame) => a.intersect(b))
      case _ => ("EXCEPT", (a: DataFrame, b: DataFrame) => a.except(b))
    }
    val leg = (p: Both) =>
      s"SELECT $cat AS s1, $ic % $m AS s2 FROM ${t.name} WHERE ${p.sql}"
    val sql = s"SELECT s1 AS s1, s2 AS s2, " +
      s"CAST(count(*) AS BIGINT) AS a_cnt" +
      s"\nFROM (${leg(p1)}\n$opSql\n${leg(p2)}) u" +
      s"\nGROUP BY s1, s2"
    val build = (s: SparkSession, dir: String) => {
      def slice(p: Both) = t.load(s, dir).filter(p.col)
        .select(col(cat).as("s1"), (col(ic) % m).as("s2"))
      opF(slice(p1), slice(p2))
        .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("a_cnt"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Conditional-aggregation fuzz (kind 14): CASE WHEN inside the
    * aggregate — the pivot/cohort spelling (sum-if, count-if) whose
    * predicate evaluates per row BEFORE null-skipping aggregation; the
    * branches are literal 0-defaults, so both engines fold the same
    * arithmetic.
    */
  private def condAgg(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = tables(rnd.nextInt(tables.length))
    val g = t.cats(rnd.nextInt(t.cats.length)).name
    val num = t.nums(rnd.nextInt(t.nums.length)).name
    val c1 = predicate(rnd, t, qualify = false)
    val c2 = predicate(rnd, t, qualify = false)
    val nPred = rnd.nextInt(2)
    val preds = Seq.fill(nPred)(predicate(rnd, t, qualify = false))
    val whereSql = if (preds.isEmpty) ""
      else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
    val sql = s"SELECT $g AS g1, CAST(count(*) AS BIGINT) AS a_cnt, " +
      s"round(sum(CASE WHEN ${c1.sql} THEN $num ELSE 0 END), 4) " +
      s"AS a_cond_sum, " +
      s"CAST(sum(CASE WHEN ${c2.sql} THEN 1 ELSE 0 END) AS BIGINT) " +
      s"AS a_cond_n" +
      s"\nFROM ${t.name}$whereSql\nGROUP BY g1"
    val build = (s: SparkSession, dir: String) => {
      var df = t.load(s, dir)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      df.withColumn("g1", col(g)).groupBy(col("g1"))
        .agg(count(lit(1)).as("a_cnt"),
          round(sum(when(c1.col, col(num)).otherwise(lit(0))), 4)
            .as("a_cond_sum"),
          sum(when(c2.col, lit(1)).otherwise(lit(0))).cast("long")
            .as("a_cond_n"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Decimal-aggregate fuzz (kind 15): the q198/q199 decimal(12,2)
    * discipline generalized — sums/min/max over CAST(num AS
    * DECIMAL(12,2)) and optionally a scale-growing decimal product sum.
    * Exactness argument: both engines cast from the IDENTICAL binary
    * double, and both round half away from zero on the double→decimal
    * cast (Spark HALF_UP, DuckDB half-away-from-zero) — so even the
    * representable exact ties (0.125, 1.625, …) land on the same cent
    * and the per-row decimals agree; decimal aggregation is then exact
    * integer arithmetic in both engines (HUGEINT-backed in DuckDB,
    * int128/Decimal in Spark), string-compared at the same scale.
    */
  private def decAgg(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = tables(rnd.nextInt(tables.length))
    val g = t.cats(rnd.nextInt(t.cats.length)).name
    val n1 = t.nums(rnd.nextInt(t.nums.length)).name
    val n2 = t.nums(rnd.nextInt(t.nums.length)).name
    val withProduct = rnd.nextBoolean()
    val preds = Seq.fill(rnd.nextInt(2))(predicate(rnd, t, qualify = false))
    val whereSql = if (preds.isEmpty) ""
      else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
    def d(c: String) = s"CAST($c AS DECIMAL(12,2))"
    val prodSql = if (withProduct)
      s",\n  sum(${d(n1)} * ${d(n2)}) AS a_dprod" else ""
    val sql = s"SELECT $g AS g1, CAST(count(*) AS BIGINT) AS a_cnt,\n" +
      s"  sum(${d(n1)}) AS a_dsum, min(${d(n1)}) AS a_dmin, " +
      s"max(${d(n1)}) AS a_dmax$prodSql" +
      s"\nFROM ${t.name}$whereSql\nGROUP BY g1"
    val build = (s: SparkSession, dir: String) => {
      var df = t.load(s, dir)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      val dv = col(n1).cast("decimal(12,2)")
      val base = df.withColumn("g1", col(g)).groupBy(col("g1"))
      val aggs = Seq(count(lit(1)).as("a_cnt"), sum(dv).as("a_dsum"),
        min(dv).as("a_dmin"), max(dv).as("a_dmax")) ++
        (if (withProduct)
          Seq(sum(dv * col(n2).cast("decimal(12,2)")).as("a_dprod"))
        else Nil)
      base.agg(aggs.head, aggs.tail: _*)
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Decimal-join fuzz (kind 16): the decimal plane pushed into JOIN
    * KEYS (VERDICT r17 #7) — the equi-join runs on CAST(intKey AS
    * DECIMAL(12,2)) against either a decimal twin or a DOUBLE cast of
    * the other side's key (the mixed-type coercion path). Both key
    * families are integer-valued, so every cast is exact in both
    * engines and the join's type-coercion semantics are differentially
    * testable without representability noise; measures aggregate as
    * exact decimal sums/extremes per a left-table category.
    */
  private def decJoin(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val (li, ri, lk, rk) = joins(rnd.nextInt(joins.length))
    val lt = tables(li); val rt = tables(ri)
    val la = lt.name.take(1); val ra = rt.name.take(1)
    val mixed = rnd.nextBoolean() // decimal = double vs decimal = decimal
    val g = lt.cats(rnd.nextInt(lt.cats.length)).name
    val numT = if (rnd.nextBoolean()) lt else rt
    val num = numT.nums(rnd.nextInt(numT.nums.length)).name
    val predT = Seq.fill(rnd.nextInt(2))(if (rnd.nextBoolean()) lt else rt)
    val preds = predT.map(t => predicate(rnd, t, qualify = true))
    val whereSql = if (preds.isEmpty) ""
      else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
    def d(c: String) = s"CAST($c AS DECIMAL(12,2))"
    val rKeySql = if (mixed) s"CAST($ra.$rk AS DOUBLE)" else d(s"$ra.$rk")
    val sql = s"SELECT $la.$g AS g1, CAST(count(*) AS BIGINT) AS a_cnt,\n" +
      s"  sum(${d(num)}) AS a_dsum, min(${d(num)}) AS a_dmin\n" +
      s"FROM ${lt.name} $la JOIN ${rt.name} $ra" +
      s"\n  ON ${d(s"$la.$lk")} = $rKeySql$whereSql" +
      s"\nGROUP BY g1"
    val build = (s: SparkSession, dir: String) => {
      val rKey = if (mixed) col(rk).cast("double")
        else col(rk).cast("decimal(12,2)")
      var df = lt.load(s, dir).join(rt.load(s, dir),
        col(lk).cast("decimal(12,2)") === rKey)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      val dv = col(num).cast("decimal(12,2)")
      df.withColumn("g1", col(g)).groupBy(col("g1"))
        .agg(count(lit(1)).as("a_cnt"), sum(dv).as("a_dsum"),
          min(dv).as("a_dmin"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  /** Decimal-rollup fuzz (kind 17): ROLLUP/CUBE over decimal measures
    * (VERDICT r17 #7) — kind 12's grouping-set expansion with kind 15's
    * exact decimal sum/min/max riding through the subtotal rows, so the
    * null-marked grouping levels exercise decimal aggregation state in
    * both engines.
    */
  private def decRollup(seed: Long, rnd: scala.util.Random): FuzzQuery = {
    val t = tables(rnd.nextInt(tables.length))
    val cat = t.cats(rnd.nextInt(t.cats.length)).name
    val ic = t.ints(rnd.nextInt(t.ints.length))
    val m = 2 + rnd.nextInt(5)
    val cube = rnd.nextBoolean()
    val n1 = t.nums(rnd.nextInt(t.nums.length)).name
    val preds = Seq.fill(rnd.nextInt(2))(predicate(rnd, t, qualify = false))
    val whereSql = if (preds.isEmpty) ""
      else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
    def d(c: String) = s"CAST($c AS DECIMAL(12,2))"
    val op = if (cube) "CUBE" else "ROLLUP"
    val sql = s"SELECT $cat AS g1, $ic % $m AS g2, " +
      s"CAST(count(*) AS BIGINT) AS a_cnt,\n" +
      s"  sum(${d(n1)}) AS a_dsum, min(${d(n1)}) AS a_dmin, " +
      s"max(${d(n1)}) AS a_dmax" +
      s"\nFROM ${t.name}$whereSql\nGROUP BY $op($cat, $ic % $m)"
    val build = (s: SparkSession, dir: String) => {
      var df = t.load(s, dir)
      if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
      df = df.withColumn("g1", col(cat)).withColumn("g2", col(ic) % m)
      val dv = col(n1).cast("decimal(12,2)")
      val g = if (cube) df.cube(col("g1"), col("g2"))
        else df.rollup(col("g1"), col("g2"))
      g.agg(count(lit(1)).as("a_cnt"), sum(dv).as("a_dsum"),
        min(dv).as("a_dmin"), max(dv).as("a_dmax"))
    }
    FuzzQuery(s"fz_$seed", build, sql)
  }

  def generate(seed: Long): FuzzQuery = {
    // double-seeded: java.util.Random's FIRST draw is heavily correlated
    // across adjacent seeds, and kind is the first draw — measured: 700
    // sequential seeds at one base drew ZERO kind-15 queries while
    // another base drew 30% — so sequential batteries were silently
    // lopsided per base. Seeding from the first output of a seed-keyed
    // generator decorrelates the stream; past batteries remain valid
    // records of the generator version that produced them.
    val rnd = new scala.util.Random(new scala.util.Random(seed).nextLong())
    val kind = rnd.nextInt(18)
    if (kind == 17) return decRollup(seed, rnd)
    if (kind == 16) return decJoin(seed, rnd)
    if (kind == 15) return decAgg(seed, rnd)
    if (kind == 14) return condAgg(seed, rnd)
    if (kind == 13) return setOp(seed, rnd)
    if (kind == 12) return rollupAgg(seed, rnd)
    if (kind == 11) return windowRank(seed, rnd)
    if (kind == 10) return mvRollup(seed, rnd)
    if (kind == 9) return orJoin(seed, rnd)
    if (kind == 8) return editJoin(seed, rnd)
    if (kind == 4) return bandJoin(seed, rnd)
    if (kind == 5) return hammingJoin(seed, rnd)
    if (kind == 6) return intervalJoin(seed, rnd)
    if (kind == 7) return setSimJoin(seed, rnd)
    val useJoin = kind == 3
    if (!useJoin) {
      val t = tables(rnd.nextInt(tables.length))
      val nPred = rnd.nextInt(3)
      val preds = Seq.fill(nPred)(predicate(rnd, t, qualify = false))
      val orNotAnd = nPred == 2 && rnd.nextBoolean()
      val aggs = aggregates(rnd, Seq(t))
      val nG = rnd.nextInt(3).min(t.cats.length)
      val gCols = rnd.shuffle(t.cats).take(nG).map(_.name).sorted
      val gs = gCols.zipWithIndex.map { case (c, i) =>
        Both(col(c), s"$c AS g${i + 1}") }
      val whereSql =
        if (preds.isEmpty) ""
        else if (orNotAnd) s"\nWHERE (${preds.map(_.sql).mkString(") OR (")})"
        else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
      val groupSql = if (gs.isEmpty) ""
        else s"\nGROUP BY ${gs.indices.map(_ + 1).mkString(", ")}"
      // HAVING: a post-aggregation filter on the always-present count
      val havingN = if (gs.nonEmpty && rnd.nextInt(3) == 0)
        Some(1L + rnd.nextInt(20)) else None
      val havingSql = havingN.fold("")(k => s"\nHAVING count(*) > $k")
      // ORDER BY count DESC + every group key, LIMIT k: the row SET is
      // deterministic because the full group key breaks all ties (the
      // compare sorts rows, so only the selection must be unique)
      val limitN = if (gs.nonEmpty && rnd.nextInt(3) == 0)
        Some(1 + rnd.nextInt(5)) else None
      val orderSql = limitN.fold("")(k =>
        s"\nORDER BY a_cnt DESC, ${gs.indices.map(i => s"g${i + 1}")
          .mkString(", ")}\nLIMIT $k")
      val sql = s"SELECT ${(gs ++ aggs).map(_.sql).mkString(", ")}" +
        s"\nFROM ${t.name}$whereSql$groupSql$havingSql$orderSql"
      val build = (s: SparkSession, dir: String) => {
        var df = t.load(s, dir)
        if (preds.nonEmpty)
          df = df.filter(
            if (orNotAnd) preds.map(_.col).reduce(_ || _)
            else preds.map(_.col).reduce(_ && _))
        if (gs.isEmpty) df.agg(aggs.head.col, aggs.tail.map(_.col): _*)
        else {
          gCols.zipWithIndex.foreach { case (c, i) =>
            df = df.withColumn(s"g${i + 1}", col(c)) }
          var out = df.groupBy(gCols.indices.map(i => col(s"g${i + 1}")): _*)
            .agg(aggs.head.col, aggs.tail.map(_.col): _*)
          havingN.foreach(k => out = out.filter(col("a_cnt") > k))
          limitN.foreach(k => out = out.orderBy(
            col("a_cnt").desc +: gCols.indices.map(i =>
              col(s"g${i + 1}").asc): _*).limit(k))
          out
        }
      }
      FuzzQuery(s"fz_$seed", build, sql)
    } else {
      val (li, ri, lk, rk) = joins(rnd.nextInt(joins.length))
      val lt = tables(li); val rt = tables(ri)
      val nPred = rnd.nextInt(2)
      val predT = Seq.fill(nPred)(if (rnd.nextBoolean()) lt else rt)
      val preds = predT.map(t => predicate(rnd, t, qualify = true))
      val aggs = aggregates(rnd, Seq(lt, rt))
      val gPool = (lt.cats.map(c => (lt, c)) ++ rt.cats.map(c => (rt, c)))
      val nG = 1 + rnd.nextInt(2)
      val gPicks = rnd.shuffle(gPool).take(nG)
        .sortBy { case (t, c) => s"${t.name}.${c.name}" }
      val gs = gPicks.zipWithIndex.map { case ((t, c), i) =>
        Both(col(c.name), s"${t.name.take(1)}.${c.name} AS g${i + 1}") }
      val whereSql = if (preds.isEmpty) ""
        else s"\nWHERE (${preds.map(_.sql).mkString(") AND (")})"
      // join flavor: inner, or LEFT OUTER (null-padded right side flows
      // through grouping and null-skipping aggregates — both engines
      // group the null key together and skip nulls in min/max/distinct)
      val leftOuter = rnd.nextInt(3) == 0
      val joinSql = if (leftOuter) "LEFT JOIN" else "JOIN"
      val sql = s"SELECT ${(gs ++ aggs).map(_.sql).mkString(", ")}" +
        s"\nFROM ${lt.name} ${lt.name.take(1)} $joinSql ${rt.name} " +
        s"${rt.name.take(1)} ON ${lt.name.take(1)}.$lk = " +
        s"${rt.name.take(1)}.$rk$whereSql" +
        s"\nGROUP BY ${gs.indices.map(_ + 1).mkString(", ")}"
      val build = (s: SparkSession, dir: String) => {
        var df = lt.load(s, dir).join(rt.load(s, dir),
          col(lk) === col(rk), if (leftOuter) "left" else "inner")
        if (preds.nonEmpty) df = df.filter(preds.map(_.col).reduce(_ && _))
        gPicks.zipWithIndex.foreach { case ((_, c), i) =>
          df = df.withColumn(s"g${i + 1}", col(c.name)) }
        df.groupBy(gPicks.indices.map(i => col(s"g${i + 1}")): _*)
          .agg(aggs.head.col, aggs.tail.map(_.col): _*)
      }
      FuzzQuery(s"fz_$seed", build, sql)
    }
  }
}

/** `Test/runMain graft.tools.Fuzz <sfDir> <outDir> <nSeeds> [seedBase]` —
  * executes the generated Spark plans to parquet + dumps the DuckDB SQL
  * in the Verify layout; `tools/check_oracle.py <sfDir> <outDir>` then
  * performs the rows+schema+hash differential compare.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = args(2).toInt
    val base = if (args.length > 3) args(3).toLong else 0L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Engine.builder("graft-fuzz")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val sqls = (1 to n).map { i =>
      val q = QueryFuzz.generate(base + i)
      q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      q.name -> q.sql
    }
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      sqls.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
        .mkString("{", ",", "}"))
    println(s"FUZZ wrote $n queries to $outDir")
    spark.stop()
  }
}
