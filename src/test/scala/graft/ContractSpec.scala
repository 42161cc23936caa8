package graft

/** Driver-contract invariants: every gated query has an oracle and vice
  * versa (a query without an oracle is silently UNGATED — the correctness
  * run would skip it without failing), and names follow the qNN_ scheme
  * the driver's reports key on.
  */
class ContractSpec extends SparkSpecBase {

  /** Iterative fixpoints the oracle SQL can't express — each would carry
    * a spec pinning exact outputs on a known fixture instead, and the
    * driver would record its weaker rows-only check. EMPTY since r13:
    * q98 (the last exemption) gained a full training replay oracle —
    * sequential greedy BPE as generated per-round CTEs.
    */
  private val OracleExempt = Set.empty[String]

  test("queries and oracleSql cover exactly the same names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql(spark, "/root/testdata/sf0.001").keySet
    assert((q -- o -- OracleExempt) === Set.empty,
      s"queries without an oracle: ${q -- o -- OracleExempt}")
    assert((o -- q) === Set.empty, s"oracles without a query: ${o -- q}")
    assert(OracleExempt.subsetOf(q), "exempt names must still be gated queries")
  }

  test("query names follow the qNN_ scheme and are densely useful") {
    val pat = "^q\\d{2,3}_[a-z0-9_]+$".r
    val bad = SparkEntry.queries.keySet.filterNot(n => pat.matches(n))
    assert(bad === Set.empty, s"malformed query names: $bad")
  }

  test("the flagship entry returns rows on the smallest SF") {
    // the driver's t1 smoke — pinned here so a refactor can't break it
    // between rounds
    assert(SparkEntry.entry(spark).count() > 0)
    spark.catalog.clearCache()
  }

  test("bench stdout line fits the collector's 2 KB tail at worst-case widths") {
    // The harness parsing BENCH output keeps only the last ~2000 chars of
    // the run log (observed: every full-surface line since round 4 had its
    // head truncated → parsed as nothing). Budget: 2000 minus ~100 for
    // sbt's trailing "[success] Total time: ..." line. Worst-case widths:
    // every query at a 4-digit-second timing with full 6-decimal precision.
    val worst = SparkEntry.queries.keys.toSeq.sorted
      .map(k => k -> Seq(1234.567891, 2345.678912, 3456.789123))
    // worst-case diff_vs_prev: every query 10x slower than a prior record
    // → the STDOUT block (cap = 6, what main passes to stdoutLine) must
    // cap its named movers and stay inside the budget alongside the
    // headline map; the uncapped file-record block is exempt by design
    val prev = java.nio.file.Files.createTempFile("bench_prev_", ".json")
    val diff = try {
      java.nio.file.Files.write(prev, (Bench.fullLine(
        worst.map { case (k, ts) => k -> ts.map(_ / 10) }, "/tmp/sf") + "\n")
        .getBytes("UTF-8"))
      Bench.diffBlock(worst, prev.toString, cap = 6)
    } finally java.nio.file.Files.deleteIfExists(prev)
    assert(diff.contains("\"n_regressions\":" + worst.size), diff)
    val line = Bench.stdoutLine(worst, "BENCH_OUT.json",
      "/root/testdata/sf0.1", diff)
    assert(line.length <= 1900, s"stdout bench line too long: ${line.length}")
    assert(line.startsWith("{\"metric\":\"total\"") && line.endsWith("}"))
    assert(line.contains("\"n_queries\":" + worst.size))
    // headline names must stay real gated queries (a rename would silently
    // drop the entry from the line)
    val missing = Bench.HeadlineQueries.filterNot(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"headline queries not in the gated surface: $missing")
  }
}
