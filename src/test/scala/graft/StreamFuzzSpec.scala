package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import graft.tools.StreamFuzz

/** Batch ↔ streaming differential-fuzz spec (VERDICT r16 #3). The big
  * batteries run out-of-process — recorded: 500 seeds (1–500, 6-kind
  * generator) ALL OK, 500 more (2001–2500) under the 8-kind generator
  * that adds the RAW stream-stream time-range join and the
  * stream-static dimension join, ALL OK, and 500 more (3001–3500)
  * after the double-seeding decorrelation, ALL OK — 1,500 streaming
  * differential queries, one harness finding (the watermark pushdown
  * trap below), zero engine findings. Round 18 (VERDICT r17 #5) widened
  * the generator to 10 kinds: kind 8 UPDATE-mode aggregation (per-key
  * update history reduced to finals by the strictly-monotone a_cnt,
  * checked against BOTH the batch fold and the append-mode suppress
  * twin) and kind 9 KILL-AND-RESUME (a checkpointed file-source query
  * stopped after half the chunks and resumed, in append OR update mode
  * by a seeded coin — append: emissions equal the batch fold exactly
  * once across the restart; update: the per-key finals prove the
  * restored state CONTINUED the a_cnt lineage); kind 10 seeds the
  * transformWithState operator itself — the real SolarTws.moduleAggTws
  * processor (ListState + event-time timers) against the exact batch
  * fold over a deterministically sorted feed (its watermark is a fixed
  * 30 s the generator's disorder bound can exceed), derived avg
  * projected away, sums compared at round 4 where the 2-dp grid makes
  * fold-order ulps harmless. Round 19 widened the grammar to 17 kinds
  * (decimal measures through aggregation AND join state stores,
  * unsorted-TWS, TWS-through-restart, MapState first-crossing,
  * MapState-through-restart — see the StreamFuzz scaladoc) and found
  * the processing-time/TTL never-idle harness trap documented there. Batteries are recorded in SURVEY's
  * round-21/22 tables. The fuzzer's FIRST TEN seeds
  * caught a real harness-level trap: a flush filter that does not
  * reference the event-time column is pushed BELOW the
  * EventTimeWatermark node, so flush rows never advance the clock and
  * every streaming leg loses its tail windows — see
  * `StreamFuzz.cutoff`. In-suite: generation purity, the feed-order
  * invariants the equivalence argument depends on, and a 50-seed
  * battery so the differential keeps running on every `sbt test`.
  */
class StreamFuzzSpec extends SparkSpecBase {

  /** Seeds of the battery in flight at once. */
  private val FuzzPool = 4

  private def toDF(rows: Seq[StreamFuzz.Ev]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("ts", "key", "cat", "value")
  }

  test("generation is a pure function of the seed, plans included") {
    (1L to 30L).foreach { s =>
      val a = StreamFuzz.generate(s)
      val b = StreamFuzz.generate(s)
      assert(a.chunks === b.chunks, s"seed $s data not deterministic")
      assert(a.flush === b.flush)
      // the builder must be seed-pure: both LEGS of one run and every
      // re-generation must produce the same plan (a parameter draw
      // inside the closure would desynchronize the two legs — guarded
      // here by comparing analyzed plans modulo fresh expression ids)
      def plan(q: StreamFuzz.SFQuery) =
        q.build(toDF(a.allRows)).queryExecution.analyzed.toString
          .replaceAll("#\\d+", "#")
      assert(plan(a) === plan(b), s"seed $s plan not deterministic")
    }
  }

  test("feed invariants: no beyond-watermark late data by construction") {
    // the equivalence claim is only sound if no generated row arrives
    // below the watermark. The generator draws delay >= 5 s and defers
    // only rows within delay/2 of their chunk's max, so the binding
    // invariant is: no chunk row trails the running event-time max by
    // 60 s or more (the largest drawable delay), and in-chunk disorder
    // is unrestricted (intra-batch order is invisible to the watermark).
    (1L to 60L).foreach { s =>
      val q = StreamFuzz.generate(s)
      var maxSeen = Long.MinValue
      q.chunks.foreach { c =>
        if (c.nonEmpty) {
          if (maxSeen != Long.MinValue) {
            val mn = c.map(_._1.getTime).min
            assert(mn > maxSeen - 60000L,
              s"seed $s: row ${maxSeen - mn} ms behind the running max — " +
                "beyond any drawable watermark delay")
          }
          maxSeen = math.max(maxSeen, c.map(_._1.getTime).max)
        }
      }
      // flush rows strictly ascend and sit far past the data horizon
      val fts = q.flush.map(_._1.getTime)
      assert(fts === fts.sorted && fts.distinct === fts)
      assert(fts.head > maxSeen)
    }
  }

  test("50-seed battery: streaming legs equal batch legs row-for-row") {
    // seeds run FuzzPool at a time; every query a seed starts carries the
    // seed in its name (sfz_<seed>_k<kind>), so no two seeds share a sink
    val pool = java.util.concurrent.Executors.newFixedThreadPool(FuzzPool)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = try {
      Await.result(Future.traverse((1L to 50L).toList) { s =>
        Future(s -> Try(StreamFuzz.runOne(spark, StreamFuzz.generate(s))))
      }, Duration.Inf)
    } finally pool.shutdown()
    var produced = 0
    runs.foreach { case (s, run) =>
      val (streamed, batch) = run.fold(e => fail(s"seed $s threw", e), identity)
      assert(streamed === batch,
        s"seed $s diverged: streamed=${streamed.size} batch=${batch.size}\n" +
          (streamed.diff(batch) ++ batch.diff(streamed)).take(6)
            .mkString("\n"))
      produced += streamed.size
    }
    assert(produced > 500, s"battery vacuously small: $produced rows total")
  }
}
