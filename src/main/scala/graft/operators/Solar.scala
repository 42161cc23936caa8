package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference topology (thingsboard/kafka-streams-example,
  * `SolarConsumer.java:94-196`) re-expressed as declarative Spark relational
  * stages: grouped z-score anomaly detection over 30-second tumbling windows.
  *
  * Stage map (reference file:line → here):
  *  - re-key projection   `SolarConsumer.java:100`      → [[normalize]]
  *  - groupByKey+window+agg `SolarConsumer.java:109-113` → [[moduleAgg]]
  *  - panel re-key + agg  `SolarConsumer.java:122-130`  → [[panelAgg]]
  *  - windowed join #1    `SolarConsumer.java:142-147`  → [[joinPanelModule]]
  *  - variance re-agg     `SolarConsumer.java:150-157`  → [[panelFinal]]
  *  - windowed join #2    `SolarConsumer.java:165-173`  → [[joinModulePanel]]
  *  - z-score filter      `SolarConsumer.java:186,198-201` → [[anomalies]]
  *
  * Scale notes (100 TB posture):
  *  - One shuffle on (window, panel, module) feeds the whole DAG; the panel
  *    aggregate is a second, much smaller shuffle on (window, panel).
  *  - Neither join carries a broadcast hint: (window × panel) cardinality
  *    grows with the time range, so a forced broadcast would fail outright
  *    on a year-long run. Stats + AQE broadcast the panel side when it
  *    fits; otherwise both sides are already hash-partitioned on the join
  *    keys by their aggregations, so no extra shuffle of the big side.
  *  - Kafka Streams needed a repartition *topic* (produce + re-consume
  *    through the broker) for every re-key; here each is one Exchange, and
  *    map-side partial aggregation collapses records before the wire.
  *
  * Fidelity notes:
  *  - `round(x, 1)` is HALF_UP, matching `BigDecimal.setScale(1, HALF_UP)`
  *    (`SolarModuleAggregator.java:38-39`).
  *  - Variance subtracts the *rounded* panel mean (`SolarPanelAggregator
  *    .java:40-41,52`): NOT `var_pop` — see SURVEY.md §2.12.
  *  - The z predicate `abs(diff)/deviance > Z` (`SolarConsumer.java:198-201`)
  *    is written division-free as `abs(diff) > Z * deviance`, which is
  *    equivalent for doubles including the Java edge cases the reference
  *    relies on: deviance=0 with diff>0 → Infinity > Z → anomaly, and
  *    0/0 → NaN > Z → false.
  */
object Solar {

  /** Z-score threshold, `SolarConsumer.java:88`. */
  val Z = 1.0

  /** Tumbling window size, `SolarConsumer.java:53-55`. */
  val WindowDuration = "30 seconds"

  /** Re-key projection (`SolarConsumer.java:100`): map the driver's events
    * table onto the solar schema (FIXTURES.md §2): panel=event_type,
    * module=user_id, power=value. Keys are plain columns — the shuffle
    * happens at the downstream groupBy, not here.
    */
  def normalize(events: DataFrame): DataFrame =
    events.select(
      col("ts"),
      col("event_type").as("panel"),
      col("user_id").cast("string").as("module"),
      col("value").as("power"))

  /** Per-module tumbling-window count/sum/avg (`SolarConsumer.java:107-115`,
    * fold body `SolarModuleAggregator.java:32-41`). `w_start` is the
    * epoch-aligned window start in epoch seconds — windows stay ordinary
    * columns from here on (Kafka Streams' `Windowed<K>` key wrapper has no
    * equivalent need in a relational plan).
    */
  def moduleAgg(events: DataFrame, windowDuration: String = WindowDuration): DataFrame =
    normalize(events)
      .groupBy(window(col("ts"), windowDuration).as("w"), col("panel"), col("module"))
      .agg(
        count(lit(1)).as("m_cnt"),
        sum(col("power")).as("m_sum_power"),
        // meanQ, not round(avg, 1): the reference's rounded mean, made
        // aggregation-order-insensitive (ADVICE r16 — same seed-3153 ulp
        // class as the round-4 sites, .05 boundaries instead of .00005)
        graft.functions.AggFunctions.meanQ(col("power"), 1)
          .as("m_avg_power"))
      .select(
        col("w.start").cast("long").as("w_start"),
        col("panel"), col("module"),
        col("m_cnt"), col("m_sum_power"), col("m_avg_power"))

  /** Per-panel re-aggregation of module aggregates
    * (`SolarConsumer.java:122-130`, fold `SolarPanelAggregator.java:35-43`):
    * count counts modules, sum/avg are over module *sums*, avg rounded.
    */
  def panelAgg(moduleAgg: DataFrame): DataFrame =
    moduleAgg
      .groupBy(col("w_start"), col("panel"))
      .agg(
        count(lit(1)).as("p_cnt"),
        sum(col("m_sum_power")).as("p_sum_power"),
        graft.functions.AggFunctions.meanQ(col("m_sum_power"), 1)
          .as("p_avg_power"))

  /** Windowed inner join #1 (`SolarConsumer.java:142-147`): each panel
    * aggregate paired with each of its module aggregates on the exact
    * (window, panel) key. No broadcast hint: (window × panel) cardinality
    * grows linearly with the time range, so an unconditional broadcast
    * would OOM a year-long 100 TB run outright — stats + AQE pick
    * broadcast-hash when the panel side actually fits and fall back to a
    * shuffled hash join when it doesn't. Both sides are already partitioned
    * by the grouping keys, so the sort-merge/shuffle fallback reuses the
    * aggregation exchange instead of re-shuffling the raw table.
    */
  def joinPanelModule(moduleAgg: DataFrame, panelAgg: DataFrame): DataFrame =
    moduleAgg.join(panelAgg, Seq("w_start", "panel"))

  /** Variance re-aggregation (`SolarConsumer.java:150-157`, fold body
    * `SolarPanelAggregator.java:45-59`): population variance of module sums
    * around the **rounded** panel mean (SURVEY.md §2.12), deviance =
    * HALF_UP-rounded sqrt.
    */
  def panelFinal(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("w_start"), col("panel"))
      .agg(
        count(lit(1)).as("p_cnt"),
        max(col("p_sum_power")).as("p_sum_power"),
        max(col("p_avg_power")).as("p_avg_power"),
        sum(pow(col("m_sum_power") - col("p_avg_power"), 2)).as("squares_sum"))
      .withColumn("variance", col("squares_sum") / col("p_cnt"))
      .withColumn("deviance", round(sqrt(col("variance")), 1))

  /** Windowed inner join #2 (`SolarConsumer.java:165-173`): tag every module
    * aggregate with its panel's final stats. Same no-hint rationale as
    * [[joinPanelModule]].
    */
  def joinModulePanel(moduleAgg: DataFrame, panelFinal: DataFrame): DataFrame =
    moduleAgg.join(panelFinal, Seq("w_start", "panel"))

  /** Z-score anomaly filter + window-unwrap projection
    * (`SolarConsumer.java:186-188,198-201`), division-free (see object doc).
    */
  def anomalies(joined: DataFrame, z: Double = Z): DataFrame =
    joined.filter(abs(col("m_sum_power") - col("p_avg_power")) > lit(z) * col("deviance"))

  /** All pipeline stages sharing ONE scan + shuffle of the raw events.
    *
    * The DAG is a diamond: moduleAgg feeds panelAgg, join #1 and join #2.
    * Left to itself Catalyst prunes different columns into each copy of the
    * subtree, so the three plans stop being canonically equal and
    * ReuseExchange cannot dedupe them — `.explain` showed 3 parquet scans +
    * 3 full shuffles of the raw table. At 100 TB the raw-table shuffle is
    * the dominant cost, so we materialize the (much smaller, aggregated)
    * module-level result once: this is the relational analog of the
    * reference's RocksDB state store (`Materialized`, `SolarConsumer
    * .java:113`) — state computed once, read by every downstream consumer.
    * MEMORY_AND_DISK spills gracefully when the aggregate exceeds memory.
    */
  case class Stages(module: DataFrame, panel: DataFrame,
                    panelStats: DataFrame, joined: DataFrame) {
    /** Release the shared module-aggregate cache. Call after the action
      * that consumes the stage outputs; the plans stay valid afterwards
      * (they recompute from the scan if re-run). Without an explicit
      * release the cache lives for the session — callers that run many
      * pipelines per session (Bench, Verify) must either call this or
      * `spark.catalog.clearCache()` between queries.
      */
    def unpersist(): Unit = { module.unpersist(); () }
  }

  def stages(events: DataFrame, windowDuration: String = WindowDuration): Stages =
    stagesFrom(graft.operators.Stages.persisted(
      moduleAgg(events, windowDuration)))

  /** The downstream stage DAG over an ALREADY-materialized module
    * relation (persisted by [[stages]], or checkpoint-backed when a
    * driver shares the module aggregate across several consumers — the
    * `SparkEntry` q04–q08 memo). Everything below the module aggregate
    * is panel-cardinality work, so rebuilding these plans per consumer
    * is free; the raw-table scan + shuffle above is what must not
    * re-run.
    */
  def stagesFrom(module: DataFrame): Stages = {
    val p = panelAgg(module)
    val pf = panelFinal(joinPanelModule(module, p))
    Stages(module, p, pf, joinModulePanel(module, pf))
  }

  /** Full pipeline: events → anomalies (the batch twin of the topology). */
  def pipeline(events: DataFrame, windowDuration: String = WindowDuration): DataFrame =
    anomalies(stages(events, windowDuration).joined)
}
