package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier — the learned upgrade of the
  * [[TextAnalysis.qualityScore]] heuristic, shaped like the GPT-3
  * curation classifier (Brown et al. 2020, appendix A: a linear model
  * scoring crawl documents against a reference standard). Features are
  * the engine's existing one-pass kernel signals, so scoring adds NO new
  * scan work over what q18 already pays.
  *
  * Labels are pluggable ([[labelCurated]] is the production shape:
  * curated-reference sources vs the crawl, GPT-3 app. A / CCNet). The
  * DEFAULT label distills the hand heuristic ([[labelHeuristic]]):
  * y = [qualityScore ≥ 0.65]. The synthetic corpus's sources are
  * i.i.d. (a source-discriminator measurably learns nothing — probed:
  * accuracy pins at the 0.75 base rate), while the heuristic threshold
  * is a genuine linear concept in the feature space, so training
  * provably RECOVERS a separating hyperplane the oracle can then verify
  * scoring against — the mechanics a real curated-vs-crawl run needs,
  * with labels the sandbox can actually support.
  *
  * Division of labor (the kmeansFit / BPE pattern): the MODEL is tiny
  * (4 doubles) and lives on the driver; the DATA never leaves the
  * cluster. Each training iteration is ONE map-side-combining aggregate
  * over the persisted feature projection collapsing to a single row of
  * [[Dim]] gradient components — batch gradient descent on the logistic
  * loss, `iters` model-sized collects total. At 100 TB the per-iteration
  * cost is a cached-columnar scan + 4-double partial sums per task;
  * nothing driver-side grows with corpus size.
  *
  * Scoring is a fixed-order arithmetic expression over the kernel
  * signals (codegen'd end to end — kernels + dot product + sigmoid fuse
  * into the scan projection), replayed bit-for-bit by the q111 oracle
  * with the SAME literal weights: [[DefaultWeights]] is the shipped
  * model artifact (weights rounded to 6 decimals so both engines fold
  * identical literals), reproducible via [[train]] — QualityModelSpec
  * pins the training fixpoint against a driver-side reference
  * implementation.
  */
object QualityModel {

  /** Feature dimension: bias, capped length signal, punctuation ratio,
    * capped stopword signal.
    */
  val Dim = 4

  /** The curated-reference sources for [[labelCurated]]'s
    * production-shaped labeling: stand-in for "books + wiki" streams.
    */
  val CuratedSources: Set[String] = Set("src0", "src1", "src2", "src3", "src4")

  /** y = 1 for documents from curated ingestion streams (GPT-3 app. A:
    * positives = the reference corpus, negatives = raw crawl).
    */
  def labelCurated(positives: Set[String] = CuratedSources): Column =
    when(col("source").isInCollection(positives), 1.0).otherwise(0.0)

  /** Default heuristic-quality threshold for [[labelHeuristic]] (≈ the
    * corpus's 60th percentile — a balanced, linearly-separable concept).
    */
  val HeuristicLabelThreshold = 0.65

  /** y = [qualityScore ≥ threshold] — heuristic distillation labels. */
  def labelHeuristic(threshold: Double = HeuristicLabelThreshold): Column =
    when(TextAnalysis.qualityScore(col("text")) >= threshold, 1.0)
      .otherwise(0.0)

  /** Fixed training hyperparameters — part of the model's provenance
    * (100 × lr 2.0 reaches 0.94 sf0.01 train accuracy vs the 25-iter
    * 0.926; beyond that the margin grows but the boundary barely moves).
    */
  val TrainIters = 100
  val TrainLr = 2.0

  /** The shipped model artifact: `train(documents @ sf0.01 restricted to
    * the TRAIN SPLIT — hashBucket(doc_id) >= 20`, labelHeuristic(),
    * TrainIters, TrainLr)` rounded to 6 decimals (QualityModelSpec
    * "DefaultWeights re-derive from the sf0.01 train split" re-derives it
    * and the split accuracies below). The split exclusion is the
    * ADVICE r12 fix:
    * the r11 artifact trained on the FULL corpus, which made
    * [[evaluateSplits]]' `test` row a resubstitution metric at the
    * training SF; this artifact never saw the test/val buckets, so the
    * held-out rows measure genuine generalization by construction
    * (recorded at sf0.01: train 0.9375, val 0.9423, test 0.9167).
    * Rounding is what makes the oracle replay exact: both engines fold
    * the same 6-decimal literals into the same fixed-order score
    * expression. x2's weight is 0 because the synthetic corpus has no
    * punctuation — the feature is degenerate in THIS data, not dead code.
    */
  val DefaultWeights: Array[Double] = Array(-4.709445, 6.527469, 0.0, 1.856347)

  /** The four feature expressions IN MODEL ORDER, from the same kernels
    * q18 gates: x0 bias, x1 = min(n_words/100, 1), x2 = n_punct/n_chars
    * (0 for empty text), x3 = min(5·n_stop/n_words, 1). `size(split)`
    * is ≥ 1 even for "" (Spark split semantics, mirrored by DuckDB
    * string_split), so only x2 needs an empty-text guard.
    */
  private[graft] def featureExprs(text: Column): Seq[Column] = {
    val lowered = lower(text)
    val nChars = length(text)
    val nWords = size(TextAnalysis.tokens(text))
    val nPunct = graft.functions.TextFunctions.punct_count(lowered)
    val nStop = TextAnalysis.stopwordCount(TextAnalysis.tokens(lowered),
      TextAnalysis.StopwordDicts.head._2)
    Seq(
      lit(1.0),
      least(nWords / lit(100.0), lit(1.0)),
      when(nChars > 0, nPunct / nChars).otherwise(lit(0.0)),
      least(nStop / nWords * lit(5.0), lit(1.0)))
  }

  /** Fixed-order logit: w0·x0 + w1·x1 + w2·x2 + w3·x3, folded left to
    * right — the oracle spells the identical chain.
    */
  private def logitExpr(w: Seq[Double], text: Column): Column =
    w.zip(featureExprs(text)).map { case (wi, xi) => lit(wi) * xi }
      .reduce(_ + _)

  /** Score documents under a weight vector: per-doc logit, calibrated
    * probability, and the accept decision at `threshold` (decided on the
    * ROUNDED probability, so both engines branch on identical values).
    */
  def scoreDocs(docs: DataFrame, w: Seq[Double] = DefaultWeights.toSeq,
                threshold: Double = 0.5): DataFrame = {
    require(w.size == Dim, s"weight vector must have $Dim components")
    val z = logitExpr(w, col("text"))
    docs.select(col("doc_id"), round(z, 4).as("logit"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 4).as("p_good"))
      .withColumn("accept",
        when(col("p_good") >= threshold, 1).otherwise(0))
  }

  /** Held-out evaluation of a shipped weight vector (VERDICT r11 #6):
    * confusion counts and accuracy/precision/recall/F1 per
    * [[Curation.splitAssign]] split — q111 gates the scoring ARITHMETIC;
    * this gates model QUALITY on data the artifact's training run held
    * out: [[DefaultWeights]] trains on the `hashBucket >= 20` subset
    * only (its provenance note), so the rows marked `test`/`val` are
    * genuine generalization measurements, not resubstitution ones —
    * provided the weight vector passed in honors the same exclusion.
    *
    * Scale shape: ONE corpus scan — the score, the label, and the split
    * coin are all per-row expressions over the same row, so they are
    * SPELLED as one projection here (review r12: the earlier three-
    * relation join formulation re-scanned the corpus three times and
    * shuffled it twice on doc_id; Catalyst does not merge self-joins),
    * and the result is a 3-row aggregate. Every derived metric is
    * computed from the integer confusion counts and rounds at 4 —
    * deterministic under any execution order, hash-gateable.
    * Zero-denominator cells (a split with no positive predictions)
    * surface as NULL via nullif, the engine-portable 0/0 guard.
    */
  def evaluateSplits(docs: DataFrame, w: Seq[Double] = DefaultWeights.toSeq,
                     threshold: Double = 0.5): DataFrame = {
    require(w.size == Dim, s"weight vector must have $Dim components")
    val z = logitExpr(w, col("text"))
    val accept = when(round(lit(1.0) / (lit(1.0) + exp(-z)), 4) >= threshold,
      1).otherwise(0)
    val b = Curation.hashBucket(col("doc_id"))
    val split = when(b < 10, lit("test")).when(b < 20, lit("val"))
      .otherwise(lit("train"))
    docs.select(split.as("split"), accept.as("accept"),
        labelHeuristic().cast("int").as("y"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("accept") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("accept") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("accept") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("accept") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"))
      .select(col("split"), col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
        graft.functions.AggFunctions.ratioQ(
          col("tp") + col("tn"), col("n"), 4).as("accuracy"),
        graft.functions.AggFunctions.ratioQ(
          col("tp"), col("tp") + col("fp"), 4).as("precision"),
        graft.functions.AggFunctions.ratioQ(
          col("tp"), col("tp") + col("fn"), 4).as("recall"),
        graft.functions.AggFunctions.ratioQ(
          lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn"), 4).as("f1"))
  }

  /** Calibration curve (reliability diagram) for the shipped classifier
    * — the evaluation q121's threshold metrics can't see: a model can
    * hold its accuracy while its PROBABILITIES drift away from the
    * empirical rates, which corrupts every downstream consumer that
    * thresholds at anything other than the evaluated cut (mixture
    * weighting, temperature sampling, soft filtering). Equal-width bins
    * over the rounded probability (the same round-then-decide
    * discipline as the accept rule, so bin edges are crisp in both
    * engines); per (split, bin): n, mean predicted probability, and the
    * empirical positive rate under the q121 label — `gap` is the
    * per-bin calibration error and its n-weighted sum is ECE. One
    * scan, output bins × splits rows.
    */
  def calibrationCurve(docs: DataFrame, w: Seq[Double] = DefaultWeights.toSeq,
      bins: Int = 10): DataFrame = {
    require(w.size == Dim, s"weight vector must have $Dim components")
    require(bins >= 2, s"need bins >= 2, got $bins")
    val z = logitExpr(w, col("text"))
    val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    val b = Curation.hashBucket(col("doc_id"))
    val split = when(b < 10, lit("test")).when(b < 20, lit("val"))
      .otherwise(lit("train"))
    docs.select(split.as("split"),
        least(floor(p * bins), lit(bins - 1)).cast("int").as("bin"),
        p.as("p"), labelHeuristic().cast("int").as("y"))
      .groupBy(col("split"), col("bin"))
      .agg(count(lit(1)).as("n"),
        graft.functions.AggFunctions.mean4(col("p")).as("mean_p"),
        graft.functions.AggFunctions.mean4(col("y")).as("pos_rate"))
      .select(col("split"), col("bin"), col("n"), col("mean_p"),
        col("pos_rate"),
        round(col("mean_p") - col("pos_rate"), 4).as("gap"))
  }

  /** Labeled feature projection for training: y (from the label column)
    * plus x0..x3 — one kernel pass, ~5 doubles per row.
    */
  private[graft] def featureFrame(docs: DataFrame, label: Column): DataFrame = {
    val xs = featureExprs(col("text")).zipWithIndex
      .map { case (e, i) => e.as(s"x$i") }
    docs.select((label.as("y") +: xs): _*)
  }

  /** Batch gradient descent on the logistic loss. Deterministic given a
    * fixed partitioning (within-partition fold order is fixed —
    * QualityModelSpec pins the 1-partition fixpoint EXACTLY against
    * recorded weights, q98-style, and against [[trainReference]] to
    * 1e-12; across partitions Spark's partial-sum combination adds only
    * double-associativity noise, pinned to 1e-8).
    */
  def train(docs: DataFrame, label: Column = labelHeuristic(),
            iters: Int = TrainIters, lr: Double = TrainLr): Array[Double] = {
    val f = Stages.persisted(featureFrame(docs, label))
    try {
      val n = f.count().toDouble
      var w = Array.fill(Dim)(0.0)
      for (_ <- 0 until iters) {
        val z = (0 until Dim).map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val aggs = (0 until Dim).map(j =>
          sum((p - col("y")) * col(s"x$j")).as(s"g$j"))
        val g = f.agg(aggs.head, aggs.tail: _*).head()
        w = Array.tabulate(Dim)(j => w(j) - lr * g.getDouble(j) / n)
      }
      w
    } finally { f.unpersist(); () }
  }

  /** Exact ROC AUC per split — the threshold-free ranking metric next to
    * q121's fixed-cut confusion counts and q174's calibration bins: AUC
    * is the probability a random positive outscores a random negative
    * (the Mann–Whitney U statistic), so it measures the model's ORDERING
    * quality independent of where any consumer later thresholds.
    *
    * Exactness under ties: scores are the ROUNDED 4-decimal
    * probabilities (the same round-then-decide discipline as the accept
    * rule), so tied scores are crisp in both engines and get the
    * standard half credit — per distinct score s,
    * contribution = nPos(s)·(negBelow(s) + ½·nNeg(s)). Doubling keeps
    * the accumulation ALL-INTEGER until one final division:
    * 2·U = Σ nPos(s)·(2·negBelow(s) + nNeg(s)), AUC = 2U / (2·P·N) —
    * exact int64 up to ~10⁹ rows per split (P·N ≤ 2.5·10¹⁷), then one
    * identical double division in both engines, rounded 6.
    *
    * Scale shape: ONE corpus scan collapses to a (split, score)
    * relation via a map-side-combining aggregate — bounded by
    * splits × 10,001 distinct rounded scores REGARDLESS of corpus size
    * — and only that sketch-sized relation enters the cumulative-sum
    * window (the q168/q171 discipline: windows run over sketches, never
    * over corpora). A split with no positives or no negatives yields
    * NULL AUC via nullif (undefined, not a fake 0.5).
    */
  def rocAuc(docs: DataFrame, w: Seq[Double] = DefaultWeights.toSeq): DataFrame = {
    require(w.size == Dim, s"weight vector must have $Dim components")
    val z = logitExpr(w, col("text"))
    val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
    val b = Curation.hashBucket(col("doc_id"))
    val split = when(b < 10, lit("test")).when(b < 20, lit("val"))
      .otherwise(lit("train"))
    aucByGroup(docs.select(split.as("split"), p.as("p"),
      labelHeuristic().cast("long").as("y")), "split")
  }

  /** AUC core over a (group, p, y∈{0,1}) relation — factored so specs can
    * pin the rank arithmetic on hand-built scores. One shuffle to the
    * per-(group, score) counts; the window runs over that bounded
    * relation only.
    */
  private[graft] def aucByGroup(scored: DataFrame, g: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = scored
      .groupBy(col(g), col("p"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val wsp = Window.partitionBy(g).orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val negBelow = coalesce(sum(col("nn")).over(wsp), lit(0L))
    perScore
      .select(col(g), col("np"), col("nn"),
        (col("np") * (lit(2L) * negBelow + col("nn"))).as("num2"))
      .groupBy(col(g))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("num2")).as("num2"))
      .select(col(g), col("n_pos"), col("n_neg"),
        graft.functions.AggFunctions.ratioQ(col("num2"),
          lit(2L) * col("n_pos") * col("n_neg"), 6).as("auc"))
  }

  /** The driver-side reference trainer (specs only): the same arithmetic
    * over an in-memory feature matrix, sequential sum order.
    */
  private[graft] def trainReference(rows: Array[(Double, Array[Double])],
                                    iters: Int, lr: Double): Array[Double] = {
    val n = rows.length.toDouble
    var w = Array.fill(Dim)(0.0)
    for (_ <- 0 until iters) {
      val g = Array.fill(Dim)(0.0)
      rows.foreach { case (y, x) =>
        var z = 0.0
        var j = 0
        while (j < Dim) { z += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        j = 0
        while (j < Dim) { g(j) += (p - y) * x(j); j += 1 }
      }
      w = Array.tabulate(Dim)(j => w(j) - lr * g(j) / n)
    }
    w
  }
}
