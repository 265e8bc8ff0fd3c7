package graft.mito

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.RFormula
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.functions.{FlatForest, ForestScoreExpr}

/** Training / scoring / filtering (reference `MTClassifierModel.scala` +
  * `MTClassify.scala`). Training and the saved-model format are stock
  * MLlib; scoring walks the trained forest compiled to flat arrays
  * ([[score]]).
  *
  * MT_LABEL = 0.0 (genuine mtDNA), NUMT label = 1.0
  * (`MTClassifierModel.scala:36-37`). Formula = the shipped 6-feature
  * R-formula (`MTClassifierModel.scala:52`, matches saved model metadata
  * numFeatures:6).
  */
object Classify {

  val MtLabel = 0.0
  /** The formula's terms, in the model's feature order. */
  val Features: Seq[String] = Seq("MTEditDist", "LD", "NTEditDist", "NTScore",
    "MTNumAlignments", "NTNumAlignments")
  val Formula: String = "label ~ " + Features.mkString(" + ")

  def rformula: RFormula = new RFormula()
    .setFormula(Formula).setFeaturesCol("features").setLabelCol("label")

  /** Train an RF (reference `trainRF`, `MTClassifierModel.scala:265-281`:
    * 128 trees, library defaults otherwise — gini, maxDepth 5, maxBins 32
    * per saved metadata). Seeded for reproducibility. */
  def trainRF(df: DataFrame, numTrees: Int = 128, seed: Long = 42L)
      : RandomForestClassificationModel = {
    val prepared = rformula.fit(df).transform(df)
    val m = new RandomForestClassifier()
      .setNumTrees(numTrees).setSeed(seed)
      .fit(prepared)
    // strip the training summary: it pins the TRAINING SparkSession into
    // the model object. [[score]] ships only the flattened forest, but a
    // caller's own `model.transform` ships the model inside task closures
    // (ProbabilisticClassificationModel's UDF captures it) — a session
    // whose state is ever non-serializable (e.g. a registered Observation
    // lives in its ObservationManager) would fail every such job with
    // "Task not serializable". copy() transfers params + trees, not the
    // summary, and shrinks the shipped closure besides.
    m.copy(org.apache.spark.ml.param.ParamMap.empty)
      .setParent(m.parent).asInstanceOf[RandomForestClassificationModel]
  }

  /** Experimental GBT path (reference `testGBModel`,
    * `MTClassifierModel.scala:237-246`: maxDepth 8, maxIter 50). */
  def trainGBT(df: DataFrame, maxIter: Int = 50, seed: Long = 42L) = {
    val prepared = rformula.fit(df).transform(df)
    new GBTClassifier()
      .setMaxDepth(8).setMaxIter(maxIter).setSeed(seed)
      .fit(prepared)
  }

  /** Scores every row of `df`: `df`'s columns plus `prediction` (the
    * model's class, a double) and `MaxProb` (the largest class
    * probability) — the reference's `getMaxProb`,
    * `MTClassifierModel.scala:95-109`.
    *
    * The model is compiled once per call into a [[FlatForest]]: per node
    * a split feature, threshold and two children, per leaf its
    * class-probability row. Each row is scored by one walk of every tree
    * over the [[Features]] columns cast to double; tasks ship those
    * arrays, never the MLlib model. The walk, the sums and the divisions
    * are MLlib's own (`predictRaw`, `normalizeToProbabilitiesInPlace`,
    * `argmax`, in the same order), so `prediction` and `MaxProb` equal
    * `rformula` + `model.transform` + `array_max(vector_to_array(
    * probability))` bit for bit; MLlib's `features`, `rawPrediction` and
    * `probability` columns are not produced.
    *
    * Refused, with a message: a model over other than the six formula
    * features, one with `thresholds` set, or one with a categorical
    * split. A null or NaN feature fails the query, as the MLlib path's
    * `VectorAssembler` does. */
  def score(model: RandomForestClassificationModel, df: DataFrame): DataFrame = {
    require(model.numFeatures == Features.length,
      s"Classify.score: the model reads ${model.numFeatures} features; the " +
        s"formula has ${Features.length} (${Features.mkString(", ")})")
    // two selects, not a Dataset step per column: each step re-runs the
    // analyzer over the whole feature plan. One select would hold two
    // copies of the nondeterministic walk, so the struct is split in a
    // second projection.
    val scored = "__forest_score"
    val in = bridge.analyzed(df).output.map(bridge.toColumn)
    df.select(in :+
        ForestScoreExpr.forestScore(FlatForest(model), Features.map(col)).as(scored): _*)
      .select(in ++ Seq(
        col(scored).getField("prediction").as("prediction"),
        col(scored).getField("MaxProb").as("MaxProb")): _*)
  }

  /** Post-score filters (reference `MTClassify.scala:170-178`): confidence
    * gate F1 + prediction filter F2 + key projection P1. */
  def mtReadKeys(scored: DataFrame, maxProb: Double): DataFrame =
    scored
      .where(col("MaxProb") >= maxProb)
      .where(col("prediction") === MtLabel)
      .select(col("Read"))

  /** Output pass (reference `MTClassify.scala:181-193`): left-semi the
    * alignment records against the predicted-MT keys on readName (J2).
    *
    * The keys are broadcast explicitly, whatever
    * `spark.sql.autoBroadcastJoinThreshold` says (also at `-1`), so each
    * partition of `alignments` is probed in place: the output keeps the
    * input's partitioning and record order (a coordinate-sorted `_MT`
    * stays sorted), and the alignments are never shuffled by read name.
    * The keys are one short string per kept read. */
  def filterAlignments(alignments: DataFrame, keys: DataFrame): DataFrame = {
    val k = broadcast(keys)
    alignments.join(k, alignments("readName") === k("Read"), "left_semi")
  }

  /** Holdout metric (reference `testRFModel` accuracy,
    * `MTClassifierModel.scala:187-222`; `testGBModel` evaluated
    * MulticlassClassificationEvaluator("precision"),
    * `MTClassifierModel.scala:252-256` — a metric name Spark 3 removed
    * because it equaled accuracy for the multiclass evaluator, as the
    * reference's own comment admits). Default accuracy; pass
    * "weightedPrecision"/"f1"/... for the other evaluator metrics. */
  def evaluate(scored: DataFrame, metric: String = "accuracy"): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName(metric)
      .evaluate(scored)

  /** The reference testGBModel's reported metric, modern spelling. */
  def evaluatePrecision(scored: DataFrame): Double =
    evaluate(scored, "weightedPrecision")
}
