package graft.train

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.encoding.Encoding
import graft.encoding.Encoding._
import graft.schema.Schema

/** Two-phase contextual-bandit training (reference:
  * src/trainer/code/{train,propensities.py,decision_trainer.py}):
  *
  * Phase 1 — propensity model: each decision expands to (chosen item,
  * y=1, w=1) and (sample, y=0, w=count−1); a binary classifier learns
  * P(chosen | features, t). Deliberately memorization-oriented
  * (inference happens on the training records themselves).
  *
  * Phase 2 — decision model: per record, weight =
  * (1 / max(p, clip)) / meanItemCount · nonZeroPoisson(1) and target =
  * normalized reward; a squared-error regressor learns reward.
  *
  * Gradient-boosted trees are MLlib GBTClassifier/GBTRegressor with
  * weightCol (objective parity with the reference's binary:logistic /
  * reg:squarederror; XGBoost4J is not on the zero-egress classpath —
  * SURVEY §7.4). Every stochastic choice (poisson, context dropout,
  * population noise, seeds) flows from an injectable seed.
  */
object Trainer {

  final case class TrainConfig(
      maxFeatures: Int = 300,
      maxStringsPerFeature: Int = 10000,
      pruneMinStringCount: Int = 20,
      maxTrees: Int = 150,
      propensityTrees: Int = 200,
      treeDepth: Int = 6,
      explore: Boolean = true,
      normalizeRewards: Boolean = true,
      binaryRewards: Boolean = false,
      sampleContext: Double = 0.95,
      rewardPriorCount: Int = 300,
      clipMinPropensity: Double = 1e-4,
      testSplit: Double = 0.3,
      seed: Long = 42L,
      /** Optional per-row weight MULTIPLIER column on the phase-2
        * input (e.g. [[graft.operators.Dedup.softWeights]]' duplicate
        * downweight, or any curation-derived importance): multiplies
        * into the decision model's training weight alongside the
        * inverse-propensity and Poisson factors. Null/absent values
        * weigh 1.0. Phase 1 is unaffected — propensity stays pure
        * memorization of the observed decisions.
        */
      rowWeightCol: Option[String] = None)

  final case class PropensityModel(
      model: GBTClassificationModel,
      featureNames: Seq[String],
      stringTables: Map[String, Seq[Long]],
      modelSeed: Long,
      meanItemCount: Double) {
    /** phase-2 features: everything but the timestamp. */
    def selectedFeatures: Seq[String] = featureNames.filterNot(_ == TimestampFeature)
  }

  final case class DecisionModel(
      model: GBTRegressionModel,
      featureNames: Seq[String],
      stringTables: Map[String, Seq[Long]],
      modelSeed: Long,
      rewardMean: Double,
      rewardStd: Double,
      /** Serialized native `.xgb` booster for reference-consumer
        * parity — present only when XGBoost4J was on the classpath at
        * train time (Boosters probe; model_utils.py:33-106).
        */
      nativeBooster: Option[Array[Byte]] = None)

  /** Deterministic uniform [0,1) from a content hash of `c` — the
    * retry-stable replacement for rand(seed): a rand() column re-rolls
    * per task attempt and per partition layout, so dropout/poisson/
    * noise drawn from it can differ between two runs over identical
    * data. Hashing the decision id (plus a per-use seed) pins every
    * stochastic choice to the ROW, not the schedule.
    */
  private def hashUniform(c: Column, seed: Long): Column =
    shiftrightunsigned(xxhash64(c, lit(seed)), 12).cast("double") /
      (1L << 52).toDouble

  /** Partition count for the pre-fit encoded frame. Boosting pays
    * per-ITERATION scheduling proportional to partition count (each
    * tree level is a distributed aggregation), and the trainer input
    * is bounded by the load cap (maxRows, 8M default) — so size
    * partitions for the fit instead of inheriting the session's
    * shuffle width. Floor 8 (tree-statistics aggregation wants real
    * parallelism — measured 1.6 s at 8 parts vs 3.8 s at 2 on the
    * 200k-row gate), +1 per 250k rows, cap 64 (the 8M-row production
    * cap trains on ~33; past that per-iteration scheduling dominates).
    */
  private def fitPartitions(rows: Long): Int =
    math.max(8, math.min(64, (rows / 250000L).toInt + 1))

  /** Phase 1. `df` = rewarded decisions (item/context/sample/count). */
  def trainPropensity(df: DataFrame, config: TrainConfig = TrainConfig()): PropensityModel = {
    val countRow = df.agg(avg(Schema.Count), count(lit(1))).collect().head
    require(!countRow.isNullAt(0),
      "trainPropensity: no training data (empty input or all-null counts)")
    val meanItemCount = countRow.getDouble(0)
    val nRows = countRow.getLong(1)
    val modelSeed = config.seed

    val expanded = Encoding.expandForPropensity(df)
    val flat = Encoding.withFlatFeatures(expanded)
      .withColumn("nums",
        map_concat(col("nums"), map(lit(TimestampFeature), col("_t"))))
      .persist()

    val featureNames = Encoding.selectFeatures(flat, config.maxFeatures)
    // no prior: propensity is memorization (propensities.py design note)
    val tables = Encoding.buildStringTables(flat, featureNames, modelSeed,
      priorMean = 0.0, priorCount = 0,
      pruneMinCount = config.pruneMinStringCount,
      maxStringsPerFeature = config.maxStringsPerFeature)

    // label metadata pins numClasses = 2: without it MLlib runs its
    // own discovery pass over the label column before boosting starts
    val labelMeta = org.apache.spark.ml.attribute.NominalAttribute
      .defaultAttr.withName("label").withNumValues(2).toMetadata()
    val encoded = Encoding.withFeatureVector(flat, featureNames, tables, modelSeed)
      .select(col(Schema.DecisionId), col("features"),
        col(TargetCol).cast("double").as("label", labelMeta), col(WeightCol))
      .repartition(fitPartitions(nRows))

    val gbt = new GBTClassifier()
      .setMaxIter(config.propensityTrees)
      .setMaxDepth(config.treeDepth)
      .setWeightCol(WeightCol)
      .setSeed(modelSeed)
    val model =
      fitWithValidation(gbt.fit, gbt.setValidationIndicatorCol _, encoded, config)
    flat.unpersist()
    PropensityModel(model, featureNames, tables, modelSeed, meanItemCount)
  }

  /** Inverse-propensity weights: (1/max(p, clip)) / meanItemCount. */
  def inversePropensityWeights(df: DataFrame, pm: PropensityModel,
      config: TrainConfig): DataFrame = {
    val flat = Encoding.withFlatFeatures(df)
      .withColumn("nums", map_concat(col("nums"),
        map(lit(TimestampFeature), Encoding.ksuidTimestamp(col(Schema.DecisionId)))))
    val encoded = Encoding.withFeatureVector(flat, pm.featureNames, pm.stringTables, pm.modelSeed)
    pm.model.transform(encoded)
      .withColumn("_p",
        graft.functions.EncodeExpressions.vectorElement(col("probability"), 1))
      .withColumn("_ipw",
        (lit(1.0) / greatest(col("_p"), lit(config.clipMinPropensity))) / lit(pm.meanItemCount))
      .drop("features", "rawPrediction", "probability", "prediction", "_p")
  }

  /** Phase 2. `df` = rewarded decisions (item/context/reward). */
  def trainDecision(df0: DataFrame, pm: PropensityModel,
      config: TrainConfig = TrainConfig()): DecisionModel = {
    val modelSeed = config.seed + 1
    var df = df0
    if (config.binaryRewards)
      df = df.withColumn(Schema.Reward, when(col(Schema.Reward) > 0, 1.0).otherwise(0.0))

    val stats = df.agg(avg(Schema.Reward), stddev_samp(Schema.Reward),
      count(lit(1))).collect().head
    require(!stats.isNullAt(0),
      "trainDecision: no training data (empty input or all-null rewards)")
    val rewardMean = stats.getDouble(0)
    val nRows = stats.getLong(2)
    val rewardStd = {
      val s = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
      if (s == 0.0) 1.0 else s // all-identical-rewards guard
    }

    // propensity weights come from the TRUE context — the reference
    // computes normalized_inverse_propensity_weights(df) BEFORE the
    // context dropout (decision_trainer.py:107 vs 119): a dropped
    // context would push strongly-identified decisions off the
    // memorization surface and inflate their 1/p weights by orders of
    // magnitude. Dropout applies below, to the ENCODING only.
    val weighted = inversePropensityWeights(df, pm, config)
      .withColumn(WeightCol,
        col("_ipw") * (if (config.explore)
          Encoding.nonZeroPoisson(hashUniform(col(Schema.DecisionId), modelSeed + 13))
        else lit(1.0)) *
          config.rowWeightCol
            .map(c => coalesce(col(c).cast("double"), lit(1.0)))
            .getOrElse(lit(1.0)))
      .withColumn(TargetCol,
        if (config.normalizeRewards)
          (col(Schema.Reward) - lit(rewardMean)) / lit(rewardStd)
        else col(Schema.Reward))

    // context dropout (5% of rows lose context — regularization of the
    // feature encoding, reference decision_trainer.py:119). The
    // weighted frame's nums/strs were flattened from the TRUE context
    // for the propensity transform, so re-flatten from the dropped
    // context (+ the timestamp feature, as in the propensity path) —
    // nulling the Context column alone would leave the encoding
    // untouched.
    // NO timestamp feature here: phase-2 featureNames =
    // pm.selectedFeatures, which excludes TimestampFeature by
    // definition, so injecting `t` into nums would be a per-row KSUID
    // decode + map rebuild that nothing ever reads (phase 1 and the
    // propensity TRANSFORM above do need it — their feature set
    // includes `t`)
    // persisted HERE (not at `weighted`): stringTables and the encode
    // both scan `dropped`, and every row of it embeds the phase-1
    // model transform (_ipw) — pinning the post-dropout flattened frame
    // pays that transform once instead of once per consumer
    val dropped = Encoding.withFlatFeatures(
        weighted.withColumn(Schema.Context,
          when(hashUniform(col(Schema.DecisionId), modelSeed + 11) < config.sampleContext,
            col(Schema.Context)))
          .drop("nums", "strs"))
      .persist()

    val featureNames = pm.selectedFeatures
    val priorMean = if (config.normalizeRewards) 0.0 else rewardMean
    val tables = Encoding.buildStringTables(dropped, featureNames, modelSeed,
      priorMean = priorMean, priorCount = config.rewardPriorCount,
      pruneMinCount = config.pruneMinStringCount,
      maxStringsPerFeature = config.maxStringsPerFeature)

    // per-row population-id noise sprinkled over every feature
    val encoded = Encoding.withFeatureVector(
        dropped, featureNames, tables, modelSeed,
        Some(hashUniform(col(Schema.DecisionId), modelSeed + 17)))
      .select(col("features"), col(TargetCol).cast("double").as("label"), col(WeightCol))
      .repartition(fitPartitions(nRows))

    val gbt = new GBTRegressor()
      .setMaxIter(config.maxTrees)
      .setMaxDepth(config.treeDepth)
      .setWeightCol(WeightCol)
      .setSeed(modelSeed)
    val model = gbt.fit(encoded) // no early stop in phase 2 (reference)
    // XGBoost4J probe: when the jars are on the classpath, also emit a
    // genuine native booster (same encoded frame, mapped params) so
    // reference consumers keep loading `.xgb` artifacts unchanged; on
    // the zero-egress classpath this is a no-op returning None
    val nativeBooster = Boosters.trainNativeBooster(
      encoded, Boosters.decisionParams(config, modelSeed))
    dropped.unpersist() // the pinned frame (weighted is no longer persisted)
    // the stored (mean, std) are the Scorer's DE-normalization params:
    // identity when the target was trained raw, else predictions in
    // reward units would be scaled a second time
    val (outMean, outStd) =
      if (config.normalizeRewards) (rewardMean, rewardStd) else (0.0, 1.0)
    DecisionModel(model, featureNames, tables, modelSeed, outMean, outStd,
      nativeBooster)
  }

  /** 70/30 split with early-stop validation (reference model_utils
    * TEST_SPLIT + early_stopping_rounds; MLlib's analogue is
    * validationIndicatorCol + validationTol).
    */
  private def fitWithValidation(
      fit: DataFrame => GBTClassificationModel,
      setValidation: String => GBTClassifier,
      encoded: DataFrame, config: TrainConfig): GBTClassificationModel = {
    // fold by decision-id hash: retry-stable, and both expanded rows of
    // one decision land in the same fold (no chosen/sample leakage).
    // PERSISTED: MLlib materializes the train and validation folds as
    // two separate filtered RDD conversions, so an unpinned frame pays
    // the whole encode chain twice.
    val withVal = encoded.withColumn("_is_val",
      hashUniform(col(Schema.DecisionId), config.seed + 7) < config.testSplit)
      .persist()
    try {
      setValidation("_is_val")
      fit(withVal)
    } finally { withVal.unpersist(blocking = false); () }
  }
}
