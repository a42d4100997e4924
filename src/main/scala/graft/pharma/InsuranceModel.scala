package graft.pharma

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Insurance-coverage classifier — the reference's ML stage
  * (ML_Model_Complete 2025-12-09 16_09_45.py) rebuilt distributed:
  * where the reference collects to pandas and fits sklearn on the driver
  * (…py:178-201), this pipeline stays in MLlib end-to-end, so training
  * scales with the cluster instead of driver memory.
  *
  * Parity mapping (SURVEY.md §2.11):
  *  - categorical encoding: one multi-column StringIndexer over the four
  *    categorical columns (scalable) as default; the bit-exact dense_rank
  *    twin of the reference's global-window encoder (…py:101-114) is
  *    [[denseRankEncode]] — parity tests only, since an un-partitioned
  *    window single-partitions the data at scale
  *  - class_weight {0:1, 1:6.1} → weightCol (MLlib has no weight dict)
  *  - RF 100 trees, depth 10, seed 42 (…py:193-199)
  *  - accuracy + areaUnderROC (…py:208-221): AUC from the MLlib
  *    evaluator, accuracy and the per-class report from one confusion
  *    aggregate
  *  - pickle save/reload-verify (…py:276-323): MLlib native writers, and
  *    the reloaded model must reproduce the saved model's prediction on
  *    every test row (a row-wise compare in one job)
  *
  * The stage is driver-bound at feed sizes (each Spark job and query
  * costs more planning than executor time), so every step is shaped to
  * run as few jobs as it can.
  */
object InsuranceModel {

  val FeatureCols: Seq[String] =
    Seq("form", "therapeutic_class", "pharmacological_class", "lab_name")

  /** Reference-parity categorical encoding: dense_rank over a GLOBAL
    * alphabetic order, minus 1 (…py:101-114). Deliberately identical
    * semantics including the single-partition hazard — do not use at
    * scale; kept for bit-exact parity testing against the reference. */
  def denseRankEncode(df: DataFrame): DataFrame =
    FeatureCols.foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_idx",
        (dense_rank().over(Window.orderBy(col(c))) - 1).cast("double"))
    }

  /** Scalable encoding + assembly + weighted RF as one MLlib Pipeline.
    * One multi-column StringIndexer fits all four label lists in one pass
    * (and saves/loads as one stage); each column's labels are ordered by
    * frequency, ties alphabetical, exactly as four single-column fits
    * would order them (different index values than dense_rank — never
    * compare across encoders, SURVEY.md §7.4.2). */
  def pipeline(): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCols(FeatureCols.toArray)
      .setOutputCols(FeatureCols.map(_ + "_idx").toArray)
      .setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols(("price" +: FeatureCols.map(_ + "_idx")).toArray)
      .setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setNumTrees(100).setMaxDepth(10).setSeed(42)
      .setLabelCol("label").setFeaturesCol("features").setWeightCol("w")
    new Pipeline().setStages(Array(indexer, assembler, rf))
  }

  /** Label + weight columns: covered → 0.0, not covered → 1.0 with the
    * 6.1 minority weight (…py:117-120,196). */
  def withLabelAndWeight(mlData: DataFrame): DataFrame =
    mlData
      .withColumn("label", when(col("refundable_label"), 0.0).otherwise(1.0))
      .withColumn("w", when(col("label") === 1.0, 6.1).otherwise(1.0))
      .withColumn("price", col("price").cast("double"))

  final case class ClassStats(
      precision: Double, recall: Double, f1: Double, support: Long)

  final case class Metrics(
      accuracy: Double, auc: Double, trainRows: Long, testRows: Long,
      featureImportances: Array[Double],
      covered: ClassStats, notCovered: ClassStats,
      reloadOk: Boolean)

  /** Per-row inference surface (reference's predict/predict_proba loop,
    * ML_Model_Complete…py:248-263, distributed): prediction plus the
    * winning-class confidence, appended to the input columns. */
  def predict(model: PipelineModel, df: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    model.transform(withLabelAndWeight(df))
      .withColumn("confidence",
        round(array_max(vector_to_array(col("probability"))), 4))
      .withColumn("predicted_label",
        when(col("prediction") === 0.0, "Covered").otherwise("Not Covered"))
      .drop("rawPrediction", "probability", "features")
  }

  /** Per-class precision/recall/F1/support from a predictions frame —
    * one distributed aggregate over the confusion counts (the full
    * sklearn classification_report surface,
    * ML_Model_Complete…py:214-221: P, R, f1-score, support). */
  def classStats(predictions: DataFrame, cls: Double): ClassStats =
    confusion(predictions, Seq(cls)).head.stats

  private final case class Confusion(tp: Long, fp: Long, fn: Long) {
    def stats: ClassStats = {
      val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      ClassStats(p, r, if (p + r == 0) 0.0 else 2 * p * r / (p + r), tp + fn)
    }
  }

  /** tp/fp/fn of every class in `classes`, side by side in ONE aggregate
    * (one job however many classes are asked for). */
  private def confusion(predictions: DataFrame, classes: Seq[Double]): Seq[Confusion] = {
    val counts = classes.flatMap { cls =>
      Seq(
        count(when(col("prediction") === cls && col("label") === cls, 1)),
        count(when(col("prediction") === cls && col("label") =!= cls, 1)),
        count(when(col("prediction") =!= cls && col("label") === cls, 1)))
    }
    val row = predictions.agg(counts.head, counts.tail: _*).head()
    classes.indices.map(i =>
      Confusion(row.getLong(3 * i), row.getLong(3 * i + 1), row.getLong(3 * i + 2)))
  }

  /** Model persistence round-trip (reference's pickle save/reload-verify,
    * ML_Model_Complete…py:276-323, via MLlib native writers): save,
    * reload, and check the reloaded model reproduces the prediction of
    * every row. One chained plan pairs each test row with the saved
    * model's prediction, scores the pair with the reloaded model and
    * looks for a row where the two differ (null-safe): one job, no
    * shuffle, no cache, and a row-wise compare — stronger than a
    * multiset compare, which two models swapping predictions between
    * rows would pass. */
  def persistenceRoundTrip(model: PipelineModel, test: DataFrame): Boolean = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rf_model")
    try {
      val path = dir.resolve("model").toString
      model.write.overwrite().save(path)
      sameRowPredictions(model, PipelineModel.load(path), test)
    } finally {
      // the saved PipelineModel is scratch — don't accumulate one per run
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** True iff `b` predicts what `a` predicts on every row of `df`. */
  private[graft] def sameRowPredictions(
      a: PipelineModel, b: PipelineModel, df: DataFrame): Boolean = {
    val scoredByA = a.transform(df)
      .select(df.columns.map(col).toSeq :+ col("prediction").as("__expected"): _*)
    b.transform(scoredByA)
      .filter(!(col("prediction") <=> col("__expected")))
      .isEmpty
  }

  /** Train/evaluate with the reference's 80/20 seed-42 split. */
  def trainAndEvaluate(mlData: DataFrame): Metrics = {
    val prepared = withLabelAndWeight(mlData).cache()
    val Array(train, test) = prepared.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = pipeline().fit(train)
    val predictions = model.transform(test).cache()
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC").evaluate(predictions)
    // labels are exactly 0.0/1.0 (withLabelAndWeight), so the two
    // supports partition the test split and the two true-positive counts
    // are its correct predictions: accuracy is correct / rows, the same
    // quotient of two exact counts the multiclass evaluator divides
    val Seq(covered, notCovered) = confusion(predictions, Seq(0.0, 1.0))
    val testRows = covered.tp + covered.fn + notCovered.tp + notCovered.fn
    val accuracy = (covered.tp + notCovered.tp).toDouble / testRows
    val rf = model.stages.last.asInstanceOf[RandomForestClassificationModel]
    val m = Metrics(accuracy, auc, train.count(), testRows,
      rf.featureImportances.toArray,
      covered = covered.stats, notCovered = notCovered.stats,
      reloadOk = persistenceRoundTrip(model, test))
    prepared.unpersist(); predictions.unpersist()
    m
  }

  /** Metrics as a 1-row DataFrame for the driver contract. */
  def metricsDf(spark: SparkSession, mlData: DataFrame): DataFrame = {
    import spark.implicits._
    val m = trainAndEvaluate(mlData)
    def r2(x: Double) = math.round(x * 100.0) / 100.0
    // importances ordered as the assembler input: price, then the
    // four categorical indexes (reference's sorted importance print,
    // ML_Model_Complete…py:227-237). Serialized as a JSON string, not an
    // array column: the driver's result compare sorts rows with pandas,
    // which cannot order array cells (r2 CORRECTNESS err on this query).
    val importances = m.featureImportances
      .map(x => math.round(x * 10000.0) / 10000.0)
      .mkString("[", ",", "]")
    Seq((r2(m.accuracy), r2(m.auc),
      m.trainRows + m.testRows, m.featureImportances.length, importances,
      r2(m.covered.precision), r2(m.covered.recall),
      r2(m.covered.f1), m.covered.support,
      r2(m.notCovered.precision), r2(m.notCovered.recall),
      r2(m.notCovered.f1), m.notCovered.support,
      m.reloadOk))
      .toDF("accuracy_2dp", "auc_2dp", "total_rows", "n_features",
        "feature_importances_4dp",
        "precision_covered", "recall_covered",
        "f1_covered", "support_covered",
        "precision_not_covered", "recall_not_covered",
        "f1_not_covered", "support_not_covered", "reload_ok")
  }
}
