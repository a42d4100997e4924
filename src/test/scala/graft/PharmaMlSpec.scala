package graft

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.sql.functions._

import graft.pharma.{Cleaning, Dashboard, InsuranceModel, MedsFeed, PharmaFixture}

/** The distributed ML stage: metric sanity on the deterministic fixture,
  * per-class evaluation, the per-row predict surface, and the
  * save/reload verification the reference performs manually
  * (ML_Model_Complete…py:208-323). sklearn→MLlib parity is statistical,
  * not bit-exact (SURVEY.md §7.4.3), so floors, not exact values — except
  * where MLlib's own figures are pinned so that a rework of the stage
  * must reproduce them bit for bit. */
class PharmaMlSpec extends SparkTestBase {

  private lazy val mlData = Dashboard.mlDataset(Cleaning.all(
    MedsFeed.fromJsonString(spark, PharmaFixture.feedJson()))).cache()

  test("train/evaluate: split sizes, importances, per-class stats, reload") {
    val m = InsuranceModel.trainAndEvaluate(mlData)
    assert(m.trainRows + m.testRows === 161L)
    assert(m.trainRows > m.testRows) // 80/20
    assert(m.featureImportances.length === 5) // price + 4 categorical idx
    assert(math.abs(m.featureImportances.sum - 1.0) <= 1e-6)
    assert(m.featureImportances.forall(x => x >= 0.0 && x <= 1.0))
    assert(m.auc >= 0.6) // weighted RF must beat chance on the fixture signal
    Seq(m.covered, m.notCovered).foreach { cs =>
      assert(cs.precision >= 0.0 && cs.precision <= 1.0)
      assert(cs.recall >= 0.0 && cs.recall <= 1.0)
      // f1 is the harmonic mean of the same P/R (classification_report
      // parity); support counts true class members
      val expectedF1 =
        if (cs.precision + cs.recall == 0) 0.0
        else 2 * cs.precision * cs.recall / (cs.precision + cs.recall)
      assert(math.abs(cs.f1 - expectedF1) <= 1e-12)
    }
    // supports partition the test split exactly
    assert(m.covered.support + m.notCovered.support === m.testRows)
    assert(m.reloadOk, "reloaded model must reproduce every prediction")
  }

  test("train/evaluate: exact MLlib figures on the fixture") {
    // recorded from the pipeline with one StringIndexer per column, the
    // multiclass accuracy evaluator and one classStats job per class:
    // the one-indexer, one-aggregate stage must reproduce them exactly
    val m = InsuranceModel.trainAndEvaluate(mlData)
    assert(m.accuracy === 0.46153846153846156)
    assert(m.auc === 0.7151515151515151)
    assert((m.trainRows, m.testRows) === ((135L, 26L)))
    assert(m.featureImportances.toSeq === Seq(0.549347809694748,
      0.2831965950791177, 0.008975523016503026, 0.07504890360431969,
      0.08343116860531151))
    assert(m.covered === InsuranceModel.ClassStats(
      0.5714285714285714, 0.26666666666666666, 0.36363636363636365, 15L))
    assert(m.notCovered === InsuranceModel.ClassStats(
      0.42105263157894735, 0.7272727272727273, 0.5333333333333333, 11L))
  }

  test("one multi-column indexer learns the labels of four single-column ones") {
    val data = InsuranceModel.withLabelAndWeight(mlData)
    val indexer = InsuranceModel.pipeline().getStages.head
      .asInstanceOf[StringIndexer].fit(data)
    val perColumn = InsuranceModel.FeatureCols.map { c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setHandleInvalid("keep").fit(data).labelsArray.head.toSeq
    }
    assert(indexer.labelsArray.map(_.toSeq).toSeq === perColumn)
  }

  test("row-wise reload compare rejects a model that disagrees on a row") {
    val data = InsuranceModel.withLabelAndWeight(mlData)
    val model = InsuranceModel.pipeline().fit(data)
    val flipped = InsuranceModel.pipeline()
      .fit(data.withColumn("label", lit(1.0) - col("label")))
    assert(InsuranceModel.sameRowPredictions(model, model, data))
    assert(!InsuranceModel.sameRowPredictions(model, flipped, data))
  }

  test("denseRankEncode: bit-exact parity with the reference's global " +
    "dense_rank - 1 encoder (ML_Model_Complete…py:101-114)") {
    val encoded = InsuranceModel.denseRankEncode(mlData).cache()
    try {
      assert(encoded.count() === 161L)
      InsuranceModel.FeatureCols.foreach { c =>
        // hand-computed expectation: dense_rank over a global ascending
        // order minus 1 == position of the value in the sorted distinct
        // value list (nulls first, Spark's ascending default)
        val distinctSorted = mlData.select(col(c)).distinct().collect()
          .map(r => Option(r.getString(0)))
          .sortBy(identity)(Ordering.Option(Ordering.String))
        val expected = distinctSorted.zipWithIndex.toMap
        val mismatches = encoded.select(col(c), col(s"${c}_idx")).collect()
          .count { r =>
            expected(Option(r.getString(0))).toDouble != r.getDouble(1)
          }
        assert(mismatches === 0, s"column $c disagrees with dense_rank-1")
        // and the encoding is dense: indices cover 0..n_distinct-1
        assert(expected.size === distinctSorted.length)
      }
    } finally encoded.unpersist()
  }

  test("predict surface: label + confidence per row, fully distributed") {
    val model = InsuranceModel.pipeline()
      .fit(InsuranceModel.withLabelAndWeight(mlData))
    val out = InsuranceModel.predict(model, mlData).cache()
    assert(out.count() === 161L)
    assert(out.columns.contains("predicted_label"))
    val bad = out.filter(
      !col("predicted_label").isin("Covered", "Not Covered") ||
        col("confidence") <= 0.0 || col("confidence") > 1.0).count()
    assert(bad === 0L)
    // binary argmax: winning-class confidence can never be below 0.5
    assert(out.agg(min(col("confidence"))).head().getDouble(0) >= 0.5)
  }
}
