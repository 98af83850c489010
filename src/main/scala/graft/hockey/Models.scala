package graft.hockey

import org.apache.spark.ml.{Pipeline => MlPipeline, PipelineModel, Predictor}
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, MultilayerPerceptronClassifier, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler

/** The four model pipelines (M1-M6, ref code/experiment.py:617-619,697-781).
  * Same JVM MLlib classes the reference drives through py4j, same
  * hyperparameters and seeds — so on identical input the fits match.
  *
  * `ModelConfig` scales the expensive knobs down for tests (the reference's
  * exact settings are the defaults).
  */
object Models {

  case class ModelConfig(
      rfNumTrees: Int = 200, rfMaxDepth: Int = 10,
      lrMaxIter: Int = 100, lrRegParam: Double = 0.01, lrElasticNet: Double = 0.8,
      gbtMaxIter: Int = 100, gbtMaxDepth: Int = 8,
      mlpMaxIter: Int = 100, mlpBlockSize: Int = 128,
      seed: Long = 42L)

  /** M1 (ref code/experiment.py:617-619): 25 doubles → features vector. */
  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(Schemas.featureCols.toArray)
    .setOutputCol("features")
    .setHandleInvalid("skip")

  /** The assembler feeding `classifier`, which learns `label_binary`. */
  private def assembled(classifier: Predictor[_, _, _]): MlPipeline = {
    classifier.setLabelCol("label_binary"); classifier.setFeaturesCol("features")
    new MlPipeline().setStages(Array(assembler, classifier))
  }

  /** M2 (ref code/experiment.py:697-703). */
  def randomForest(cfg: ModelConfig = ModelConfig()): MlPipeline =
    assembled(new RandomForestClassifier()
      .setNumTrees(cfg.rfNumTrees).setMaxDepth(cfg.rfMaxDepth).setSeed(cfg.seed))

  /** M3 (ref code/experiment.py:719-726). */
  def logisticRegression(cfg: ModelConfig = ModelConfig()): MlPipeline =
    assembled(new LogisticRegression()
      .setMaxIter(cfg.lrMaxIter).setRegParam(cfg.lrRegParam)
      .setElasticNetParam(cfg.lrElasticNet).setFamily("binomial"))

  /** M4 (ref code/experiment.py:743-749). */
  def gbt(cfg: ModelConfig = ModelConfig()): MlPipeline =
    assembled(new GBTClassifier()
      .setMaxIter(cfg.gbtMaxIter).setMaxDepth(cfg.gbtMaxDepth).setSeed(cfg.seed))

  /** M5 (ref code/experiment.py:767-777): layers fixed to
    * [|features|, 64, 32, 2]. */
  def mlp(cfg: ModelConfig = ModelConfig()): MlPipeline =
    assembled(new MultilayerPerceptronClassifier()
      .setLayers(Array(Schemas.featureCols.size, 64, 32, 2))
      .setMaxIter(cfg.mlpMaxIter).setBlockSize(cfg.mlpBlockSize).setSeed(cfg.seed))

  /** One fittable model: its `--models` key, the display name its metrics
    * are reported under, and its pipeline. */
  final case class Entry(key: String, name: String, pipeline: ModelConfig => MlPipeline)

  /** Every model, in reference order. */
  val table: Seq[Entry] = Seq(
    Entry("rf", "Random Forest", randomForest),
    Entry("lr", "Logistic Regression", logisticRegression),
    Entry("gbt", "Gradient Boosted Trees", gbt),
    Entry("mlp", "Multilayer Perceptron", mlp))

  /** The entries for `keys`, in `keys` order; an unknown key fails here,
    * naming it. */
  def select(keys: Seq[String]): Seq[Entry] = {
    val byKey = table.map(e => e.key -> e).toMap
    val unknown = keys.filterNot(byKey.contains)
    require(unknown.isEmpty,
      s"unknown model key(s): ${unknown.map(k => s"\"$k\"").mkString(", ")}" +
        s" (known: ${table.map(_.key).mkString(", ")})")
    keys.map(byKey)
  }

  /** M9 (ref code/experiment.py:39-54): top-k feature importances from any
    * tree-ensemble final stage. */
  def topFeatureImportances(model: PipelineModel, k: Int = 10): Seq[(String, Double)] = {
    val importances = model.stages.last match {
      case m: org.apache.spark.ml.classification.RandomForestClassificationModel =>
        m.featureImportances.toArray
      case m: org.apache.spark.ml.classification.GBTClassificationModel =>
        m.featureImportances.toArray
      case _ => Array.empty[Double]
    }
    Schemas.featureCols.zip(importances).sortBy(-_._2).take(k)
  }
}
