package graft

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 model surface: MLlib Pipeline replacing the reference's
  * Keras CNN (documented substitution, BASELINE.json `spark_approach`):
  * probabilistic binary classifier over engineered features, identical
  * surrounding pipeline (K-fold CV → per-fold fit → OOF + test predict →
  * ensemble mean → log-loss), reference main.py:247-309.
  */
object Model {

  /** Assembler → LogisticRegression. No StandardScaler stage: LR
    * standardizes internally during optimization (standardization=true
    * default), so an explicit scaler is a redundant extra pass — it
    * measured 3.3 s of a 4.3 s fit at sf0.1 with identical convergence
    * (10 LBFGS iterations either way). maxIter default 25→12 (r6
    * verdict #2): at tol=1e-6 LBFGS converges in ~10 iterations on
    * these features, so the extra 13-iteration headroom only bought
    * driver-side job-scheduling latency — the dominant, load-sensitive
    * cost of ml_cv_logloss (8.5 s idle at 25; the OOF quality gates
    * pin that the shorter budget converges to the same model). */
  def pipeline(featureCols: Seq[String], maxIter: Int = 12): Pipeline = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .setHandleInvalid("keep")
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(maxIter).setRegParam(0.01).setTol(1e-6)
    new Pipeline().setStages(Array(assembler, lr))
  }

  /** P(class=1) as a plain double column from the MLlib probability vector. */
  def prob1(df: DataFrame): DataFrame =
    df.withColumn("pred", element_at(vector_to_array(col("probability")), 2))

  /** The myAngleCV loop (main.py:247-309): per-fold fit on K-1 folds,
    * predict holdout (OOF, G3) + full test (G2); driver-side Scala control
    * flow launching K Spark jobs. Input must carry `fold` and `label`. */
  case class CvResult(oof: DataFrame, test: DataFrame, models: Seq[PipelineModel])

  def crossValidate(train: DataFrame, test: DataFrame, featureCols: Seq[String], k: Int): CvResult = {
    // Pin the training frame once: every fold's fit reads it once per
    // LBFGS iteration, each read one job whose task count is the
    // frame's partition count. Against a plan cache the pin moves two
    // layers. Each fit task deserializes a one-RDD lineage instead of
    // the scan + fold-window plan under an InMemoryRelation. And the
    // partitioning AQE gave the frame (1 partition at sf0.01) carries
    // into the fits, so a treeAggregate is one stage, not a 4-task
    // stage plus a 1-task merge. coalesce(8) is the upper bound for
    // sessions without AQE, where the fold window's exchange would
    // hand the fits one task per shuffle partition; it is narrow (no
    // shuffle).
    val pinned = Graft.pin(train.coalesce(8))
    // Fold fits are independent Spark job sequences driven from the
    // driver — run them concurrently (the CrossValidator.parallelism
    // technique) so their many small jobs overlap on the cluster
    // instead of serializing K× the scheduling latency. The reference
    // trains folds sequentially on two GPUs (main.py:184,217); here the
    // cluster is shared and folds pipeline through it together.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val perFold = try {
      Await.result(Future.sequence((0 until k).map { j =>
        Future {
          val m = pipeline(featureCols).fit(Folds.trainSplit(pinned, j))
          val oof = prob1(m.transform(Folds.holdoutSplit(pinned, j)))
          val tst = prob1(m.transform(test)).withColumn("fold", lit(j))
          (m, oof, tst)
        }
      }), Duration.Inf)
    } finally pool.shutdown()
    val oof = perFold.map(_._2.select("id", "label", "pred")).reduce(_ unionByName _)
    val testPred = Ensemble.foldMean(perFold.map(_._3.select("id", "pred")), "id", "pred")
    CvResult(oof, testPred, perFold.map(_._1))
  }

  /** S6: model artifact sink/scan. */
  def save(m: PipelineModel, path: String): Unit = m.write.overwrite().save(path)
  def load(path: String): PipelineModel = PipelineModel.load(path)
}
