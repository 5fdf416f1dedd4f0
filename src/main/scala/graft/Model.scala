package graft

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, NumericType}

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

  /** P(class=1) as a plain double column from the MLlib probability
    * vector of `df = model.transform(...)`. Used only where the model is
    * not an assembler → binomial-LR pipeline (the GBT stacking member,
    * the HashingTF quality model) or where the model's own `transform`
    * is the contract (`ml_model_save_load` scores the reloaded
    * artifact). Every assembler → LR pipeline scores with [[score]]. */
  def prob1(df: DataFrame): DataFrame =
    df.withColumn("pred", element_at(vector_to_array(col("probability")), 2))

  /** P(class=1) of a fitted [[pipeline]] (VectorAssembler → binomial
    * LogisticRegression) as a native Catalyst expression over the
    * assembler's input columns: no vector column, no MLlib UDFs, so a
    * scored frame is one projection. It equals `prob1(m.transform(df))`
    * bit for bit, because it makes MLlib's own floating-point steps:
    *  - a null input counts as NaN, as `handleInvalid("keep")`
    *    assembles it;
    *  - the assembler hands LR a sparse vector when 1.5·(nnz + 1) <
    *    n, and a sparse dot (sparse inputs or sparse coefficients) is
    *    plain products of the stored entries summed left to right;
    *  - a dense dot (JDK 11+ Java BLAS, under 256 features) keeps four
    *    `Math.fma` lanes over whole blocks of four, adds the lanes in
    *    order, then fma-folds the rest;
    *  - margin = dot + intercept, P(1) = 1 − 1/(1 + Math.exp(margin))
    *    (`raw2probability` of [−margin, margin]). Spark's `exp` is
    *    `StrictMath.exp`, up to an ulp away, hence [[jdk]].
    * Input columns must be numeric or boolean, as VectorAssembler
    * requires of a scalar input; the frame's analysis fails otherwise. */
  def score(m: PipelineModel): Column = m.stages match {
    case Array(asm: VectorAssembler, lr: LogisticRegressionModel) =>
      val n = asm.getInputCols.length
      require(lr.numClasses == 2, s"score needs a binomial model, got ${lr.numClasses} classes")
      require(lr.numFeatures == n,
        s"score needs one scalar column per feature: $n inputs, ${lr.numFeatures} features")
      val xs = asm.getInputCols.toSeq.map(c => coalesce(
        GraftPlanBridge.nativeColumn(col(c))(e => AssemblerInput(e.head)), lit(Double.NaN)))
      val coef = lr.coefficients.toArray
      val ws = coef.toSeq.map(lit)
      def plain(terms: Seq[Int]) = terms.foldLeft(lit(0.0))((acc, i) => acc + xs(i) * ws(i))
      val margin = lr.coefficients match {
        case _: DenseVector =>
          def fma(acc: Column, i: Int) = jdk("fma", xs(i), ws(i), acc)
          val blocks = n - n % 4
          val lanes = (0 until 4).map(j => (j until blocks by 4).foldLeft(lit(0.0))(fma))
          val dense = (blocks until n).foldLeft(if (blocks == 0) lit(0.0) else lanes.reduce(_ + _))(fma)
          val nnz = xs.map(x => when(x =!= 0.0, 1).otherwise(0)).reduce(_ + _)
          when((nnz + 1) * 1.5 < n, plain(0 until n)).otherwise(dense)
        // LR stores sparse coefficients when enough are 0.0; their dot
        // skips those weights, so a NaN or infinite input under one adds
        // nothing
        case _ => plain((0 until n).filter(coef(_) != 0.0))
      }
      lit(1.0) - lit(1.0) / (lit(1.0) + jdk("exp", margin + lit(lr.intercept)))
    case stages => throw new IllegalArgumentException(
      "score needs a VectorAssembler → LogisticRegression pipeline, got " +
        stages.map(_.getClass.getSimpleName).mkString(" → "))
  }

  /** `java.lang.Math.<fn>(args)` on doubles, the call MLlib makes where
    * Spark has no builtin (`fma`) or a different one (`exp`). */
  private def jdk(fn: String, args: Column*): Column =
    GraftPlanBridge.nativeColumn(args: _*)(StaticInvoke(classOf[java.lang.Math], DoubleType, fn, _))

  /** The myAngleCV loop (main.py:247-309): per-fold fit on K-1 folds,
    * predict holdout (OOF, G3) + full test (G2); driver-side Scala control
    * flow launching K Spark jobs. Input must carry `fold` and `label`.
    * `oof` is (id, label, pred), one row per training row whose fold is
    * in [0, K); `test` is (id, pred), one row per test row. */
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
    val models = try {
      Await.result(Future.sequence((0 until k).map { j =>
        Future(pipeline(featureCols).fit(Folds.trainSplit(pinned, j)))
      }), Duration.Inf)
    } finally pool.shutdown()
    // Scoring is native columns (the reference's scatter and running
    // sum, main.py:250-305): each holdout row takes its own fold's
    // score in one projection of the pin (y_valid_pred_log[test_idx] =
    // pred_valid), and each test row the fold-order sum of the K scores
    // over K (y_test_pred_log += pred … /K) — no per-fold transform
    // plans, no union, no group-by exchange.
    val scores = models.map(score)
    val fold = col("fold")
    val oofPred = (1 until k).foldLeft(when(fold === 0, scores.head)) {
      (c, j) => c.when(fold === j, scores(j))
    }
    val oof = pinned.where(fold >= 0 && fold < k)
      .select(col("id"), col("label"), oofPred.as("pred"))
    val testPred = test.select(col("id"), (scores.reduce(_ + _) / k).as("pred"))
    CvResult(oof, testPred, models)
  }

  /** S6: model artifact sink/scan. */
  def save(m: PipelineModel, path: String): Unit = m.write.overwrite().save(path)
  def load(path: String): PipelineModel = PipelineModel.load(path)
}

/** One VectorAssembler scalar input as a double: refuses at analysis any
  * type the assembler refuses (a string input would otherwise cast
  * silently), then is replaced by the plain cast before optimization. */
private[graft] case class AssemblerInput(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | BooleanType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"a VectorAssembler scalar input must be numeric or boolean, got ${t.sql}")
  }
  override lazy val replacement: Expression = Cast(child, DoubleType)
  override protected def withNewChildInternal(newChild: Expression): AssemblerInput =
    copy(child = newChild)
}
