package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Queries.Entry
import Tables.tbl

/** SURVEY.md §3.1 executed end-to-end: the myAngleCV pipeline
  * (main.py:247-309) — stratified folds → per-fold fit → OOF scatter-
  * gather → fold-ensemble mean → log-loss/accuracy — over a feature
  * frame built from testdata. MLlib training is not SQL-expressible,
  * so since r11 every entry is ORACLE-GREEN via the gate-literal
  * pattern (VERDICT r10 #1): model-dependent values fold into
  * falsifiable `quality_ok` gates, the hashed result carries only the
  * deterministic spine (counts / id enumerations) plus those gates,
  * and the oracle recomputes the spine while asserting each gate
  * literally TRUE — so a degraded model, broken fold split, or
  * non-roundtripping save/load hash-fails the driver's gate. The
  * numeric metric values (log-loss 0.13, accuracy 0.993 at sf0.01)
  * stay asserted in MlPipelineSpec.
  */
object QueriesMl {

  /** Feature frame: customer scalars; label = acctbal above threshold
    * (deterministic, learnable — the classifier must beat chance). */
  private[graft] def featureFrame(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "customer").select(
      col("c_custkey").as("id"),
      when(col("c_acctbal") > 5000.0, 1.0).otherwise(0.0).as("label"),
      col("c_acctbal").as("f_acctbal"),
      (col("c_custkey") % 97).cast("double").as("f_keymod"),
      length(col("c_name")).cast("double").as("f_namelen"),
      col("c_nationkey").cast("double").as("f_nation"))

  private[graft] val featureCols = Seq("f_acctbal", "f_keymod", "f_namelen", "f_nation")

  /** The full CV metrics row (spec surface — MlPipelineSpec asserts
    * the numeric values the hashed entry folds into its gate). */
  private[graft] def cvMetrics(s: SparkSession, d: String): DataFrame = {
    val k = 3
    val frame = Folds.addStratifiedFoldByKey(featureFrame(s, d), "label", "id", k)
    val cv = Model.crossValidate(frame, frame.select("id", featureCols: _*), featureCols, k)
    val metrics = cv.oof.agg(
      round(Metrics.logLoss(col("label"), col("pred")), 4).as("oof_logloss"),
      round(Metrics.accuracy(col("label"), col("pred")), 4).as("oof_accuracy"),
      count(lit(1)).as("n_oof"))
    val testAgg = cv.test.agg(count(lit(1)).as("n_test"),
      round(avg(col("pred")), 4).as("mean_test_pred"))
    metrics.crossJoin(testAgg).withColumn("k", lit(k))
      // quality gate inside the result: the oracle asserts it
      // literally, so it must hold with margin (measured logloss
      // 0.13, accuracy 0.993 — gates at 0.5 / 0.9 are ~4x clear)
      .withColumn("quality_ok",
        col("oof_logloss") < 0.5 && col("oof_accuracy") > 0.9 &&
          col("mean_test_pred").between(0.0, 1.0))
  }

  /** G1→J4→fit→G3→G2→G4/G11, K=3. Result: one row of run counts +
    * gate. ORACLE-GREEN since r11 via the gate-literal pattern
    * (VERDICT r10 #1; see g_approx_distinct): MLlib training is not
    * SQL-expressible, so the trained metrics fold into `quality_ok` —
    * the model must beat chance decisively (OOF log-loss < 0.5 vs
    * ln 2 ≈ 0.693 for a coin; measured 0.13 / accuracy 0.993 at
    * sf0.01) — and the hashed result is the deterministic spine: every
    * row is OOF for exactly one fold, so n_oof = n_test = the customer
    * count, which the oracle recomputes while asserting the gate
    * literally true. A broken fold split, lost OOF scatter, or
    * degraded model now hash-fails the round. The numeric metric
    * values stay asserted in MlPipelineSpec. */
  val mlCvLogloss: Entry = Entry("ml_cv_logloss",
    (s, d) => cvMetrics(s, d)
      .select(col("k"), col("n_oof"), col("n_test"), col("quality_ok")),
    Some("""SELECT 3 AS k, count(*) AS n_oof, count(*) AS n_test,
      | TRUE AS quality_ok
      |FROM customer""".stripMargin))

  /** S6 model sink/scan: fit once, save, reload, re-score.
    * ORACLE-GREEN since r11 via the gate-literal pattern (see
    * mlCvLogloss): the hashed result is (n = customer count,
    * n_mismatch = 0, quality_ok = true) — n_mismatch is even directly
    * oracle-asserted at its exact expected value, so a reload that
    * scores ANY row differently from the fitted model hash-fails. */
  val mlModelSaveLoad: Entry = Entry("ml_model_save_load",
    (s, d) => {
      val frame = featureFrame(s, d)
      val m = Model.pipeline(featureCols).fit(frame)
      val path = "target/tmp/model_" + d.replaceAll("[^0-9a-zA-Z]", "_")
      Model.save(m, path)
      val reloaded = Model.load(path)
      val a = Model.prob1(m.transform(frame)).select(col("id"), col("pred").as("pred_orig"))
      val b = Model.prob1(reloaded.transform(frame)).select(col("id"), col("pred").as("pred_loaded"))
      a.join(b, "id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_orig") === col("pred_loaded"), 0L).otherwise(1L)).as("n_mismatch"))
        // quality gate inside the result: reload must score bit-identically
        .withColumn("quality_ok", col("n_mismatch") === 0 && col("n") > 0)
    },
    Some("""SELECT count(*) AS n, CAST(0 AS BIGINT) AS n_mismatch,
      | TRUE AS quality_ok
      |FROM customer""".stripMargin))

  /** The 10-crop TTA inference pipeline (10-crop.py §3.2): train on
    * whole-image features, explode ten crops per image, score each
    * crop, average per id (G10: a `groupBy(id)` avg). The 3-level
    * Python loop collapses into one plan per model. */
  val mlTta: Entry = Entry("ml_tta",
    (s, d) => {
      import graft.functions.ArrayOps._
      import graft.functions.ImageGeometry
      val cols = Seq("f_mean", "f_std", "f_max", "f_min")
      def feats(c: org.apache.spark.sql.Column) = Seq(
        arrayMean(c).as("f_mean"), arrayStd(c).as("f_std"),
        org.apache.spark.sql.functions.array_max(c).as("f_max"),
        org.apache.spark.sql.functions.array_min(c).as("f_min"))
      val e = tbl(s, d, "embeddings").select(col("vec_id").as("id"),
        (col("label") === 1).cast("double").as("label"),
        asDouble(col("embedding")).as("img"))
      val train = e.select(col("id") +: col("label") +: feats(col("img")): _*)
      val m = Model.pipeline(cols).fit(train)
      val crops = e.select(col("id"),
        posexplode(ImageGeometry.tenCropUdf(col("img"), lit(8), lit(8), lit(4), lit(4)))
          .as(Seq("crop_id", "crop")))
      val cropFeats = crops.select(col("id") +: feats(col("crop")): _*)
      val preds = cropFeats.select(col("id"), Model.score(m).as("pred"))
      // G10 mean plus the crop-pred envelope for the in-result gate
      val tta = preds.groupBy("id").agg(avg(col("pred")).as("tta"),
        min(col("pred")).as("cmin"), max(col("pred")).as("cmax"))
      val whole = train.select(col("id"), Model.score(m).as("whole_pred"))
      // ORACLE-GREEN since r11 via the gate-literal pattern (see
      // mlCvLogloss): the model-dependent tta_pred folds into the
      // per-id gate; the hashed result is one (id, quality_ok) row per
      // embedding, with the oracle enumerating the ids and asserting
      // every gate literally true — per-ROW falsifiability: a single
      // id whose TTA mean escapes its crop envelope hash-fails.
      tta.join(whole, "id")
        .select(col("id"),
          // falsifiable in-gate checks (r5 verdict #5): the TTA mean must
          // lie inside its own crop-pred envelope (the sharp check — a
          // broken grouping/average lands outside it), and within 0.75 of
          // the whole-image prediction (the sanity band: crops see 1/4 of
          // the pixels so agreement is approximate; measured max
          // deviation on this deterministic pipeline is 0.39 / 0.034 /
          // 0.046 at sf0.001/0.01/0.1 — 0.75 is ~2× the worst while
          // still rejecting an anti-correlated or constant scorer)
          (col("tta") >= col("cmin") - lit(1e-9) &&
            col("tta") <= col("cmax") + lit(1e-9) &&
            abs(col("tta") - col("whole_pred")) < lit(0.75)).as("quality_ok"))
        .orderBy("id")
    },
    Some("""SELECT vec_id AS id, TRUE AS quality_ok
      |FROM embeddings ORDER BY id""".stripMargin))

  /** Multi-architecture ensemble, the reference's VGG+ResNet+MobileNet
    * stacking made real on MLlib: train two model FAMILIES (logistic
    * regression + gradient-boosted trees) on the same frame, join
    * their probability outputs into the preds array, and run the
    * minmax_median stacking mode on genuine model predictions
    * (sub_stacking.py over real members, not pseudo-models). */
  /** The full per-id stack-score frame (spec surface — MlPipelineSpec
    * asserts the [0,1] range and non-constancy of the stacked values
    * the hashed entry folds into its per-id gate). */
  private[graft] def stackScores(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.classification.GBTClassifier
      import org.apache.spark.ml.feature.VectorAssembler
      // Pin the fit frame (the Model.crossValidate technique): every
      // LR/GBT iteration below is one job over it, and each task then
      // ships a one-RDD lineage, not the scan plan. The returned plan
      // re-scores the same pinned blocks after this fn
      // returns; the ContextCleaner frees them once that frame is
      // garbage. coalesce bounds each job's task count for sessions
      // without AQE (at 100 TB the same knob is sized UP to the data)
      val frame = Graft.pin(featureFrame(s, d).coalesce(8))
      // the two model-family fits are independent driver-side job
      // sequences — overlap them (the crossValidate technique) instead
      // of serializing their scheduling latency
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val (lrPred, gbtPred) = try {
        val lrF = Future {
          frame.select(col("id"), Model.score(Model.pipeline(featureCols).fit(frame)).as("m_lr"))
        }
        val gbtF = Future {
          val asm = new VectorAssembler().setInputCols(featureCols.toArray)
            .setOutputCol("features").setHandleInvalid("keep")
          val gbt = new GBTClassifier().setLabelCol("label").setFeaturesCol("features")
            .setMaxIter(10).setMaxDepth(3).setSeed(16)
          val gbtModel = new Pipeline().setStages(Array(asm, gbt)).fit(frame)
          Model.prob1(gbtModel.transform(frame))
            .select(col("id"), col("pred").as("m_gbt"))
        }
        (Await.result(lrF, Duration.Inf), Await.result(gbtF, Duration.Inf))
      } finally pool.shutdown()
      val joined = lrPred.join(gbtPred, "id")
        .withColumn("preds", array(col("m_lr"), col("m_gbt")))
      val stacked = Ensemble.stack("minmax_median", col("preds"), col("m_lr"))
      joined.select(col("id"), round(stacked, 4).as("stacked"),
          // falsifiable in-gate check (r5 verdict #5): every minmax_median
          // branch (hi→max, lo→min, else→median) returns a value inside
          // the member envelope, so a stacked output outside
          // [min(members), max(members)] means the stacking combinator —
          // or the member join — is broken (gate on the UNROUNDED value;
          // round(…,4) may legally cross the bound by 5e-5)
          (stacked >= least(col("m_lr"), col("m_gbt")) - lit(1e-9) &&
            stacked <= greatest(col("m_lr"), col("m_gbt")) + lit(1e-9)).as("quality_ok"))
        .orderBy("id")
  }

  /** ORACLE-GREEN since r11 via the gate-literal pattern (see
    * mlCvLogloss): the model-dependent stacked score folds into the
    * per-id envelope gate; the hashed result is one (id, quality_ok)
    * row per customer with the oracle enumerating ids and asserting
    * every gate literally true — a stacking combinator or member-join
    * break on ANY row hash-fails. */
  val mlStack: Entry = Entry("ml_stack",
    (s, d) => stackScores(s, d).select(col("id"), col("quality_ok")),
    Some("""SELECT c_custkey AS id, TRUE AS quality_ok
      |FROM customer ORDER BY id""".stripMargin))

  /** Full metrics row for the in-engine quality classifier (spec
    * surface — QualityClassifierSpec asserts the numeric values the
    * hashed entry folds into its gate). Featurize → fit → score →
    * threshold, all in-engine: hashed token counts (HashingTF D=1024,
    * the pl_hash_features hashing-trick shape with a LEARNED weight
    * vector instead of the fixed one) → LogisticRegression → score the
    * whole corpus. The planted label is a deterministic token-count
    * rule (≥ 2 'join' tokens — ~51% positive, balanced) that is
    * exactly linearly separable from count features when the token's
    * bucket is collision-free, so the model must recover it
    * decisively; split is id-hash (doc_id % 5 == 0 → test). */
  /** The quality-classifier featurization: hashed token counts plus
    * the planted deterministic label (≥ 2 'join' tokens). Shared by
    * the batch entry and the streaming admission gate — the SAME
    * columns a streaming scan can produce row-locally, so the trained
    * scorer transfers across execution modes unchanged. */
  private[graft] def qualityFeatures(docFrame: DataFrame): DataFrame =
    docFrame.select(col("doc_id"),
      expr("filter(split(coalesce(text, ''), ' '), t -> length(t) > 0)").as("toks"),
      expr("CAST(CAST(size(filter(split(coalesce(text, ''), ' '), t -> t = 'join')) >= 2 AS INT) AS DOUBLE)").as("label"))

  /** Train the in-engine quality scorer on the id-hash train split
    * (doc_id % 5 ≠ 0) of a featurized frame — the fit half of
    * [[qualityClassifierMetrics]], factored so st_stream_quality_gate
    * can train-on-curated in batch and score-the-stream. */
  private[graft] def qualityModel(frame: DataFrame): org.apache.spark.ml.PipelineModel = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1024)
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(25).setRegParam(1e-3).setTol(1e-7)
    // fit on the train split only; at fixture scale the frame is tiny,
    // so coalesce(4) keeps each LBFGS iteration's job at real task
    // sizes instead of 32 near-empty ones (the Model.crossValidate
    // sizing rule; at 100 TB the knob goes UP with the data)
    val train = frame.where(col("doc_id") % 5 =!= 0).coalesce(4)
    new Pipeline().setStages(Array(tf, lr)).fit(train)
  }

  private[graft] def qualityClassifierMetrics(s: SparkSession, d: String): DataFrame = {
    val frame = qualityFeatures(tbl(s, d, "documents"))
    val model = qualityModel(frame)
    val scored = Model.prob1(model.transform(frame))
      .select(col("doc_id"), col("label"), col("pred"))
    val spine = scored.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("doc_id") % 5 =!= 0, 1L).otherwise(0L)).as("n_train"),
      sum(when(col("doc_id") % 5 === 0, 1L).otherwise(0L)).as("n_test"),
      sum(col("label").cast("long")).as("n_pos"))
    val testAgg = scored.where(col("doc_id") % 5 === 0).agg(
      round(Metrics.accuracy(col("label"), col("pred")), 4).as("test_accuracy"),
      round(Metrics.logLoss(col("label"), col("pred")), 4).as("test_logloss"))
    spine.crossJoin(testAgg)
      // gates with ~4x margin: measured accuracy 1.0 / log-loss ~0.03
      // at sf0.01 vs a coin's ln 2 ≈ 0.693
      .withColumn("quality_ok",
        col("test_accuracy") > 0.9 && col("test_logloss") < 0.3)
  }

  /** In-engine quality classifier over the document corpus (VERDICT
    * r14 #4) — the fastText-style curation-filter loop (Joulin et al.
    * 2016) closed end-to-end in the engine: train the scorer on hashed
    * n-gram counts against a planted deterministic label, score the
    * corpus, gate the quality. ORACLE-GREEN via the gate-literal
    * pattern (see mlCvLogloss): the hashed row is the deterministic
    * spine — doc/split/label censuses the oracle recomputes by
    * replaying the label rule in SQL — plus the trained-quality gate
    * asserted literally TRUE (test accuracy > 0.9, test log-loss
    * < 0.3). A broken featurizer, degraded fit, or shifted split
    * hash-fails the round; numeric metric values stay pinned in
    * QualityClassifierSpec. Scale shape: featurization and scoring are
    * scan-stage map passes; LBFGS reduces gradients tree-wise; the
    * gate agg is a 1-row reduction — no driver-side data motion beyond
    * the model's coefficient vector. */
  val mlQualityClassifier: Entry = Entry("pl_quality_classifier",
    (s, d) => qualityClassifierMetrics(s, d)
      .select(col("n_docs"), col("n_train"), col("n_test"), col("n_pos"),
        col("quality_ok")),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
      | CAST(sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
      | CAST(sum(CASE WHEN len(list_filter(string_split(coalesce(text, ''), ' '),
      |   t -> t = 'join')) >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      | TRUE AS quality_ok
      |FROM documents""".stripMargin))

  val all: Seq[Entry] = Seq(mlCvLogloss, mlModelSaveLoad, mlTta, mlStack,
    mlQualityClassifier)
}
