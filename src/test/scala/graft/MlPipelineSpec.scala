package graft

/** The CV pipeline quality gate: on the learnable customer frame the
  * OOF log-loss must beat chance (ln 2 ≈ 0.693) by a wide margin and
  * accuracy must be near-perfect (label is linearly separable on
  * f_acctbal). Runs at sf0.001 to stay fast. */
class MlPipelineSpec extends SparkSpec {

  test("ml_cv_logloss: OOF beats chance, folds cover every row") {
    // cvMetrics is the spec surface with the numeric values; the entry
    // hashes only the deterministic spine + gate (gate-literal oracle)
    val row = QueriesMl.cvMetrics(spark, "/root/testdata/sf0.001").head()
    val logloss = row.getAs[Double]("oof_logloss")
    val acc = row.getAs[Double]("oof_accuracy")
    val nOof = row.getAs[Long]("n_oof")
    logloss should be < 0.5 // chance = ln 2 ≈ 0.693
    acc should be > 0.9
    nOof shouldBe 150L // every customer row appears exactly once OOF
    row.getAs[Boolean]("quality_ok") shouldBe true
    // the hashed entry projects the spine the oracle recomputes
    QueriesMl.mlCvLogloss.fn(spark, "/root/testdata/sf0.001")
      .columns.toSeq shouldBe Seq("k", "n_oof", "n_test", "quality_ok")
  }

  test("crossValidate trains on a deliberately-coalesced frame (r7 perf pin)") {
    // Every LBFGS iteration is one job whose task count = the training
    // frame's partition count, and K folds fit concurrently — the r7
    // fix coalesced to 8 before caching (3×32 near-empty tasks × ~12
    // iterations was pure scheduling overhead). Feed a deliberately
    // 32-partition frame: the OOF result only stays under k×8
    // partitions if the internal coalesce survives (fold split, fit
    // input conversion, and scoring are all narrow), so deleting it
    // fails here even though the sf0.001 scan is naturally small.
    val k = 3
    // the fold window re-shuffles to the session default, so raise it
    // to the bench session's 32 for the duration — at the suite's 4,
    // any frame is already "coalesced" and the pin proves nothing
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // AQE would coalesce the tiny test shuffle to 1 partition and make
    // the pin vacuous; the hazard being pinned is the NON-coalesced
    // task count a real scan-sized frame carries
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val frame = QueriesMl.featureFrame(spark, "/root/testdata/sf0.001")
        .repartition(32)
      val fold = Folds.addStratifiedFoldByKey(frame, "label", "id", k)
      fold.rdd.getNumPartitions should be > 8 // the hazard is real...
      val cv = Model.crossValidate(fold,
        fold.select("id", "f_acctbal", "f_keymod", "f_namelen", "f_nation"),
        Seq("f_acctbal", "f_keymod", "f_namelen", "f_nation"), k)
      cv.oof.rdd.getNumPartitions should be <= k * 8 // ...and contained
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("ml_stack: two real model families stack into [0,1] probabilities") {
    // stackScores is the spec surface with the stacked values; the
    // entry hashes only (id, quality_ok) per the gate-literal oracle
    val rows = QueriesMl.stackScores(spark, "/root/testdata/sf0.001").collect()
    rows.length shouldBe 150
    rows.foreach { r =>
      val p = r.getAs[Double]("stacked")
      p should (be >= 0.0 and be <= 1.0)
      r.getAs[Boolean]("quality_ok") shouldBe true
    }
    // stacking must produce a non-constant signal
    rows.map(_.getAs[Double]("stacked")).distinct.length should be > 10
  }

  test("ml_model_save_load: reloaded model scores identically") {
    val row = QueriesMl.mlModelSaveLoad.fn(spark, "/root/testdata/sf0.001").head()
    row.getAs[Long]("n") shouldBe 150L
    row.getAs[Long]("n_mismatch") shouldBe 0L
  }

  test("crossValidate fits and scores a pinned frame") {
    // The fits and the OOF scoring read a lineage pin of the coalesced
    // training frame: every leaf under the OOF plan is the pinned RDD,
    // never the parquet scan or a plan-cache relation, and no
    // CacheManager entry outlives the call.
    import org.apache.spark.sql.execution.LogicalRDD
    val k = 3
    val feats = QueriesMl.featureCols
    val fold = Folds.addStratifiedFoldByKey(
      QueriesMl.featureFrame(spark, "/root/testdata/sf0.001"), "label", "id", k)
    val cv = Model.crossValidate(fold, fold.select("id", feats: _*), feats, k)
    // an InMemoryRelation or a file LogicalRelation leaf fails here
    val leaves = cv.oof.queryExecution.optimizedPlan.collectLeaves()
    leaves should not be empty
    leaves.filterNot(_.isInstanceOf[LogicalRDD]) shouldBe empty
    val coalesced = fold.coalesce(8).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    spark.sharedState.cacheManager.lookupCachedData(coalesced) shouldBe None
    cv.oof.count() shouldBe 150L
  }
}
