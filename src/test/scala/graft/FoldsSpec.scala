package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G1/J4 stratified-fold invariants (SURVEY.md §5.3): folds disjoint,
  * cover all rows, per-class sizes differ by ≤ 1 (the reference's
  * StratifiedKFold guarantee, main.py:248-249). */
class FoldsSpec extends SparkSpec {
  import spark.implicits._
  import FoldsSpec.{addStratifiedFold, holdoutSplit}

  private val k = 4
  private lazy val df = {
    // 20/20 balanced labels over 40 rows (FIXTURES.md §1 shape)
    val rows = (0 until 40).map(i => (i.toLong, i % 2))
    rows.toDF("id", "label")
  }

  test("random variant: disjoint cover + per-class balance <= 1") {
    val folded = addStratifiedFold(df, "label", k).cache()
    folded.count() shouldBe 40 // cover: every row got exactly one fold
    folded.where(col("fold") < 0 || col("fold") >= k).count() shouldBe 0
    val sizes = folded.groupBy("label", "fold").count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    sizes.size shouldBe 2 * k
    for (lbl <- 0 to 1) {
      val per = (0 until k).map(f => sizes((lbl, f)))
      (per.max - per.min) should be <= 1L
    }
    folded.unpersist()
  }

  test("random variant is deterministic for a fixed seed") {
    val a = addStratifiedFold(df, "label", k, seed = 16)
      .orderBy("id").select("fold").as[Int].collect().toSeq
    val b = addStratifiedFold(df, "label", k, seed = 16)
      .orderBy("id").select("fold").as[Int].collect().toSeq
    a shouldBe b
  }

  test("by-key variant: same invariants, fully deterministic") {
    val folded = Folds.addStratifiedFoldByKey(df, "label", "id", k)
    // id order within each label class -> fold = rank % k
    val got = folded.orderBy("id").select("fold").as[Int].collect()
    // ids 0,2,4..38 are label 0 in id order; folds cycle 0,1,2,3,...
    val expect = (0 until 40).map(i => (i / 2) % k)
    got.toSeq shouldBe expect
  }

  test("J4 train/holdout split partitions the table") {
    val folded = Folds.addStratifiedFoldByKey(df, "label", "id", k).cache()
    val tr = Folds.trainSplit(folded, 1).count()
    val ho = holdoutSplit(folded, 1).count()
    (tr + ho) shouldBe 40
    holdoutSplit(folded, 1).join(Folds.trainSplit(folded, 1), "id").count() shouldBe 0
    folded.unpersist()
  }
}

object FoldsSpec {
  /** The reference's shuffled StratifiedKFold spelled with `rand(seed)`:
    * the same round-robin as [[Folds.addStratifiedFoldByKey]], ordered
    * by a seeded random draw instead of a key. No entry uses it. */
  def addStratifiedFold(df: DataFrame, labelCol: String, k: Int, seed: Long = 16): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(rand(seed))
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }

  /** J4: a fold's holdout rows (X[test_idx], main.py:253-262), the
    * complement of [[Folds.trainSplit]]. */
  def holdoutSplit(df: DataFrame, fold: Int): DataFrame = df.where(col("fold") === fold)
}
