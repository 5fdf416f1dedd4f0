package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md G1/J4/W2: stratified K-fold assignment and fold splits.
  *
  * Reference: StratifiedKFold(n_splits=K, shuffle=True, random_state=16)
  * (main.py:248-249). Exact sklearn membership is not reproducible (its
  * RNG); the preserved invariants are: folds are disjoint, cover all rows,
  * and per-class fold sizes differ by ≤ 1. Ordering by a stable key
  * keeps OUR assignment deterministic run-to-run (the `rand(seed)`
  * spelling of the reference's shuffle lives in FoldsSpec).
  *
  * Scale note: the row_number variant uses one window partitioned by
  * the label — shuffles once by class, and a binary label means only 2
  * partitions carry data. It preserves the reference's exact
  * ≤1-imbalance guarantee and are the right tool at test scale; the
  * 100 TB default is [[addHashFold]] — a stateless per-row hash-mod
  * projection with no shuffle and no skew (oracle-checked as
  * `g1_fold_assign_hash`).
  */
object Folds {

  /** Stratified round-robin ordered by a stable key: deterministic, so
    * oracle-checked entries can replay it. Per-class fold SIZES equal
    * those of the reference's shuffled split. */
  def addStratifiedFoldByKey(df: DataFrame, labelCol: String, keyCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(labelCol)).orderBy(col(keyCol))
    df.withColumn("fold", ((row_number().over(w) - 1) % k).cast("int"))
  }

  /** The 100 TB default: stateless hash-mod fold assignment — a pure
    * per-row projection, so NO window, NO shuffle, NO skew regardless of
    * label cardinality (the row_number variant above funnels each class
    * through one window partition, which is fine at test scale but a
    * single-task bottleneck when a binary label splits 100 TB in two).
    * Trade-off: per-class fold sizes are binomial (±√n) instead of the
    * exact ≤1 imbalance; at n ≫ K the relative imbalance is negligible.
    *
    * The mix is Knuth multiplicative hashing on the masked key — spelled
    * in portable int64 arithmetic (max intermediate < 2^63, no unsigned
    * wrap) rather than Spark's `hash()`, so the DuckDB oracle computes
    * the identical assignment: fold = ((key & 0x7fffffff) * 2654435761
    * >> 15) % k. */
  def addHashFold(df: DataFrame, keyCol: String, k: Int): DataFrame =
    df.withColumn("fold",
      pmod(shiftright(col(keyCol).cast("long").bitwiseAND(lit(0x7fffffffL))
        * lit(2654435761L), 15), lit(k.toLong)).cast("int"))

  /** J4: a fold's training rows (X[train_idx], main.py:253-262). The
    * holdout rows are scored in place by [[Model.crossValidate]]. */
  def trainSplit(df: DataFrame, fold: Int): DataFrame = df.where(col("fold") =!= fold)
}
