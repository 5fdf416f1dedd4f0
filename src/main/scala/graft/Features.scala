package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps._

/** SURVEY.md §2.3: the reference's feature-engineering stage (main.py:63-115,
  * main-newInput.py:66-97) as one lazy column pipeline: band algebra →
  * per-image normalize → scalar features. The pickle cache (S5) is
  * [[Tables.fixture]].
  */
object Features {

  /** A2-A6: derived channels from the two SAR bands (main.py:65-72). */
  def addDerivedBands(df: DataFrame): DataFrame =
    df.withColumn("band_avg", bandAvg(col("band_1"), col("band_2")))
      .withColumn("band_absdiff", bandAbsDiff(col("band_1"), col("band_2")))
      .withColumn("band_max", bandMax(col("band_1"), col("band_2")))
      .withColumn("band_min", bandMin(col("band_1"), col("band_2")))

  /** A7 + A9/A10 + per-image stats → the scalar feature vector that feeds
    * the MLlib classifier (replacing the CNN per BASELINE.json). */
  def addScalarFeatures(df: DataFrame): DataFrame =
    df.withColumn("b1_mean", arrayMean(col("band_1")))
      .withColumn("b1_std", arrayStd(col("band_1")))
      .withColumn("b1_max", array_max(col("band_1")))
      .withColumn("b1_min", array_min(col("band_1")))
      .withColumn("b2_mean", arrayMean(col("band_2")))
      .withColumn("b2_std", arrayStd(col("band_2")))
      .withColumn("b2_max", array_max(col("band_2")))
      .withColumn("b2_min", array_min(col("band_2")))
      .withColumn("iso1", arrayMean(isoMask(col("band_1"))))
      .withColumn("iso2", arrayMean(isoMask(col("band_2"))))
      .withColumn("size1", sizeFeature(col("band_1"), -5.0))
      .withColumn("size2", sizeFeature(col("band_2"), -5.0))
}
