package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ArrayOps._
import java.nio.file.Files

/** S1/P2/P3 on the real SAR input shape: a FIXTURES.md §1 mini fixture
  * (arrays shrunk to 2x2, "na" inc_angle rows, one constant band). */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixturePath: String = {
    val dir = Files.createTempDirectory("sar").toFile
    val f = new java.io.File(dir, "train.json")
    // single JSON array file (multiLine), like the Kaggle input
    val rows = Seq(
      """{"id":"r1","band_1":[1.0,2.0,3.0,4.0],"band_2":[4.0,3.0,2.0,1.0],"inc_angle":"39.5","is_iceberg":1}""",
      """{"id":"r2","band_1":[5.0,5.0,5.0,5.0],"band_2":[0.0,1.0,0.0,1.0],"inc_angle":"na","is_iceberg":0}""",
      """{"id":"r3","band_1":[-6.0,0.0,2.0,8.0],"band_2":[1.0,1.0,2.0,2.0],"inc_angle":"40.25","is_iceberg":1}""",
      """{"id":"r4","band_1":[0.5,1.5,2.5,3.5],"band_2":[2.0,2.0,2.0,2.0],"inc_angle":"na","is_iceberg":0}""")
    Files.writeString(f.toPath, rows.mkString("[\n", ",\n", "\n]"))
    f.getAbsolutePath
  }

  test("S1 readSarJson: explicit schema, 4 rows, arrays intact") {
    val df = Ingest.readSarJson(spark, fixturePath)
    df.count() shouldBe 4
    df.schema("band_1").dataType.typeName shouldBe "array"
    df.schema("inc_angle").dataType.typeName shouldBe "string"
    df.where(col("id") === "r1").select("band_1").as[Seq[Double]].head() shouldBe Seq(1.0, 2.0, 3.0, 4.0)
  }

  test("P2 coerce: 'na' -> null, numeric strings -> double") {
    val df = Ingest.coerce(Ingest.readSarJson(spark, fixturePath))
    val vals = df.orderBy("id").select("inc_angle").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    vals.toSeq shouldBe Seq(Some(39.5), None, Some(40.25), None)
  }

  test("P3 forwardFill pads last valid value in order") {
    val df = Ingest.coerce(Ingest.readSarJson(spark, fixturePath))
      .withColumn("idx", monotonically_increasing_id())
    val filled = Ingest.forwardFill(df, "inc_angle", "idx")
      .orderBy("id").select("inc_angle").as[Double].collect()
    filled.toSeq shouldBe Seq(39.5, 39.5, 40.25, 40.25)
  }

  /** SURVEY.md §2.3: the reference's feature-engineering stage
    * (main.py:63-115, main-newInput.py:66-97) as one lazy column
    * pipeline. A2-A6: derived channels from the two SAR bands
    * (main.py:65-72). */
  private def addDerivedBands(df: DataFrame): DataFrame =
    df.withColumn("band_avg", bandAvg(col("band_1"), col("band_2")))
      .withColumn("band_absdiff", bandAbsDiff(col("band_1"), col("band_2")))
      .withColumn("band_max", bandMax(col("band_1"), col("band_2")))
      .withColumn("band_min", bandMin(col("band_1"), col("band_2")))

  /** A7 + A9/A10 + per-image stats: the scalar feature vector. */
  private def addScalarFeatures(df: DataFrame): DataFrame =
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

  test("feature stage: derived bands + scalar features on the fixture") {
    val df = addScalarFeatures(
      addDerivedBands(Ingest.coerce(Ingest.readSarJson(spark, fixturePath))))
    val r1 = df.where(col("id") === "r1")
      .select("band_avg", "b1_mean", "b1_std", "b1_max", "b1_min").head()
    r1.getSeq[Double](0) shouldBe Seq(2.5, 2.5, 2.5, 2.5)
    r1.getDouble(1) shouldBe 2.5
    approx(r1.getDouble(2), math.sqrt(1.25))
    r1.getDouble(3) shouldBe 4.0
    r1.getDouble(4) shouldBe 1.0
    // constant band r2: normalize guard means iso/std are well-defined
    val r2 = df.where(col("id") === "r2").select("b1_std", "size1").head()
    r2.getDouble(0) shouldBe 0.0
    r2.getDouble(1) shouldBe 0.0
  }
}
