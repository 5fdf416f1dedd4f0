package graft

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[Model.score]], the native-column P(class 1) of an assembler →
  * binomial-LR pipeline, against MLlib's own `transform` on generated
  * frames; and [[Model.crossValidate]]'s one-projection OOF scatter and
  * test mean against the per-fold transforms they replaced. Equal means
  * the same double bits (NaN only against NaN). */
class ModelScoreSpec extends SparkSpec {
  import ModelScoreSpec._

  /** A frame of `rows` under columns `x0..` typed `types`, plus `id`
    * and (for training rows) `label`. */
  private def frame(types: Seq[DataType], rows: Seq[(Double, Seq[Option[Double]])],
      withLabel: Boolean): DataFrame = {
    val fields = StructField("id", LongType, nullable = false) +:
      (if (withLabel) Seq(StructField("label", DoubleType, nullable = false)) else Nil) ++:
      types.zipWithIndex.map { case (t, i) => StructField(s"x$i", t) }
    val data = rows.zipWithIndex.map { case ((label, xs), id) =>
      Row.fromSeq(id.toLong +: (if (withLabel) Seq(label) else Nil) ++:
        types.zip(xs).map { case (t, v) => cell(t, v) })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), StructType(fields))
  }

  /** Fit [[Model.pipeline]] on a generated, learnable frame whose
    * columns `constant` hold 0.0 (LR gives them a 0.0 coefficient). */
  private def fit(types: Seq[DataType], seed: Long, constant: Set[Int] = Set.empty) = {
    val rows = Gen.listOfN(400, trainRow(types.size)).pureApply(Gen.Parameters.default, Seed(seed))
      .map { case (label, xs) =>
        label -> xs.zipWithIndex.map { case (x, i) => if (constant(i)) Some(0.0) else x } }
    Model.pipeline(types.indices.map(i => s"x$i")).fit(frame(types, rows, withLabel = true))
  }

  test("score equals prob1(transform) bit for bit on generated rows") {
    // (input types, constant training columns): 4, 3, 6 and 9 inputs
    // of the dense dot, and sparse coefficients
    val models = Seq(
      Seq(DoubleType, IntegerType, BooleanType, LongType) -> Set.empty[Int],
      Seq.fill(3)(DoubleType) -> Set.empty[Int],
      Seq.fill(6)(DoubleType) -> Set.empty[Int],
      Seq.fill(9)(FloatType) -> Set.empty[Int],
      Seq.fill(12)(DoubleType) -> (1 to 10).toSet)
    for (((types, constant), i) <- models.zipWithIndex) withClue(s"model $i ${types.map(_.sql)}: ") {
      val m = fit(types, 11L + i, constant)
      val w = m.stages(1).asInstanceOf[LogisticRegressionModel].coefficients
      withClue(w) { w.isInstanceOf[SparseVector] shouldBe constant.nonEmpty }
      val rows = Gen.listOfN(1200, scoreRow(types.size))
        .pureApply(Gen.Parameters.default, Seed(21L + i)).map(0.0 -> _)
      val scored = Model.prob1(m.transform(frame(types, rows, withLabel = false)))
        .select(col("id"), col("pred"), Model.score(m).as("native"))
        .collect()
      scored.length shouldBe 1200
      scored.count(r => r.getDouble(1).isNaN) should be > 0
      for (r <- scored) withClue(s"row ${rows(r.getLong(0).toInt)}: ") {
        sameDouble(r.getDouble(2), r.getDouble(1)) shouldBe true
      }
    }
  }

  test("score refuses what the assembler refuses, and a non-LR pipeline") {
    val m = fit(Seq(DoubleType, DoubleType), 5L)
    val strings = spark.range(3).select(col("id").cast("string").as("x0"), col("id").cast("double").as("x1"))
    an[AnalysisException] should be thrownBy strings.select(Model.score(m)).collect()
    val assemblerOnly = new org.apache.spark.ml.Pipeline().setStages(Array(m.stages.head)).fit(
      spark.range(3).select(col("id").cast("double").as("x0"), col("id").cast("double").as("x1")))
    an[IllegalArgumentException] should be thrownBy Model.score(assemblerOnly)
  }

  test("crossValidate: OOF scatters each fold's own score, test is the fold-order mean") {
    val k = 3
    val types = Seq.fill(4)(DoubleType)
    val feats = types.indices.map(i => s"x$i")
    val train = Gen.listOfN(300, trainRow(types.size)).pureApply(Gen.Parameters.default, Seed(31L))
    // rows whose fold is out of [0, K) or null train every fold and hold out in none
    val folded = Folds.addStratifiedFoldByKey(frame(types, train, withLabel = true), "label", "id", k)
      .withColumn("fold", when(col("id") % 50 === 7, lit(k))
        .when(col("id") % 50 === 9, lit(null)).otherwise(col("fold")))
      .cache()
    val test = frame(types, Gen.listOfN(1000, scoreRow(types.size))
      .pureApply(Gen.Parameters.default, Seed(32L)).map(0.0 -> _), withLabel = false)
    try {
      val cv = Model.crossValidate(folded, test, feats, k)
      cv.models should have size k
      val oof = cv.oof.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      cv.oof.count() shouldBe oof.size.toLong
      val perFold = (0 until k).map { j =>
        Model.prob1(cv.models(j).transform(FoldsSpec.holdoutSplit(folded, j)))
          .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("pred")).toMap
      }
      oof.keySet shouldBe perFold.flatMap(_.keySet).toSet
      oof.size shouldBe perFold.map(_.size).sum
      oof.size should be < 300
      for (old <- perFold; (id, p) <- old) withClue(s"id $id: ") {
        sameDouble(oof(id), p) shouldBe true
      }

      val got = cv.test.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got.size shouldBe 1000
      val perModel = cv.models.map(m => Model.prob1(m.transform(test))
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("pred")).toMap)
      for ((id, p) <- got) withClue(s"id $id: ") {
        sameDouble(p, perModel.map(_(id)).reduce(_ + _) / k) shouldBe true
      }
    } finally folded.unpersist()
  }
}

object ModelScoreSpec {
  /** A scoring value: mostly moderate, plus every class on which two
    * spellings of the margin could part — null, NaN, ±0.0, ±∞ and
    * magnitudes of 1e6 and more. */
  val valueGen: Gen[Option[Double]] = Gen.frequency(
    12 -> Gen.choose(-10.0, 10.0).map(Some(_)),
    3 -> (for { m <- Gen.choose(1e6, 1e12); s <- Gen.oneOf(1.0, -1.0) } yield Some(s * m)),
    2 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)),
    2 -> Gen.oneOf(0.0, -0.0).map(Some(_)),
    1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity).map(Some(_)))

  /** A row of `n` values; one row in three is mostly zeros, which the
    * assembler compresses to a sparse vector (a different MLlib dot). */
  def scoreRow(n: Int): Gen[Seq[Option[Double]]] = Gen.frequency(
    2 -> Gen.listOfN(n, valueGen),
    1 -> Gen.listOfN(n, Gen.frequency(3 -> Gen.oneOf(Some(0.0), Some(-0.0)), 1 -> valueGen)))

  /** A finite training row and its label: a fixed linear rule over
    * features of different scales, plus noise, so the fit is well posed
    * and its coefficients differ in sign and size. */
  def trainRow(n: Int): Gen[(Double, Seq[Option[Double]])] = for {
    xs <- Gen.sequence[Seq[Double], Double]((0 until n).map(i =>
      Gen.choose(-3.0, 3.0).map(_ * math.pow(10, i % 3 - 1))))
    noise <- Gen.choose(-1.0, 1.0)
  } yield {
    val m = xs.zipWithIndex.map { case (x, i) => x * (if (i % 2 == 0) 1.0 else -2.0) / math.pow(10, i % 3 - 1) }.sum
    (if (m + noise > 0) 1.0 else 0.0, xs.map(Some(_)))
  }

  /** A generated value in a column of type `t`. */
  def cell(t: DataType, v: Option[Double]): Any = v match {
    case None => null
    case Some(x) => t match {
      case DoubleType => x
      case FloatType => x.toFloat
      case IntegerType => x.toInt
      case LongType => x.toLong
      case BooleanType => x > 0
      case other => throw new IllegalArgumentException(other.sql)
    }
  }

  def sameDouble(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

}
