package graft

import graft.plans.CentsSum
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[CentsSum]] against the builtin decimal spellings it replaced, kept
  * here as the reference: the same DecimalType and the same exact value
  * for `sum`, and bit-identical doubles for `Tables.dsum`, `davg` and
  * `dsumProd`, on generated frames that cover every branch of the
  * kernel (fast path, exact-cast fallback, long carry, null handling). */
class CentsSumSpec extends SparkSpec {
  import CentsSumSpec._

  /** The pre-kernel spellings. */
  private val Dec = DecimalType(18, 2)
  private def refSum(c: Column): Column = sum(c.cast(Dec))
  private def refSumProd(a: Column, b: Column): Column = sum(a.cast(Dec) * b.cast(Dec))
  private def refDsum(c: Column): Column = refSum(c).cast("double")
  private def refDavg(c: Column): Column = (refDsum(c) / count(c)).cast("double")
  private def refDsumProd(a: Column, b: Column): Column = refSumProd(a, b).cast("double")
  private def refCents(c: Column): Column = (c.cast(Dec) * 100).cast("long")

  /** (kernel, reference) aggregate pairs over columns a and b. */
  private val pairs: Seq[(String, Column, Column)] = {
    val (a, b) = (col("a"), col("b"))
    Seq(
      ("sum", CentsSum.sum(a), refSum(a)),
      ("sumProd", CentsSum.sum(a, b), refSumProd(a, b)),
      ("sumSquare", CentsSum.sum(a, a), refSumProd(a, a)),
      ("dsum", Tables.dsum(a), refDsum(a)),
      ("davg", Tables.davg(a), refDavg(a)),
      ("dsumProd", Tables.dsumProd(a, b), refDsumProd(a, b)))
  }

  private def frame(rows: Seq[(Int, Option[Double], Option[Double])],
      parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (f, a, b) => Row(f, a.orNull, b.orNull) }, parts),
      StructType(Seq(StructField("frame", IntegerType),
        StructField("a", DoubleType), StructField("b", DoubleType))))

  /** Every kernel column equals its reference, per group (`keys`) or
    * over the whole frame; types are checked on the schema. */
  private def assertSame(df: DataFrame, keys: String*): Long = {
    val aggs = pairs.flatMap { case (n, k, r) => Seq(k.as(s"k_$n"), r.as(s"r_$n")) }
    val out = if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    for ((n, _, _) <- pairs)
      withClue(n) { out.schema(s"k_$n").dataType shouldBe out.schema(s"r_$n").dataType }
    val rows = out.collect()
    for (row <- rows; (n, _, _) <- pairs) {
      val (k, r) = (row.getAs[Any](s"k_$n"), row.getAs[Any](s"r_$n"))
      withClue(s"$n of $row: ") { same(k, r) shouldBe true }
    }
    rows.length.toLong
  }

  test("generated frames: kernel sums equal the builtin decimal spellings") {
    val frames = Gen.listOfN(1200, frameGen).pureApply(Gen.Parameters.default, Seed(8L))
    val rows = frames.zipWithIndex.flatMap { case (f, i) => f.map { case (a, b) => (i, a, b) } }
    val df = frame(rows, 7).cache()
    try {
      // per-frame groups across 7 partitions: update, merge, evaluate
      assertSame(df, "frame") shouldBe frames.count(_.nonEmpty)
      // the keyless aggregate is generated separately (buffer in locals)
      for (i <- Seq(0, 1, 2, 3, 5, 8, 13, 21)) assertSame(df.where(col("frame") === i))
      assertSame(df) shouldBe 1L
      // and the interpreted eval paths
      val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      try assertSame(df.where(col("frame") < 200), "frame")
      finally interpreted.foreach { case (k, _) => spark.conf.unset(k) }
    } finally df.unpersist()
  }

  test("all-null groups, empty input and the per-row cents column") {
    val rows = Seq((0, None, None), (0, None, Some(1.0)), (1, Some(2.5), None),
      (2, Some(Double.NaN), Some(1.0)), (2, Some(1e16), Some(2.0)))
    val df = frame(rows, 2)
    assertSame(df, "frame") shouldBe 3L
    assertSame(df.where(lit(false))) shouldBe 1L
    assertSame(df.where(lit(false)), "frame") shouldBe 0L
    val row = df.where(col("frame") =!= 1).agg(Tables.dsum(col("a")), CentsSum.sum(col("a"), col("b")))
      .collect().head
    row.isNullAt(0) shouldBe true
    row.isNullAt(1) shouldBe true

    val values = Gen.listOfN(2000, valueGen).pureApply(Gen.Parameters.default, Seed(3L))
    val cents = frame(values.map(v => (0, v, None)), 3)
      .select(CentsSum.cents(col("a")).as("k"), refCents(col("a")).as("r"))
    cents.schema("k").dataType shouldBe cents.schema("r").dataType
    for (r <- cents.collect()) withClue(r) { same(r.get(0), r.get(1)) shouldBe true }
  }

  test("carry: long overflow in update and in merge stays exact") {
    // dsum: 12 rows of 9e17 cents. In one partition the update spills;
    // over 4 partitions of 3 rows each partial sum (2.7e18) fits and
    // only the merge crosses 2^63.
    val big = 9.0e15
    val dsumRows = Seq.fill(12)((0, Option(big), Option(1.0)))
    val want = BigDecimal(big) * 12
    for (parts <- Seq(1, 4)) {
      val df = frame(dsumRows, parts)
      val got = df.agg(CentsSum.sum(col("a"))).head().getDecimal(0)
      withClue(s"$parts partition(s): ") { BigDecimal(got) shouldBe want }
      assertSame(df, "frame")
      assertSame(df)
    }
    // dsumProd: (2^31 − 1)-cent operands take the long path, three of
    // them wrap a long; 2^31 cents and above go to the carry directly
    val edge = Int.MaxValue / 100.0 // 21474836.47
    val prodRows = Seq.fill(5)((0, Option(edge), Option(edge))) ++
      Seq((0, Option(edge + 0.01), Option(edge)), (0, Option(-9.99e15), Option(9.99e15)),
        (1, Option(edge), Option(edge)), (1, Option(edge), Option(edge)),
        (1, Option(edge), Option(edge)))
    for (parts <- Seq(1, 3)) {
      val df = frame(prodRows, parts)
      val got = df.groupBy("frame").agg(CentsSum.sum(col("a"), col("b")))
        .orderBy("frame").collect().map(_.getDecimal(1))
      // java BigDecimal: exact, where scala's rounds to 34 digits
      def d(s: String) = new java.math.BigDecimal(s)
      val ee = d("21474836.47").pow(2)
      got.toSeq shouldBe Seq(
        ee.multiply(d("5")).add(d("21474836.48").multiply(d("21474836.47")))
          .subtract(d("9.99e15").pow(2)).setScale(4),
        ee.multiply(d("3")).setScale(4))
      assertSame(df, "frame")
    }
  }

  test("the Decimal(38,4) overflow gives null, as the builtin sum does") {
    // 200 products of ~1e32 pass 10^34, the Decimal(38,4) limit
    val df = frame(Seq.fill(200)((0, Option(9.99e15), Option(9.99e15))), 3)
    val row = df.agg(CentsSum.sum(col("a"), col("b")),
      refSumProd(col("a"), col("b"))).head()
    row.isNullAt(0) shouldBe true
    row.isNullAt(1) shouldBe true
  }

  test("under ANSI the kernel fails where the builtin fails") {
    // both the cast and the overflow mode are taken when the column is built
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val ok = frame(Seq((0, Some(1.25), Some(2.5)), (0, Some(0.125), Some(3.0))), 1)
      val row = ok.agg(Tables.dsum(col("a")), refDsum(col("a")),
        Tables.dsumProd(col("a"), col("b")), refDsumProd(col("a"), col("b"))).head()
      same(row.get(0), row.get(1)) shouldBe true
      same(row.get(2), row.get(3)) shouldBe true
      val huge = frame(Seq((0, Some(1e17), Some(1.0))), 1)
      an[Exception] should be thrownBy huge.agg(refDsum(col("a"))).collect()
      an[Exception] should be thrownBy huge.agg(Tables.dsum(col("a"))).collect()
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("the plan runs a codegen'd hash aggregate, no UDF") {
    val df = frame(Seq((0, Some(1.25), Some(2.0))), 1)
      .groupBy("frame").agg(Tables.dsum(col("a")), Tables.dsumProd(col("a"), col("b")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("cents_sum(")
      plan should include("*(")
      plan should not include "ObjectHashAggregate"
      plan should not include "SortAggregate"
      plan should not include "UDF"
    }
  }

  test("source guard: no per-row cents spelling bypasses the kernel") {
    // `(x.cast(DecimalType(18, 2)) * 100).cast("long")` is CentsSum.cents;
    // a new copy would pay BigDecimal per row again
    planted.foreach(p => withClue(p) { centsSpelling.findFirstIn(p) should not be empty })
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- walk(new java.io.File("src/main/scala"))
      text = java.nio.file.Files.readString(f.toPath)
      m <- centsSpelling.findAllMatchIn(text)
    } yield s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
    hits shouldBe empty
  }
}

object CentsSumSpec {
  /** The per-row cents spelling, with either multiply. */
  val centsSpelling: scala.util.matching.Regex =
    """DecimalType\(\s*18\s*,\s*2\s*\)\s*\)\s*(\*\s*100\b|\.multiply\(\s*100\s*\))""".r
  val planted: Seq[String] = Seq(
    """(col("v").cast(DecimalType(18, 2)) * 100).cast("long")""",
    """col("v").cast(org.apache.spark.sql.types.DecimalType(18,2))
      |  .multiply(100)""".stripMargin)

  /** Equal as values, and doubles equal bit for bit. */
  def same(k: Any, r: Any): Boolean = (k, r) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x == y
    case _ => k == r
  }

  private val guard = 1L << 40
  private val narrow = 1L << 31

  /** One double, from every class the kernel branches on. */
  val valueGen: Gen[Option[Double]] = Gen.frequency(
    // on-grid cents of every magnitude
    8 -> Gen.oneOf(Gen.choose(-100000L, 100000L), Gen.choose(-guard, guard))
      .map(n => Some(n / 100.0)),
    // off-grid doubles
    4 -> Gen.choose(-1e7, 1e7).map(Some(_)),
    // x.xx5 ties, which HALF_UP rounds away from zero
    3 -> Gen.choose(-10000000L, 10000000L).map(n => Some((n * 10 + 5) / 1000.0)),
    // within a hair of the 1e-3 grid guard, on either side
    3 -> (for {
      n <- Gen.choose(-1000000L, 1000000L)
      d <- Gen.oneOf(0.00099, 0.000999, 0.001, 0.00101, -0.00099, -0.001, -0.00101)
    } yield Some((n + d) / 100.0)),
    // around the 2^40-cent guard and the 2^31-cent product bound
    3 -> (for {
      edge <- Gen.oneOf(guard, narrow)
      d <- Gen.choose(-3L, 3L)
      sign <- Gen.oneOf(1, -1)
    } yield Some(sign * (edge + d) / 100.0)),
    // specials, the cast's null range, and just inside it
    2 -> Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e16, -1e16, 1.5e17, 1e300, 9.99e15, -9.99e15,
      Double.MinPositiveValue).map(Some(_)),
    2 -> Gen.const(None))

  /** A frame: 0 to 12 (a, b) rows; some frames are all null. */
  val frameGen: Gen[Seq[(Option[Double], Option[Double])]] = Gen.frequency(
    12 -> Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(valueGen, valueGen))),
    1 -> Gen.choose(1, 4).map(n => Seq.fill(n)((None, None))))
}
