package graft

import org.apache.spark.sql.functions._

/** The 6 stacking modes of sub_stacking.py:41-81 on the FIXTURES.md §2
  * engineered rows: one all-above-0.8, one all-below-0.2, one mixed —
  * each mode takes a different branch per row. */
class EnsembleSpec extends SparkSpec {
  import spark.implicits._

  // (id, preds, base): rows hit hi / lo / mid branches respectively
  private lazy val df = Seq(
    ("hi", Seq(0.9, 0.95, 0.85), 0.99),
    ("lo", Seq(0.1, 0.05, 0.15), 0.01),
    ("mid", Seq(0.3, 0.9, 0.6), 0.5)
  ).toDF("id", "preds", "base")

  private def run(mode: String): Map[String, Double] =
    df.select(col("id"),
        Ensemble.stack(mode, col("preds"), col("base")).as("out"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("mean") {
    val m = run("mean")
    approx(m("hi"), 0.9); approx(m("lo"), 0.1); approx(m("mid"), 0.6)
  }

  test("median") {
    val m = run("median")
    approx(m("hi"), 0.9); approx(m("lo"), 0.1); approx(m("mid"), 0.6)
  }

  test("pushout_median forces 1/0 outside cutoffs") {
    val m = run("pushout_median")
    m("hi") shouldBe 1.0; m("lo") shouldBe 0.0; approx(m("mid"), 0.6)
  }

  test("minmax_mean takes max above / min below / mean otherwise") {
    val m = run("minmax_mean")
    approx(m("hi"), 0.95); approx(m("lo"), 0.05); approx(m("mid"), 0.6)
  }

  test("minmax_median") {
    val m = run("minmax_median")
    approx(m("hi"), 0.95); approx(m("lo"), 0.05); approx(m("mid"), 0.6)
  }

  test("minmax_bestbase falls back to the base column mid-range") {
    val m = run("minmax_bestbase")
    approx(m("hi"), 0.95); approx(m("lo"), 0.05); approx(m("mid"), 0.5)
  }

  test("unknown mode throws") {
    an[IllegalArgumentException] should be thrownBy
      Ensemble.stack("nope", col("preds"), col("base"))
  }
}
