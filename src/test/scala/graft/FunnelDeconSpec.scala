package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Decontaminate, Funnel}

/** Ordering semantics of the funnel (a stage only counts AFTER the
  * previous one) and edge cases of eval-set n-gram decontamination —
  * the parts the gate's real-data oracles can't isolate. */
class FunnelDeconSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

  private def funnelOf(rows: (Long, Int, String)*) = {
    val df = rows.toSeq
      .map { case (u, m, t) => (u, ts(m), (u * 1000 + m), t) }
      .toDF("user_id", "ts", "event_id", "event_type")
    Funnel.stages(df).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
  }

  test("funnel: in-order view→click→purchase reaches stage 3") {
    funnelOf((1L, 0, "view"), (1L, 1, "click"), (1L, 2, "purchase"))(1L) shouldBe ((1, 1, 1, 3))
  }

  test("funnel: purchase before any view does not convert") {
    // purchase fires first, then view — stage stops at 1
    funnelOf((1L, 0, "purchase"), (1L, 1, "view"))(1L) shouldBe ((1, 0, 0, 1))
  }

  test("funnel: click before view does not count; a later click does") {
    funnelOf((1L, 0, "click"), (1L, 1, "view"))(1L) shouldBe ((1, 0, 0, 1))
    funnelOf((1L, 0, "click"), (1L, 1, "view"), (1L, 2, "click"))(1L) shouldBe ((1, 1, 0, 2))
  }

  test("funnel: purchase between view and click does not convert") {
    funnelOf((1L, 0, "view"), (1L, 1, "purchase"), (1L, 2, "click"))(1L) shouldBe ((1, 1, 0, 2))
  }

  test("funnel: users are independent; non-funnel events are inert") {
    val r = funnelOf(
      (1L, 0, "view"), (1L, 1, "signup"), (1L, 2, "click"), (1L, 3, "purchase"),
      (2L, 0, "error"), (2L, 1, "click"))
    r(1L) shouldBe ((1, 1, 1, 3))
    r(2L) shouldBe ((0, 0, 0, 0))
  }

  test("funnel: same-timestamp ties break by event_id deterministically") {
    // view and click share a timestamp; event_id orders view first
    val df = Seq(
      (1L, ts(0), 1L, "view"), (1L, ts(0), 2L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Funnel.stages(df).collect()(0)
    (r.getInt(1), r.getInt(2)) shouldBe ((1, 1))
  }

  test("decontaminate: flags exactly the docs containing an eval gram") {
    val docs = Seq(
      (1L, "a b c d e f"), // contains eval gram "b c d"
      (2L, "x y z w v u"), // clean
      (3L, "q q b c d q"), // contains it mid-string
      (4L, "b c")          // shorter than n — never contaminated
    ).toDF("id", "text")
    val eval = Seq(Tuple1("b c d")).toDF("gram")
    val got = Decontaminate.flagContaminated(docs, "id", "text", eval, n = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got shouldBe Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0)
  }

  test("decontaminate: gram must match contiguously, not as a subset") {
    val docs = Seq((1L, "b x c y d")).toDF("id", "text") // b,c,d present but split
    val eval = Seq(Tuple1("b c d")).toDF("gram")
    Decontaminate.flagContaminated(docs, "id", "text", eval, n = 3)
      .collect()(0).getInt(1) shouldBe 0
  }

  test("decontaminate: scan spelling equals the join reference pair-for-pair") {
    // the r19 scan-stage swap rides this: membership via the collected
    // gram set must reproduce the explode + semi-join + attach spelling
    // on hits, misses, non-contiguous near-misses, short docs, null
    // text, empty text, empty-token runs, and an empty eval set
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y z w v u"),
      (3L, "q q b c d q"),
      (4L, "b c"),
      (5L, null.asInstanceOf[String]),
      (6L, ""),
      (7L, "b  c d"),      // double space: empty token breaks the gram
      (8L, "b x c y d"),
      (9L, "b c d")        // exact-length doc
    ).toDF("id", "text")
    val eval = Seq(Tuple1("b c d")).toDF("gram")
    def run(f: (org.apache.spark.sql.DataFrame, String, String,
        org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
      f(docs, "id", "text", eval, 3)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    run(Decontaminate.flagContaminatedScan) shouldBe run(Decontaminate.flagContaminated)
    val emptyEval = Seq.empty[Tuple1[String]].toDF("gram")
    def runE(f: (org.apache.spark.sql.DataFrame, String, String,
        org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame) =
      f(docs, "id", "text", emptyEval, 3)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    runE(Decontaminate.flagContaminatedScan) shouldBe runE(Decontaminate.flagContaminated)
  }

  // ------------------------------------------------- 100 TB plan shapes
  test("funnel plan: both windows and the aggregate share ONE exchange") {
    val df = Seq((1L, ts(0), 1L, "view"), (2L, ts(1), 2L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val plan = Funnel.stages(df).queryExecution.executedPlan.toString
    withClue(plan) {
      // one hash exchange on user_id feeds window 1 → window 2 → agg;
      // a second exchange would mean the running flags re-shuffled
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
    }
  }

  test("decontaminate plan: eval grams broadcast; corpus grams never shuffle") {
    val docs = (0L until 50L).map(i => (i, s"w$i a b c d e f g h")).toDF("id", "text")
    val eval = Seq(Tuple1("a b c")).toDF("gram")
    val plan = Decontaminate.flagContaminated(docs, "id", "text", eval, n = 3)
      .queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("BroadcastExchange") // the eval side
      // the only hash exchanges are id-keyed (distinct + final attach),
      // never on the exploded gram stream
      plan should not include "hashpartitioning(gram"
    }
  }
}
