package graft

import graft.operators.Skew
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** Scale-path mechanics: salted aggregation/join correctness on a
  * skewed fixture, and bucketed tables joining without an Exchange
  * (the co-located join the brief calls for). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  // 90% of rows share one hot key
  private lazy val skewed = (0 until 2000).map { i =>
    (if (i % 10 == 0) s"key$i" else "HOT", i.toDouble)
  }.toDF("k", "v").repartition(8)

  test("saltedJoin equals plain join (row multiset) on a skewed key") {
    val small = Seq(("HOT", 1), ("key10", 2), ("key20", 3)).toDF("k", "w")
    val plain = skewed.join(small, "k")
      .groupBy("k", "w").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").collect().toSeq
    val salted = Skew.saltedJoin(skewed, small, "k", 8)
      .groupBy("k", "w").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .orderBy("k").collect().toSeq
    salted shouldBe plain
  }

  test("bucketed tables join without a shuffle exchange") {
    val dbA = "graft_bucket_a"; val dbB = "graft_bucket_b"
    spark.sql(s"DROP TABLE IF EXISTS $dbA")
    spark.sql(s"DROP TABLE IF EXISTS $dbB")
    val left = (0L until 1000L).map(i => (i % 100, s"l$i")).toDF("k", "lv")
    val right = (0L until 1000L).map(i => (i % 100, s"r$i")).toDF("k", "rv")
    left.write.bucketBy(8, "k").sortBy("k").saveAsTable(dbA)
    right.write.bucketBy(8, "k").sortBy("k").saveAsTable(dbB)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(dbA).join(spark.table(dbB), "k")
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan) {
        plan should not include "Exchange hashpartitioning"
      }
      joined.count() shouldBe 10000L // 10 left x 10 right per key
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $dbA")
      spark.sql(s"DROP TABLE IF EXISTS $dbB")
    }
  }
}
