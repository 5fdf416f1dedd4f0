package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Queries.Entry
import Tables._

/** Complex-SQL capability batch: deep multi-join pipelines, HAVING,
  * pivot, scalar/IN subqueries (via the spark.sql surface), typed JSON
  * parsing (from_json → struct), and union set semantics. These go
  * beyond the reference's operator list to prove the Catalyst surface
  * a user of a general engine relies on (SURVEY §7.1 step 5's
  * "capability demos" family).
  */
object QueriesSql {

  /** TPC-H Q5-shaped: 5-way join through the whole star, revenue per
    * nation, agg-filter (HAVING), ordered. Dims broadcast explicitly —
    * the fact side never shuffles for them. */
  val q5Join5: Entry = Entry("q5_local_revenue",
    (s, d) => tbl(s, d, "lineitem")
      .join(tbl(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .filter(col("n_items") > 100) // HAVING
      .orderBy("r_name", "n_name"),
    Some(s"""SELECT r_name, n_name,
      | ${sqlDsumProd("l_extendedprice", "1 - l_discount")} AS revenue,
      | count(*) AS n_items
      |FROM lineitem
      | JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name HAVING count(*) > 100
      |ORDER BY r_name, n_name""".stripMargin))

  /** Pivot: order counts per priority × status, explicit value list so
    * the output schema is fixed and oracle-expressible as CASE sums. */
  val gPivot: Entry = Entry("g_pivot",
    (s, d) => tbl(s, d, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** DYNAMIC pivot — g_pivot hardcodes its column values; real
    * report/feature pipelines don't know them up front. The standard
    * two-phase Spark pattern: a tiny distinct-values query runs first
    * (driver-side collect of the pivot domain — METADATA-sized by
    * definition: a pivot only makes sense over a small domain), its
    * sorted result becomes the pivot column list, and the main plan
    * compiles against it. The oracle pins the five priorities the
    * discovery must find — a wrong/missing discovered value changes
    * the schema and hash-fails, so the dynamic phase is itself under
    * test. Count cells coalesce to 0 on both sides. */
  val gPivotDynamic: Entry = Entry("g_pivot_dynamic",
    (s, d) => {
      val vals = tbl(s, d, "orders").select(col("o_orderpriority"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      def cname(v: String) = "p" + v.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      val cst = tbl(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val nat = tbl(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      tbl(s, d, "orders").select(col("o_custkey"), col("o_orderpriority"))
        .join(broadcast(cst), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .pivot("o_orderpriority", vals)
        .agg(count(lit(1)))
        .select(col("nation") +: vals.map(v =>
          coalesce(col(s"`$v`"), lit(0L)).as(cname(v))): _*)
        .orderBy("nation")
    },
    Some("""SELECT n_name AS nation,
      | CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
      | CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
      | CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
      | CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_not_specified,
      | CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
      |FROM orders JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Scalar + IN subqueries through the spark.sql surface: orders above
    * the global average price from customers in a nation subset. */
  val sqSubqueries: Entry = Entry("sq_subqueries",
    (s, d) => {
      tbl(s, d, "orders").createOrReplaceTempView("v_orders")
      tbl(s, d, "customer").createOrReplaceTempView("v_customer")
      tbl(s, d, "nation").createOrReplaceTempView("v_nation")
      // threshold through the exact-DECIMAL average (Tables contract):
      // a raw double avg is partial-sum-order dependent and could admit
      // different rows per engine in the last-ulp window
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders
        WHERE o_totalprice > (
            SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 1.5
            FROM v_orders)
          AND o_custkey IN (
            SELECT c_custkey FROM v_customer
            WHERE c_nationkey IN (SELECT n_nationkey FROM v_nation WHERE n_regionkey = 0))
        ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice > (
      |   SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 1.5
      |   FROM orders)
      |  AND o_custkey IN (
      |    SELECT c_custkey FROM customer
      |    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0))
      |ORDER BY o_orderkey""".stripMargin))

  /** Typed JSON parsing: from_json with an explicit schema → struct
    * field access (the schema-on-read contract, vs f_json's pathing). */
  val fStructJson: Entry = Entry("f_struct_json",
    (s, d) => tbl(s, d, "events")
      .withColumn("p", from_json(col("props"), StructType(Seq(
        StructField("k", IntegerType)))))
      .select(col("event_id"), col("p.k").as("k"),
        (col("p.k") % 10).as("k_mod"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
      | TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
      | TRY_CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
      |FROM events ORDER BY event_id""".stripMargin))

  /** UNION ALL vs UNION (distinct) semantics in one result. */
  val oUnionSemantics: Entry = Entry("o_union_semantics",
    (s, d) => {
      val hi = tbl(s, d, "part").filter(col("p_retailprice") > 1500.0).select(col("p_brand"))
      val lo = tbl(s, d, "part").filter(col("p_retailprice") < 1000.0).select(col("p_brand"))
      val unionAll = hi.unionByName(lo).groupBy("p_brand").agg(count(lit(1)).as("n_all"))
      val unionDistinct = hi.union(lo).distinct()
        .groupBy("p_brand").agg(count(lit(1)).as("n_distinct"))
      unionAll.join(unionDistinct, "p_brand").orderBy("p_brand")
    },
    Some("""WITH hi AS MATERIALIZED (SELECT p_brand FROM part WHERE p_retailprice > 1500.0),
      | lo AS MATERIALIZED (SELECT p_brand FROM part WHERE p_retailprice < 1000.0),
      | ua AS (SELECT p_brand, count(*) AS n_all FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo) GROUP BY p_brand),
      | ud AS (SELECT p_brand, count(*) AS n_distinct FROM (SELECT * FROM hi UNION SELECT * FROM lo) GROUP BY p_brand)
      |SELECT p_brand, CAST(n_all AS BIGINT) AS n_all, CAST(n_distinct AS BIGINT) AS n_distinct
      |FROM ua JOIN ud USING (p_brand) ORDER BY p_brand""".stripMargin))

  /** Conditional aggregates: count_if / bool_or / bool_and / max_by /
    * min_by — the argmax family large pipelines lean on. */
  val gConditionalAgg: Entry = {
    // max_by/min_by need a TOTAL ordering key or a tied group-extreme
    // price makes the winning orderkey engine-arbitrary: rank on exact
    // integer (price-cents, orderkey) — unique and identical in both
    // engines (prices are 2-dp clean; round() kills double dust).
    val sparkRank = (round(col("o_totalprice") * 100, 0).cast("long") * 100000000L
      + col("o_orderkey"))
    val sqlRank = "(CAST(round(o_totalprice * 100, 0) AS BIGINT) * 100000000 + o_orderkey)"
    Entry("g_conditional_agg",
      (s, d) => tbl(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 200000.0).as("n_big"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"),
          bool_and(col("o_totalprice") > 0.0).as("all_positive"),
          max_by(col("o_orderkey"), sparkRank).as("key_of_max"),
          min_by(col("o_orderkey"), sparkRank).as("key_of_min"))
        .orderBy("o_orderpriority"),
      Some(s"""SELECT o_orderpriority,
        | count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        | bool_or(o_orderstatus = 'P') AS any_pending,
        | bool_and(o_totalprice > 0.0) AS all_positive,
        | max_by(o_orderkey, $sqlRank) AS key_of_max,
        | min_by(o_orderkey, $sqlRank) AS key_of_min
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
  }

  /** Interval arithmetic + null-handling function family. */
  val fIntervalsNulls: Entry = Entry("f_intervals_nulls",
    (s, d) => tbl(s, d, "orders").select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 3).cast("date").as("plus_3m"),
        date_add(col("o_orderdate"), 45).cast("date").as("plus_45d"),
        last_day(col("o_orderdate")).as("month_end"),
        quarter(col("o_orderdate")).as("q"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_or_open"),
        when(col("o_totalprice") > 300000.0, col("o_totalprice")).otherwise(lit(null))
          .as("big_or_null"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
      | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
      | CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus_45d,
      | CAST(last_day(o_orderdate) AS DATE) AS month_end,
      | CAST(quarter(o_orderdate) AS INT) AS q,
      | coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
      | CASE WHEN o_totalprice > 300000.0 THEN o_totalprice ELSE NULL END AS big_or_null
      |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** Generator/lateral family beyond the ten-crop explode: explode a
    * split column into rows, word-frequency aggregate (the unnest
    * pattern every text pipeline starts with). */
  val oExplodeWords: Entry = Entry("o_explode_words",
    (s, d) => tbl(s, d, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word"),
    Some("""SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY word ORDER BY word""".stripMargin))

  /** Map-typed JSON: from_json to MAP<STRING,STRING> → key listing and
    * value lookup (schema-free sibling of f_struct_json). The key list
    * is serialized (sorted, comma-joined) so every result column is
    * scalar — the comparison harness can't sort array-typed columns. */
  val fMapJson: Entry = Entry("f_map_json",
    (s, d) => tbl(s, d, "events")
      .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
      .select(col("event_id"),
        array_join(sort_array(map_keys(col("m"))), ",").as("keys"),
        element_at(col("m"), "k").cast("int").as("k_val"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
      | array_to_string(list_sort(json_keys(props)), ',') AS keys,
      | TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events ORDER BY event_id""".stripMargin))

  /** Per-group top-k through the CUSTOM OPERATOR
    * ([[graft.plans.TopKPerGroup]] — LogicalPlan + Strategy +
    * bounded-heap SparkPlan via GraftExtensions): top-3 customers per
    * nation by balance. The built-in window spelling sorts every
    * partition fully; the custom node keeps the identical single hash
    * exchange but applies the k-bound DURING the shuffled scan with
    * per-key heaps — O(n log k), no sort, no spill. The order is made
    * TOTAL with the c_custkey tiebreak, so the heap result is unique
    * and the window-spelling oracle must match it row-for-row. */
  val oTopkPerGroupNative: Entry = Entry("o_topk_pergroup_native",
    (s, d) => {
      val topk = graft.plans.TopKPerGroup(
        tbl(s, d, "customer").select(col("c_nationkey"), col("c_custkey"),
          col("c_acctbal")),
        keyCols = Seq("c_nationkey"), ordCol = "c_acctbal",
        descending = true, tieCol = "c_custkey", k = 3)
      topk.orderBy("c_nationkey", "c_acctbal", "c_custkey")
    },
    Some("""WITH r AS (SELECT c_nationkey, c_custkey, c_acctbal,
      |  row_number() OVER (PARTITION BY c_nationkey
      |    ORDER BY c_acctbal DESC, c_custkey) AS rn
      | FROM customer)
      |SELECT c_nationkey, c_custkey, c_acctbal FROM r WHERE rn <= 3
      |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin))

  /** Ties-KEPT per-group top-k through the r13 rank() rewrite
    * ([[graft.plans.TopKRewrite]] → `TopKPerGroupNode(withTies)`): the
    * user writes the universal `rank().over(W) <= k` idiom and the
    * optimizer swaps in the bounded-heap exec with the boundary-tie
    * buffer — no Window, no Sort. The order key is COARSE on purpose
    * (acctbal in 1000-unit buckets) so boundary ties genuinely exist
    * and the output carries MORE than k rows for most nations — the
    * semantics row_number() cannot express. The final orderBy is total
    * (bucket, custkey) so the hash compare is engine-stable even
    * though the operator's internal order is not. */
  val oTopkTiesNative: Entry = Entry("o_topk_ties_native",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = tbl(s, d, "customer").select(col("c_nationkey"), col("c_custkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"))
      c.withColumn("rk", rank().over(
          Window.partitionBy("c_nationkey").orderBy(col("bal_k").desc)))
        .where(col("rk") <= 2).drop("rk")
        .orderBy(col("c_nationkey"), col("bal_k").desc, col("c_custkey"))
    },
    Some("""WITH r AS (SELECT c_nationkey, c_custkey,
      |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
      |  rank() OVER (PARTITION BY c_nationkey ORDER BY
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) DESC) AS rk
      | FROM customer)
      |SELECT c_nationkey, c_custkey, bal_k FROM r WHERE rk <= 2
      |ORDER BY c_nationkey, bal_k DESC, c_custkey""".stripMargin))

  val all: Seq[Entry] = Seq(q5Join5, gPivot, gPivotDynamic, sqSubqueries,
    fStructJson, oTopkPerGroupNative, oTopkTiesNative,
    oUnionSemantics, gConditionalAgg, fIntervalsNulls, oExplodeWords, fMapJson)
}
