package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.plans.CentsSum
import Queries.Entry
import Tables._

/** SURVEY.md §2.5-§2.7 aggregation / window / set-op queries (build plan
  * §7.1 step 5): grouping sets (cube/rollup), set operations, distinct,
  * running windows, and the deterministic stratified fold assignment.
  *
  * Determinism: grouping-set null keys are coalesced to a sentinel in
  * BOTH engines (Spark sorts NULLS FIRST, DuckDB NULLS LAST — ordering
  * on the raw keys would permute rows); sums use the exact-DECIMAL
  * helpers; every query has a total-order ORDER BY.
  */
object QueriesAggWindow {

  private def li(s: org.apache.spark.sql.SparkSession, d: String) = tbl(s, d, "lineitem")
  private def ord(s: org.apache.spark.sql.SparkSession, d: String) = tbl(s, d, "orders")
  private def cust(s: org.apache.spark.sql.SparkSession, d: String) = tbl(s, d, "customer")

  /** G-cube: grouping sets over (returnflag, linestatus) — partial+final
    * agg over 4 grouping sets in ONE shuffle (Expand feeds a single
    * exchange; no union of 4 scans). */
  val gCube: Entry = Entry("g_cube",
    (s, d) => li(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls"),
    Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
      | coalesce(l_linestatus, 'ALL') AS ls,
      | count(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin))

  /** G-rollup: year → (year, month) hierarchy over order dates. */
  val gRollup: Entry = Entry("g_rollup",
    (s, d) => ord(s, d)
      .rollup(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .select(coalesce(col("y"), lit(-1)).as("y"), coalesce(col("m"), lit(-1)).as("m"),
        col("n"), col("sum_price"))
      .orderBy("y", "m"),
    Some(s"""SELECT coalesce(y, -1) AS y, coalesce(m, -1) AS m,
      | count(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
      |FROM (SELECT CAST(date_part('year', o_orderdate) AS INT) AS y,
      |             CAST(date_part('month', o_orderdate) AS INT) AS m,
      |             o_totalprice FROM orders) t
      |GROUP BY ROLLUP (y, m) ORDER BY y, m""".stripMargin))

  /** O-except: customer nations with no 'F'-status orders anywhere
    * (EXCEPT = distinct set difference in both engines). */
  /** Customers with NO completed ('F') order — keyed per CUSTOMER, not
    * per nation (r16 sf10 rehearsal find: the original nation-keyed
    * spelling was vacuous — every nation has ≥1 customer with an 'F'
    * order at every SF, so the EXCEPT compared a 0-row result since
    * it landed; per-customer it retains 5/71/511 rows at
    * sf0.001/0.01/0.1, a genuine anti-set). */
  val oExcept: Entry = Entry("o_except",
    (s, d) => cust(s, d).select(col("c_custkey").as("k")).except(
        ord(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("k")))
      .orderBy("k"),
    Some("""SELECT c_custkey AS k FROM customer
      |EXCEPT
      |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY k""".stripMargin))

  /** G-corr: correlation / population covariance / regression slope per
    * group — the statistical-aggregate family, built from EXACT decimal
    * sums (n, Σx, Σy, Σxy, Σx², Σy²) so both engines assemble the same
    * IEEE doubles and the final formulas are bit-stable (a direct
    * `corr()` is a parallel float fold — order-sensitive, not
    * oracle-able). The moments are one partial-aggregatable pass; the
    * formulas are driver-free scalar math. The sums are exact at any
    * SF: Σ price² already passes 2^63 units at sf0.1, where the kernel's
    * long moves into its decimal carry. What stays inexact is each
    * sum's final cast to DOUBLE (one rounding), far below the round(…,6)
    * of the formulas. */
  val gCorrRegr: Entry = Entry("g_corr_regr",
    (s, d) => {
      val l = tbl(s, d, "lineitem")
      val agg = l.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        dsum(col("l_quantity")).as("sx"),
        dsum(col("l_extendedprice")).as("sy"),
        dsumProd(col("l_quantity"), col("l_extendedprice")).as("sxy"),
        dsumProd(col("l_quantity"), col("l_quantity")).as("sxx"),
        dsumProd(col("l_extendedprice"), col("l_extendedprice")).as("syy"))
      agg.select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qp"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("n")), 6).as("covar_pop_qp"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope_qp"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH m AS (SELECT l_returnflag,
      |  CAST(count(*) AS DOUBLE) AS n,
      |  ${sqlDsum("l_quantity")} AS sx,
      |  ${sqlDsum("l_extendedprice")} AS sy,
      |  ${sqlDsumProd("l_quantity", "l_extendedprice")} AS sxy,
      |  ${sqlDsumProd("l_quantity", "l_quantity")} AS sxx,
      |  ${sqlDsumProd("l_extendedprice", "l_extendedprice")} AS syy
      | FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      | round((n * sxy - sx * sy) /
      |   (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qp,
      | round((n * sxy - sx * sy) / (n * n), 6) AS covar_pop_qp,
      | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_qp
      |FROM m ORDER BY l_returnflag""".stripMargin))

  /** O-zorder: multi-column data layout — rows sorted by a 2-D Z-order
    * (Morton) key over quantized (custkey, orderkey), the clustering
    * primitive lakehouse formats use so min/max file statistics prune
    * scans on EITHER column. `zorder2` is the fourth native codegen
    * expression (plans/ZOrder.scala); the sort is a range-partitioned
    * exchange, so the layout write parallelizes at any scale. The
    * oracle replays the bit interleave declaratively. */
  val oZorder: Entry = Entry("o_zorder_layout",
    (s, d) => tbl(s, d, "orders")
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(256)).cast("long").as("x"),
        pmod(col("o_orderkey"), lit(256)).cast("long").as("y"))
      .withColumn("zkey", call_function("zorder2", col("x"), col("y")))
      .orderBy("zkey", "o_orderkey"),
    Some("""SELECT o_orderkey, x, y,
      | CAST(list_sum(list_transform(range(0, 16), i ->
      |   (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |   AS BIGINT) AS zkey
      |FROM (SELECT o_orderkey,
      |  CAST(o_custkey % 256 AS BIGINT) AS x,
      |  CAST(o_orderkey % 256 AS BIGINT) AS y FROM orders)
      |ORDER BY zkey, o_orderkey""".stripMargin))

  /** G-unpivot: wide→long reshaping (melt) — each measure column
    * becomes a (metric, value) row. A pure per-row Expand (the same
    * physical node grouping sets use): output = rows × measures with
    * no shuffle, so it scales as a map-only stage. Measures are cast
    * to a common double type, the unpivot contract. */
  val gUnpivot: Entry = Entry("g_unpivot",
    (s, d) => tbl(s, d, "part")
      .select(col("p_partkey"),
        round(col("p_retailprice"), 2).as("p_retailprice"),
        col("p_size").cast("double").as("p_size"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_retailprice"), col("p_size")), "metric", "value")
      .orderBy("p_partkey", "metric"),
    Some("""SELECT p_partkey, 'p_retailprice' AS metric,
      | round(p_retailprice, 2) AS value FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
      |ORDER BY p_partkey, metric""".stripMargin))

  /** O-upsert: MERGE a change-set into a base table by key (SCD-1) —
    * updated rows override, unmatched new rows append, untouched rows
    * pass through. Expressed as the anti-join + union merge: base rows
    * whose key is NOT in the change-set, unioned with the change-set.
    * The change-set is deterministic (10% of customers re-balanced,
    * plus genuinely-new keys lifted above the key domain). The lift is
    * DATA-DERIVED — the smallest multiple of 1e6 above max(custkey)
    * ([[Tables.tableMax]]): a constant +1e6 stopped being injective at
    * the sf1.0 rehearsal (the 10× corpus's real custkeys reach 9e6, so
    * planted "inserts" landed on existing keys and the anti-join/union
    * merge emitted colliding key pairs whose relative order diverged
    * between engines). At shipped SFs max(custkey) < 1e6, so the lift
    * IS +1000000 — hashes unchanged. At scale the anti join broadcasts
    * when the change-set is small (the common case — a day's changes
    * vs the full table), making the merge map-only; a big change-set
    * degrades to one key-partitioned shuffle. */
  val oUpsert: Entry = Entry("o_upsert",
    (s, d) => {
      val lift = 1000000L *
        (Tables.tableMax(s, d, "customer", "c_custkey") / 1000000L + 1L)
      val base = cust(s, d).select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"))
      val changes = cust(s, d).where(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") + 100, 2).as("acctbal"))
        .unionByName(cust(s, d).where(col("c_custkey") % 97 === 0)
          .select((col("c_custkey") + lift).as("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("acctbal")))
      base.join(changes.select("c_custkey"), Seq("c_custkey"), "left_anti")
        .unionByName(changes)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("acctbal"))
        .orderBy("custkey")
    },
    Some("""WITH lift AS (
      | SELECT 1000000 * (max(c_custkey) // 1000000 + 1) AS k FROM customer),
      |changes AS MATERIALIZED (
      | SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS acctbal
      | FROM customer WHERE c_custkey % 10 = 0
      | UNION ALL
      | SELECT c_custkey + (SELECT k FROM lift), c_name, round(c_acctbal, 2)
      | FROM customer WHERE c_custkey % 97 = 0)
      |SELECT c_custkey AS custkey, c_name AS name, round(c_acctbal, 2) AS acctbal
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM changes u WHERE u.c_custkey = c.c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, acctbal FROM changes
      |ORDER BY custkey""".stripMargin))

  /** Running DISTINCT count per key — "how many distinct event types
    * has this user touched so far" at every event, the
    * breadth-of-engagement feature stream. Spark (and SQL generally)
    * has no `count(DISTINCT x) OVER (...)`; the scalable spelling is
    * the FIRST-OCCURRENCE FLAG idiom: row_number = 1 inside
    * (key, value) marks each value's first sighting, and a running sum
    * of the flags over the (key, time) order IS the running distinct
    * count. Two windows — and left to itself the planner shuffles
    * TWICE (hash(user, type) for the flag window, then hash(user) for
    * the running sum). The explicit repartition(user_id) pins ONE
    * fact-row exchange instead: hash(user) is a subset-clustering of
    * (user, type), so it satisfies BOTH window distributions and each
    * WindowExec just sorts within partitions (plan-pinned in
    * PlanShapeSpec). Ties are impossible under the (ts, event_id) total
    * order; the oracle CASTs its ns timestamps to µs so both engines
    * order identical instants. */
  val wRunningDistinct: Entry = Entry("w_running_distinct",
    (s, d) => {
      val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .repartition(col("user_id"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          sum(col("first_seen")).over(wRun).as("n_distinct_types"))
        .orderBy("event_id")
    },
    Some("""WITH f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1 THEN 1 ELSE 0 END AS first_seen
      | FROM events)
      |SELECT event_id, user_id,
      | CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |  AS n_distinct_types
      |FROM f ORDER BY event_id""".stripMargin))

  /** Count-Min sketch (Cormode & Muthukrishnan, "An improved data
    * stream summary: the count-min sketch and its applications",
    * J. Algorithms 2005) — the fifth mergeable summary in the library's
    * sketch family (HLL distinct, KLL quantiles, Bloom membership,
    * SpaceSaving top-k, CM point frequencies): d=3 affine-modular hash
    * rows of w=1024 counters; est(k) = min over rows of the counter k
    * hashes to — an overestimate by at most the collision mass, never
    * under. The hashes are pairwise-independent ((a·k+b) mod p mod w,
    * p = 2^31-1) and PURE INTEGER arithmetic, so the oracle replays
    * the entire sketch — build, merge, probe — in SQL and the
    * estimates hash-compare exactly: a faithfulness gate, not a bound
    * check. Probed on the top-20 keys (tie-broken), where CM's
    * guarantee is strongest.
    *
    * Scale shape: the key census is ONE partial+final agg; the sketch
    * build re-aggregates census rows (not facts) onto 3·1024 counters
    * — a table THIS size is the whole point: counters sum cell-wise
    * across partitions/days/streams (the merge the groupBy's partial
    * agg is literally performing), so per-shard sketches roll up for
    * free where exact per-key counts would shuffle every key. */
  val gCmsSketch: Entry = Entry("g_cms_sketch",
    (s, d) => {
      val P = 2147483647L
      val W = 1024L
      val params = Seq((0, 1103515245L, 12345L), (1, 22695477L, 1L), (2, 69069L, 5L))
      val census = ord(s, d).groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val expanded = census.select(col("key"), col("cnt"),
        explode(array(params.map { case (j, a, b) =>
          struct(lit(j).as("j"),
            ((col("key") * a + b) % P % W).as("h"))
        }: _*)).as("jh"))
        .select(col("key"), col("cnt"), col("jh.j").as("j"), col("jh.h").as("h"))
      val cm = expanded.groupBy("j", "h").agg(sum(col("cnt")).as("s"))
      val top = census.orderBy(col("cnt").desc, col("key")).limit(20)
      top.join(expanded.drop("cnt"), Seq("key"))
        .join(broadcast(cm), Seq("j", "h"))
        .groupBy("key").agg(max(col("cnt")).as("cnt"), min(col("s")).as("cms_est"))
        .orderBy("key")
    },
    Some("""WITH c AS MATERIALIZED (SELECT o_custkey AS key, count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |e AS MATERIALIZED (SELECT key, cnt, j,
      |  CAST((key * a + b) % 2147483647 % 1024 AS BIGINT) AS h
      | FROM c, (VALUES (0, 1103515245, 12345), (1, 22695477, 1),
      |   (2, 69069, 5)) t(j, a, b)),
      |cm AS (SELECT j, h, CAST(sum(cnt) AS BIGINT) AS s FROM e GROUP BY 1, 2),
      |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 20)
      |SELECT top.key, max(top.cnt) AS cnt, min(cm.s) AS cms_est
      |FROM top JOIN e ON top.key = e.key JOIN cm ON e.j = cm.j AND e.h = cm.h
      |GROUP BY top.key ORDER BY top.key""".stripMargin))

  /** Navigation-function window family — first_value / last_value /
    * nth_value over the FULL partition frame (w3_rank_lag covers
    * rank/lag; this closes the navigation trio): each order row carries
    * its customer's first, last, and second order price under the
    * (date, key) total order — the "attach the cohort's anchor row to
    * every member" shape. Full-frame last_value needs the explicit
    * UNBOUNDED FOLLOWING bound in BOTH engines (the default frame stops
    * at CURRENT ROW and silently turns last_value into "running
    * latest"). One exchange on custkey, one WindowExec, all three
    * functions share the frame. */
  val wFirstLast: Entry = Entry("w_first_last",
    (s, d) => {
      val w = Window.partitionBy(col("custkey"))
        .orderBy(col("o_orderdate"), col("orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ord(s, d)
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("p"))
        .select(col("custkey"), col("orderkey"), col("p"),
          first(col("p")).over(w).as("first_p"),
          last(col("p")).over(w).as("last_p"),
          nth_value(col("p"), 2).over(w).as("second_p"))
        .orderBy("custkey", "orderkey")
    },
    Some("""SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      | round(o_totalprice, 2) AS p,
      | first_value(round(o_totalprice, 2)) OVER w AS first_p,
      | last_value(round(o_totalprice, 2)) OVER w AS last_p,
      | nth_value(round(o_totalprice, 2), 2) OVER w AS second_p
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY custkey, orderkey""".stripMargin))

  /** Small-file compaction planner — the table-maintenance pass every
    * 100 TB lakehouse runs nightly: given a file inventory (id,
    * partition, bytes), assign files to target-size compaction bins so
    * each rewrite task gets ~one optimal output file. Greedy sequential
    * packing in file order: bin = floor(bytes-before-this-file /
    * target) per partition — the industry-standard planner shape
    * (optimal bin packing is NP-hard and pointless here; sequential
    * keeps at most one under-full bin per partition). All-integer
    * (sizes in cents), so the plan hashes exactly.
    *
    * The inventory is METADATA — a few rows per real file, millions of
    * rows for a 100 TB table, not terabytes — so a per-partition
    * running-sum window (one exchange on the partition key) is the
    * right tool; the o(census) carry trick (w_gap_islands) exists if an
    * inventory ever outgrows window sort. Orders stands in as the
    * inventory: o_orderkey = file, o_orderpriority = table partition,
    * totalprice-cents = bytes. */
  val oCompactionPlan: Entry = Entry("o_compaction_plan",
    (s, d) => {
      val target = 100000000L // "1 GB" in cents-as-bytes: ~30 files per bin
      val w = Window.partitionBy(col("part")).orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val inv = ord(s, d).select(col("o_orderkey").as("file_id"),
        col("o_orderpriority").as("part"),
        CentsSum.cents(col("o_totalprice")).as("bytes"))
      val planned = inv
        .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
        .withColumn("bin", expr(s"before div $target"))
      planned.groupBy(col("part"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
          min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
        .orderBy("part", "bin")
    },
    Some("""WITH inv AS (SELECT o_orderkey AS file_id, o_orderpriority AS part,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS bytes
      | FROM orders),
      |pl AS (SELECT file_id, part, bytes,
      |  CAST(coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY file_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 100000000
      |   AS BIGINT) AS bin
      | FROM inv)
      |SELECT part, bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes,
      | min(file_id) AS first_file, max(file_id) AS last_file
      |FROM pl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Ordered CDC apply — the OTHER half of the lakehouse story next to
    * o_upsert (single-batch merge) and o_snapshot_diff (explain a
    * merge): replay a sequenced change log (I/U/D per key, seq =
    * commit order) onto a base snapshot with LATEST-WINS semantics.
    * U-after-D resurrects (key 273 here: U@1, D@2, U@3), D-after-U
    * deletes (key 91: U@1, D@2) — the log is derived deterministically
    * from customer so both engines replay identical histories.
    *
    * Scale shape: the log first collapses to one winner per key via
    * max_by(struct, seq) — a partial+final agg, so a 10^10-row log
    * shrinks map-side before its ONE exchange; the apply is a single
    * co-partitioned full-outer join against the snapshot. Latest-wins
    * via agg (not a row_number window) keeps it two exchanges total
    * and no sort of anything log-sized. */
  val oCdcApply: Entry = Entry("o_cdc_apply",
    (s, d) => {
      val c = cust(s, d)
      // I-plant lift: 2× o_upsert's data-derived multiple-of-1e6 above
      // max(custkey) — +2000000 at shipped SFs, collision-free at any
      // SF (the sf1.0 rehearsal: constant +2e6 landed on copy-2 keys,
      // giving two log rows the SAME (lkey, seq) and the max_by
      // tie-break diverged between engines; injective lift restores
      // the by-construction seq-uniqueness per key)
      val lift = 2000000L *
        (Tables.tableMax(s, d, "customer", "c_custkey") / 1000000L + 1L)
      def slice(cond: org.apache.spark.sql.Column, seq: Int, op: String,
          bal: org.apache.spark.sql.Column) =
        c.where(cond).select(
          (if (op == "I") col("c_custkey") + lift else col("c_custkey")).as("lkey"),
          lit(seq).as("seq"), lit(op).as("op"),
          col("c_name").as("lname"), round(bal, 2).as("lbal"))
      val log = slice(col("c_custkey") % 7 === 0, 1, "U", col("c_acctbal") + 50)
        .unionByName(slice(col("c_custkey") % 13 === 0, 2, "D", lit(-1.0)))
        .unionByName(slice(col("c_custkey") % 21 === 0, 3, "U", col("c_acctbal") + 100))
        .unionByName(slice(col("c_custkey") % 97 === 0, 1, "I", col("c_acctbal")))
      val last = log.groupBy(col("lkey"))
        .agg(max_by(struct(col("op"), col("lname"), col("lbal")), col("seq")).as("w"))
        .select(col("lkey"), col("w.op").as("op"),
          col("w.lname").as("lname"), col("w.lbal").as("lbal"))
      val base = c.select(col("c_custkey").as("key"),
        col("c_name").as("name"), round(col("c_acctbal"), 2).as("bal"))
      base.join(last, base("key") === last("lkey"), "full_outer")
        .where(col("op").isNull || col("op") =!= "D")
        .select(coalesce(col("key"), col("lkey")).as("key"),
          when(col("lkey").isNull, col("name")).otherwise(col("lname")).as("name"),
          when(col("lkey").isNull, col("bal")).otherwise(col("lbal")).as("bal"))
        .orderBy("key")
    },
    Some("""WITH lift AS (
      | SELECT 2000000 * (max(c_custkey) // 1000000 + 1) AS k FROM customer),
      |log AS (
      | SELECT c_custkey AS lkey, 1 AS seq, 'U' AS op, c_name AS lname,
      |   round(c_acctbal + 50, 2) AS lbal FROM customer WHERE c_custkey % 7 = 0
      | UNION ALL
      | SELECT c_custkey, 2, 'D', c_name, round(-1.0, 2)
      | FROM customer WHERE c_custkey % 13 = 0
      | UNION ALL
      | SELECT c_custkey, 3, 'U', c_name, round(c_acctbal + 100, 2)
      | FROM customer WHERE c_custkey % 21 = 0
      | UNION ALL
      | SELECT c_custkey + (SELECT k FROM lift), 1, 'I', c_name, round(c_acctbal, 2)
      | FROM customer WHERE c_custkey % 97 = 0),
      |last AS (SELECT lkey, max_by(op, seq) AS op, max_by(lname, seq) AS lname,
      |  max_by(lbal, seq) AS lbal FROM log GROUP BY lkey),
      |base AS (SELECT c_custkey AS key, c_name AS name,
      |  round(c_acctbal, 2) AS bal FROM customer)
      |SELECT coalesce(b.key, l.lkey) AS key,
      | CASE WHEN l.lkey IS NULL THEN b.name ELSE l.lname END AS name,
      | CASE WHEN l.lkey IS NULL THEN b.bal ELSE l.lbal END AS bal
      |FROM base b FULL OUTER JOIN last l ON b.key = l.lkey
      |WHERE l.op IS NULL OR l.op <> 'D'
      |ORDER BY key""".stripMargin))

  /** Diversity / concentration metrics in EXACT integer ppm — the
    * per-stratum "how mixed is this slice" audit a training-data
    * curation pipeline runs over domain/language/source composition
    * (reference analog: the per-class composition checks around
    * main.py's fold construction). Per customer nation: order-priority
    * richness, Herfindahl-Hirschman concentration, and Simpson
    * diversity (1-HHI). Everything stays in BIGINT parts-per-million —
    * no log/float in sight — so both engines hash identically;
    * `sumsq·10^6 div tot²` is exact while `sumsq·10^6 < 2^63`, i.e. up
    * to ~3·10^6 rows per (nation,priority) cell; beyond that, swap the
    * literals for DECIMAL(38) casts (same spelling both engines).
    *
    * Plan at 100 TB: orders is touched ONCE — two broadcast dim hash
    * joins (customer, nation) stay map-side, then ONE partial+final agg
    * exchange on (nation, priority) carrying a row per cell per
    * partition, and the small cell census re-aggregates to nations
    * without moving anything fact-sized. */
  val gSimpson: Entry = Entry("g_simpson_ppm",
    (s, d) => {
      val cst = cust(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nat = tbl(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      val cells = ord(s, d).select(col("o_custkey"), col("o_orderpriority"))
        .join(broadcast(cst), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("cnt"))
      cells.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_prios"), sum(col("cnt")).as("tot"),
          sum(col("cnt") * col("cnt")).as("sumsq"))
        // DECIMAL(38) headroom (oracle: HUGEINT): tot·tot alone crosses
        // 2^63 past ~3e9 rows per group — certain at 100 TB (the
        // w_pareto_abc overflow class the r11 sf0.3 rehearsal exposed)
        .select(col("nation"), col("n_prios"), col("tot"),
          expr("""CAST(CAST(sumsq AS DECIMAL(38,0)) * 1000000
            | div (CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"""
            .stripMargin).as("hhi_ppm"),
          expr("""1000000 - CAST(CAST(sumsq AS DECIMAL(38,0)) * 1000000
            | div (CAST(tot AS DECIMAL(38,0)) * tot) AS BIGINT)"""
            .stripMargin).as("simpson_ppm"))
        .orderBy("nation")
    },
    Some("""WITH c AS (SELECT n_name AS nation, o_orderpriority AS prio, count(*) AS cnt
      | FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      | GROUP BY 1, 2),
      |t AS (SELECT nation, count(*) AS n_prios, CAST(sum(cnt) AS BIGINT) AS tot,
      |  CAST(sum(cnt * cnt) AS BIGINT) AS sumsq FROM c GROUP BY 1)
      |SELECT nation, n_prios, tot,
      | CAST(CAST(sumsq AS HUGEINT) * 1000000
      |   // (CAST(tot AS HUGEINT) * tot) AS BIGINT) AS hhi_ppm,
      | 1000000 - CAST(CAST(sumsq AS HUGEINT) * 1000000
      |   // (CAST(tot AS HUGEINT) * tot) AS BIGINT) AS simpson_ppm
      |FROM t ORDER BY nation""".stripMargin))

  /** Rolling (trailing-frame) median — the robust-smoothing window the
    * reference's per-image running statistics imply but Spark has no
    * built-in for (percentile_approx cannot run over a window frame).
    * Spelled as collect_list over a ROWS frame → array_sort → lower
    * middle; the oracle spells the IDENTICAL algorithm with DuckDB's
    * list() window aggregate, so no quantile-interpolation convention
    * can diverge (both pick element (n+1) div 2 of the sorted frame).
    *
    * Plan at 100 TB: ONE exchange on custkey feeds a single WindowExec;
    * the frame is O(k)=5 wide so per-row work is k·log k and state per
    * open group is bounded — no whole-partition buffering beyond
    * Spark's standard window spill path. */
  val wRollingMedian: Entry = Entry("w_rolling_median",
    (s, d) => {
      val w = Window.partitionBy(col("custkey"))
        .orderBy(col("o_orderdate"), col("orderkey")).rowsBetween(-4, 0)
      ord(s, d)
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("p"))
        .withColumn("arr", array_sort(collect_list(col("p")).over(w)))
        .select(col("custkey"), col("orderkey"),
          size(col("arr")).as("n_in_frame"),
          element_at(col("arr"),
            expr("cast((size(arr) + 1) div 2 as int)")).as("med_trailing"))
        .orderBy("custkey", "orderkey")
    },
    Some("""WITH b AS (SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      |  list_sort(list(round(o_totalprice, 2)) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
      | FROM orders)
      |SELECT custkey, orderkey, len(arr) AS n_in_frame,
      | arr[(len(arr) + 1) // 2] AS med_trailing
      |FROM b ORDER BY custkey, orderkey""".stripMargin))

  /** Data-integrity audit — the dbt-test / data-quality pass every
    * warehouse schedules over its contracts: key uniqueness, orphan
    * foreign keys, payload duplication, each as a violation COUNT so
    * the report is one tiny hash-exact frame. Motivated concretely by
    * r9: two of these invariants (lineitem line-key uniqueness,
    * documents text uniqueness) silently stopped holding at sf0.1 and
    * broke downstream determinism — this entry is the check that would
    * have caught the drift the day the data regenerated.
    *
    * Scale shape: each check is a partial-agg census or a broadcast-able
    * anti-join collapsed to ONE row before the 5-row union — no check
    * ever carries fact rows past its own exchange; a scheduled audit at
    * 100 TB runs per-partition increments of the same censuses. */
  val gIntegrityAudit: Entry = Entry("g_integrity_audit",
    (s, d) => {
      def one(name: String, cnt: org.apache.spark.sql.DataFrame) =
        cnt.select(lit(name).as("check"), col("n_bad"))
      // rows participating in a duplicated key group (0 when unique)
      def dupRows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
          .where(col("c") > 1)
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_bad"))
      val orphans = li(s, d).select(col("l_orderkey"))
        .join(ord(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_bad"))
      one("documents_dup_text_rows",
          dupRows(tbl(s, d, "documents"), Seq("text")))
        .unionByName(one("events_dup_event_id",
          dupRows(tbl(s, d, "events"), Seq("event_id"))))
        .unionByName(one("lineitem_dup_line_keys",
          dupRows(li(s, d), Seq("l_orderkey", "l_linenumber"))))
        .unionByName(one("lineitem_orphan_orders", orphans))
        .unionByName(one("orders_dup_pk",
          dupRows(ord(s, d), Seq("o_orderkey"))))
        .orderBy("check")
    },
    Some("""SELECT * FROM (
      | SELECT 'documents_dup_text_rows' AS "check", CAST(coalesce(sum(c), 0) AS BIGINT) AS n_bad
      |  FROM (SELECT count(*) AS c FROM documents GROUP BY text HAVING count(*) > 1)
      | UNION ALL
      | SELECT 'events_dup_event_id', CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM events GROUP BY event_id HAVING count(*) > 1)
      | UNION ALL
      | SELECT 'lineitem_dup_line_keys', CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM lineitem
      |        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
      | UNION ALL
      | SELECT 'lineitem_orphan_orders', CAST(count(*) AS BIGINT)
      |  FROM lineitem WHERE NOT EXISTS
      |   (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      | UNION ALL
      | SELECT 'orders_dup_pk', CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      |) ORDER BY "check"""".stripMargin))

  /** ANALYZE-style per-column table statistics — the stats collection
    * pass a cost-based optimizer (and every data catalog) schedules:
    * for each profiled column one row of (n_rows, n_null, n_distinct,
    * min, max), numeric min/max rounded to 2dp so the frame hashes.
    * Spark's own `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`
    * produces exactly these numbers into the catalog; this entry IS
    * that computation as a plan, exact NDV included (a production run
    * at 100 TB swaps count(DISTINCT) for the HLL sketch this library
    * already gates in g_hll_mergeable — one pass either way).
    *
    * Scale shape: ONE scan, ONE 1-row partial+final aggregate carrying
    * all 15 statistics (count/sum-style aggs fold into a single
    * ObjectHashAggregate); the per-column rows are unpivoted from that
    * single row driver-free via a tiny union-of-projections. */
  val gTableStats: Entry = Entry("g_table_stats",
    (s, d) => {
      val o = ord(s, d)
      val agg0 = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_cust"),
        countDistinct(col("o_custkey")).as("nd_cust"),
        min(col("o_custkey")).cast("double").as("min_cust"),
        max(col("o_custkey")).cast("double").as("max_cust"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_price"),
        countDistinct(col("o_totalprice")).as("nd_price"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn_pri"),
        countDistinct(col("o_orderpriority")).as("nd_pri"))
      // pin the 1-row aggregate BEFORE the union-of-projections: each
      // branch prunes different columns, so an unpinned agg loses plan
      // canonicality and re-executes — three full scans where the whole
      // point is one (the tx_tfidf reuse lesson, caught by the plan pin)
      val agg = Graft.pin(agg0)
      def row(nm: String, nn: String, nd: String,
          mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =
        agg.select(lit(nm).as("column_name"), col("n_rows"),
          col(nn).as("n_null"), col(nd).as("n_distinct"),
          mn.as("min_num"), mx.as("max_num"))
      row("o_custkey", "nn_cust", "nd_cust", col("min_cust"), col("max_cust"))
        .unionByName(row("o_orderpriority", "nn_pri", "nd_pri",
          lit(null).cast("double"), lit(null).cast("double")))
        .unionByName(row("o_totalprice", "nn_price", "nd_price",
          col("min_price"), col("max_price")))
        .orderBy("column_name")
    },
    Some("""SELECT 'o_custkey' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
      |  CAST(min(o_custkey) AS DOUBLE) AS min_num, CAST(max(o_custkey) AS DOUBLE) AS max_num
      | FROM orders
      |UNION ALL
      |SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
      |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
      | FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(count(DISTINCT o_totalprice) AS BIGINT),
      |  round(min(o_totalprice), 2), round(max(o_totalprice), 2)
      | FROM orders
      |ORDER BY column_name""".stripMargin))

  /** Partition-skew audit — the diagnostics pass an ops team runs
    * BEFORE choosing a skew mitigation (the j_skew_salted /
    * operators.Skew machinery this library already carries): per-key
    * row counts, the 10 heaviest keys with their traffic share, and a
    * hotness ratio (max key vs the uniform-share baseline), all in
    * exact integer ppm so rows hash. The share multiplies run in
    * DECIMAL(38,0)/HUGEINT (the w_pareto_abc overflow class, widened
    * uniformly in r11); the ratio keeps its `(max·10^6 div total)·
    * n_keys` order so the pre-widening spelling's values are
    * preserved bit-for-bit.
    *
    * Plan: one partial-agg exchange builds the key census (the
    * exchange carries one row per key per partition, never facts); the
    * totals are a 1-row agg CROSS-broadcast back; top-10 is
    * TakeOrderedAndProject. */
  val gSkewAudit: Entry = Entry("g_skew_audit",
    (s, d) => {
      val counts = li(s, d).groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
      counts.crossJoin(broadcast(tot))
        .select(col("key"), col("cnt"),
          expr("""CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000
            | div total AS BIGINT)""".stripMargin).as("share_ppm"),
          expr("""CAST(CAST(max_cnt AS DECIMAL(38,0)) * 1000000
            | div total AS BIGINT) * n_keys""".stripMargin).as("hot_ratio_ppm"),
          col("n_keys"), col("total"))
        .orderBy(col("cnt").desc, col("key"))
        .limit(10)
    },
    Some("""WITH c AS MATERIALIZED (SELECT l_suppkey AS key, count(*) AS cnt
      | FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |  count(*) AS n_keys, max(cnt) AS max_cnt FROM c)
      |SELECT key, cnt,
      | CAST(CAST(cnt AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
      | CAST(CAST(max_cnt AS HUGEINT) * 1000000 // total AS BIGINT)
      |   * n_keys AS hot_ratio_ppm,
      | n_keys, total
      |FROM c, t
      |ORDER BY cnt DESC, key LIMIT 10""".stripMargin))

  /** CDC snapshot diff — the change-classification pass every
    * lakehouse sync/audit runs between two versions of a keyed table
    * (o_upsert WRITES a merge; this entry explains one): full-outer
    * join on the key, classify insert / delete / update / unchanged,
    * emit the per-class census plus exact-decimal net balance drift.
    * The two snapshots are derived deterministically from customer
    * (v2 = +100 on every 10th key = updates; keys ≡ 0 mod 97 offset
    * out = inserts; keys ≡ 3 mod 11 dropped = deletes), so both
    * engines diff identical inputs.
    *
    * Plan shape at 100 TB: ONE co-partitioned full-outer SMJ — both
    * snapshot scans exchange on the key once; classification is a
    * map-side CASE over the joined row; the census is a
    * 4-row partial+final agg. Nothing fact-sized is touched twice. */
  val oSnapshotDiff: Entry = Entry("o_snapshot_diff",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      val v1 = cust(s, d).select(col("c_custkey").as("k"),
        round(col("c_acctbal"), 2).as("bal1"))
      val v2 = cust(s, d).where(col("c_custkey") % 11 =!= 3)
        .select(
          when(col("c_custkey") % 97 === 0, col("c_custkey") + 1000000)
            .otherwise(col("c_custkey")).as("k"),
          when(col("c_custkey") % 10 === 0, round(col("c_acctbal") + 100, 2))
            .otherwise(round(col("c_acctbal"), 2)).as("bal2"))
      v1.join(v2, Seq("k"), "full_outer")
        .select(
          when(col("bal1").isNull, "insert")
            .when(col("bal2").isNull, "delete")
            .when(col("bal1") =!= col("bal2"), "update")
            .otherwise("unchanged").as("change"),
          coalesce(col("bal2"), lit(0.0)).cast(dec)
            .minus(coalesce(col("bal1"), lit(0.0)).cast(dec)).as("drift"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"),
          sum(col("drift")).cast("double").as("net_drift"))
        .orderBy("change")
    },
    Some("""WITH v1 AS (SELECT c_custkey AS k, round(c_acctbal, 2) AS bal1
      | FROM customer),
      |v2 AS (SELECT
      |  CASE WHEN c_custkey % 97 = 0 THEN c_custkey + 1000000
      |       ELSE c_custkey END AS k,
      |  CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 100, 2)
      |       ELSE round(c_acctbal, 2) END AS bal2
      | FROM customer WHERE c_custkey % 11 <> 3)
      |SELECT CASE WHEN bal1 IS NULL THEN 'insert'
      |            WHEN bal2 IS NULL THEN 'delete'
      |            WHEN bal1 <> bal2 THEN 'update'
      |            ELSE 'unchanged' END AS change,
      | count(*) AS n,
      | CAST(sum(CAST(coalesce(bal2, 0) AS DECIMAL(18,2))
      |   - CAST(coalesce(bal1, 0) AS DECIMAL(18,2))) AS DOUBLE) AS net_drift
      |FROM v1 FULL OUTER JOIN v2 USING (k)
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** O-intersect: part brands present in both cheap and expensive
    * parts. Cuts 905/915 sit INSIDE the fixture's price range at every
    * SF (r16 sf10 rehearsal find: the original 1200/1800 cuts were
    * both outside the 900–999.9 fixture range, so the entry had been
    * comparing empty ∩ empty — a vacuous 0-row gate — since it
    * landed; 905/915 yields a 20-brand proper subset at sf0.001 and
    * all 25 brands at larger SFs, so the INTERSECT genuinely
    * intersects). */
  val oIntersect: Entry = Entry("o_intersect",
    (s, d) => {
      val p = tbl(s, d, "part")
      p.filter(col("p_retailprice") < 905.0).select(col("p_brand"))
        .intersect(p.filter(col("p_retailprice") > 915.0).select(col("p_brand")))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand FROM part WHERE p_retailprice < 905.0
      |INTERSECT
      |SELECT p_brand FROM part WHERE p_retailprice > 915.0
      |ORDER BY p_brand""".stripMargin))

  /** O-distinct: dropDuplicates on a projection (the dedup primitive). */
  val oDistinct: Entry = Entry("o_dedup_distinct",
    (s, d) => ord(s, d)
      .select(col("o_custkey"), col("o_orderstatus"))
      .dropDuplicates("o_custkey", "o_orderstatus")
      .orderBy("o_custkey", "o_orderstatus"),
    Some("""SELECT DISTINCT o_custkey, o_orderstatus FROM orders
      |ORDER BY o_custkey, o_orderstatus""".stripMargin))

  /** G-approx: HyperLogLog distinct. ORACLE-GREEN since r11 via the
    * gate-literal pattern (VERDICT r10 #1): the HLL estimate itself is
    * engine-internal (no DuckDB replay exists), so it is folded into
    * the `quality_ok` boolean — the estimate must sit within 5% of the
    * exact count computed in the same query — and the hashed result
    * carries only the DETERMINISTIC spine (group, exact count, row
    * count) plus that gate. The oracle recomputes the spine and asserts
    * the gate LITERALLY true, so a drifted/broken sketch flips the
    * boolean and hash-fails the round.
    *
    * Sketch precision 0.015 (p=13 registers), NOT the 0.05 default:
    * the gate must sit far outside the sketch's own noise. Spark sizes
    * the register count FROM the requested rsd, so rsd 0.05 builds a
    * p=9 sketch whose 1σ error is ~4.6% — the 5% gate was a coin flip
    * at every SF, and the sf1.0 rehearsal (2M distinct parts per flag)
    * flipped it. At rsd 0.015 the sketch's 1σ is ~1.15%, putting the
    * unchanged 5% gate at ~4.3σ (per-group flip odds ~1e-5). Not
    * tighter: measured suite cost scales with the register count
    * (1.2 s at p=9, 2.8 s at p=13, 4.2 s at p=14 isolated at sf0.1) —
    * p=13 buys robustness without doubling the entry. */
  val gApproxDistinct: Entry = Entry("g_approx_distinct",
    // SPLIT aggregation (r18 optimization): mixing the HLL aggregate
    // with countDistinct in ONE agg makes Spark's one-distinct plan
    // carry the partial HLL buffer (p=13 ⇒ 823 long columns ≈ 6.5 KB)
    // through the (l_returnflag, l_partkey) pre-aggregation — tens of
    // thousands of groups × 6.5 KB of sketch state through the first
    // exchange for a 3-row answer (measured: the 823-wide Results list
    // in the partial HashAggregate, plans/r18/g_approx_distinct_before
    // .txt). Aggregating the sketch in its OWN branch keeps the HLL
    // partial per (flag × partition) — 3 buffers per task — and joins
    // the 3-row estimate frame back by broadcast. The estimate is
    // identical by construction: HLL++ register state is a max over
    // hashed inputs, invariant to grouping/merge order.
    (s, d) => {
      val exact = li(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_rows"))
      val approx = li(s, d).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.015).as("approx_parts"))
      exact.join(broadcast(approx), "l_returnflag")
        .withColumn("quality_ok",
          abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") < 0.05)
        .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
          col("quality_ok"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
      | count(DISTINCT l_partkey) AS exact_parts,
      | count(*) AS n_rows,
      | TRUE AS quality_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Approximate percentile sketch (the 100 TB path for quantiles —
    * Greenwald-Khanna with bounded accuracy, one pass, mergeable
    * partials) gated on the guarantee the sketch ACTUALLY makes: the
    * returned value sits at some rank within n·q ± n/accuracy. A value
    * -error bound (|approx − exact| vs a slice of the spread) does NOT
    * follow from that — a distribution with a value jump at the median
    * can legally produce a value error near the full spread — so the
    * gate counts ranks instead: approx_p50's occupied rank interval
    * (rows < it, rows ≤ it] must intersect [n/2 − n/1000, n/2 +
    * n/1000] (+1 slack for rank-convention off-by-one). Distribution-
    * free, and drops the exact-percentile twin (which buffers every
    * group value — the thing the sketch exists to avoid). ORACLE-GREEN
    * since r11 via the gate-literal pattern (see g_approx_distinct):
    * the hashed result is the deterministic spine (group, n) plus
    * quality_ok, which the oracle asserts literally true — the
    * sketch-dependent estimate and rank counters fold into the gate.
    *
    * Scale: the rank count is a second scan joined to the O(groups)
    * sketch output via broadcast — both passes are map-side partial
    * aggregations; nothing buffers raw values. */
  val gApproxPercentile: Entry = Entry("g_approx_percentile",
    (s, d) => {
      val base = li(s, d).select(col("l_returnflag"), col("l_extendedprice"))
      val sketch = base.groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_p50"),
          count(lit(1)).as("n_rows"))
      base.join(broadcast(sketch), "l_returnflag")
        .groupBy("l_returnflag", "approx_p50", "n_rows")
        .agg(
          sum(when(col("l_extendedprice") < col("approx_p50"), 1L).otherwise(0L))
            .as("rank_below"),
          sum(when(col("l_extendedprice") <= col("approx_p50"), 1L).otherwise(0L))
            .as("rank_at"))
        .withColumn("quality_ok",
          col("rank_at") >= col("n_rows") * 0.5 - col("n_rows") / 1000.0 - 1 &&
            col("rank_below") <= col("n_rows") * 0.5 + col("n_rows") / 1000.0 + 1)
        .select(col("l_returnflag"), col("n_rows"), col("quality_ok"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n_rows, TRUE AS quality_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Deterministic stratified sampling — the training-data primitive a
    * 100 TB pipeline needs where `rand()`-based `sample()` cannot
    * serve: reproducible across runs, retries, AND cluster sizes, and
    * joinable (the same row lands in the same split everywhere, so a
    * labels sample and a features sample agree without coordination).
    * The coin is multiplicative-hash arithmetic on the row key — exact
    * integer ops both engines replay bit-for-bit (a production run
    * would swap in xxhash64 for better mixing; the per-stratum-rate
    * STRUCTURE is what's under test). Rates per o_orderstatus: F 5%,
    * O 2%, else 20%.
    * Scale: a pure filter evaluated inside the scan stage — no
    * shuffle, no window, no state; prunes before any downstream
    * exchange, which is exactly why hash-split beats sort- or
    * window-based splitting at scale. */
  val gSampleStrat: Entry = Entry("g_sample_strat",
    (s, d) => {
      val bucket = (col("o_orderkey") * lit(1000003L)) % 1000L
      val rate = when(col("o_orderstatus") === "F", 50L)
        .when(col("o_orderstatus") === "O", 20L).otherwise(200L)
      ord(s, d).filter(bucket < rate)
        .select(col("o_orderkey"), col("o_orderstatus"), bucket.as("bucket"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
      | (o_orderkey * 1000003) % 1000 AS bucket
      |FROM orders
      |WHERE (o_orderkey * 1000003) % 1000 <
      | CASE o_orderstatus WHEN 'F' THEN 50 WHEN 'O' THEN 20 ELSE 200 END
      |ORDER BY o_orderkey""".stripMargin))

  /** G1 fold assignment as a query: deterministic stratified K-fold via
    * row_number over (label, key) — oracle-expressible (W2). */
  val g1FoldAssign: Entry = Entry("g1_fold_assign",
    (s, d) => Folds.addStratifiedFoldByKey(
        cust(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "c_mktsegment", "c_custkey", 5)
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_mktsegment,
      | CAST((row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) - 1) % 5 AS INT) AS fold
      |FROM customer ORDER BY c_custkey""".stripMargin))

  /** G1 (100 TB path): stateless hash-mod fold — a pure projection, no
    * window, no shuffle; the portable multiplicative hash is replayed
    * exactly by the oracle (see Folds.addHashFold). */
  val g1FoldAssignHash: Entry = Entry("g1_fold_assign_hash",
    (s, d) => Folds.addHashFold(
        cust(s, d).select(col("c_custkey"), col("c_mktsegment")), "c_custkey", 5)
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_mktsegment,
      | CAST((((c_custkey & 2147483647) * 2654435761) >> 15) % 5 AS INT) AS fold
      |FROM customer ORDER BY c_custkey""".stripMargin))

  /** W-running: cumulative per-customer spend in order-date order —
    * exact DECIMAL running sum so parallel grouping can't drift ulps. */
  val wRunningSum: Entry = Entry("w_running_sum",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("run_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_spend
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Explicit GROUPING SETS (beyond cube/rollup): chosen aggregate
    * combinations in one Expand + one shuffle. */
  val gGroupingSets: Entry = Entry("g_grouping_sets",
    (s, d) => {
      tbl(s, d, "orders").createOrReplaceTempView("v_orders_gs")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS st,
               coalesce(o_orderpriority, 'ALL') AS pri,
               count(*) AS n
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY st, pri""")
    },
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS st,
      | coalesce(o_orderpriority, 'ALL') AS pri,
      | count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY st, pri""".stripMargin))

  /** collect_set + sort_array: order-independent list aggregation the
    * oracle can replay (raw collect_list order is partitioning-
    * dependent — always sort before comparing or sinking). Serialized
    * to a comma-joined string so every result column is scalar — the
    * comparison harness can't sort array-typed columns. */
  val gCollectSet: Entry = Entry("g_collect_set",
    (s, d) => tbl(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
      | array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      | count(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** Exact interpolated percentiles per group (Spark `percentile` ≡
    * DuckDB `quantile_cont`: index p·(n−1), linear interpolation; both
    * engines compute it from identical doubles, rounded to pin ulps). */
  /** Exact interpolated per-group percentiles via a value CENSUS
    * instead of Spark's `percentile` aggregate (r18 optimization).
    * `percentile` is a non-codegen ImperativeAggregate that buffers a
    * boxed value→count OpenHashMap per group, serializes the maps
    * through the exchange, and sorts at eval. The census spelling does
    * the identical math in whole-stage codegen: groupBy(g, v) count →
    * one (g)-keyed window pass for cumulative/total counts → per-group
    * conditional-min key lookup + the PercentileBase interpolation
    *   pos = p·(n−1); lowerKey at first cc ≥ ⌊pos⌋+1, higherKey at
    *   first cc ≥ ⌈pos⌉+1; (⌈pos⌉−pos)·lower + (pos−⌊pos⌋)·higher
    * reproduced operation-for-operation (verified bit-identical vs
    * `percentile` on the live data; the oracle gates it vs DuckDB
    * quantile_cont every round). Scale: exchanges carry distinct
    * (g, value) census rows — for bounded-precision money columns the
    * census SATURATES while facts grow, and a census sort spills
    * gracefully where the OpenHashMap cannot. Nulls are filtered like
    * `percentile` ignores them. Returns (g, <named percentile cols>),
    * unrounded. */
  private def censusPercentiles(df: DataFrame, g: String, v: String,
      ps: Seq[(Double, String)]): DataFrame = {
    val census = df.where(col(v).isNotNull)
      .groupBy(col(g), col(v)).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(g).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(g)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cen = census
      .withColumn("cc", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(wall))
    def pos(p: Double): Column = (col("n") - 1).cast("double") * lit(p)
    val keyCols = ps.zipWithIndex.flatMap { case ((p, _), i) => Seq(
      min(when(col("cc") >= floor(pos(p)).cast("long") + 1, col(v))).as(s"lk_$i"),
      min(when(col("cc") >= ceil(pos(p)).cast("long") + 1, col(v))).as(s"hk_$i"))
    }
    val aggd = cen.groupBy(col(g), col("n")).agg(keyCols.head, keyCols.tail: _*)
    val outCols = ps.zipWithIndex.map { case ((p, nm), i) =>
      val po = (col("n") - 1).cast("double") * lit(p)
      val lk = col(s"lk_$i"); val hk = col(s"hk_$i")
      when(lk === hk, lk.cast("double")).otherwise(
        (ceil(po) - po) * lk.cast("double") +
          (po - floor(po)) * hk.cast("double")).as(nm)
    }
    aggd.select(col(g) +: outCols: _*)
  }

  val gPercentile: Entry = Entry("g_percentile",
    // kept on the builtin `percentile` aggregate: the census spelling
    // (censusPercentiles) was A/B'd here r18 and measured ~20% SLOWER
    // when there is no second fact pass to save (0.97 vs 1.22 s at
    // sf0.1 — the census window sort costs more than the 3-group
    // OpenHashMap at this group count); it wins in g_winsorize because
    // it also collapses the clip re-scan
    (s, d) => tbl(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(
        round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
        round(percentile(col("o_totalprice"), lit(0.9)), 6).as("p90"),
        round(percentile(col("o_totalprice"), lit(0.99)), 6).as("p99"))
      .orderBy("o_orderstatus"),
    Some("""SELECT o_orderstatus,
      | round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
      | round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
      | round(quantile_cont(o_totalprice, 0.99), 6) AS p99
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))

  /** Winsorized (percentile-clipped) robust aggregation — the outlier
    * taming every quality-score / reward-model feature pipeline applies
    * before averaging. Per group: exact interpolated p05/p95 cutoffs
    * (rounded to money scale in BOTH engines so the clip bounds are
    * identical doubles by construction — g_percentile already proves
    * the raw percentiles agree), clip, then exact-DECIMAL sums of the
    * clipped column plus clip-incidence counts. Plan: the cutoff agg is
    * one partial+final aggregate over the group key; the tiny per-group
    * bounds frame is broadcast back onto the fact scan (no second
    * shuffle of the fact side — join key = group key, build side =
    * n_groups rows), then one more partial+final agg. At 100 TB both
    * exchanges carry group-key cardinality rows, never facts; exact
    * percentiles per group are O(group) memory in the percentile
    * aggregate — for unbounded groups swap in approx_percentile and
    * keep the identical downstream clip (the gate keeps the exact
    * variant because it is oracle-able). */
  val gWinsorize: Entry = Entry("g_winsorize",
    // r18 optimization, two steps beyond the r-era two-scan spelling:
    // (1) the exact p05/p95 cutoffs come from [[censusPercentiles]]
    // (codegen census math, not the boxed `percentile` aggregate) and
    // (2) the clipped sums/counts are computed FROM THE CENSUS —
    // Σ clip(v)·c in DECIMAL is exact and equals the per-row dsum by
    // associativity, count sums replace count filters — so the fact
    // table is scanned ONCE (the census subtree is shared via exchange
    // reuse) instead of twice, and no exchange ever carries fact rows.
    // Verified bit-identical to the previous spelling on the live
    // data; oracle-gated vs DuckDB every round. Measured 2.70 → 1.51 s
    // at sf0.1 on the same host.
    (s, d) => {
      val facts = li(s, d).select(col("l_returnflag").as("g"), col("l_extendedprice"))
      val bounds = censusPercentiles(facts, "g", "l_extendedprice",
          Seq(0.05 -> "lo_raw", 0.95 -> "hi_raw"))
        .select(col("g"), round(col("lo_raw"), 2).as("lo"),
          round(col("hi_raw"), 2).as("hi"))
      val census = facts.groupBy(col("g"), col("l_extendedprice").as("v"))
        .agg(count(lit(1)).as("c"))
      census.join(broadcast(bounds), Seq("g"))
        .withColumn("vv", least(greatest(col("v"), col("lo")), col("hi")))
        .groupBy("g").agg(
          sum(col("vv").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * col("c"))
            .cast("double").as("sum_winsorized"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * col("c"))
            .cast("double").as("sum_raw"),
          sum(col("c")).as("n"),
          sum(when(col("v") < col("lo"), col("c")).otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("v") > col("hi"), col("c")).otherwise(0L)).as("n_clipped_hi"))
        .orderBy("g")
    },
    Some(s"""WITH b AS (SELECT l_returnflag AS g,
      |  round(quantile_cont(l_extendedprice, 0.05), 2) AS lo,
      |  round(quantile_cont(l_extendedprice, 0.95), 2) AS hi
      | FROM lineitem GROUP BY 1)
      |SELECT g,
      | ${sqlDsum("least(greatest(l_extendedprice, lo), hi)")} AS sum_winsorized,
      | ${sqlDsum("l_extendedprice")} AS sum_raw,
      | count(*) AS n,
      | CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
      | CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi
      |FROM lineitem JOIN b ON l_returnflag = b.g
      |GROUP BY g ORDER BY g""".stripMargin))

  /** Exponentially-weighted moving average (truncated, dyadic decay) —
    * the time-series smoothing feature every forecasting / anomaly
    * pipeline derives per entity. Definition: over each customer's
    * order history (date, orderkey order),
    *   ewma_n = Σ_{k=0..7} x_{n−k} · 2^{−(k+1)}
    * — decay α = 1/2 truncated at 8 taps (tap 8+ contributes < 0.4%).
    * The dyadic weights are the whole determinism story: x/2, x/4, …
    * x/256 are EXACT halvings of the double, and both engines add the
    * 8 terms in the same textual left-to-right order, so the result is
    * bit-identical with NO rounding step — a float window feature the
    * oracle can hash. The gate emits each customer's latest smoothed
    * spend.
    *
    * Plan: both window specs (the 8 lags and the recency row_number)
    * share one (custkey) partitioning → ONE exchange, two in-partition
    * sorts. The explicit-lag spelling (vs a frame sum over pow(2, rn))
    * is also the scale story: it never materializes an unbounded
    * exponent, so histories of any length stay finite — and 8 fixed
    * lag columns are one linear pass over each sorted partition. */
  val wEwma: Entry = Entry("w_ewma_decay",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wd = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val terms = (0 until 8).map(k =>
        coalesce(lag(col("x"), k).over(w), lit(0.0)) / lit((1L << (k + 1)).toDouble))
      ord(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("x"))
        .withColumn("ewma", terms.reduce(_ + _))
        .withColumn("rnd", row_number().over(wd))
        .where(col("rnd") === 1)
        .select(col("o_custkey"), col("ewma"))
        .orderBy("o_custkey")
    },
    Some(s"""WITH t AS (SELECT o_custkey,
      | row_number() OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnd,
      | ${(0 until 8).map(k =>
            s"coalesce(lag(CAST(o_totalprice AS DOUBLE), $k) OVER w, 0) / ${1L << (k + 1)}")
           .mkString(" + ")} AS ewma
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |SELECT o_custkey, ewma FROM t WHERE rnd = 1
      |ORDER BY o_custkey""".stripMargin))

  /** Deterministic weight-proportional (PPS) systematic sampling — the
    * importance-weighted downsample every training-data recipe runs
    * (sample documents ∝ quality score, orders ∝ spend) when it must be
    * REPRODUCIBLE: same data → same sample, on any cluster, any
    * partitioning, with an inclusion proof per row. Standard PPS
    * systematic design: lay every row's integer weight end-to-end along
    * a line in a pseudo-random but deterministic order (the
    * [[graft.functions.Feistel]] 62-bit bijection of the key — no RNG,
    * no float u^(1/w)), then select the rows whose weight interval
    * (cum−w, cum] crosses a multiple of step = W div k. Rows with
    * w ≥ step are certainty inclusions (selected once); expected
    * sample size is ~k (± the div-remainder tail). Integer-only
    * (weights in exact DECIMAL→BIGINT cents), so the sample hashes.
    *
    * Plan shape at 100 TB: the global cumulative is the g_ks_drift
    * carry pattern — ONE fact exchange on the hash-range bucket
    * (shiftright(h, 56): 64 buckets, monotone in h, so in-bucket
    * (h, key) order concatenates to the global order), an in-bucket
    * rows-frame running sum, per-bucket totals read off max(cum_in)
    * (no second fact branch), and the prefix offsets + grand total are
    * windows over the 64-row bucket frame broadcast back. No global
    * fact-row window anywhere. */
  val gSampleWeighted: Entry = Entry("g_sample_weighted",
    (s, d) => {
      val k = 1000L
      val x = ord(s, d).select(col("o_orderkey"),
          CentsSum.cents(col("o_totalprice")).as("w"))
        .withColumn("h", graft.functions.Feistel.key(col("o_orderkey")))
        .withColumn("bkt", shiftright(col("h"), 56))
        // the g_ks_drift lesson verbatim: the offs join infers
        // isnotnull(bkt) into ONE branch's scan and de-canonicalizes
        // the shared exchange (second fact scan, second window);
        // stating it here keeps both branches identical so
        // ReuseExchange dedups them. (bkt is never null — o_orderkey
        // isn't — so the filter drops nothing.)
        .where(col("bkt").isNotNull)
        .repartition(col("bkt"))
      val wIn = Window.partitionBy("bkt").orderBy(col("h"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = x.withColumn("cum_in", sum(col("w")).over(wIn))
      val tot = cum.groupBy("bkt").agg(max(col("cum_in")).as("t"))
      val wB = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy()
      val offs = tot.select(col("bkt"),
        coalesce(sum(col("t")).over(wB), lit(0L)).as("off"),
        sum(col("t")).over(wAll).as("wtot"))
      cum.join(broadcast(offs), "bkt")
        .withColumn("cum", col("cum_in") + col("off"))
        .withColumn("step", expr(s"wtot div $k"))
        .where(expr("cum div step > (cum - w) div step"))
        .select(col("o_orderkey"), col("w"), col("cum"))
        .orderBy("o_orderkey")
    },
    Some(s"""WITH x AS MATERIALIZED (SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w,
      |  ${graft.functions.Feistel.keySql("o_orderkey")} AS h
      | FROM orders),
      |c AS (SELECT o_orderkey, w,
      |  CAST(sum(w) OVER (ORDER BY h, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      | FROM x),
      |t AS (SELECT CAST(sum(w) AS BIGINT) // 1000 AS step FROM x)
      |SELECT o_orderkey, w, cum
      |FROM c, t
      |WHERE cum // step > (cum - w) // step
      |ORDER BY o_orderkey""".stripMargin))

  /** Time-(interval-)weighted average — the TWAP/metering aggregate
    * every billing, market-data, and sensor pipeline needs, where a
    * value holds UNTIL the next observation and must be weighted by how
    * long it held (a plain avg over-counts bursty periods). Per
    * customer: each order's totalprice is weighted by the days until
    * that customer's next order (the last order carries no interval and
    * is excluded, as are all-same-day histories with zero span).
    *
    * Determinism: the weight is an exact INTEGER day count and the
    * weighted sum runs in DECIMAL (price(18,2) × days is exact in both
    * engines), so the only float op is the single final division on
    * identical operands. Plan: the lead() window and the groupBy share
    * ONE o_custkey exchange — the window's clustering feeds the partial
    * agg directly; nothing global, nothing fact-wide a second time. */
  val wTimeWeighted: Entry = Entry("w_time_weighted_avg",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("days",
          datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")))
        .where(col("days").isNotNull)
        .groupBy("o_custkey")
        .agg(
          (sum(col("o_totalprice").cast(DecimalType(18, 2)) * col("days"))
            .cast("double") / sum(col("days")).cast("double")).as("twap"),
          sum(col("days")).cast("long").as("total_days"),
          count(lit(1)).as("n_intervals"))
        .where(col("total_days") > 0)
        .orderBy("o_custkey")
    },
    Some("""WITH i AS (SELECT o_custkey, o_totalprice,
      |  datediff('day', o_orderdate,
      |    lead(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey)) AS days
      | FROM orders)
      |SELECT o_custkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * days) AS DOUBLE)
      |   / CAST(sum(days) AS DOUBLE) AS twap,
      | CAST(sum(days) AS BIGINT) AS total_days,
      | count(*) AS n_intervals
      |FROM i WHERE days IS NOT NULL
      |GROUP BY 1 HAVING sum(days) > 0
      |ORDER BY o_custkey""".stripMargin))

  /** Gaps-and-islands — the consecutive-run detector behind streak
    * analytics, SLA continuity, and contiguity compaction: per
    * customer, runs of CONSECUTIVE active months, then the longest
    * streak / island count / active-month census for sustained
    * customers (≥ 6 active months). The classic spelling subtracts a
    * rank from the value so each run collapses to a constant island
    * id; here the rank comes FREE from `posexplode(sort_array(...))`
    * over the per-customer month set — no window function at all.
    *
    * Plan shape: ONE exchange total. The collect_set groupBy shuffles
    * (custkey, month-id) pairs once; the explode is map-side; and both
    * downstream groupBys — (custkey, island) then (custkey) — are
    * satisfied by the existing custkey clustering (hash(cust) ⊆ the
    * grouping keys), so Spark plans no further exchange. Island state
    * per customer is bounded by the calendar, not facts. */
  val wGapIslands: Entry = Entry("w_gap_islands",
    (s, d) => {
      val m = ord(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
      val isl = m.groupBy("o_custkey").agg(collect_set(col("m")).as("ms"))
        .select(col("o_custkey"),
          posexplode(sort_array(col("ms"))).as(Seq("pos", "mo")))
        .select(col("o_custkey"), (col("mo") - col("pos")).as("island"))
        .groupBy("o_custkey", "island").agg(count(lit(1)).as("len"))
      isl.groupBy("o_custkey").agg(
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_islands"),
          sum(col("len")).as("n_active_months"))
        .where(col("n_active_months") >= 6)
        .orderBy("o_custkey")
    },
    Some("""WITH mm AS (SELECT DISTINCT o_custkey,
      |  year(o_orderdate) * 12 + month(o_orderdate) AS m FROM orders),
      |r AS (SELECT o_custkey, m,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS rn
      | FROM mm),
      |i AS (SELECT o_custkey, m - rn AS island, count(*) AS len
      | FROM r GROUP BY 1, 2)
      |SELECT o_custkey, max(len) AS longest_streak,
      | count(*) AS n_islands,
      | CAST(sum(len) AS BIGINT) AS n_active_months
      |FROM i GROUP BY 1 HAVING sum(len) >= 6
      |ORDER BY o_custkey""".stripMargin))

  /** Robust anomaly flags via median absolute deviation — the
    * outlier detector quality pipelines prefer over z-scores because
    * median/MAD don't move when the outliers themselves do (a fat
    * finger inflates a stddev but not a median). Per customer: median
    * spend, MAD = median(|x − median|), flag orders with
    * |x − median| > 3·MAD (customers with ≥ 8 orders, so the
    * statistics mean something; 3·MAD ≈ 2σ under normality).
    *
    * Determinism: exact interpolated percentiles over 2-dp doubles are
    * identical IEEE arithmetic in both engines (the g_percentile
    * contract), and every derived value (dev, 3·mad, the comparison)
    * is single-op IEEE on identical operands — no rounding step
    * needed, rows hash.
    *
    * Plan shape: BOTH percentile windows, the count window, and the
    * deviation column ride ONE custkey exchange (aggregate-as-window
    * with unbounded frames; the second window consumes the first's
    * output in the same partitioning — the wEwma discipline). No
    * join-back of a bounds frame, no second fact pass; per-customer
    * buffers are order-count-sized. */
  val wAnomalyMad: Entry = Entry("w_anomaly_mad",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
      ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("x"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("med", percentile(col("x"), lit(0.5)).over(w))
        .withColumn("dev", abs(col("x") - col("med")))
        .withColumn("mad", percentile(col("dev"), lit(0.5)).over(w))
        .where(col("n") >= 8 && col("dev") > col("mad") * 3)
        .select(col("o_custkey"), col("o_orderkey"), col("x"),
          col("med"), col("mad"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH b AS (SELECT o_custkey, o_orderkey,
      |  CAST(o_totalprice AS DOUBLE) AS x,
      |  count(*) OVER w AS n,
      |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) OVER w AS med
      | FROM orders WINDOW w AS (PARTITION BY o_custkey)),
      |m AS (SELECT *, abs(x - med) AS dev,
      |  quantile_cont(abs(x - med), 0.5)
      |    OVER (PARTITION BY o_custkey) AS mad
      | FROM b)
      |SELECT o_custkey, o_orderkey, x, med, mad
      |FROM m WHERE n >= 8 AND dev > mad * 3
      |ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Batch gap-sessionization — the classic two-window assignment the
    * streaming session entries (`st_session_*`) mirror in state: a
    * session breaks when the gap to the previous event exceeds 30 min,
    * session id = running count of breaks, then per-session stats.
    * All arithmetic in integer epoch-µs (the j_asof ns→µs contract),
    * so rows hash-compare exactly.
    *
    * Plan: the lag window and the running-sum window share ONE user
    * exchange, and the per-(user, session) aggregate rides the same
    * clustering — hashpartitioning(user) satisfies the (user, sess)
    * grouping — so the whole query is a single shuffle plus the
    * output-contract orderBy. At 100 TB sessions never funnel: every
    * stage is per-user local. */
  val wSessionize: Entry = Entry("w_sessionize",
    (s, d) => {
      val gapUs = 1800L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t_us"))
        .withColumn("new_sess",
          when(lag(col("t_us"), 1).over(w).isNull ||
            col("t_us") - lag(col("t_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
        .withColumn("sess", sum(col("new_sess")).over(wsum))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"),
          min(col("t_us")).as("t_start"), max(col("t_us")).as("t_end"))
        .withColumn("duration_us", col("t_end") - col("t_start"))
        .orderBy("user_id", "sess")
    },
    Some("""WITH e AS (SELECT user_id, event_id,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us FROM events),
      |f AS (SELECT user_id, event_id, t_us,
      |  CASE WHEN lag(t_us) OVER w IS NULL
      |       OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
      |g AS (SELECT user_id, t_us,
      |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM f)
      |SELECT user_id, sess, count(*) AS n_events,
      | min(t_us) AS t_start, max(t_us) AS t_end,
      | max(t_us) - min(t_us) AS duration_us
      |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Mergeable-sketch roll-up: per-quarter distinct customers via HLL,
    * computed BOTH ways — monthly sketches union-merged up to quarters
    * (`hll_union_agg`) and directly per quarter (`hll_sketch_agg`) —
    * plus the exact count. GATE CORRECTED r11: the original claim that
    * merge-then-estimate is BIT-IDENTICAL to direct estimation is
    * false once sketches leave exact (SET/coupon) mode — DataSketches
    * unions promote through an HLL_8 gadget, so at sf0.01 quarterly
    * cardinalities (~460–500, past the estimation boundary) the two
    * estimates drift by up to ~1.1% (measured; they ARE identical in
    * the exact regime, which is why the sf0.001 spec and the 700-
    * distinct slice test never caught it, and the rows-only driver
    * check could not). This latent false gate is precisely what the
    * r11 gate-literal conversion surfaced. The honest mergeability
    * contract: merged and direct estimates within 2.5% of each other
    * (2× the measured worst) AND both within 5% of exact (default
    * lgK=12 ⇒ ~1.6% typical). The estimates fold into `quality_ok`
    * and the hashed result is the deterministic spine (y, q, n_exact)
    * plus the gate asserted literally true by the oracle —
    * ORACLE-GREEN since r11 (see g_approx_distinct); the sketch
    * counterpart of `o_incremental_agg`'s exact state merge, and the
    * third corner of the sketch family (Bloom = membership,
    * Misra–Gries = frequency, HLL = cardinality).
    *
    * 100 TB story: the monthly sketch table is (periods × 4 KiB) —
    * re-aggregating distinct counts to ANY coarser period (quarter,
    * year, rolling window) reads sketches, never the fact table, the
    * exact pattern warehouse "distinct count cube" layers use. */
  val gHllMergeable: Entry = Entry("g_hll_mergeable",
    (s, d) => {
      val base = ord(s, d).select(year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"), col("o_custkey"))
      val monthly = base.groupBy("y", "q", "m")
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val merged = monthly.groupBy("y", "q")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      // SPLIT aggregation (r18 optimization, same defect as
      // g_approx_distinct): hll_sketch_agg + countDistinct in one agg
      // rode the (y, q, o_custkey) pre-aggregation — a serialized
      // DataSketches buffer per CUSTOMER×quarter group through the
      // first exchange, in a non-codegen ObjectHashAggregate. Split,
      // the exact branch is a pure codegen HashAggregate over narrow
      // longs and the sketch branch ships one partial sketch per
      // (y, q) per task. The broadcast estimate frames are
      // periods-sized. Estimates stay within the 6%/5% gate bounds
      // regardless of merge grouping (HLL state is a register max).
      val direct = base.groupBy("y", "q")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est_direct"))
      val exact = base.groupBy("y", "q")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(broadcast(direct), Seq("y", "q"))
        .join(broadcast(merged), Seq("y", "q"))
        // merged-vs-direct bound = 6%: ABOVE the estimator's combined
        // 1σ drift envelope (2·1.04/√4096 ≈ 3.2% at lgK=12 — the r11
        // review flagged the earlier 2.5%, set from one measured
        // datapoint, as falsely alarmable on a healthy sketch pair at
        // another SF), while still far below what a broken merge
        // produces; each estimate separately stays within 5% of exact
        .withColumn("quality_ok",
          abs(col("est_merged") - col("est_direct")) * 100 <= col("est_direct") * 6 &&
            abs(col("est_direct") - col("n_exact")) * 20 <= col("n_exact") &&
            abs(col("est_merged") - col("n_exact")) * 20 <= col("n_exact"))
        .select(col("y"), col("q"), col("n_exact"), col("quality_ok"))
        .orderBy("y", "q")
    },
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS y,
      | CAST(quarter(o_orderdate) AS INT) AS q,
      | count(DISTINCT o_custkey) AS n_exact,
      | TRUE AS quality_ok
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Mergeable quantile-sketch roll-up ([[graft.operators.KllSketch]],
    * the custom-Aggregator counterpart of g_hll_mergeable): per-group
    * KLL sketches of l_extendedprice built in one pass, then the
    * group partials MERGED (never re-scanning facts) into a corpus
    * sketch — the day → month percentile rollup Spark's own
    * approx_percentile cannot express because it exposes no storable
    * partial. Sketch content is arrival-order dependent — inherent to
    * mergeable quantile sketches — so the estimates fold into the
    * falsifiable gate and the entry is ORACLE-GREEN since r11 via the
    * gate-literal pattern (see g_approx_distinct): every estimate must
    * satisfy the exact ±2%-RANK bound (the guarantee KllSketchSpec
    * proves at 50k values), verified by rank COUNTING — |{x<v̂}| may
    * not overshoot (q+eps)·n and |{x≤v̂}| may not undershoot (q−eps)·n,
    * tie-robust — and each sketch's count must equal the exact group
    * count; a lost row or a broken merge flips quality_ok to false,
    * and the oracle asserts the gate literally true over the
    * deterministic (group, count) spine.
    *
    * 100 TB plan shape: the sketch agg is a standard partial+final
    * ObjectHashAggregate — per-partition reduce, K·log(n/K)-double
    * states on the wire, one group-key exchange — and the
    * group-cardinality state frame is collected to the driver where
    * the estimates and the corpus roll-up are plain arithmetic (the
    * sketch-coordinator pattern; what crosses the wire is sketches,
    * never facts). Facts are scanned once for the sketches and once
    * for the gate's rank counters (conditional sums against the
    * broadcast estimate frame — O(n) map work, NO per-group sort; the
    * former exact-percentile bracket was the entry's entire 6.8 s). */
  val gQuantileSketch: Entry = Entry("g_quantile_sketch",
    (s, d) => {
      import s.implicits._
      import graft.operators.KllSketch
      val eps = 0.02
      val qs = Seq(0.25, 0.5, 0.75, 0.95)
      // ONE fact scan builds the per-group sketches (udaf wrapper =
      // partial+final ObjectHashAggregate, no typed-tuple pipeline);
      // the |groups|-row state frame is COLLECTED — the classic sketch
      // coordinator pattern, and the entire point of a mergeable
      // sketch: what crosses to the driver is K·log(n/K) doubles per
      // group, never facts. Estimates and the corpus roll-up are then
      // driver-side arithmetic on those states.
      val sk = udaf(new KllSketch.SketchAgg[Double](identity))
      val states = li(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
        .groupBy("l_returnflag").agg(sk(col("v")).as("state"))
        .as[(String, KllSketch.KllState)].collect()
      def estRow(g: String, st: KllSketch.KllState) = {
        val e = KllSketch.quantiles(st, qs)
        (g, st.count, e(0), e(1), e(2), e(3))
      }
      val perGroup = states.toSeq.map { case (g, st) => estRow(g, st) }
      // merge AFTER the per-group estimates: merge() mutates its left
      // argument (the Aggregator buffer contract)
      val merged = states.map(_._2).reduce(KllSketch.merge)
      val est = (perGroup :+ estRow("ALL", merged))
        .toDF("g", "n_sketch", "e25", "e50", "e75", "e95")
      // The exact gate, by RANK COUNTING (r9: replaces the former exact
      // `percentile` brackets): a KLL estimate for quantile q is within
      // ±eps RANK error iff |{x ≤ v̂}| ∈ [(q−eps)·n, (q+eps)·n] — the
      // same guarantee checked DIRECTLY, with one conditional-sum scan
      // instead of a per-group sort (the former gate was the entry's
      // cost: 6.8 s of an 8-point exact percentile over a rollup).
      // Each fact row expands to its group key and 'ALL' (map-side 2×),
      // joins the broadcast 5-row estimate frame, and ONE partial-agg
      // exchange carries the 8 rank counters per group.
      val base = li(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v"))
        .select(explode(array(col("l_returnflag"), lit("ALL"))).as("g"), col("v"))
      // tie-robust two-sided rank: strictly-below count must not
      // overshoot, at-or-below count must not undershoot — correct for
      // any run of duplicates AT the estimated value
      def nLe(e: String) = sum(when(col("v") <= col(e), 1L).otherwise(0L))
      def nLt(e: String) = sum(when(col("v") < col(e), 1L).otherwise(0L))
      val ranks = base.join(broadcast(est), Seq("g"))
        .groupBy("g")
        .agg(count(lit(1)).as("n_exact"),
          nLe("e25").as("le25"), nLt("e25").as("lt25"),
          nLe("e50").as("le50"), nLt("e50").as("lt50"),
          nLe("e75").as("le75"), nLt("e75").as("lt75"),
          nLe("e95").as("le95"), nLt("e95").as("lt95"))
      est.join(broadcast(ranks), Seq("g"))
        .withColumn("quality_ok",
          col("n_sketch") === col("n_exact") &&
            qs.zip(Seq("25", "50", "75", "95")).map { case (q, t) =>
              col(s"le$t") >= (lit(q - eps) * col("n_exact")) &&
                col(s"lt$t") <= (lit(q + eps) * col("n_exact"))
            }.reduce(_ && _))
        .select(col("g"), col("n_sketch"), col("quality_ok"))
        .orderBy("g")
    },
    Some("""SELECT l_returnflag AS g, count(*) AS n_sketch,
      | TRUE AS quality_ok
      |FROM lineitem GROUP BY 1
      |UNION ALL
      |SELECT 'ALL' AS g, count(*) AS n_sketch, TRUE AS quality_ok
      |FROM lineitem
      |ORDER BY g""".stripMargin))

  /** Incremental aggregate maintenance: merge of partial aggregation
    * states ≡ full recompute — the algebra behind every incremental
    * materialized view and streaming rollup. Base (orders before 1997)
    * and delta (1997+) are aggregated separately into mergeable states
    * (count, EXACT-DECIMAL sum, min, max — kept decimal until AFTER
    * the merge so there is exactly one double-rounding, same as the
    * recompute's), full-outer merged per group, and the oracle
    * recomputes over the whole table — proving merge-consistency, not
    * replaying the merge. At 100 TB the delta is a day's partition and
    * both state frames are group-cardinality-sized; the fact table is
    * touched once per slice, never re-scanned on merge. */
  val oIncrementalAgg: Entry = Entry("o_incremental_agg",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(18, 2)
      def state(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy(col("o_orderpriority").as("pri")).agg(
          count(lit(1)).as(s"n_$tag"),
          CentsSum.sum(col("o_totalprice")).as(s"s_$tag"),
          min(col("o_totalprice")).as(s"mn_$tag"),
          max(col("o_totalprice")).as(s"mx_$tag"))
      val cut = "1997-01-01"
      val base = state(ord(s, d).filter(col("o_orderdate") < cut), "b")
      val delta = state(ord(s, d).filter(col("o_orderdate") >= cut), "d")
      base.join(delta, Seq("pri"), "full_outer")
        .select(col("pri"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
          (coalesce(col("s_b"), lit(0).cast(dec)) +
            coalesce(col("s_d"), lit(0).cast(dec))).cast("double").as("sum_total"),
          least(coalesce(col("mn_b"), col("mn_d")),
            coalesce(col("mn_d"), col("mn_b"))).as("min_price"),
          greatest(coalesce(col("mx_b"), col("mx_d")),
            coalesce(col("mx_d"), col("mx_b"))).as("max_price"))
        .orderBy("pri")
    },
    Some(s"""SELECT o_orderpriority AS pri, count(*) AS n,
      | ${sqlDsum("o_totalprice")} AS sum_total,
      | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))

  /** RANGE-frame window: 30-day trailing spend per customer — the
    * value-based frame (vs wRunningSum's ROWS frame) over epoch
    * seconds, exact-decimal summed. */
  val wRangeFrame: Entry = Entry("w_range_frame",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ts"))
        .rangeBetween(-30L * 86400, 0)
      ord(s, d)
        .withColumn("ts", unix_timestamp(col("o_orderdate")))
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
            .cast("double").as("spend_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |   OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
      |         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin))

  /** Distribution window functions: ntile / percent_rank / cume_dist,
    * PARTITIONED by priority (a global unpartitioned rank would funnel
    * the table through one task — the scale anti-pattern). Divisions
    * are exact rationals of rank and n, rounded to pin the quotient. */
  /** Distribution windows in exact integer ppm (r16 sf10 rehearsal
    * find): `round(percent_rank(), 6)` hit 93 of 15M rows whose
    * (rank−1)/(n−1) double landed exactly on a 6-dp decimal midpoint,
    * where Spark's BigDecimal HALF_UP and DuckDB's double rounding
    * resolve to DIFFERENT 6th digits — unreachable at shipped SFs
    * (zero midpoints below 3M-row partitions), deterministic-divergent
    * above. The gate now spells both fractions as exact integer
    * floor-ppm ((rank−1)·10⁶ div (n−1), rank·10⁶ div n) — pure BIGINT
    * arithmetic, no float rounding anywhere; percent_rank()/cume_dist()
    * stay the production spelling, this is the oracle-exact twin (the
    * g_simpson_ppm discipline). The window order (price, orderkey) is
    * total, so rank ≡ row_number and the ppm identities are exact. */
  val wDistribution: Entry = Entry("w_distribution",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wp = Window.partitionBy(col("o_orderpriority"))
      ord(s, d).select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          rank().over(w).as("rnk"),
          count(lit(1)).over(wp).as("cnt"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("quartile"),
          // rank() is IntegerType and ×10⁶ wraps 32-bit silently under
          // non-ANSI — widen BEFORE the multiply
          expr("CASE WHEN cnt = 1 THEN CAST(0 AS BIGINT) " +
            "ELSE (CAST(rnk AS BIGINT) - 1) * 1000000 div (cnt - 1) END")
            .as("pct_rank_ppm"),
          expr("CAST(rnk AS BIGINT) * 1000000 div cnt").as("cume_ppm"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
      | CAST(ntile(4) OVER w AS INT) AS quartile,
      | CAST(CASE WHEN count(*) OVER p = 1 THEN 0
      |   ELSE (rank() OVER w - 1) * 1000000 // (count(*) OVER p - 1)
      |   END AS BIGINT) AS pct_rank_ppm,
      | CAST(rank() OVER w * 1000000 // count(*) OVER p AS BIGINT) AS cume_ppm
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
      |       p AS (PARTITION BY o_orderpriority)
      |ORDER BY o_orderkey""".stripMargin))

  /** Ordered-funnel conversion over the events stream: which stage of
    * view → click → purchase each user reached, a stage counting only
    * AFTER the previous one (see [[graft.operators.Funnel]] — running-
    * max flags over ONE per-user window; the two windows and the final
    * per-user aggregate share a single exchange). The oracle replays
    * the same running flags; FunnelSpec pins the ordering semantics
    * (purchase-before-view ≠ conversion) on constructed streams.
    * The 48h analysis window (filter pushed into the scan) is what
    * makes the funnel discriminate — over the full synthetic history
    * every user converts (verified: stages {0,1,2,3} all occupied at
    * sf0.001 AND sf0.01 under this cut). */
  val wFunnel: Entry = Entry("w_funnel_stages",
    (s, d) => graft.operators.Funnel.stages(
        tbl(s, d, "events")
          .filter(col("ts") < to_timestamp(lit("2024-01-03 00:00:00")))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      .select(col("user_id"), col("reached_view"), col("reached_click"),
        col("reached_purchase"), col("stage"))
      .orderBy("user_id"),
    Some("""WITH ev AS (SELECT * FROM events
      |  WHERE ts < TIMESTAMP '2024-01-03 00:00:00'),
      |e1 AS (SELECT user_id, ts, event_id, event_type,
      |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_view
      | FROM ev),
      |e2 AS (SELECT *,
      |  max(CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_click
      | FROM e1)
      |SELECT user_id,
      | CAST(max(seen_view) AS INT) AS reached_view,
      | CAST(max(seen_click) AS INT) AS reached_click,
      | CAST(max(CASE WHEN event_type = 'purchase' AND seen_click = 1
      |               THEN 1 ELSE 0 END) AS INT) AS reached_purchase,
      | CAST(max(seen_view) + max(seen_click)
      |   + max(CASE WHEN event_type = 'purchase' AND seen_click = 1
      |              THEN 1 ELSE 0 END) AS INT) AS stage
      |FROM e2 GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** SCD-2 history build — turn a change log (each order = a new state
    * version per customer) into validity intervals: valid_from = the
    * change timestamp, valid_to = the NEXT change (lead), NULL = the
    * open current version. THE slowly-changing-dimension construction
    * every warehouse load runs; one lead() over the (custkey; date,
    * orderkey) window — a single shuffle on the dimension key, and at
    * 100 TB the partition is per-customer-history-sized (bounded),
    * never global. */
  val wScd2: Entry = Entry("w_scd2_history",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("valid_from"), col("o_orderkey"))
      ord(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderstatus"), col("o_orderdate").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull.cast("int"))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderstatus,
      | o_orderdate AS valid_from,
      | lead(o_orderdate) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey) AS valid_to,
      | CAST(CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey) IS NULL THEN 1 ELSE 0 END AS INT)
      |   AS is_current
      |FROM orders ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin))

  /** Equi-width histogram (the profiling/binning primitive): bucket =
    * floor(price / 5000) clamped to a last overflow bucket — identical
    * IEEE division in both engines, so even exact-boundary prices land
    * in the same bucket. Partial+final agg on a handful of keys; the
    * exchange carries one row per bucket per partition. */
  val gHistogram: Entry = Entry("g_histogram",
    (s, d) => li(s, d)
      .select(least(floor(col("l_extendedprice") / 5000.0), lit(23.0))
        .cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", (col("bucket") * 5000.0))
      .select(col("bucket"), col("bucket_lo"), col("n"))
      .orderBy("bucket"),
    Some("""SELECT CAST(least(floor(l_extendedprice / 5000.0), 23.0) AS INT) AS bucket,
      | CAST(CAST(least(floor(l_extendedprice / 5000.0), 23.0) AS INT)
      |   * CAST(5000.0 AS DOUBLE) AS DOUBLE) AS bucket_lo,
      | count(*) AS n
      |FROM lineitem GROUP BY 1, 2 ORDER BY bucket""".stripMargin))

  /** Weekly cohort retention — THE product-analytics matrix: users
    * grouped by first-seen week (cohort), counted in every later week
    * they were active; week_no = whole weeks since the cohort week
    * (both engines truncate weeks to ISO Monday, so the day gap is
    * always a multiple of 7 and the integer division is exact).
    * Plan shape at 100 TB: ONE shuffle on user_id computes, per user,
    * the cohort (min) AND the distinct active-week set in the same
    * partial-aggregating exchange (collect_set is bounded by the
    * retention horizon — weeks, not events); the explode is map-side;
    * the second exchange aggregates |cohorts|×|weeks| cells. After the
    * per-user collapse each user contributes at most one row per week,
    * so the cell count is a plain count, not a count-distinct Expand. */
  val wRetention: Entry = Entry("w_retention_cohort",
    (s, d) => {
      val e = tbl(s, d, "events").select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      val perUser = e.groupBy("user_id")
        .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
      perUser.select(col("cohort"), explode(col("wks")).as("wk"))
        .groupBy(col("cohort"), expr("datediff(wk, cohort) div 7").as("week_no"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "week_no")
    },
    Some("""WITH e AS MATERIALIZED (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, wk FROM e)
      |SELECT f.cohort, date_diff('day', f.cohort, a.wk) // 7 AS week_no,
      | count(*) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort, week_no""".stripMargin))

  /** Two-sample Kolmogorov–Smirnov statistic — the distribution-drift
    * check a data pipeline runs between two slices (here: click vs
    * purchase order values): D = max |F_click(x) − F_purchase(x)| over
    * the pooled sample, exact (no sketch). Built scale-shaped: NO
    * global row window — rows get a fixed-width value bucket, the
    * cumulative counts split into a RANGE-frame window WITHIN each
    * bucket (peers at equal value count together, standard
    * ≤-with-ties KS) plus per-bucket prefix offsets computed on the
    * |buckets|-row totals table and broadcast back — the same
    * two-pass carry as the scalable forward fill. Every per-row term
    * is exact-integer counts → two IEEE divisions, so both engines
    * compute bit-identical D. */
  val gKsDrift: Entry = Entry("g_ks_drift",
    (s, d) => {
      // ONE fact scan + ONE fact exchange: both consumers (the in-bucket
      // cumulative window and the per-bucket totals agg) branch AFTER an
      // explicit repartition on bkt, so their shared scan+exchange
      // prefix canonicalizes identically and ReuseExchange dedups it —
      // the r6 first cut re-scanned events for the totals and again for
      // the grand totals (3 fact scans; at 100 TB, 3x the IO)
      val x = tbl(s, d, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(col("value"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("ia"))
        .withColumn("bkt", floor(col("value") / 10.0).cast("long"))
        // explicit: the inner join on bkt infers isnotnull(bkt) and
        // pushes it into ONE branch's scan but not through the other's
        // windows — the asymmetric filters de-canonicalize the shared
        // exchange and block ReuseExchange. Stating it here puts the
        // identical filter in both branches. (Null-bkt rows — null
        // value — can't survive the inner join either way.) The oracle
        // states the same `value IS NOT NULL` in its x CTE so both
        // engines exclude null samples from n_a/n_b by construction
        // (r6 parity held only because events.value is never null).
        .where(col("bkt").isNotNull)
        .repartition(col("bkt"))
      val wIn = Window.partitionBy("bkt").orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = x
        .withColumn("ca_in", sum(col("ia")).over(wIn))
        .withColumn("cb_in", sum(lit(1L) - col("ia")).over(wIn))
      // per-bucket totals DERIVED FROM the windowed frame (the
      // forwardFillScalable carry pattern, Ingest.scala): the in-bucket
      // cumulative at the bucket's top value IS the bucket total, so
      // max(ca_in) avoids a second aggregation branch over x — both
      // consumers share cum's scan+exchange prefix and ReuseExchange
      // dedups it (aggregating x directly gave the totals branch a
      // narrower pruned projection, a non-matching exchange, and a
      // second full fact scan — verified on the physical plan). Prefix
      // offsets AND grand totals are windows over this TINY table (56
      // rows at this data's value range), never over fact rows.
      val tot = cum.groupBy("bkt")
        .agg(max(col("ca_in")).as("ta"), max(col("cb_in")).as("tb"))
      val wB = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy()
      val offs = tot.select(col("bkt"),
        coalesce(sum(col("ta")).over(wB), lit(0L)).as("off_a"),
        coalesce(sum(col("tb")).over(wB), lit(0L)).as("off_b"),
        sum(col("ta")).over(wAll).as("n_a"),
        sum(col("tb")).over(wAll).as("n_b"))
      cum.join(broadcast(offs), "bkt")
        .groupBy("n_a", "n_b")
        .agg(round(max(abs(
            (col("ca_in") + col("off_a")).cast("double") / col("n_a") -
            (col("cb_in") + col("off_b")).cast("double") / col("n_b"))), 6)
          .as("ks_stat"))
        .select(col("ks_stat"), col("n_a"), col("n_b"))
    },
    Some("""WITH x AS MATERIALIZED (SELECT value,
      |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      | FROM events WHERE event_type IN ('click', 'purchase')
      |   AND value IS NOT NULL),
      |n AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
      |             CAST(sum(1 - ia) AS BIGINT) AS n_b FROM x),
      |c AS (SELECT sum(ia) OVER w AS ca, sum(1 - ia) OVER w AS cb
      | FROM x WINDOW w AS (ORDER BY value
      |   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT round(max(abs(CAST(ca AS DOUBLE) / n_a
      |  - CAST(cb AS DOUBLE) / n_b)), 6) AS ks_stat, n_a, n_b
      |FROM c, n GROUP BY n_a, n_b""".stripMargin))

  /** Pearson chi-squared drift on a CATEGORICAL distribution — the
    * companion to [[gKsDrift]] (continuous): does the event-type mix
    * differ between two time slices (odd vs even day-of-month)? The
    * 2×k contingency test, per-cell term (o·N − r·c)² / (r·c·N) — the
    * algebraic (o−e)²/e with the rational e = r·c/N cleared, so every
    * input to the IEEE ops is an exact integer count and both engines
    * produce bit-identical terms. The cross-bucket sum goes through
    * round(·,9)→DECIMAL so it is order-independent (double addition is
    * not associative; decimal addition is). Scale shape: one partial-
    * aggregating shuffle to the k·2-row contingency table; the margin
    * totals are windows/aggs over that TINY table, broadcast back;
    * fact rows are touched once, map-side. */
  val gChi2Drift: Entry = Entry("g_chi2_drift",
    (s, d) => {
      // ONE fact scan: the k·2-row contingency table is aggregated once
      // and every margin (row/column/grand totals) is a window over that
      // TINY table — the r6 first cut derived each margin from a
      // separate branch that re-aggregated the fact rows (5 fact scans).
      // The table is DENSIFIED by construction (r6 advisor fix): the
      // period domain is statically {0, 1} (day % 2), so a per-type
      // conditional aggregation yields BOTH period cells for every
      // observed event_type — a category present in only one period
      // contributes its o=0 cell, whose nonzero expected-count term
      // (o−e)²/e = r·c/N is exactly the signal that a vanished
      // category carries (dropping it understated chi² precisely when
      // drift is strongest). No cross join, no extra scan: zero cells
      // appear from the stack, not from a dimension join.
      val byType = tbl(s, d, "events")
        .select(col("event_type"), (dayofmonth(col("ts")) % 2).as("period"))
        .groupBy("event_type").agg(
          sum(when(col("period") === 0, 1L).otherwise(0L)).as("o0"),
          sum(when(col("period") === 1, 1L).otherwise(0L)).as("o1"))
      val cells = byType
        .select(col("event_type"), expr("stack(2, 0, o0, 1, o1) AS (period, o)"))
        .withColumn("r", sum(col("o")).over(Window.partitionBy("period")))
        .withColumn("c", sum(col("o")).over(Window.partitionBy("event_type")))
        .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      // diff is exact BIGINT (o·N ≤ ~1e15 at sf100); the square happens
      // in DOUBLE (one correctly-rounded multiply — Math.pow is only
      // 1-ulp-accurate, a*a is exact IEEE in both engines), and the
      // denominator multiplies three ≤2^53-exact doubles so it never
      // overflows at any scale. An all-empty period (r=0) would make
      // e=0 for its whole row — those cells are excluded per the
      // Pearson convention (both engines state the same guard).
      val diff = (col("o") * col("n") - col("r") * col("c")).cast("double")
      val term = when(col("r") === 0 || col("c") === 0, lit(0.0))
        .otherwise(diff * diff /
          (col("r").cast("double") * col("c").cast("double") * col("n").cast("double")))
      cells
        .groupBy("n")
        .agg(round(sum(round(term, 9).cast("decimal(38,12)")).cast("double"), 6)
            .as("chi2"),
          ((countDistinct(col("period")) - 1) *
           (countDistinct(col("event_type")) - 1)).as("dof"))
        .select(col("chi2"), col("dof"), col("n"))
    },
    Some("""WITH c0 AS MATERIALIZED (SELECT event_type,
      |  CAST(sum(CASE WHEN day(ts) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o0,
      |  CAST(sum(CASE WHEN day(ts) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1
      | FROM events GROUP BY 1),
      |cells AS MATERIALIZED (SELECT event_type, 0 AS period, o0 AS o FROM c0
      | UNION ALL SELECT event_type, 1 AS period, o1 FROM c0),
      |r AS (SELECT period, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      |c AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |dof AS (SELECT CAST((count(DISTINCT period) - 1) *
      |   (count(DISTINCT event_type) - 1) AS BIGINT) AS dof FROM cells)
      |SELECT round(CAST(sum(CAST(round(
      |    CASE WHEN r = 0 OR c = 0 THEN 0.0 ELSE
      |    CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
      |    / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE)) END,
      |   9) AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2, dof, n
      |FROM cells JOIN r USING (period) JOIN c USING (event_type), n, dof
      |GROUP BY dof, n""".stripMargin))

  /** Running-peak / maximum-drawdown — the risk statistic every
    * portfolio-, inventory-, or quota-monitoring pipeline computes over
    * a per-key value series: walk the series in time order, track the
    * running peak of the cumulative position, and report the deepest
    * peak-to-trough fall. The position here is the signed order flow
    * (even orderkeys add, odd subtract — deterministic, and guarantees
    * genuine drawdowns exist), all in exact BIGINT cents so both
    * engines agree bit-for-bit.
    *
    * Scale shape: ONE o_custkey exchange serves the running-sum window,
    * the running-max window (same spec → same Window node), AND the
    * final per-customer groupBy (hash(custkey) already satisfies the
    * grouping). Per-key series length is bounded by orders-per-customer
    * — no global window anywhere. */
  val wDrawdown: Entry = Entry("w_drawdown",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord(s, d)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          CentsSum.cents(col("o_totalprice")).as("v"))
        .withColumn("delta",
          when(col("o_orderkey") % 2 === 0, col("v")).otherwise(-col("v")))
        .withColumn("equity", sum(col("delta")).over(w))
        .withColumn("peak", max(col("equity")).over(w))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          max(col("peak")).as("peak_cents"),
          max(col("peak") - col("equity")).as("max_drawdown_cents"))
        .orderBy("o_custkey")
    },
    Some("""WITH x AS (SELECT o_custkey, o_orderdate, o_orderkey,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END *
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS delta
      | FROM orders),
      |c1 AS (SELECT o_custkey, o_orderdate, o_orderkey,
      |  sum(delta) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
      | FROM x),
      |c2 AS (SELECT o_custkey, equity,
      |  max(equity) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      | FROM c1)
      |SELECT o_custkey, count(*) AS n_orders,
      | CAST(max(peak) AS BIGINT) AS peak_cents,
      | CAST(max(peak - equity) AS BIGINT) AS max_drawdown_cents
      |FROM c2 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin))

  /** One-sided CUSUM change detection (Page 1954) over each user's
    * event-value stream — the classic drift monitor a data-quality
    * pipeline runs per source: S_i = max(0, S_{i−1} + (x_i − k)),
    * alarm when S crosses h. The recursion is NOT a window frame, but
    * the identity S_i = P_i − min(0, min_{j≤i} P_j) (P = prefix sums
    * of x − k) makes it two stacked windows over ONE exchange — the
    * [[wDrawdown]] discipline. Reference-plus-allowance k = 60.00 and
    * threshold h = 200.00, both in exact BIGINT cents (DECIMAL(18,2)
    * ·100, the engine-agreed integerization).
    *
    * Scale shape: ONE user_id exchange serves the prefix-sum window,
    * the running-min window (same spec → same Window node), and the
    * per-user rollup; series length is bounded per user, no global
    * window. */
  val wCusumDrift: Entry = Entry("w_cusum_drift",
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          (CentsSum.cents(col("value"))
            - 6000L).as("delta"))
        .withColumn("p", sum(col("delta")).over(w))
        .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(w)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(col("cusum")).as("max_cusum_cents"),
          sum(when(col("cusum") > 20000L, 1L).otherwise(0L)).as("n_alarms"))
        .orderBy("user_id")
    },
    Some("""WITH x AS (SELECT user_id, ts, event_id,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) - 6000 AS delta
      | FROM events),
      |c1 AS (SELECT user_id, ts, event_id,
      |  sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      | FROM x),
      |c2 AS (SELECT user_id,
      |  p - least(0, min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
      | FROM c1)
      |SELECT user_id, count(*) AS n_events,
      | CAST(max(cusum) AS BIGINT) AS max_cusum_cents,
      | CAST(sum(CASE WHEN cusum > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
      |FROM c2 GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Day-of-week SEASONAL INDEX — the classical decomposition ratio a
    * forecasting/anomaly pipeline computes before de-seasonalizing a
    * metric: per ISO weekday, mean order value over the global mean,
    * in integer ppm. Spelled engine-agnostically: Spark's
    * `weekday()+1` = DuckDB's `isodow()` (Monday=1), cents via the
    * DECIMAL(18,2)·100 integerization, and the ratio
    * sum_cents·tot_n·10⁶ div (n·tot_cents) runs in DECIMAL(38)/
    * HUGEINT (the r11 overflow-class rule: both cross-products pass
    * 2^63 long before 100 TB).
    *
    * Plan shape: ONE partial-agg exchange to the 7-row weekday
    * census; totals are single-partition windows over those 7 rows.
    * The fact table is scanned once. */
  val wSeasonalIndex: Entry = Entry("w_seasonal_index",
    (s, d) => {
      val day = ord(s, d).select(
        expr("weekday(o_orderdate) + 1").cast("long").as("isodow"),
        CentsSum.cents(col("o_totalprice")).as("cents"))
        .groupBy("isodow")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val all = Window.partitionBy()
      day
        .withColumn("tot_n", sum(col("n_orders")).over(all))
        .withColumn("tot_cents", sum(col("sum_cents")).over(all))
        .select(col("isodow"), col("n_orders"), col("sum_cents"),
          expr("""CAST(CAST(sum_cents AS DECIMAL(38,0)) * tot_n * 1000000
            | div (CAST(n_orders AS DECIMAL(38,0)) * tot_cents) AS BIGINT)"""
            .stripMargin).as("index_ppm"))
        .orderBy("isodow")
    },
    Some("""WITH c AS (SELECT CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      | FROM orders),
      |g AS (SELECT isodow, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents FROM c GROUP BY 1),
      |w AS (SELECT isodow, n_orders, sum_cents,
      |  CAST(sum(n_orders) OVER () AS BIGINT) AS tot_n,
      |  CAST(sum(sum_cents) OVER () AS BIGINT) AS tot_cents FROM g)
      |SELECT isodow, n_orders, sum_cents,
      | CAST(CAST(sum_cents AS HUGEINT) * tot_n * 1000000
      |   // (CAST(n_orders AS HUGEINT) * tot_cents) AS BIGINT) AS index_ppm
      |FROM w ORDER BY isodow""".stripMargin))

  /** Pareto / ABC classification — the 80-15-5 inventory cut every
    * curation or procurement pipeline runs: rank customers by revenue,
    * take the cumulative revenue share walking down the ranking, and
    * class A = the head covering 80% of revenue, B = to 95%, C = tail.
    * Shares are integer parts-per-million (cum_cents·10^6 div total —
    * truncating BIGINT division both engines spell identically), so
    * the class boundaries are exact, not float-fuzzy; at sf1-scale
    * revenue (~2.25e12 cents) the ppm product stays < 2^62.
    *
    * Scale shape: facts collapse to customer-sized rows in ONE
    * partial+final agg; the ranking windows run over that key-sized
    * frame (single-partition window over ~|customers| rows — if even
    * THAT outgrows a task, ens_rank_average's distinct-census
    * cumsum + broadcast-offset carry replaces it move-for-move). */
  val wParetoAbc: Entry = Entry("w_pareto_abc",
    (s, d) => {
      val wCum = Window.orderBy(col("cents").desc, col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy()
      ord(s, d)
        .groupBy("o_custkey")
        .agg((CentsSum.sum(col("o_totalprice")) * 100).cast("long").as("cents"))
        .withColumn("cum", sum(col("cents")).over(wCum))
        .withColumn("tot", sum(col("cents")).over(wTot))
        // the share multiply runs in DECIMAL(38,0) (oracle: HUGEINT):
        // cum·10^6 crosses 2^63 once cumulative revenue passes ~$92B —
        // the r11 sf0.3 rehearsal hit exactly that; 128-bit headroom
        // moves the bound past any conceivable corpus
        .withColumn("cum_ppm",
          expr("CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div tot AS BIGINT)"))
        .withColumn("abc_class",
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B")
            .otherwise("C"))
        .select(col("o_custkey"), col("cents"), col("cum_ppm"), col("abc_class"))
        .orderBy("o_custkey")
    },
    Some("""WITH rev AS (SELECT o_custkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
      | FROM orders GROUP BY 1),
      |c AS (SELECT o_custkey, cents,
      |  CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |  CAST(sum(cents) OVER () AS BIGINT) AS tot
      | FROM rev)
      |SELECT o_custkey, cents,
      | CAST(CAST(cum AS HUGEINT) * 1000000 // tot AS BIGINT) AS cum_ppm,
      | CASE WHEN CAST(cum AS HUGEINT) * 1000000 // tot <= 800000 THEN 'A'
      |      WHEN CAST(cum AS HUGEINT) * 1000000 // tot <= 950000 THEN 'B'
      |      ELSE 'C' END AS abc_class
      |FROM c ORDER BY o_custkey""".stripMargin))

  val all: Seq[Entry] = Seq(
    gCube, gRollup, gUnpivot, gCorrRegr, oExcept, oIntersect, oUpsert,
    oSnapshotDiff, gSkewAudit, gIntegrityAudit, gTableStats, oZorder, oDistinct, gApproxDistinct,
    gApproxPercentile, gSampleStrat,
    g1FoldAssign, g1FoldAssignHash, wRunningSum, gGroupingSets, gCollectSet,
    gPercentile, wRangeFrame, wDistribution, wFunnel, wScd2, gHistogram,
    wRetention, gKsDrift, gChi2Drift, gWinsorize, wEwma, wTimeWeighted,
    gSampleWeighted, wAnomalyMad, wGapIslands, wSessionize, oIncrementalAgg,
    gHllMergeable, gQuantileSketch, gSimpson, wRollingMedian, oCdcApply,
    oCompactionPlan, wFirstLast, gCmsSketch, wRunningDistinct,
    wDrawdown, wParetoAbc, wCusumDrift, wSeasonalIndex)
}
