package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** SURVEY.md §2 operator inventory → named, oracle-checked queries over
  * /root/testdata. Each entry: (name, Spark plan, DuckDB oracle SQL).
  * Naming follows the §2 op ids (p* projections, a* array ops, g* aggs,
  * j* joins, w* windows, o* sort/set, f* scalar funcs, s* sources/sinks,
  * st* streaming-shaped, dd* dedup, sim* similarity, tx* text, mm*
  * multimodal, ml* MLlib).
  *
  * Determinism contract (SURVEY.md §5.1): money and quantity doubles sum
  * exactly at their DECIMAL(18,2) value (`Tables.dsum`/`davg`/`dsumProd`,
  * one native cents-sum aggregate), round(…,6) for per-row float math,
  * total-order ORDER BY with unique tie-break in BOTH engines, no engine
  * RNG in any oracle'd query (randomness = explicit integer LCG
  * arithmetic).
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame
  final case class Entry(name: String, fn: Q, oracle: Option[String])

  private def li(s: SparkSession, d: String) = tbl(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = tbl(s, d, "orders")
  private def cust(s: SparkSession, d: String) = tbl(s, d, "customer")
  private def ev(s: SparkSession, d: String) = tbl(s, d, "events")

  // ---------------------------------------------------------------- batch 1
  /** Flagship: TPC-H Q1-shaped pricing summary (G-family partial+final agg;
    * scan-side: only 7 of 11 lineitem columns read — column pruning). */
  val q1PricingSummary: Entry = Entry("q1_pricing_summary",
    (s, d) => li(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-09-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some(s"""SELECT l_returnflag, l_linestatus,
      | ${sqlDsum("l_quantity")} AS sum_qty,
      | ${sqlDsum("l_extendedprice")} AS sum_base_price,
      | ${sqlDsumProd("l_extendedprice", "1 - l_discount")} AS sum_disc_price,
      | ${sqlDavg("l_quantity")} AS avg_qty,
      | ${sqlDavg("l_discount")} AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** P1: projection + pushed filter (PushedFilters on c_acctbal in the scan). */
  val p1Projection: Entry = Entry("p1_projection",
    (s, d) => cust(s, d)
      .filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
      |WHERE c_acctbal > 5000.0 ORDER BY c_custkey""".stripMargin))

  /** P2: numeric coercion, null on garbage (pandas to_numeric errors='coerce',
    * main.py:55-56) — needs non-ANSI cast (session sets ansi=false). */
  val p2Coerce: Entry = Entry("p2_coerce_null",
    (s, d) => ev(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("double").as("k_num"),
        col("event_type").cast("double").as("bad_cast"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
      | TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_num,
      | TRY_CAST(event_type AS DOUBLE) AS bad_cast
      |FROM events ORDER BY event_id""".stripMargin))

  /** P3/W1: order-dependent forward fill (main.py:57) — here over events
    * with error-rows nulled first, via the two-pass range-bucket fill
    * (no single-task global window; same answer as the naive fill). */
  val p3ForwardFill: Entry = Entry("p3_forward_fill",
    (s, d) => {
      val e = ev(s, d).withColumn("v",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      Ingest.forwardFillScalable(e, "v", "event_id")
        .select(col("event_id"), col("event_type"), col("v").as("v_filled"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type,
      | last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
      |   OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      |FROM events ORDER BY event_id""".stripMargin))

  /** P4: bulk rename (sub_stacking.py:24-25). */
  val p4Rename: Entry = Entry("p4_rename_bulk",
    (s, d) => tbl(s, d, "supplier")
      .toDF("suppkey", "supp_name", "nationkey", "acctbal")
      .orderBy("suppkey"),
    Some("""SELECT s_suppkey AS suppkey, s_name AS supp_name,
      | s_nationkey AS nationkey, s_acctbal AS acctbal
      |FROM supplier ORDER BY suppkey""".stripMargin))

  /** J1: N-way equi-join on small dims — both dims explicitly broadcast
    * (at 100 TB the fact side streams, no shuffle for the dims). */
  val j1Multiway: Entry = Entry("j1_multiway_join",
    (s, d) => cust(s, d)
      .join(broadcast(tbl(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name"),
    Some(s"""SELECT r_name, count(*) AS n_customers,
      | ${sqlDsum("c_acctbal")} AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin))

  /** J-semi: EXISTS — customers with at least one P-status order. */
  val j2Semi: Entry = Entry("j2_semi_join",
    (s, d) => cust(s, d)
      .join(ord(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin))

  /** J-anti: NOT EXISTS — customers with no orders at all. */
  val j3Anti: Entry = Entry("j3_anti_join",
    (s, d) => cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin))

  /** J-skew: salted shuffle join on a deliberately hot key. Every
    * orders row carries one of 5 priorities, so a plain shuffle join
    * funnels ~1/5 of the table through ONE reducer each no matter how
    * many executors exist — the classic skew wall. Skew.saltedJoin
    * spreads each hot key over 16 salted reducers: the exchange keys
    * become (o_orderpriority, __salt). The small side carries a
    * shuffle_hash hint because at test scale Catalyst would broadcast
    * the 5-row dim and skip the exchange this query exists to show (at
    * 100 TB a small-but-not-broadcastable side shuffles naturally).
    * The aggregate proves the salted row multiset is identical to a
    * plain join — which is exactly what the oracle computes. */
  val jSkewSalted: Entry = Entry("j_skew_salted",
    (s, d) => {
      val o = ord(s, d)
      val dim = o.groupBy("o_orderpriority")
        .agg(davg(col("o_totalprice")).as("prio_avg"))
        .hint("shuffle_hash")
      graft.operators.Skew.saltedJoin(
          o.select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
          dim, "o_orderpriority", 16)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          round(max(col("prio_avg")), 6).as("prio_avg"))
        .orderBy("o_orderpriority")
    },
    Some(s"""WITH dim AS (SELECT o_orderpriority, ${sqlDavg("o_totalprice")} AS prio_avg
      | FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, count(*) AS n,
      | ${sqlDsum("o_totalprice")} AS sum_price,
      | round(max(prio_avg), 6) AS prio_avg
      |FROM orders JOIN dim USING (o_orderpriority)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** F-date-spine: generate a contiguous calendar from the data's own
    * min/max order date (sequence + explode — no driver collect; the
    * bounds are a 1-row aggregate crossed in), left join daily order
    * counts onto it, and zero-fill the gaps — the densification every
    * time-series report needs before window math, and the generator
    * (`explode(sequence(...))`) Spark pattern for it. March 1995 only,
    * to keep the gate row count honest; a year-scale spine is the same
    * plan. The spine side is tiny (a month) and broadcast; the count
    * side aggregates before the join so the spine join sees one row
    * per day. */
  val fDateSpine: Entry = Entry("f_date_spine",
    (s, d) => {
      // o_orderdate is stored as a (midnight) timestamp — normalize to
      // DATE so the spine, the join key, and the output column agree
      val o = ord(s, d).select(col("o_orderdate").cast("date").as("day"))
        .where(col("day").between("1995-03-01", "1995-03-31"))
      val bounds = o.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val daily = o.groupBy("day").agg(count(lit(1)).as("n_orders"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("day")
    },
    Some("""WITH o AS MATERIALIZED (SELECT CAST(o_orderdate AS DATE) AS day FROM orders
      |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM o),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
      |daily AS (SELECT day, count(*) AS n_orders FROM o GROUP BY 1)
      |SELECT spine.day, CAST(coalesce(daily.n_orders, 0) AS BIGINT) AS n_orders
      |FROM spine LEFT JOIN daily USING (day)
      |ORDER BY day""".stripMargin))

  /** J-full-outer: snapshot reconciliation — per-customer 1994 spend vs
    * 1995 spend, FULL OUTER on the customer key with coalesced output
    * (the diff-two-snapshots shape: churned / new / both). Both inputs
    * aggregate on o_custkey and the join keys match that partitioning,
    * so the full outer reuses the aggregation exchange — one shuffle
    * total at any scale, and no row of either snapshot is dropped. */
  val jFullOuter: Entry = Entry("j_full_outer",
    (s, d) => {
      def spend(yr: Int, sn: String, cn: String) = ord(s, d)
        .where(year(col("o_orderdate")) === yr)
        .groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as(sn), count(lit(1)).as(cn))
      spend(1994, "spend_94", "n_94")
        .join(spend(1995, "spend_95", "n_95"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey").as("custkey"),
          coalesce(col("spend_94"), lit(0.0)).as("spend_94"),
          coalesce(col("spend_95"), lit(0.0)).as("spend_95"),
          (coalesce(col("spend_95"), lit(0.0)) - coalesce(col("spend_94"), lit(0.0))).as("delta"),
          (coalesce(col("n_94"), lit(0L)) + coalesce(col("n_95"), lit(0L))).as("n_orders"),
          when(col("spend_94").isNull, "new")
            .when(col("spend_95").isNull, "churned")
            .otherwise("both").as("status"))
        .orderBy("custkey")
    },
    Some(s"""WITH a AS (SELECT o_custkey, ${sqlDsum("o_totalprice")} AS spend_94,
      |  count(*) AS n_94 FROM orders WHERE year(o_orderdate) = 1994 GROUP BY o_custkey),
      |b AS (SELECT o_custkey, ${sqlDsum("o_totalprice")} AS spend_95,
      |  count(*) AS n_95 FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey)
      |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
      | coalesce(spend_94, 0.0) AS spend_94,
      | coalesce(spend_95, 0.0) AS spend_95,
      | coalesce(spend_95, 0.0) - coalesce(spend_94, 0.0) AS delta,
      | CAST(coalesce(n_94, 0) + coalesce(n_95, 0) AS BIGINT) AS n_orders,
      | CASE WHEN a.o_custkey IS NULL THEN 'new'
      |      WHEN b.o_custkey IS NULL THEN 'churned'
      |      ELSE 'both' END AS status
      |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |ORDER BY custkey""".stripMargin))

  /** J-asof: point-in-time join ([[graft.operators.AsOf]]) — for each
    * purchase event, the most recent click by the same user at or
    * before it (the "feature snapshot in effect at label time" shape).
    * Clicks are pre-aggregated per (user, ts) so "most recent" is
    * unique — the determinism contract ASOF engines leave implicit.
    * Oracle: DuckDB's NATIVE ASOF LEFT JOIN over the same inputs — two
    * independent implementations of the operator semantics. Both sides
    * work at µs (Spark's ts rebuild truncates ns→µs; the oracle CASTs
    * its TIMESTAMP_NS the same way BEFORE grouping/comparing, so
    * sub-µs ordering can't diverge). */
  val jAsof: Entry = Entry("j_asof",
    (s, d) => {
      val ev = tbl(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoin(purchases, clicks, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof.t").as("click_ts"), col("asof.click_value").as("click_value"))
        .orderBy("event_id")
    },
    Some("""WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  max(value) AS click_value
      | FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      | FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      | c.ts AS click_ts, c.click_value
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin))

  /** FORWARD as-of: for each click, the next purchase by the same user
    * at-or-after it ([[graft.operators.AsOf.asofJoinForward]]) —
    * j_asof's time-mirror ("label events with the outcome that
    * followed" is how a conversion/attribution pipeline builds training
    * targets). Build side pre-aggregates per (user, ts) so "the
    * earliest following row" is deterministic. Oracle: DuckDB's native
    * forward ASOF (`p.ts <= b.ts`) — the declarative semantics, not a
    * replay of the window composition. */
  val jAsofForward: Entry = Entry("j_asof_forward",
    (s, d) => {
      val ev = tbl(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("purchase_value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.AsOf.asofJoinForward(clicks, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof.t").as("purchase_ts"), col("asof.purchase_value").as("purchase_value"))
        .orderBy("event_id")
    },
    Some("""WITH b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |  max(value) AS purchase_value
      | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      | FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts, p.value,
      | b.ts AS purchase_ts, b.purchase_value
      |FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts <= b.ts
      |ORDER BY p.event_id""".stripMargin))

  /** J-range: bucketed interval join ([[graft.operators.RangeJoin]]) —
    * clicks landing inside each signup's 2-hour follow-on window,
    * counted per signup, zero-match signups kept via a left re-attach.
    * 30-minute buckets: each interval replicates onto ≤ 5 buckets and
    * the work is ONE (user, bucket) equi-shuffle — vs the quadratic
    * per-user point×interval filter Catalyst would plan for the raw
    * range predicate. Times work in integer epoch-µs on both sides
    * (exact bucket arithmetic; the oracle's CAST truncates ns→µs like
    * the Spark rebuild). Oracle: DuckDB plans the naive BETWEEN join —
    * fine at oracle scale — so the bucketed decomposition is checked
    * against the declarative semantics, not a replay of itself. */
  val jRangeBucketed: Entry = Entry("j_range_bucketed",
    (s, d) => {
      val base = tbl(s, d, "events").select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      val hourUs = 3600L * 1000000L
      val signups = base.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("t_us").as("lo"),
          (col("t_us") + lit(2 * hourUs)).as("hi"))
      val clicks = base.filter(col("event_type") === "click")
        .select(col("user_id"), col("t_us"), col("value"))
      val matched = graft.operators.RangeJoin.bucketedPointInterval(
          clicks, signups, "user_id", "t_us", "lo", "hi", hourUs / 2)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"), dsum(col("value")).as("sum_v"))
      signups.join(matched, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("sum_v"), lit(0.0)).as("click_value_sum"))
        .orderBy("event_id")
    },
    Some(s"""WITH e AS MATERIALIZED (SELECT event_id, user_id,
      |  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, event_type, value FROM events),
      |s AS (SELECT event_id, user_id, t_us AS lo, t_us + 7200000000 AS hi
      | FROM e WHERE event_type = 'signup'),
      |c AS (SELECT user_id, t_us, value FROM e WHERE event_type = 'click')
      |SELECT s.event_id, s.user_id,
      | count(c.t_us) AS n_clicks,
      | coalesce(${sqlDsum("c.value")}, 0.0) AS click_value_sum
      |FROM s LEFT JOIN c
      | ON c.user_id = s.user_id AND c.t_us >= s.lo AND c.t_us < s.hi
      |GROUP BY s.event_id, s.user_id ORDER BY s.event_id""".stripMargin))

  /** Bloom-pruned semi join — the manual spelling of runtime row-level
    * filtering ([[graft.operators.Bloom]]): build a portable bitset
    * over the urgent-order keys, test every lineitem against it INSIDE
    * the scan stage (pure builtin expressions, whole-stage codegen, no
    * exchange), and let the exact semi join that follows remove the
    * bloom's false positives — so the composed result equals the plain
    * semi join and the oracle is ordinary EXISTS SQL.
    *
    * At THIS scale the exact build side broadcasts anyway and the bloom
    * is belt-and-braces; the 100 TB case is the point: with billions of
    * build keys a shuffled semi join exchanges the full probe, while
    * the fixed-size bloom (16 KiB here; size m ≈ 10·n for ~1% fpr in
    * production) prunes the probe to selectivity+fpr BEFORE its
    * exchange. BloomSpec pins no-false-negatives, the fpr bound, and
    * that the membership predicate stays in the scan stage. */
  /** Bucketed CO-LOCATED join — the "repartition/bucketing for
    * co-located joins" leg of the scale playbook (broadcast handles
    * small dims; bucketing handles BIG⨝BIG on a stable key): both fact
    * tables are written `bucketBy(8, k)` + in-bucket sorted (the S5
    * fixture discipline — a production lakehouse keeps its fact tables
    * bucketed on the join key permanently), so the join consumes
    * bucket-aligned scans with ZERO exchange on either side — at
    * 100 TB that is the entire shuffle of the biggest join in the
    * plan, gone, every run that joins on that key. The only shuffles
    * left are the group-key agg (partial+final, priority-cardinality
    * rows) and the output-contract orderBy; PlanShapeSpec pins
    * exactly that. */
  /** Bucketed-table fixture shared with the untimed harness setup:
    * pid-scoped table names — saveAsTable has no atomic-swap, so two
    * concurrent suite processes sharing the warehouse dir must not
    * build the same table (the st_stream_recovery concurrency lesson).
    * Load-if-exists via the catalog; stale other-pid dirs (> 1 h) are
    * reaped on build. Bench/Verify call [[ensureBucketedFixtures]]
    * during setup so the ENTRY times the co-located join, not two
    * table writes (pass 1 of a fresh process otherwise paid both). */
  private def bucketed(s: SparkSession, d: String,
      name: String, srcTable: String, df: => DataFrame): DataFrame = {
    val suffix = d.replaceAll("[^0-9a-zA-Z]", "_")
    val pid = ProcessHandle.current().pid()
    // dataVer in the version segment (r9 advice): this was the one
    // derived fixture whose key ignored the source bytes, so a testdata
    // regen during a long-lived process kept serving the stale catalog
    // table — the exact r8 stale-fixture failure class
    val ver = "v2" + Tables.dataVer(d, srcTable)
    val t = s"graft_bkt_${name}_${ver}_${suffix}_p$pid"
    val wh0 = s.conf.get("spark.sql.warehouse.dir")
    val whDir0 = new java.io.File(java.net.URI.create(wh0).getPath)
    // self-heal (r11 review): tableExists consults the session's
    // in-memory catalog, which stays true after ANOTHER process reaps
    // the files (the 24 h backstop makes that legal even for a live
    // owner under PID reuse) — without the file check the owner would
    // serve FileNotFoundException forever instead of rebuilding
    if (s.catalog.tableExists(t) &&
        !new java.io.File(whDir0, t.toLowerCase).exists()) {
      s.sql(s"DROP TABLE IF EXISTS $t"): Unit
    }
    if (!s.catalog.tableExists(t)) {
      val whDir = whDir0
      val staleMs = System.currentTimeMillis() - 3600L * 1000
      // family-wide reap (any version incl. legacy v1): our own exact
      // name (a partial write) plus dirs whose OWNING PROCESS is dead —
      // the name embeds _p<pid>, so liveness is checkable directly. An
      // hour-cold mtime is NOT proof of death (a table dir's mtime
      // freezes at creation, so a >1h suite's live table looks cold);
      // age only decides for legacy names with no parseable pid.
      def ownerDead(n: String): Boolean =
        "_p(\\d+)$".r.findFirstMatchIn(n) match {
          case Some(m) => m.group(1).toLongOption.exists { p =>
            val h = ProcessHandle.of(p)
            p != pid && !(h.isPresent && h.get.isAlive)
          }
          case None => true // legacy no-pid name: fall through to age
        }
      // hard age backstop (r10 advice): PID reuse can make a dead
      // owner's dir look alive forever, and a long-lived process never
      // reaps its own superseded-version dirs — a day-cold dir is
      // reaped regardless of pid liveness (suite processes run minutes,
      // so no live owner is ever >24 h old; if one were, the build
      // below regenerates its table on the next read).
      val hardMs = System.currentTimeMillis() - 24L * 3600 * 1000
      Option(whDir.listFiles()).foreach(_.filter(f =>
        f.getName.startsWith(s"graft_bkt_${name}_") &&
          (f.getName == t ||
            (ownerDead(f.getName) && f.lastModified() < staleMs) ||
            f.lastModified() < hardMs))
        .foreach(Tables.deleteRecursively))
      df.write.bucketBy(8, "k").sortBy("k").saveAsTable(t)
    }
    s.table(t)
  }

  private def bucketedOrders(s: SparkSession, d: String): DataFrame =
    bucketed(s, d, "orders", "orders", ord(s, d).select(col("o_orderkey").as("k"),
      col("o_orderpriority")))
  private def bucketedLineitem(s: SparkSession, d: String): DataFrame =
    bucketed(s, d, "lineitem", "lineitem", li(s, d).select(col("l_orderkey").as("k"),
      col("l_quantity"), col("l_extendedprice")))

  /** Harness-setup hook (Bench/Verify, untimed): build the bucketed
    * tables j_bucketed_colocate reads, the way SarFixture.ensure()
    * pre-writes the JSON fixture. */
  def ensureBucketedFixtures(s: SparkSession, d: String): Unit = {
    bucketedOrders(s, d)
    bucketedLineitem(s, d)
    ()
  }

  val jBucketedColocate: Entry = Entry("j_bucketed_colocate",
    (s, d) => {
      val o = bucketedOrders(s, d)
      val l = bucketedLineitem(s, d)
      l.join(o, "k")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("revenue"),
          dsum(col("l_quantity")).as("qty"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
      | ${sqlDsum("l_extendedprice")} AS revenue,
      | ${sqlDsum("l_quantity")} AS qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin))

  val jBloomPrune: Entry = Entry("j_bloom_prune",
    (s, d) => {
      val mBits = 1L << 17
      val nh = 3
      val build = ord(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("bk"))
      val bloom = operators.Bloom.buildBloom(build, "bk", mBits, nh)
      li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .crossJoin(broadcast(bloom))
        .where(operators.Bloom.mightContain("l_orderkey", "bloom", mBits, nh))
        .drop("bloom")
        .join(build, col("l_orderkey") === col("bk"), "left_semi")
        // order by ALL output columns: synthetic lineitem does NOT keep
        // (orderkey, linenumber) unique at sf0.1 (118k dup pairs), so
        // the two-column sort was tie-broken differently per engine
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin))

  /** Fuzzy (edit-distance ≤ 1) self-join — the approximate-match join a
    * dedup/entity-resolution pass needs, spelled SCALABLY: the naive
    * spelling is an O(N²) cross join with levenshtein on every pair
    * (that IS the DuckDB oracle here), which is dead at 10^9 rows. The
    * Spark side instead uses FastSS deletion-neighborhood blocking
    * (Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"): each string emits itself plus its |s| delete-one
    * variants as blocking keys; two strings within ED 1 are GUARANTEED
    * to share a key (substitution at i → both delete i; insertion →
    * the longer one deletes the inserted char and hits the shorter's
    * self-key), so the candidate set from the key-equi-join has no
    * false negatives, and the exact codegen'd `levenshtein` pass
    * removes the false positives (e.g. transposed pairs).
    *
    * Cost bound (why ~5 s at sf0.1 is inherent, not a plan defect):
    * each length-L string emits exactly L+1 blocking keys, so the
    * shuffled key set is Σ(Lᵢ+1) ≈ (L̄+1)·N rows — for the 18-char
    * customer names here, 19·N — and a bucket for deletion key k
    * holds only strings of length |k| or |k|+1 that share k, so the
    * per-bucket quadratic verify is bounded by the true near-dup
    * cluster size, never by N. The entry's time is that one wide
    * shuffle plus one levenshtein per surviving candidate pair.
    *
    * Scale shape: (|s|+1)·N rows shuffle ONCE on the high-cardinality
    * deletion key — candidates stay near-linear unless keys collide
    * semantically (true near-dup clusters), the quadratic work is
    * confined INSIDE each bucket, and no row ever compares against the
    * whole table. The exact levenshtein verify runs ON the join output
    * (codegen'd, ~free per row) so the candidate dedup shuffles only
    * the ED≤1 SURVIVORS as (long, long, long) rows — measured 1.4 s
    * faster at sf0.1 than deduping the ~10⁶ raw candidates first,
    * which carried both name strings through the exchange for a
    * multiplicity of only ~1.02.
    *
    * Volume bound, ENFORCED (r9 verdict #5 — the pl_domain_cap
    * two-stage pattern): a deletion key shared by f strings yields
    * f(f−1)/2 candidate pairs, so one pathological key (mass-duplicated
    * near-identical strings, a crawl reality) is a quadratic bomb. A
    * key-frequency pass drops keys with f > 64 from blocking — the
    * heavy-key set is by construction tiny, so it rides a BROADCAST
    * anti-join, never a shuffle. Pairs meeting ONLY on a heavy key are
    * lost: the documented trade (their cluster is findable by exact
    * dedup first). The oracle stays the exact O(N²) cross join, so a
    * cap that binds at gate scale fails the hash LOUDLY rather than
    * shipping silent under-recall; FuzzyCapSpec pins both regimes
    * (cap idle on gate-shaped data, cap binding on a planted bomb). */
  /** Customer cap for the O(N²)-oracle sample ([[Tables.modSample]]):
    * the sf0.1 table size — shipped SFs pass untouched; rehearsal SFs
    * sample both engines back to this bound so the exact cross-join
    * truth stays tractable. */
  private val FuzzyOracleCap = 15000L

  val jFuzzyEdit: Entry = Entry("j_fuzzy_edit",
    (s, d) => {
      val c = Tables.modSample(
        cust(s, d).select(col("c_custkey").as("id"), col("c_name").as("s")),
        "id", FuzzyOracleCap, Tables.tableCount(s, d, "customer"))
      operators.Dedup.fuzzyEditPairs(c, maxKeyFreq = 64)
        .select(col("id_a").as("akey"), col("id_b").as("bkey"), col("dist"))
        .orderBy("akey", "bkey")
    },
    Some(s"""WITH c AS MATERIALIZED (SELECT c_custkey, c_name FROM customer
      | WHERE c_custkey % ((SELECT (count(*) + ${FuzzyOracleCap - 1})
      |                     // $FuzzyOracleCap FROM customer)) = 0)
      |SELECT a.c_custkey AS akey, b.c_custkey AS bkey,
      | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM c a, c b
      |WHERE a.c_custkey < b.c_custkey
      |  AND levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY akey, bkey""".stripMargin))

  /** The [[jFuzzyEdit]] recall bound as a MONITORED number
    * ([[operators.Dedup.fuzzyCapAudit]]): the blocking-key census at
    * the entry's maxKeyFreq=64 — keys refused, key-row mass lost, max
    * observed frequency. On the shipped testdata the cap never binds
    * (max_kf 38 at sf0.1) so n_capped_keys hashes as 0; data drift
    * that binds the cap (the r11 tripled-identity rehearsal: max 114,
    * 1500 keys refused) turns this row red BEFORE anyone has to
    * diagnose a fuzzy-join recall mystery. One vocabulary-sized
    * exchange (the key census), then a 1-row rollup. */
  val jFuzzyCapAudit: Entry = Entry("j_fuzzy_cap_audit",
    (s, d) => {
      val c = cust(s, d).select(col("c_custkey").as("id"), col("c_name").as("s"))
      operators.Dedup.fuzzyCapAudit(c, maxKeyFreq = 64)
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      |k AS (SELECT id, unnest(list_distinct(list_concat([s],
      |  list_transform(range(1, len(s) + 1),
      |    i -> substr(s, 1, CAST(i AS INT) - 1)
      |      || substr(s, CAST(i AS INT) + 1, len(s)))))) AS k
      | FROM c),
      |f AS (SELECT k, CAST(count(*) AS BIGINT) AS kf FROM k GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_keys,
      | CAST(sum(CASE WHEN kf > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_keys,
      | CAST(sum(CASE WHEN kf > 64 THEN kf ELSE 0 END) AS BIGINT) AS capped_key_rows,
      | CAST(max(kf) AS BIGINT) AS max_kf
      |FROM f""".stripMargin))

  /** O-topk + 3-way join: TPC-H Q3-shaped revenue top-10 (tie-broken).
    * The segment-filtered customer side is ~1/5 of a dimension table —
    * explicitly broadcast so at 100 TB the orders⋈lineitem fact side
    * never shuffles for it. */
  val o1TopK: Entry = Entry("o1_topk_revenue",
    (s, d) => broadcast(cust(s, d).filter(col("c_mktsegment") === "BUILDING"))
      .join(ord(s, d), col("c_custkey") === col("o_custkey"))
      .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10),
    Some(s"""SELECT o_orderkey, ${sqlDsumProd("l_extendedprice", "1 - l_discount")} AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      | JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin))

  /** W3: row_number / rank / lag over a per-customer window (top-3 orders). */
  val w3RankLag: Entry = Entry("w3_rank_lag",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("rnk"), col("o_orderkey"),
          col("o_totalprice"), col("prev_price"))
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, rn, rnk, o_orderkey, o_totalprice, prev_price FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER w AS rn, rank() OVER w AS rnk,
      |  lag(o_totalprice, 1) OVER w AS prev_price
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin))

  /** G-distinct: exact count-distinct per group. */
  val gDistinct: Entry = Entry("g_distinct_count",
    (s, d) => li(s, d).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  /** F-dates: calendar extraction + day arithmetic (F1-family). */
  val fDates: Entry = Entry("f_dates",
    (s, d) => ord(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
      | CAST(date_part('year', o_orderdate) AS INT) AS y,
      | CAST(date_part('month', o_orderdate) AS INT) AS m,
      | CAST(date_part('day', o_orderdate) AS INT) AS dom,
      | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
      | strftime(o_orderdate, '%Y-%m') AS ym
      |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** F5/F6-math: per-row scalar math, rounded to pin cross-engine ulps. */
  val fMath: Entry = Entry("f_math",
    (s, d) => ord(s, d).select(
        col("o_orderkey"),
        round(sqrt(col("o_totalprice")), 6).as("sqrt_price"),
        round(log(col("o_totalprice")), 6).as("ln_price"),
        round(pow(col("o_totalprice"), 2), 2).as("price_sq"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce"),
        (col("o_orderkey") % 7).as("key_mod"),
        abs(col("o_totalprice") - 250000.0).as("abs_dev"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
      | round(sqrt(o_totalprice), 6) AS sqrt_price,
      | round(ln(o_totalprice), 6) AS ln_price,
      | round(pow(o_totalprice, 2), 2) AS price_sq,
      | CAST(floor(o_totalprice) AS BIGINT) AS fl,
      | CAST(ceil(o_totalprice) AS BIGINT) AS ce,
      | o_orderkey % 7 AS key_mod,
      | abs(o_totalprice - 250000.0) AS abs_dev
      |FROM orders ORDER BY o_orderkey""".stripMargin))

  /** F-json: JSON path extraction from events.props (SURVEY §2.8 note). */
  val fJson: Entry = Entry("f_json",
    (s, d) => ev(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id"),
    Some("""SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events ORDER BY event_id""".stripMargin))

  /** F2-strings: concat/substr/case/length/replace/regexp. */
  val fStrings: Entry = Entry("f_strings",
    (s, d) => tbl(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_up"),
        substring(col("p_name"), 1, 5).as("name5"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_name"), "[a-z]+", 0).as("first_word"),
        regexp_replace(col("p_name"), " ", "_").as("snake"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, upper(p_name) AS name_up, substr(p_name, 1, 5) AS name5,
      | CAST(length(p_name) AS INT) AS name_len,
      | p_brand || '-' || p_type AS brand_type,
      | regexp_extract(p_name, '[a-z]+') AS first_word,
      | replace(p_name, ' ', '_') AS snake
      |FROM part ORDER BY p_partkey""".stripMargin))

  /** F-hashes: cryptographic content digests — the content-addressing
    * primitive of every dedup/provenance pipeline (exact-dup keys,
    * cache keys, change detection are all "hash the bytes"). Both
    * engines digest the SAME UTF-8 bytes, so the hex strings match
    * exactly; the digest census (n vs n_distinct per digest length)
    * doubles as an exact-dup audit on the corpus. Map-only — hashing
    * is embarrassingly parallel, the shape that matters at 100 TB. */
  val fContentHash: Entry = Entry("f_content_hash",
    (s, d) => tbl(s, d, "documents").select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        length(col("text")).cast("long").as("n_chars_txt"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS md5_hex, sha256(text) AS sha256_hex,
      | length(text) AS n_chars_txt
      |FROM documents ORDER BY doc_id""".stripMargin))

  // Registry — batches append here.
  val all: Seq[Entry] = Seq(
    q1PricingSummary, p1Projection, p2Coerce, p3ForwardFill, p4Rename,
    j1Multiway, j2Semi, j3Anti, jSkewSalted, jFullOuter, jAsof, jAsofForward,
    jRangeBucketed,
    jBucketedColocate, jBloomPrune, jFuzzyEdit, jFuzzyCapAudit,
    o1TopK, w3RankLag, gDistinct,
    fDates, fDateSpine, fMath, fJson, fStrings, fContentHash) ++
    QueriesArrays.all ++ QueriesEnsemble.all ++
    QueriesAggWindow.all ++ QueriesPipeline.all ++ QueriesStreaming.all ++
    QueriesMl.all ++ QueriesSql.all ++ QueriesGraph.all
}
