package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{AsOfJoin, JoinAdvisor, SaltedJoin}

/** Second wave of the relational surface: pivot, cube, exact
  * percentiles, lead/lag/ntile windows, correlated + scalar subqueries,
  * full-outer join, fuzzy matching, date arithmetic, ordered string
  * aggregation, forward as-of, salted skew join. Same conventions as
  * RelationalQueries (aliased columns, rounded doubles, total ORDER BY).
  */
object ExtendedQueries {
  import Tables._

  // canonical µs clock + purchase dedup live in EventQueries (one
  // definition of the convention)
  private def ev(s: SparkSession, d: String): DataFrame =
    EventQueries.ev(s, d)

  /** DuckDB twin of `split(trim(text), "\\s+")`. */
  private val duckEqToks = """string_split_regex(trim(text), '\s+')"""

  /** ONE oracle for the as-of probe, shared by q186 (broadcast
    * strategy) and q195 (bucketed range-join strategy) — the hash match
    * on the same SQL is the strategies-are-row-identical proof. */
  private val scd2AsOfOracle = """
        WITH c AS (SELECT o_custkey AS custkey,
                          strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
                          o_orderkey AS change_key,
                          o_orderstatus AS status
                   FROM orders),
        m AS (SELECT *,
                lag(status) OVER w AS prev,
                row_number() OVER w AS rn
              FROM c
              WINDOW w AS (PARTITION BY custkey
                           ORDER BY valid_from, change_key)),
        kept AS (SELECT custkey, valid_from, change_key, status FROM m
                 WHERE rn = 1 OR prev IS DISTINCT FROM status),
        dim AS (SELECT custkey, valid_from, status,
                       lead(valid_from) OVER (PARTITION BY custkey
                         ORDER BY valid_from, change_key) AS valid_to
                FROM kept),
        f AS (SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                     strftime(CAST(o_orderdate AS DATE)
                              - INTERVAL 90 DAY, '%Y-%m-%d') AS probe_date
              FROM orders)
        SELECT f.custkey, f.orderkey, f.probe_date,
               d.status AS status_asof,
               d.valid_from AS status_since
        FROM f LEFT JOIN dim d ON d.custkey = f.custkey
          AND d.valid_from <= f.probe_date
          AND (d.valid_to IS NULL OR f.probe_date < d.valid_to)
        ORDER BY f.custkey, f.orderkey"""

  /** ONE definition of the as-of probe pipeline for q186/q195: build
    * the change-compressed status dimension from orders, probe every
    * order 90 days back. Only the physical probe `strategy` differs —
    * a semantic edit here cannot diverge the pair. Bucket width 512
    * days ≈ the typical version lifetime at sf0.01 (per-customer
    * change spacing over the 1992–1998 span), so each interval
    * explodes into ~2 grid buckets. */
  private def scd2AsOfQuery(s: SparkSession, d: String,
      strategy: graft.etl.Scd2.AsOfStrategy): DataFrame = {
    val changes = orders(s, d).select(
      col("o_custkey").as("custkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
      col("o_orderkey").as("change_key"),
      col("o_orderstatus").as("status"))
    val dim = graft.etl.Scd2.build(changes,
        keys = Seq("custkey"),
        seqCols = Seq("valid_from", "change_key"),
        attrs = Seq("status"))
      .withColumnRenamed("valid_to_seq", "valid_to")
      .select(col("custkey").as("d_custkey"), col("valid_from"),
        col("valid_to"), col("status"))
    val facts = orders(s, d).select(
      col("o_custkey").as("custkey"),
      col("o_orderkey").as("orderkey"),
      date_format(date_sub(col("o_orderdate").cast("date"), 90),
        "yyyy-MM-dd").as("probe_date"))
    graft.etl.Scd2.asOf(facts, "custkey", "probe_date",
        dim, "d_custkey", "valid_from", "valid_to",
        payload = Seq("status", "valid_from"), strategy = strategy,
        num = c => unix_date(to_date(c)))
      .select(col("custkey"), col("orderkey"), col("probe_date"),
        col("status").as("status_asof"),
        col("valid_from").as("status_since"))
      .orderBy("custkey", "orderkey")
  }

  val queries: Map[String, QuerySpec] = Map(

    // ── pivot: months x order status ───────────────────────────────
    "q10_pivot" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
        .groupBy(col("month"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy("month"),
      oracle = Some("""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS "F",
               round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS "O",
               round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS "P"
        FROM orders GROUP BY 1 ORDER BY month""")),

    // ── cube (all grouping-set combinations) ───────────────────────
    "q35_cube" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST,
                 o_orderpriority ASC NULLS FIRST""")),

    // ── exact interpolated percentiles ─────────────────────────────
    "q36_percentiles" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          StableRound.r4(expr("percentile(o_totalprice, 0.25)")).as("p25"),
          StableRound.r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
          StableRound.r4(expr("percentile(o_totalprice, 0.75)")).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      oracle = Some(s"""
        SELECT o_orderpriority,
               ${StableRound.sql4("quantile_cont(o_totalprice, 0.25)")} AS p25,
               ${StableRound.sql4("quantile_cont(o_totalprice, 0.5)")} AS p50,
               ${StableRound.sql4("quantile_cont(o_totalprice, 0.75)")} AS p75,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ── lead / lag / first_value over a ship sequence ──────────────
    "q37_lead_lag" -> QuerySpec(
      build = (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        lineitem(s, d)
          .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
          .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
          .withColumn("first_qty", first(col("l_quantity")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("l_suppkey"), col("rn"),
            round(col("l_quantity"), 2).as("qty"),
            round(col("prev_qty"), 2).as("prev_qty"),
            round(col("next_qty"), 2).as("next_qty"),
            round(col("first_qty"), 2).as("first_qty"))
          .orderBy("l_suppkey", "rn")
      },
      oracle = Some("""
        SELECT l_suppkey, rn, round(l_quantity, 2) AS qty,
               round(prev_qty, 2) AS prev_qty, round(next_qty, 2) AS next_qty,
               round(first_qty, 2) AS first_qty
        FROM (SELECT l_suppkey, l_quantity,
                lag(l_quantity, 1) OVER w AS prev_qty,
                lead(l_quantity, 1) OVER w AS next_qty,
                first_value(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS first_qty,
                ROW_NUMBER() OVER w AS rn
              FROM lineitem
              WINDOW w AS (PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber))
        WHERE rn <= 3 ORDER BY l_suppkey, rn""")),

    // ── ntile / percent_rank / cume_dist / dense_rank ──────────────
    "q38_ntile_rank" -> QuerySpec(
      build = (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        orders(s, d)
          .filter(col("o_orderkey") % 97 === 0)
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pct_rank", StableRound.r4(percent_rank().over(w)))
          .withColumn("cume", StableRound.r4(cume_dist().over(w)))
          .withColumn("drank", dense_rank().over(w))
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("quartile"), col("pct_rank"), col("cume"), col("drank"))
          .orderBy("o_orderkey")
      },
      oracle = Some(s"""
        SELECT o_orderkey, o_orderpriority, quartile,
               ${StableRound.sql4("pr")} AS pct_rank,
               ${StableRound.sql4("cd")} AS cume, drank
        FROM (SELECT o_orderkey, o_orderpriority,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd,
                dense_rank() OVER w AS drank
              FROM orders WHERE o_orderkey % 97 = 0
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey))
        ORDER BY o_orderkey""")),

    // ── correlated subquery: orders above their customer's average ─
    "q39_corr_subquery" -> QuerySpec(
      build = (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
        orders(s, d)
          .withColumn("cust_avg", avg(col("o_totalprice")).over(w))
          .filter(col("o_totalprice") > col("cust_avg"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ── full outer join with unmatched sides ───────────────────────
    "q40_full_outer" -> QuerySpec(
      build = (s, d) => {
        val rich = customer(s, d).filter(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_acctbal"))
        val big = orders(s, d).filter(col("o_totalprice") > 400000)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
        rich.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
          .withColumn("side", when(
            col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
            .when(col("c_custkey").isNotNull, "left_only")
            .otherwise("right_only"))
          .groupBy(col("side"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("n_big")), lit(0)).cast("long").as("sum_big"))
          .orderBy("side")
      },
      oracle = Some("""
        WITH rich AS (SELECT c_custkey, c_acctbal FROM customer
                      WHERE c_acctbal > 9000),
        big AS (SELECT o_custkey, count(*) AS n_big FROM orders
                WHERE o_totalprice > 400000 GROUP BY o_custkey)
        SELECT CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL
                    THEN 'both'
                    WHEN c_custkey IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS side,
               count(*) AS n,
               CAST(coalesce(sum(n_big), 0) AS BIGINT) AS sum_big
        FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
        GROUP BY 1 ORDER BY side""")),

    // ── fuzzy matching: Levenshtein over distinct part types ───────
    "q41_levenshtein" -> QuerySpec(
      build = (s, d) => {
        val types = part(s, d).select(col("p_type")).distinct()
        val a = types.select(col("p_type").as("ta"))
        val b = types.select(col("p_type").as("tb"))
        // threshold 6: the generator's p_type vocabulary has a minimum
        // pairwise distance of 5 at every SF, so ≤4 matched nothing —
        // a vacuously-green hash. ≤6 is non-empty at sf0.001 upward.
        a.join(b, col("ta") < col("tb"))
          .withColumn("dist", levenshtein(col("ta"), col("tb")))
          .filter(col("dist") <= 6)
          .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
          .orderBy("dist")
      },
      oracle = Some("""
        WITH t AS (SELECT DISTINCT p_type FROM part)
        SELECT levenshtein(a.p_type, b.p_type) AS dist, count(*) AS n_pairs
        FROM t a JOIN t b ON a.p_type < b.p_type
        WHERE levenshtein(a.p_type, b.p_type) <= 6
        GROUP BY 1 ORDER BY dist""")),

    // ── date arithmetic ────────────────────────────────────────────
    "q42_date_arith" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .withColumn("od", col("o_orderdate").cast("date"))
        .groupBy(year(col("od")).as("yr"), quarter(col("od")).as("qtr"))
        .agg(count(lit(1)).as("n"),
          StableRound.r4(avg(datediff(lit("1998-12-31").cast("date"),
            col("od")))).as("avg_days_to_eoy"),
          max(dayofyear(col("od"))).as("max_doy"),
          min(dayofmonth(col("od"))).as("min_dom"))
        .orderBy("yr", "qtr"),
      oracle = Some(s"""
        SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
               CAST(date_part('quarter', o_orderdate) AS BIGINT) AS qtr,
               count(*) AS n,
               ${StableRound.sql4(
                 "avg(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31'))")}
                 AS avg_days_to_eoy,
               CAST(max(date_part('doy', o_orderdate)) AS INT) AS max_doy,
               CAST(min(date_part('day', o_orderdate)) AS INT) AS min_dom
        FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""")),

    // ── ordered, deduplicated string aggregation ───────────────────
    "q43_array_agg" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
            .as("priolist"),
          countDistinct(col("o_orderpriority")).as("n_prio"))
        .orderBy("o_orderstatus"),
      oracle = Some("""
        WITH d AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        SELECT o_orderstatus,
               string_agg(o_orderpriority, ',' ORDER BY o_orderpriority)
                 AS priolist,
               count(*) AS n_prio
        FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ── scalar subquery: share of total ────────────────────────────
    "q44_scalar_subquery" -> QuerySpec(
      build = (s, d) => {
        val regional = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
        regional
          .withColumn("share", StableRound.r4(
            col("revenue") / sum(col("revenue")).over(Window.partitionBy())))
          .orderBy("r_name")
      },
      oracle = Some(s"""
        WITH regional AS (
          SELECT r_name, round(sum(l_extendedprice), 2) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          GROUP BY r_name)
        SELECT r_name, revenue,
               ${StableRound.sql4("revenue / (SELECT sum(revenue) FROM regional)")}
                 AS share
        FROM regional ORDER BY r_name""")),

    // ── forward as-of join (next purchase at/after each click) ─────
    "q47_asof_forward" -> QuerySpec(
      build = (s, d) => {
        val e = ev(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        val purchases = EventQueries.purchasesDeduped(e, "next_purchase_value")
        AsOfJoin.forward(clicks, "user_id", "ts_us",
            purchases, "user_id", "ts_us", Seq("next_purchase_value"))
          .select(col("event_id"), col("user_id"),
            col("next_purchase_value"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, event_type, value,
                          epoch_us(ts) AS ts_us FROM events),
        p AS (
          SELECT user_id AS u, ts_us AS t, value AS v
          FROM (SELECT user_id, ts_us, value, ROW_NUMBER() OVER (
                  PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
                FROM e WHERE event_type = 'purchase')
          WHERE rn = 1)
        SELECT event_id, user_id, p.v AS next_purchase_value
        FROM (SELECT * FROM e WHERE event_type = 'click') c
        ASOF LEFT JOIN p ON c.user_id = p.u AND c.ts_us <= p.t
        ORDER BY event_id""")),

    // ── salted skew join (same semantics as the plain join) ────────
    "q48_salted_join" -> QuerySpec(
      build = (s, d) => {
        val fact = ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"))
        val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        SaltedJoin.inner(fact, "user_id", dim, "c_custkey",
            xxhash64(col("event_id")), numSalts = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        SELECT c_mktsegment, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      bench = true),

    // ── RUT validation round-trip (reference F2, oracle-cross-checked) ─
    // RUTs are synthesized from c_custkey; every c_custkey % 7 == 0 row
    // gets a deliberately wrong check digit. The DuckDB oracle computes
    // the mod-11 digit with INDEPENDENT SQL arithmetic, so this
    // cross-checks RutUtil's algorithm end to end, including dotted-
    // input canonicalization (`utils/validations.ts:54-109`).
    "q49_rut_roundtrip" -> QuerySpec(
      build = (s, d) => {
        import graft.functions.GraftFunctions.{rut_format, rut_is_valid}
        val bodyS = col("body").cast("string")
        customer(s, d)
          // mod keeps the body exactly 8 digits for ANY key range (the
          // weighted-sum expansion below is fixed-width; ScaleUp shifts
          // keys past 1e8, which would otherwise grow a 9th digit the
          // expansion ignores)
          .withColumn("body", col("c_custkey") % 10000000L + 10000000L)
          .withColumn("m", expr(
            """(body % 10)*2 + (body div 10 % 10)*3 + (body div 100 % 10)*4
              | + (body div 1000 % 10)*5 + (body div 10000 % 10)*6
              | + (body div 100000 % 10)*7 + (body div 1000000 % 10)*2
              | + (body div 10000000 % 10)*3""".stripMargin))
          .withColumn("r", lit(11) - col("m") % 11)
          .withColumn("dv", when(col("r") === 11, "0")
            .when(col("r") === 10, "K").otherwise(col("r").cast("string")))
          .withColumn("dv_used", when(col("c_custkey") % 7 === 0,
            when(col("dv") === "5", "6").otherwise("5")).otherwise(col("dv")))
          .withColumn("raw", concat(bodyS, lit("-"), col("dv_used")))
          .withColumn("dotted", concat(
            substring(bodyS, 1, 2), lit("."), substring(bodyS, 3, 3),
            lit("."), substring(bodyS, 6, 3), lit("-"), col("dv_used")))
          .withColumn("valid", rut_is_valid(col("raw")))
          .withColumn("fmt", rut_format(col("raw")))
          .withColumn("dotted_ok",
            col("valid") && rut_format(col("dotted")) === col("fmt"))
          .groupBy(col("valid"))
          .agg(count(lit(1)).as("n"),
            min(col("fmt")).as("min_rut"), max(col("fmt")).as("max_rut"),
            sum(col("dotted_ok").cast("int")).cast("long").as("n_dotted_ok"))
          .orderBy("valid")
      },
      oracle = Some("""
        WITH b AS (SELECT c_custkey, c_custkey % 10000000 + 10000000 AS body
                   FROM customer),
        s AS (SELECT c_custkey, body,
                (body % 10)*2 + (body // 10 % 10)*3 + (body // 100 % 10)*4
                + (body // 1000 % 10)*5 + (body // 10000 % 10)*6
                + (body // 100000 % 10)*7 + (body // 1000000 % 10)*2
                + (body // 10000000 % 10)*3 AS m
              FROM b),
        d AS (SELECT c_custkey, body,
                CASE 11 - m % 11 WHEN 11 THEN '0' WHEN 10 THEN 'K'
                     ELSE CAST(11 - m % 11 AS VARCHAR) END AS dv
              FROM s),
        u AS (SELECT c_custkey, body, dv,
                CASE WHEN c_custkey % 7 = 0
                     THEN (CASE WHEN dv = '5' THEN '6' ELSE '5' END)
                     ELSE dv END AS dv_used
              FROM d)
        SELECT (dv = dv_used) AS valid, count(*) AS n,
               min(CASE WHEN dv = dv_used THEN body || '-' || dv END) AS min_rut,
               max(CASE WHEN dv = dv_used THEN body || '-' || dv END) AS max_rut,
               CAST(sum(CASE WHEN dv = dv_used THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dotted_ok
        FROM u GROUP BY 1 ORDER BY valid""")),

    // ── SQL frontend passthrough: spark.sql over temp views, with the
    // engine's registered scalar functions available in-line ──────────
    "q53_sql_frontend" -> QuerySpec(
      build = (s, d) => {
        orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT o_orderpriority,
                 count(*) AS n,
                 round(sum(o_totalprice), 2) AS sum_price,
                 rut_format('12.345.678-5') AS canonical_rut
          FROM orders_v
          WHERE o_totalprice > 100000
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS sum_price,
               '12345678-5' AS canonical_rut
        FROM orders WHERE o_totalprice > 100000
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ── custom physical operator: bounded-heap top-k per key ───────
    // graft.plans.TopKPerKey: partial+final heap execs around one
    // shuffle, no sort (see TopKSpec for the plan assertions); the
    // oracle states the row_number-window semantics it implements.
    "q55_topk_per_key" -> QuerySpec(
      build = (s, d) => graft.operators.TopK.perKey(
          orders(s, d), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey")),
      oracle = Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        WHERE rn <= 3
        ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"""),
      bench = true),

    // ── array/collection functions over tokenized text ─────────────
    "q58_array_funcs" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          array_contains(col("toks"), "the").cast("boolean").as("has_the"),
          concat_ws(" ", slice(col("toks"), 1, 3)).as("first3"),
          element_at(array_sort(array_distinct(col("toks"))), 1).as("min_tok"),
          reverse(element_at(col("toks"), 1)).as("rev_first"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $duckEqToks AS toks FROM documents)
        SELECT doc_id,
               CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
               list_contains(toks, 'the') AS has_the,
               array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
               list_sort(list_distinct(toks))[1] AS min_tok,
               reverse(toks[1]) AS rev_first
        FROM t ORDER BY doc_id""")),

    // ── string functions ───────────────────────────────────────────
    "q59_string_funcs" -> QuerySpec(
      build = (s, d) => customer(s, d)
        .select(col("c_custkey"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
          translate(col("c_name"), "#", "-").as("translated"),
          substring(col("c_name"), 1, 8).as("prefix"),
          length(col("c_name")).as("name_len"),
          upper(col("c_mktsegment")).as("seg_upper"),
          repeat(lit("ab"), 3).as("repeated"))
        .orderBy("c_custkey").limit(1000),
      oracle = Some("""
        SELECT c_custkey,
               lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
               replace(c_name, '#', '-') AS translated,
               substring(c_name, 1, 8) AS prefix,
               CAST(length(c_name) AS INT) AS name_len,
               upper(c_mktsegment) AS seg_upper,
               repeat('ab', 3) AS repeated
        FROM customer ORDER BY c_custkey LIMIT 1000""")),

    // ── unpivot / melt (wide -> long), the inverse of q10 ──────────
    "q60_unpivot" -> QuerySpec(
      build = (s, d) => {
        val wide = orders(s, d)
          .groupBy(col("o_orderpriority"))
          .agg(
            round(sum(when(col("o_orderstatus") === "F", col("o_totalprice"))), 2).as("F"),
            round(sum(when(col("o_orderstatus") === "O", col("o_totalprice"))), 2).as("O"),
            round(sum(when(col("o_orderstatus") === "P", col("o_totalprice"))), 2).as("P"))
        wide.unpivot(
            Array(col("o_orderpriority")),
            Array(col("F"), col("O"), col("P")),
            "status", "sum_price")
          .filter(col("sum_price").isNotNull)
          .orderBy("o_orderpriority", "status")
      },
      oracle = Some("""
        WITH wide AS (
          SELECT o_orderpriority,
                 round(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS "F",
                 round(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS "O",
                 round(sum(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS "P"
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, status, sum_price FROM (
          SELECT o_orderpriority, 'F' AS status, "F" AS sum_price FROM wide
          UNION ALL
          SELECT o_orderpriority, 'O', "O" FROM wide
          UNION ALL
          SELECT o_orderpriority, 'P', "P" FROM wide)
        WHERE sum_price IS NOT NULL
        ORDER BY o_orderpriority, status""")),

    // ── spill-safe top-k (TypedImperativeAggregate path) ───────────
    // same semantics as q55, planned through ObjectHashAggregate with
    // sort-based external fallback — the unbounded-key-cardinality
    // route (TopKSpec pins the plan shape)
    "q61_topk_spillable" -> QuerySpec(
      build = (s, d) => graft.operators.TopK.perKeySpillable(
          orders(s, d), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey")),
      oracle = Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        WHERE rn <= 3
        ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""")),

    // ── histogram binning (floor-bucketed, engine-identical math) ──
    "q62_histogram" -> QuerySpec(
      build = (s, d) => orders(s, d)
        .withColumn("bin", (floor(col("o_totalprice") / 50000) * 50000).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy("bin"),
      oracle = Some("""
        SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bin,
               count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        FROM orders GROUP BY 1 ORDER BY bin""")),

    // ── conditional scalar functions ───────────────────────────────
    "q63_conditionals" -> QuerySpec(
      build = (s, d) => customer(s, d)
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          nvl2(nullif(col("c_mktsegment"), lit("BUILDING")),
            lit("other"), lit("building")).as("seg_class"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap"))
        .orderBy("c_custkey").limit(1000),
      oracle = Some("""
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                    THEN 'other' ELSE 'building' END AS seg_class,
               greatest(c_acctbal, 0.0) AS bal_floor,
               least(c_acctbal, 1000.0) AS bal_cap
        FROM customer ORDER BY c_custkey LIMIT 1000""")),

    // ── moving average (bounded ROWS frame) ────────────────────────
    "q64_moving_avg" -> QuerySpec(
      build = (s, d) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        lineitem(s, d)
          .withColumn("mov_avg", StableRound.r4(avg(col("l_quantity"))
            .over(w.rowsBetween(-6, 0))))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") % 50 === 0)
          .select(col("l_suppkey"), col("rn"), col("mov_avg"))
          .orderBy("l_suppkey", "rn")
      },
      oracle = Some(s"""
        SELECT l_suppkey, rn, ${StableRound.sql4("ma")} AS mov_avg
        FROM (SELECT l_suppkey,
                avg(l_quantity) OVER (w ROWS BETWEEN 6 PRECEDING
                  AND CURRENT ROW) AS ma,
                ROW_NUMBER() OVER w AS rn
              FROM lineitem
              WINDOW w AS (PARTITION BY l_suppkey
                ORDER BY l_shipdate, l_orderkey, l_linenumber))
        WHERE rn % 50 = 0 ORDER BY l_suppkey, rn""")),

    // ── supplier-side join (completes harness table coverage) ──────
    "q65_supplier_volume" -> QuerySpec(
      build = (s, d) => lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(countDistinct(col("s_suppkey")).as("n_suppliers"),
          round(sum(col("l_extendedprice")), 2).as("supply_value"))
        .orderBy("n_name"),
      oracle = Some("""
        SELECT n_name, count(DISTINCT s_suppkey) AS n_suppliers,
               round(sum(l_extendedprice), 2) AS supply_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")),

    // ── documents metadata integrity (source + n_chars columns) ────
    "q66_doc_integrity" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(when(col("n_chars") =!= length(col("text")), 1)
            .otherwise(0)).cast("long").as("n_mismatched"))
        .orderBy("source"),
      oracle = Some("""
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_mismatched
        FROM documents GROUP BY source ORDER BY source""")),

    // ── approximate aggregates AUDITED (HLL / t-digest — the 100 TB
    // path). Spark's builtin sketches (xxhash64 HLL++, quantile
    // summaries) can never be replayed in another engine the way the
    // repo's own md5-deterministic sketch family is (q104/q110/q112/
    // q120/q150) — so instead of a rows-only non-check, this is the
    // q150-style audit: each approximation lands NEXT TO its exact
    // twin and the row carries the integer verdict that the estimate
    // honored its published error contract —
    //   · approx_count_distinct(rsd=0.02): within ±10% of the exact
    //     distinct count (5σ of the configured 2% rsd);
    //   · approx_percentile(accuracy=1000): rank error ≤ n/1000, so
    //     the returned element's value must lie between the exact
    //     interpolated 45th and 55th percentiles (a ~50× margin).
    // The oracle recomputes the exact twins and asserts the verdicts
    // TRUE — a sketch regression (or a broken band) hash-mismatches.
    // Scale shape: the sketches and the exact-distinct twin run as TWO
    // aggregates joined on the 3-row key (r21): a single groupBy
    // carrying countDistinct NEXT TO buffer aggregates plans its
    // partial phase keyed by (l_returnflag, l_partkey) — every
    // distinct partkey built its OWN percentile/HLL/QuantileSummaries
    // buffer (~75 k × 3 object buffers; 92 s of task time at sf0.1,
    // the single biggest honest CPU cost in the bench after the
    // session-1 spread). Split, the sketch branch partial-aggregates
    // into 3 groups per task (buffer count ∝ tasks, not partkeys) and
    // the exact branch is a longs-only two-phase distinct; both read
    // the same spread exchange (ReusedExchange). Sketch values are
    // unchanged: same functions over the same partition layout. The
    // two exact percentile calls share ONE buffer (the array form —
    // same sorted-buffer interpolation, bit-identical to the scalar
    // calls), and the scan is spread before the aggregate — the
    // single-row-group local input otherwise serializes the kernels
    // onto one core; at scale the spread is a no-op.
    "q50_approx_agg" -> QuerySpec(
      build = (s, d) => {
        val base = graft.plans.Spread.byKey(
          lineitem(s, d).select(col("l_returnflag"), col("l_partkey"),
            col("l_extendedprice")),
          col("l_partkey"))
        val sketches = base
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_ap"),
            expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("_am"),
            expr("percentile(l_extendedprice, array(0.45D, 0.55D))").as("_p"))
        val exact = base
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        sketches.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"), col("exact_parts"),
            (abs(col("_ap") - col("exact_parts")) * 10 <= col("exact_parts"))
              .cast("int").as("parts_in_band"),
            (col("_am") >= col("_p").getItem(0) &&
              col("_am") <= col("_p").getItem(1))
              .cast("int").as("median_in_band"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n,
               count(DISTINCT l_partkey) AS exact_parts,
               1 AS parts_in_band, 1 AS median_in_band
        FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),
      bench = true),

    // ── PageRank over the supplier↔customer fulfillment graph ──────
    // Pregel-shaped iterative graph centrality: nodes are suppliers
    // and customers, an (undirected → both-ways) edge where a supplier
    // filled a line of a customer's order, weighted by how many lines
    // (parallel edges = edge weight, so heavy trading relationships
    // pull more rank). All arithmetic is integer
    // (ranks in trillionths, contributions via `div`, damping as
    // ×85 `div` 100) so two engines' float summation orders can't
    // diverge — the DuckDB oracle replays the SAME three unrolled
    // iterations exactly. Scale shape: node ids are LONGS (supplier
    // 2k, customer 2k+1 — strings materialize only in the final 20
    // rows) and the (src, dst, d) edge list is the src-BUCKETED
    // EdgeIndex artifact (degrees denormalized at build), so every
    // iteration's rank⋈edges join exchanges ONLY the |V|-row rank
    // side — EnsureRequirements inserts NO edge-scale exchange; the
    // only per-iteration shuffles are the rank-side hash exchange and
    // the map-side-combined contribution sum, ≤ partitions×|V|
    // two-long rows. A first cut that shuffled string keys per
    // iteration measured 9.9 s at sf0.1; the pre-artifact cut that
    // persisted the edges ad hoc paid the lineitem⋈orders build per
    // run AND re-exchanged edge rows (bench min-of-3: 5.0 → 3.2 s at
    // sf0.1, 29.2 → 11.1 s at 100× — SURVEY §8 round-10 table). This
    // is the standard 1000-executor PageRank plan. |V|
    // reaches the driver only as one bounded count (the same scalar
    // discipline as the max-id reads).
    "q136_pagerank" -> QuerySpec(
      build = (s, d) => withPagerankRanks(s, d)(localTop20(s, _)),
      oracle = Some(pagerankOracleSql),
      bench = true),

    // ── PageRank served from the rank artifact ─────────────────────
    // q136's production read path (the q108/q121 recipe): the full
    // |V|-row rank table is a per-dataset structure — computed once
    // per (lineitem, orders) content fingerprint by the SAME
    // pagerankRanks pipeline (no drift possible), materialized via
    // Artifacts.dirMulti, and every later centrality consumer reads
    // rank-scale parquet instead of re-running the iteration. Same
    // oracle as q136: the artifact IS the direct path's result.
    "q137_pagerank_from_index" -> QuerySpec(
      build = (s, d) => pagerankTop20(RankIndex.load(s, d)),
      oracle = Some(pagerankOracleSql),
      bench = true),

    // ── personalized PageRank: "related entities" for a seed set ───
    // Random walk with restart — the recommendation primitive: the
    // restart mass lands only on the SEED suppliers (s1..s5), so the
    // top-20 is the neighborhood that seed set most strongly reaches
    // through fulfillment edges, not global centrality. Each iteration
    // full-outer-joins the damped contributions with the 5-row seed
    // base (a node keeps its restart term even when the frontier
    // hasn't reached it this round — both engines replay the same
    // rule). Reads the edge list from the EdgeIndex ARTIFACT: the
    // degree-denormalized graph is the reusable per-dataset structure
    // (the postings-table of graph queries), so a PPR query set costs
    // parquet read + frontier-scale iterations, never the corpus-scale
    // edge build. Integer trillionths as q136.
    "q139_ppr_related" -> QuerySpec(
      build = (s, d) => withPprRanks(s, d)(localTop20(s, _)),
      oracle = Some(pprOracleSql),
      bench = true),

    // ── graph degree-distribution shape (the salting question) ─────
    // Before running ANY iterative graph op at 100 TB you ask: how
    // skewed is the degree distribution — does a hub node exist that
    // makes a per-node join partition explode (the q48 salting
    // trigger), and how heavy is the per-iteration frontier? This
    // answers it at report cost, per side of the bipartite fulfillment
    // graph: n_nodes, exact max degree, and degree p50/p90/p99 from
    // the log-histogram sketch ([[graft.plans.HistAgg]]) — the same
    // constant-state quantiles as q120, here over node degrees. The
    // quantile extraction is the window-free `aggregate()` fold
    // (HistAgg.quantileBucketSql — the streaming variant's shared
    // definition) because the frame is 2 rows.
    //
    // Scale shape: degrees ride the [[EdgeIndex]] artifact
    // DENORMALIZED (every edge row carries its source's degree), so
    // the query is one node-scale distinct over the bucketed edge
    // scan + a 2-group constant-state aggregate. Nothing edge-scale
    // shuffles; the corpus tables are never touched.
    "q148_degree_shape" -> QuerySpec(
      build = (s, d) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        val nodes = EdgeIndex.load(s, d)
          .select(col("src"), col("d")).distinct()
          .select(when(col("src") % 2 === 0, "supplier")
            .otherwise("customer").as("side"), col("d"))
        val hist = toC(graft.plans.HistAgg(toE(col("d")))
          .toAggregateExpression())
        def qb(p: Int) =
          expr(graft.plans.HistAgg.quantileBucketSql("_h", "_total", p))
        def lo(name: String) = expr(graft.plans.HistAgg.loSparkSql(name))
        nodes.groupBy(col("side"))
          .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_deg"),
            hist.as("_h"))
          .withColumn("_total",
            expr("aggregate(_h, CAST(0 AS BIGINT), (a, x) -> a + x)"))
          .withColumn("_b50", qb(50)).withColumn("_b90", qb(90))
          .withColumn("_b99", qb(99))
          .select(col("side"), col("n_nodes"), col("max_deg"),
            lo("_b50").as("p50_lo"), lo("_b90").as("p90_lo"),
            lo("_b99").as("p99_lo"))
          .orderBy("side")
      },
      oracle = Some(s"""
        WITH e0 AS (SELECT l_suppkey * 2 AS sid, o_custkey * 2 + 1 AS cid
                    FROM lineitem JOIN orders
                      ON l_orderkey = o_orderkey),
        ed AS (SELECT sid AS src FROM e0 UNION ALL SELECT cid FROM e0),
        deg AS (SELECT src, count(*) AS dg FROM ed GROUP BY 1),
        sd AS (SELECT CASE WHEN src % 2 = 0 THEN 'supplier'
                           ELSE 'customer' END AS side, dg FROM deg),
        bk AS (SELECT side, dg,
                 CASE WHEN dg < 8 THEN dg
                      ELSE ((length(bin(dg)) - 2) * 4
                            + ((dg >> (length(bin(dg)) - 3)) & 3))
                 END AS b
               FROM sd),
        c AS (SELECT side, b, count(*) c FROM bk GROUP BY 1, 2),
        cum AS (SELECT side, b, c,
                  sum(c) OVER (PARTITION BY side ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
                  sum(c) OVER (PARTITION BY side) total
                FROM c),
        q AS (SELECT side,
                min(CASE WHEN cum * 100 >= 50 * total THEN b END) b50,
                min(CASE WHEN cum * 100 >= 90 * total THEN b END) b90,
                min(CASE WHEN cum * 100 >= 99 * total THEN b END) b99
              FROM cum GROUP BY 1),
        m AS (SELECT side, count(*) n_nodes, max(dg) max_deg FROM sd
              GROUP BY 1)
        SELECT m.side, CAST(m.n_nodes AS BIGINT) AS n_nodes,
               CAST(m.max_deg AS BIGINT) AS max_deg,
               ${graft.plans.HistAgg.loDuckSql("b50")} AS p50_lo,
               ${graft.plans.HistAgg.loDuckSql("b90")} AS p90_lo,
               ${graft.plans.HistAgg.loDuckSql("b99")} AS p99_lo
        FROM m JOIN q USING (side)
        ORDER BY side"""),
      bench = true),

    // ── join-size estimation from sketches (size the shuffle BEFORE
    // paying it) — and an estimator SHOOTOUT the query itself
    // measures. |A ⨝ B on k| = Σ_k f_A(k)·f_B(k), and two constant-
    // state sketches price it without running the join:
    //
    //   - CMS dot product (min_j Σ_i cA[j][i]·cB[j][i]): one-sided —
    //     colliding keys only ADD nonnegative cross terms, so it
    //     never undercounts, but its error ‖A‖₁·‖B‖₁/w drowns the
    //     truth whenever distinct keys ≫ 256 buckets (at sf0.1 it
    //     overcounts ~58,000% — reported, not hidden);
    //   - Count-Sketch / AGMS inner product ([[graft.plans.
    //     CountSketchAgg]]): signed counters cancel collisions in
    //     expectation — UNBIASED, variance ~ ‖A‖₂²‖B‖₂²/w, median of
    //     the 4 independent rows (floor-mean of the middle pair via
    //     arithmetic shift — identical in both engines). This is the
    //     number an orchestrator reads to pick broadcast vs shuffle
    //     vs salting before launching a 100 TB join.
    //
    // Cost: ONE 8 KiB-state exchange per side per sketch vs executing
    // the join; the exact count rides along as the audit. All integer:
    // counters are exact (signed) counts, dot products order-free
    // integer sums, so DuckDB rebuilds all cells and every estimate
    // hash-checks bit-for-bit.
    "q150_join_size_estimate" -> QuerySpec(
      build = (s, d) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        // the ONE canonical 60-bit hash definition (string-cast keys)
        def h60(c: org.apache.spark.sql.Column) =
          graft.text.TextQueries.md5Hash60(c.cast("string"))
        def agg2(df: DataFrame, a: String, b: String) = {
          val cms = toC(graft.plans.CmsAgg(toE(col("h")))
            .toAggregateExpression())
          val cs = toC(graft.plans.CountSketchAgg(toE(col("h")))
            .toAggregateExpression())
          df.agg(cms.as(a), cs.as(b))
        }
        val ca = agg2(lineitem(s, d)
          .select(h60(col("l_orderkey")).as("h")), "ca", "sa")
        val cb = agg2(orders(s, d)
          .select(h60(col("o_orderkey")).as("h")), "cb", "sb")
        val exact = lineitem(s, d).select(col("l_orderkey"))
          .join(orders(s, d).select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("exact_rows"))
        val W = graft.plans.CmsAgg.w
        def dot(x: String, y: String, j: Int) = expr(
          s"""aggregate(
              zip_with(slice($x, ${j * W + 1}, $W),
                       slice($y, ${j * W + 1}, $W), (p, q) -> p * q),
              CAST(0 AS BIGINT), (a, v) -> a + v)""")
        val dots = (0 until graft.plans.CmsAgg.d)
        // exactness guard: with every bucket count below 2^27, each
        // 256-term dot product stays under 2^62 — beyond that Spark's
        // non-ANSI multiply would WRAP silently while DuckDB throws,
        // so fail loudly instead of diverging (~1.7e10 rows per side
        // at uniform keys; widen the accumulator to decimal past it)
        val lim = 1L << 27
        def mx(arr: String) = expr(
          s"aggregate($arr, cast(0 as bigint), (a, x) -> greatest(a, x))")
        // deliberate bounded crosses: three 1-row frames
        ca.crossJoin(cb).crossJoin(exact)
          .withColumn("cms_est",
            when(greatest(mx("ca"), mx("cb")) >= lit(lim),
              raise_error(lit("q150: bucket counts exceed the exact " +
                "64-bit dot-product range — widen to decimal")))
            .otherwise(least(dots.map(dot("ca", "cb", _)): _*)))
          .withColumn("_sd", array_sort(array(dots.map(dot("sa", "sb", _)): _*)))
          // median of 4 = floor-mean of the middle pair; shiftright
          // floors for negatives identically in both engines (div
          // truncates toward zero and would diverge)
          .withColumn("ams_est",
            shiftright(element_at(col("_sd"), 2) +
              element_at(col("_sd"), 3), 1))
          .select(col("exact_rows"), col("cms_est"),
            StableRound.r4((col("cms_est") - col("exact_rows"))
              .cast("double") / col("exact_rows") * 100).as("cms_over_pct"),
            col("ams_est"),
            StableRound.r4(abs(col("ams_est") - col("exact_rows"))
              .cast("double") / col("exact_rows") * 100).as("ams_err_pct"))
      },
      oracle = Some(s"""
        WITH la AS (SELECT ('0x' || substring(md5(l_orderkey::VARCHAR),
                      1, 15))::BIGINT h FROM lineitem),
        lb AS (SELECT ('0x' || substring(md5(o_orderkey::VARCHAR),
                      1, 15))::BIGINT h FROM orders),
        js AS (SELECT unnest(generate_series(0, 3)) j),
        ca AS (SELECT j, (h >> (8 * j)) & 255 AS i, count(*) c,
                 CAST(sum(CASE WHEN ((h >> (32 + j)) & 1) = 1
                          THEN 1 ELSE -1 END) AS BIGINT) sc
               FROM la CROSS JOIN js GROUP BY 1, 2),
        cb AS (SELECT j, (h >> (8 * j)) & 255 AS i, count(*) c,
                 CAST(sum(CASE WHEN ((h >> (32 + j)) & 1) = 1
                          THEN 1 ELSE -1 END) AS BIGINT) sc
               FROM lb CROSS JOIN js GROUP BY 1, 2),
        dot AS (SELECT js.j,
                  CAST(coalesce(sum(ca.c * cb.c), 0) AS BIGINT) e,
                  CAST(coalesce(sum(ca.sc * cb.sc), 0) AS BIGINT) se
                FROM js
                LEFT JOIN ca ON ca.j = js.j
                LEFT JOIN cb ON cb.j = ca.j AND cb.i = ca.i
                GROUP BY 1),
        est AS (SELECT min(e) cms_est FROM dot),
        med AS (SELECT list_sort(list(se)) le FROM dot),
        ams AS (SELECT (le[2] + le[3]) >> 1 AS ams_est FROM med),
        ex AS (SELECT count(*) c FROM lineitem JOIN orders
               ON l_orderkey = o_orderkey)
        SELECT CAST(ex.c AS BIGINT) AS exact_rows,
               CAST(est.cms_est AS BIGINT) AS cms_est,
               ${StableRound.sql4(
                 "CAST(est.cms_est - ex.c AS DOUBLE) / ex.c * 100")}
                 AS cms_over_pct,
               CAST(ams.ams_est AS BIGINT) AS ams_est,
               ${StableRound.sql4(
                 "CAST(abs(ams.ams_est - ex.c) AS DOUBLE) / ex.c * 100")}
                 AS ams_err_pct
        FROM ex CROSS JOIN est CROSS JOIN ams"""),
      bench = true),

    // ── measured auto-dispatched join (the JoinAdvisor in production) ─
    // q48 demonstrates salting BY HAND; this is the join as it should
    // actually be launched at 100 TB: [[SaltedJoin.auto]] measures both
    // sides (JoinAdvisor's two cheap passes — degree rollup + AGMS
    // sketch), picks broadcast/salted/shuffle_hash from the documented
    // thresholds, and runs the SAME logical join on the chosen physical
    // plan. The oracle replays ALL of it: the join aggregate (proving
    // dispatch never changes semantics), each side's row/distinct/
    // max-key stats, the threshold decision itself (CASE over those
    // stats with the default broadcastMaxRows=10⁶, partitions=32,
    // skewFactor=4), AND the AGMS join-size estimate bit-for-bit (the
    // q150 sketch-rebuild CTEs over the advisor's md5-of-string-cast
    // hash). On these tables the measured verdict is broadcast_right
    // (customer fits at every SF) — the salted and shuffle_hash
    // branches are pinned by OperatorSpec's engineered fixtures.
    // Scale: two constant-state passes + one distinct-key-scale rollup
    // per side BEFORE committing a strategy — the 100 TB insurance.
    "q162_auto_join" -> QuerySpec(
      build = (s, d) => {
        val fact = ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"))
        val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        val (joined, advice) = SaltedJoin.auto(fact, "user_id",
          dim, "c_custkey", saltSrc = xxhash64(col("event_id")))
        val strat = advice.strategy match {
          case JoinAdvisor.BroadcastSide(side) => "broadcast_" + side
          case JoinAdvisor.ShuffleHash => "shuffle_hash"
          case JoinAdvisor.Salted(n) => "salted_" + n
        }
        joined.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .withColumn("strategy", lit(strat))
          .withColumn("l_rows", lit(advice.left.rows))
          .withColumn("l_distinct", lit(advice.left.distinctKeys))
          .withColumn("l_maxkey", lit(advice.left.maxKeyRows))
          .withColumn("r_rows", lit(advice.right.rows))
          .withColumn("r_distinct", lit(advice.right.distinctKeys))
          .withColumn("r_maxkey", lit(advice.right.maxKeyRows))
          .withColumn("est_join_rows", lit(advice.estJoinRows))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        WITH f AS (SELECT event_id, user_id, event_type FROM events
                   WHERE user_id IS NOT NULL),
        dm AS (SELECT c_custkey, c_mktsegment FROM customer
               WHERE c_custkey IS NOT NULL),
        ldeg AS (SELECT user_id k, count(*) c FROM f GROUP BY 1),
        rdeg AS (SELECT c_custkey k, count(*) c FROM dm GROUP BY 1),
        ls AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) nrows,
                      CAST(count(*) AS BIGINT) nd,
                      CAST(coalesce(max(c), 0) AS BIGINT) mx FROM ldeg),
        rs AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) nrows,
                      CAST(count(*) AS BIGINT) nd,
                      CAST(coalesce(max(c), 0) AS BIGINT) mx FROM rdeg),
        la AS (SELECT ('0x' || substring(md5(user_id::VARCHAR),
                  1, 15))::BIGINT h FROM f),
        lb AS (SELECT ('0x' || substring(md5(c_custkey::VARCHAR),
                  1, 15))::BIGINT h FROM dm),
        js AS (SELECT unnest(generate_series(0, 3)) j),
        ca AS (SELECT j, (h >> (8 * j)) & 255 AS i,
                 CAST(sum(CASE WHEN ((h >> (32 + j)) & 1) = 1
                          THEN 1 ELSE -1 END) AS BIGINT) sc
               FROM la CROSS JOIN js GROUP BY 1, 2),
        cb AS (SELECT j, (h >> (8 * j)) & 255 AS i,
                 CAST(sum(CASE WHEN ((h >> (32 + j)) & 1) = 1
                          THEN 1 ELSE -1 END) AS BIGINT) sc
               FROM lb CROSS JOIN js GROUP BY 1, 2),
        dot AS (SELECT js.j,
                  CAST(coalesce(sum(ca.sc * cb.sc), 0) AS BIGINT) se
                FROM js
                LEFT JOIN ca ON ca.j = js.j
                LEFT JOIN cb ON cb.j = ca.j AND cb.i = ca.i
                GROUP BY 1),
        med AS (SELECT list_sort(list(se)) le FROM dot),
        ams AS (SELECT greatest(0, (le[2] + le[3]) >> 1) AS est FROM med),
        dec AS (SELECT
                  CASE WHEN least(ls.nrows, rs.nrows) <= 1000000 THEN
                         CASE WHEN ls.nrows <= rs.nrows
                              THEN 'broadcast_left'
                              ELSE 'broadcast_right' END
                       WHEN greatest(ls.mx, rs.mx) >
                            4 * greatest(greatest(ls.nrows, rs.nrows) // 32, 1)
                       THEN 'salted_' || least(32, greatest(2,
                              (greatest(ls.mx, rs.mx)
                               + greatest(greatest(ls.nrows, rs.nrows) // 32, 1)
                               - 1)
                              // greatest(greatest(ls.nrows, rs.nrows) // 32, 1)))
                       ELSE 'shuffle_hash' END AS strategy
                FROM ls CROSS JOIN rs),
        g AS (SELECT c_mktsegment, count(*) AS n_events,
                     count(DISTINCT user_id) AS n_users
              FROM events JOIN customer ON user_id = c_custkey
              GROUP BY 1)
        SELECT g.c_mktsegment, g.n_events, g.n_users, dec.strategy,
               ls.nrows AS l_rows, ls.nd AS l_distinct, ls.mx AS l_maxkey,
               rs.nrows AS r_rows, rs.nd AS r_distinct, rs.mx AS r_maxkey,
               CAST(ams.est AS BIGINT) AS est_join_rows
        FROM g CROSS JOIN dec CROSS JOIN ls CROSS JOIN rs CROSS JOIN ams
        ORDER BY g.c_mktsegment"""),
      bench = true),

    // ── measured auto-dispatched LEFT join (r12: the lookup shape) ──
    // q162 dispatches an inner join; the ETL's real lookup joins
    // (C1-C3: attach a dimension, keep the misses for a reject split)
    // are LEFT joins that skew identically — this is SaltedJoin.auto's
    // left-join surface as a query. Events keep their row whether or
    // not a customer matches (null user_ids included); the unmatched
    // mass lands in the '(none)' bucket, n_matched counts the joined
    // side's hits — over- or under-matching on ANY dispatch branch
    // breaks one of the two counts. The oracle replays the MASKED
    // threshold decision too: a left join may only broadcast its
    // non-preserved right side ([[JoinAdvisor.choose]] with the left
    // branch off), so the CASE tests the right side alone before
    // falling through to the skew test — the dispatch rule itself,
    // cross-engine.
    // Scale: the advisor pre-flight (two narrow passes per side), then
    // the dispatched join — here broadcast_right at every SF (customer
    // fits); the salted/shuffle left variants are pinned by
    // OperatorSpec's engineered fixtures.
    "q167_auto_left_join" -> QuerySpec(
      build = (s, d) => {
        val fact = ev(s, d).select(col("event_id"), col("user_id"),
          col("event_type"))
        val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        val (joined, advice) = SaltedJoin.auto(fact, "user_id",
          dim, "c_custkey", saltSrc = xxhash64(col("event_id")),
          joinType = "left")
        val strat = advice.strategy match {
          case JoinAdvisor.BroadcastSide(side) => "broadcast_" + side
          case JoinAdvisor.ShuffleHash => "shuffle_hash"
          case JoinAdvisor.Salted(n) => "salted_" + n
        }
        joined
          .groupBy(coalesce(col("c_mktsegment"), lit("(none)"))
            .as("segment"))
          .agg(count(lit(1)).as("n_events"),
            count(col("c_custkey")).as("n_matched"))
          .withColumn("strategy", lit(strat))
          .withColumn("l_rows", lit(advice.left.rows))
          .withColumn("r_rows", lit(advice.right.rows))
          .withColumn("r_maxkey", lit(advice.right.maxKeyRows))
          .orderBy("segment")
      },
      oracle = Some("""
        WITH f AS (SELECT event_id, user_id FROM events
                   WHERE user_id IS NOT NULL),
        dm AS (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL),
        ls AS (SELECT CAST(count(*) AS BIGINT) nrows FROM f),
        rdeg AS (SELECT c_custkey k, count(*) c FROM dm GROUP BY 1),
        rs AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) nrows,
                      CAST(coalesce(max(c), 0) AS BIGINT) mx FROM rdeg),
        ldeg AS (SELECT user_id k, count(*) c FROM f GROUP BY 1),
        lsk AS (SELECT CAST(coalesce(max(c), 0) AS BIGINT) mx FROM ldeg),
        dec AS (SELECT
                  CASE WHEN rs.nrows <= 1000000 THEN 'broadcast_right'
                       WHEN greatest(lsk.mx, rs.mx) >
                            4 * greatest(greatest(ls.nrows, rs.nrows) // 32, 1)
                       THEN 'salted_' || least(32, greatest(2,
                              (greatest(lsk.mx, rs.mx)
                               + greatest(greatest(ls.nrows, rs.nrows) // 32, 1)
                               - 1)
                              // greatest(greatest(ls.nrows, rs.nrows) // 32, 1)))
                       ELSE 'shuffle_hash' END AS strategy
                FROM ls CROSS JOIN rs CROSS JOIN lsk),
        g AS (SELECT coalesce(c_mktsegment, '(none)') AS segment,
                     count(*) AS n_events,
                     count(c_custkey) AS n_matched
              FROM events LEFT JOIN customer ON user_id = c_custkey
              GROUP BY 1)
        SELECT g.segment, g.n_events, g.n_matched, dec.strategy,
               ls.nrows AS l_rows, rs.nrows AS r_rows,
               rs.mx AS r_maxkey
        FROM g CROSS JOIN dec CROSS JOIN ls CROSS JOIN rs
        ORDER BY g.segment"""),
      bench = true),

    // ── versioned snapshot diff (r13) ──────────────────────────────
    // "What did the load change?" — [[graft.etl.TableDiff]]: two table
    // versions diff through a bucket-fingerprint short-circuit (per
    // bucket, the decimal(38)-summed 64-bit row xxhash64 — one narrow scan
    // per side, ≤buckets-row exchanges, bounded driver compare), and
    // ONLY buckets whose fingerprints differ enter the row-level
    // full-outer join — churn-scale shuffle, not corpus-scale; on a
    // SilverStore-bucketed table the bucket filter is a parquet
    // partition filter (TableDiffSpec pins both). Versions here are
    // derived deterministically from `orders` (removals: key%13,
    // changes: key%11 price+1, adds: key%17 re-keyed +1e12) so both
    // engines build identical inputs; the oracle replays the FULL
    // unpruned diff — the hash match proves bucket pruning is
    // row-invisible (the q168 proof shape: any changed/added/removed
    // row flips its bucket's multiset sum). Output is the classified
    // rollup (counts + key/price checksums), bounded at any SF.
    "q170_snapshot_diff" -> QuerySpec(
      build = (s, d) => {
        val base = orders(s, d).select(col("o_orderkey"),
          col("o_totalprice"))
        val v2 = base.filter(col("o_orderkey") % 13 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")))
          .unionByName(base.filter(col("o_orderkey") % 17 === 0)
            .withColumn("o_orderkey",
              col("o_orderkey") + lit(1000000000000L)))
        val (diff, _) = graft.etl.TableDiff.diff(base, v2,
          Seq("o_orderkey"), 64)
        diff.groupBy(col("diff_status"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            round(sum(coalesce(col("v1.o_totalprice"), lit(0.0))), 2)
              .as("p1_sum"),
            round(sum(coalesce(col("v2.o_totalprice"), lit(0.0))), 2)
              .as("p2_sum"))
          .orderBy("diff_status")
      },
      oracle = Some("""
        WITH v1 AS (SELECT o_orderkey, o_totalprice FROM orders),
        v2 AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1
                      ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000000, o_totalprice
          FROM orders WHERE o_orderkey % 17 = 0),
        d AS (
          SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                      WHEN b.o_orderkey IS NULL THEN 'removed'
                      WHEN a.o_totalprice <> b.o_totalprice
                      THEN 'changed' END AS diff_status,
                 coalesce(a.o_orderkey, b.o_orderkey) AS k,
                 a.o_totalprice AS p1, b.o_totalprice AS p2
          FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
        SELECT diff_status, count(*) AS n,
               CAST(sum(k) AS BIGINT) AS key_sum,
               round(sum(coalesce(p1, 0)), 2) AS p1_sum,
               round(sum(coalesce(p2, 0)), 2) AS p2_sum
        FROM d WHERE diff_status IS NOT NULL
        GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ── z-order layout locality audit (r13) ────────────────────────
    // [[graft.etl.ZOrder]]: Morton-interleave (customer, order-day)
    // into one integer sort key, then audit what the layout buys —
    // per top-6-bit z-range (the 64 "files" a z-ordered write would
    // cut), the count and BOTH dimensions' min/max: every bucket
    // spans a bounded rectangle of (customer, day) space, which is
    // exactly why parquet footer stats prune range filters on EITHER
    // dimension after [[graft.etl.ZOrder.writeZOrdered]] (ZOrderSpec
    // measures the row-group skipping directly: a 10% customer band
    // materializes ~a quarter of the z-ordered table vs 100% of the
    // time-sorted twin). All arithmetic is integer (overflow-free
    // affine 16-bit bucketing + the 4-step magic-mask bit spread), so
    // DuckDB replays the curve bit-for-bit.
    // Scale shape: one broadcast 1-row min/max aggregate + one
    // map-side-combined 64-group rollup — no shuffle beyond the
    // bounded agg; the layout WRITE is the operator, this query is
    // its audit.
    "q171_zorder_locality" -> QuerySpec(
      build = (s, d) => {
        val base = orders(s, d).select(
          col("o_custkey").cast("long").as("ca"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("dy"))
        graft.etl.ZOrder.zKey(base, col("ca"), col("dy"))
          .withColumn("zb", shiftright(col("_z"), 26))
          .groupBy(col("zb"))
          .agg(count(lit(1)).as("n"),
            min(col("ca")).as("min_cust"), max(col("ca")).as("max_cust"),
            min(col("dy")).as("min_day"), max(col("dy")).as("max_day"))
          .orderBy("zb")
      },
      oracle = Some("""
        WITH base AS (
          SELECT CAST(o_custkey AS BIGINT) AS ca,
                 date_diff('day', DATE '1970-01-01',
                           CAST(o_orderdate AS DATE)) AS dy
          FROM orders),
        mm AS (SELECT min(ca) mna, max(ca) mxa,
                      min(dy) mnb, max(dy) mxb FROM base),
        sc AS (SELECT ((ca - mna) * 65535) // greatest(mxa - mna, 1) AS a,
                      ((dy - mnb) * 65535) // greatest(mxb - mnb, 1) AS b,
                      ca, dy
               FROM base CROSS JOIN mm),
        p1 AS (SELECT (a | (a << 8)) & 16711935 AS a1,
                      (b | (b << 8)) & 16711935 AS b1, ca, dy FROM sc),
        p2 AS (SELECT (a1 | (a1 << 4)) & 252645135 AS a2,
                      (b1 | (b1 << 4)) & 252645135 AS b2, ca, dy FROM p1),
        p3 AS (SELECT (a2 | (a2 << 2)) & 858993459 AS a3,
                      (b2 | (b2 << 2)) & 858993459 AS b3, ca, dy FROM p2),
        p4 AS (SELECT (a3 | (a3 << 1)) & 1431655765 AS a4,
                      (b3 | (b3 << 1)) & 1431655765 AS b4, ca, dy FROM p3),
        z AS (SELECT (a4 | (b4 << 1)) >> 26 AS zb, ca, dy FROM p4)
        SELECT zb, count(*) AS n,
               min(ca) AS min_cust, max(ca) AS max_cust,
               min(dy) AS min_day, max(dy) AS max_day
        FROM z GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ── Bloom-pruned join (r13) ────────────────────────────────────
    // [[graft.operators.BloomJoin]]: the join shape neither broadcast
    // nor plain shuffle prices right — the build side (a selective
    // customer subset) is too big to broadcast AS PAYLOAD at real
    // scale, but its KEY SET compresses into one 1 KiB BloomAgg
    // array, which broadcasts into the probe scan and rejects
    // non-matching event rows BEFORE the join exchange: the probe
    // shuffle carries ~selectivity + 0.24% of the rows. No false
    // negatives by construction, false positives die in the exact
    // join — so the oracle replays the FULL unpruned semi join and
    // the hash match proves the pruning is row-invisible (the
    // q168/q170 proof shape). BloomJoinSpec pins the filter below the
    // probe-side Exchange and measures the reduction.
    "q172_bloom_pruned_join" -> QuerySpec(
      build = (s, d) => {
        val fact = ev(s, d).select(col("user_id"), col("event_type"))
          .filter(col("user_id").isNotNull)
        val dim = customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("c_nationkey") < 5)
          .select(col("c_custkey"))
        graft.operators.BloomJoin
          .prunedJoin(fact, "user_id", dim, "c_custkey", "left_semi")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events e
        WHERE user_id IS NOT NULL AND EXISTS (
          SELECT 1 FROM customer c
          WHERE c.c_custkey = e.user_id
            AND c.c_mktsegment = 'BUILDING' AND c.c_nationkey < 5)
        GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ── cascaded rollup (r13) ──────────────────────────────────────
    // [[graft.operators.CascadedRollup]]: multi-level totals WITHOUT
    // the Expand node Spark's built-in rollup() puts in front of the
    // aggregation exchange (L+1 copies of every fact row — a 4-level
    // rollup over 100 TB shuffles ~500 TB). The cascade aggregates
    // the fact table ONCE at the finest grain (one map-side-combined
    // exchange, same as a plain groupBy) and folds each coarser level
    // from the previous level's group-scale result (sum→sum,
    // count→sum, max→max — distributive combines only, enforced).
    // `lvl` = dims retained disambiguates rollup-null from data-null
    // (GROUPING_ID's job). The oracle replays DuckDB's NATIVE
    // GROUP BY ROLLUP — the hash match proves the cascade is
    // level-by-level identical to the textbook lowering. PlanSpec
    // pins zero Expand nodes + the single fact-table exchange.
    "q175_cascaded_rollup" -> QuerySpec(
      build = (s, d) => {
        import graft.operators.CascadedRollup._
        val fact = lineitem(s, d).select(
          col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"),
          col("l_quantity"), col("l_extendedprice"))
        rollup(fact,
          Seq("l_returnflag", "l_linestatus", "ship_year"),
          Seq(sum_("l_quantity", "sum_qty"), count_("n"),
            max_("l_extendedprice", "max_price")))
          .withColumn("sum_qty", round(col("sum_qty"), 2))
          .orderBy(col("lvl").desc,
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first,
            col("ship_year").asc_nulls_first)
      },
      oracle = Some("""
        WITH f AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
                 l_quantity, l_extendedprice
          FROM lineitem)
        SELECT l_returnflag, l_linestatus, ship_year,
               3 - CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END
                 - CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END
                 - CASE WHEN ship_year IS NULL THEN 1 ELSE 0 END AS lvl,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n,
               max(l_extendedprice) AS max_price
        FROM f
        GROUP BY ROLLUP (l_returnflag, l_linestatus, ship_year)
        ORDER BY lvl DESC, l_returnflag ASC NULLS FIRST,
                 l_linestatus ASC NULLS FIRST,
                 ship_year ASC NULLS FIRST"""),
      bench = true),

    // ── incremental rollup maintenance (r13) ───────────────────────
    // The q175 cascade's finest-grain frame doubles as MAINTAINABLE
    // state: because every [[graft.operators.CascadedRollup.Agg]] is
    // distributive, an ingest batch folds into the stored finest table
    // at batch + GROUP scale ([[graft.operators.CascadedRollup
    // .foldFinest]]) and every coarser level re-derives from it — the
    // historical fact rows are NEVER re-read (the materialized-view
    // maintenance pattern a 100 TB fact table demands: per-day cost ∝
    // batch + |groups|, not ∝ corpus). Here the events table splits at
    // a fixed day boundary into "yesterday's store" and "today's
    // batch"; the oracle replays the FULL recompute (DuckDB ROLLUP
    // over all events) — the hash match proves fold-then-cascade ≡
    // rebuild, the same identity discipline as q165/q170. Append-only
    // by contract: sum/count retract, min/max do not (scaladoc'd).
    // All-integer measures (floored cents) so both engines agree
    // exactly regardless of summation order.
    "q176_incremental_rollup" -> QuerySpec(
      build = (s, d) => {
        import graft.operators.CascadedRollup._
        val cut = 1706054400000000L // 2024-01-24 UTC: the batch boundary
        val base = ev(s, d).select(
          col("event_type"),
          expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("ts_us"))
        val dims = Seq("event_type", "dow")
        val aggs = Seq(sum_("cents", "sum_cents"), count_("n"),
          max_("cents", "max_cents"))
        val stored = aggregateFinest(
          base.filter(col("ts_us") < cut).drop("ts_us"), dims, aggs)
        val folded = foldFinest(stored,
          base.filter(col("ts_us") >= cut).drop("ts_us"), dims, aggs)
        cascadeFrom(folded, dims, aggs)
          .orderBy(col("lvl").desc, col("event_type").asc_nulls_first,
            col("dow").asc_nulls_first)
      },
      oracle = Some("""
        WITH f AS (
          SELECT event_type,
                 (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events)
        SELECT event_type, dow,
               2 - CASE WHEN event_type IS NULL THEN 1 ELSE 0 END
                 - CASE WHEN dow IS NULL THEN 1 ELSE 0 END AS lvl,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               count(*) AS n, max(cents) AS max_cents
        FROM f
        GROUP BY ROLLUP (event_type, dow)
        ORDER BY lvl DESC, event_type ASC NULLS FIRST,
                 dow ASC NULLS FIRST"""),
      bench = true),

    // ── cascaded APPROXIMATE-distinct rollup (r13) ─────────────────
    // q175/q176 cascade DISTRIBUTIVE aggregates; distinct counts are
    // the canonical NON-distributive one (a user active on two days
    // double-counts if day-level distincts just sum). But the HLL
    // REGISTER ARRAY ([[graft.plans.HllRegsAgg]]) is distributive —
    // registers merge under elementwise max, associatively — so the
    // sketch cascades where the raw statistic cannot: ONE fact-table
    // pass builds finest-grain (type, dow) registers (512 B state per
    // group), each coarser level folds the finer level's 4 KiB arrays
    // (`aggregate(collect_list(..), zip_with greatest)` over ≤7-row
    // groups), never re-reading a fact row. The oracle rebuilds every
    // level's registers DIRECTLY from the raw rows — the hash match
    // IS the proof that fold-of-maxes == max-over-union, the algebra
    // the cascade rests on. Exact countDistinct twins ride along per
    // level (each an honest extra fact pass, the q104/q141 audit
    // discipline) so every estimate carries its own err_pct; at
    // 100 TB the register cascade is the nightly path and the exact
    // twin the escalation audit.
    "q178_cascaded_distinct_rollup" -> QuerySpec(
      build = (s, d) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        val m = graft.plans.HllAgg.m
        val regsAgg = toC(graft.plans.HllRegsAgg(toE(col("h60")))
          .toAggregateExpression())
        // integer Σ 2^(52-M_j) over an in-row array, then ONE double
        // division per estimate (the q141 recipe)
        def ssSql(arr: String) =
          s"aggregate($arr, cast(0 as bigint), (acc, v) -> acc + shiftleft(cast(1 as bigint), 52 - cast(v as int)))"
        def est(arr: String) =
          lit(graft.plans.HllAgg.alphaNum) / expr(ssSql(arr)).cast("double")
        // bounded-group register fold: elementwise max across rows
        val foldRegs = expr(
          s"aggregate(collect_list(regs), array_repeat(cast(0 as bigint), $m), (acc, x) -> zip_with(acc, x, (a, b) -> greatest(a, b)))")
        val base = ev(s, d).filter(col("user_id").isNotNull)
          .select(col("event_type"),
            expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
            graft.text.TextQueries.md5Hash60(
              col("user_id").cast("string")).as("h60"),
            col("user_id"))
        val finest = base.groupBy(col("event_type"), col("dow"))
          .agg(regsAgg.as("regs"),
            countDistinct(col("user_id")).as("exact_d"))
        val l1 = finest.groupBy(col("event_type"))
          .agg(foldRegs.as("regs"))
          .join(base.groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("exact_d")),
            Seq("event_type"))
        val l0 = finest.agg(foldRegs.as("regs"))
          .crossJoin(base.agg(countDistinct(col("user_id"))
            .as("exact_d")))
        def shaped(df: DataFrame, lvl: Int, hasType: Boolean,
                   hasDow: Boolean) = df.select(
          (if (hasType) col("event_type")
           else lit(null).cast("string").as("event_type")) ::
          (if (hasDow) col("dow")
           else lit(null).cast("bigint").as("dow")) ::
          lit(lvl).as("lvl") :: col("exact_d") ::
          StableRound.r4(est("regs")).as("est_d") :: Nil: _*)
        shaped(finest, 2, hasType = true, hasDow = true)
          .unionByName(shaped(l1, 1, hasType = true, hasDow = false))
          .unionByName(shaped(l0, 0, hasType = false, hasDow = false))
          .withColumn("err_pct", StableRound.r4(
            abs(col("est_d") - col("exact_d")) / col("exact_d") * 100))
          .orderBy(col("lvl").desc, col("event_type").asc_nulls_first,
            col("dow").asc_nulls_first)
      },
      oracle = Some {
        val alpha = graft.plans.HllAgg.alphaNum
        // s_scaled without the 512-row cross join: absent registers
        // contribute 2^52 each (present ones have rank >= 1)
        def lvlCtes(tag: String, dims: String) = {
          val dsel = if (dims.isEmpty) "" else s"$dims,"
          val dgrp = if (dims.isEmpty) "" else s"GROUP BY $dims"
          val dgrpI = if (dims.isEmpty) "GROUP BY idx"
                      else s"GROUP BY $dims, idx"
          val djoin = if (dims.isEmpty) "ON TRUE" else s"USING ($dims)"
          s"""
        regs$tag AS (SELECT $dsel idx, max(rnk) mr FROM rk $dgrpI),
        ss$tag AS (SELECT $dsel
                     CAST(sum(1::BIGINT << (52 - mr))
                          + (512 - count(*)) * (1::BIGINT << 52)
                        AS BIGINT) s
                   FROM regs$tag $dgrp),
        ex$tag AS (SELECT $dsel count(DISTINCT user_id) ed
                   FROM b $dgrp),
        l$tag AS (SELECT $dsel ed,
                    ${StableRound.sql4(s"$alpha / CAST(s AS DOUBLE)")} est
                  FROM ss$tag JOIN ex$tag $djoin)"""
        }
        s"""
        WITH b AS (SELECT event_type,
                     (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                     user_id,
                     ('0x' || substring(md5(user_id::VARCHAR), 1, 15))
                       ::BIGINT h60
                   FROM events WHERE user_id IS NOT NULL),
        r AS (SELECT event_type, dow, user_id, h60 >> 51 AS idx,
                h60 & ((1::BIGINT << 51) - 1) AS rem FROM b),
        rk AS (SELECT event_type, dow, user_id, idx,
                 CASE WHEN rem = 0 THEN 52
                      ELSE 52 - length(bin(rem)) END AS rnk
               FROM r),
        ${lvlCtes("2", "event_type, dow")},
        ${lvlCtes("1", "event_type")},
        ${lvlCtes("0", "")},
        u AS (
          SELECT event_type, dow, 2 AS lvl, ed, est FROM l2
          UNION ALL
          SELECT event_type, CAST(NULL AS BIGINT), 1, ed, est FROM l1
          UNION ALL
          SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 0, ed, est
          FROM l0)
        SELECT event_type, dow, lvl, CAST(ed AS BIGINT) AS exact_d,
               est AS est_d,
               ${StableRound.sql4("abs(est - ed) / ed * 100")} AS err_pct
        FROM u
        ORDER BY lvl DESC, event_type ASC NULLS FIRST,
                 dow ASC NULLS FIRST"""
      },
      bench = true),

    // ── cascaded quantile rollup via the HIST sketch (r13) ─────────
    // The q178 principle on the DISTRIBUTION statistic: exact
    // percentiles don't cascade (a parent's p50 is not a function of
    // its children's p50s — the whole value multiset matters), but
    // the log-histogram sketch ([[graft.plans.HistAgg]]) is
    // distributive — bucket counters SUM, associatively. One fact
    // pass builds finest-grain (type, dow) sketches (2 KiB state per
    // group); each coarser level folds the finer level's 256-long
    // arrays (`zip_with(+)` over ≤7-row groups) and extracts p50/p90
    // with the shared window-free `quantileBucketSql` fold; `n` is
    // derived from the sketch itself (element sum), so every level's
    // numbers come from ONE structure. The oracle rebuilds every
    // level's counters DIRECTLY from raw rows — the hash match proves
    // sum-fold == recount-over-union. Negative cents are filtered
    // identically on both sides (HistAgg would skip them silently;
    // the explicit filter keeps the twins honest).
    "q179_cascaded_quantile_rollup" -> QuerySpec(
      build = (s, d) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        val w = graft.plans.HistAgg.w
        val hist = toC(graft.plans.HistAgg(toE(col("cents")))
          .toAggregateExpression())
        val foldH = expr(
          s"aggregate(collect_list(h), array_repeat(cast(0 as bigint), $w), (acc, x) -> zip_with(acc, x, (a, b) -> a + b))")
        val base = ev(s, d)
          .select(col("event_type"),
            expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
            floor(col("value") * 100).cast("long").as("cents"))
          .filter(col("cents") >= 0)
        val finest = base.groupBy(col("event_type"), col("dow"))
          .agg(hist.as("h"))
        val l1 = finest.groupBy(col("event_type")).agg(foldH.as("h"))
        val l0 = finest.agg(foldH.as("h"))
        def shaped(df: DataFrame, lvl: Int, hasType: Boolean,
                   hasDow: Boolean) = df.select(
            (if (hasType) col("event_type")
             else lit(null).cast("string").as("event_type")) ::
            (if (hasDow) col("dow")
             else lit(null).cast("bigint").as("dow")) ::
            lit(lvl).as("lvl") :: col("h") :: Nil: _*)
          .withColumn("n", expr(
            "aggregate(h, cast(0 as bigint), (acc, x) -> acc + x)"))
          .withColumn("_b50", expr(
            graft.plans.HistAgg.quantileBucketSql("h", "n", 50)))
          .withColumn("_b90", expr(
            graft.plans.HistAgg.quantileBucketSql("h", "n", 90)))
          .select(col("event_type"), col("dow"), col("lvl"), col("n"),
            expr(graft.plans.HistAgg.loSparkSql("_b50")).as("p50_lo"),
            expr(graft.plans.HistAgg.loSparkSql("_b90")).as("p90_lo"))
        shaped(finest, 2, hasType = true, hasDow = true)
          .unionByName(shaped(l1, 1, hasType = true, hasDow = false))
          .unionByName(shaped(l0, 0, hasType = false, hasDow = false))
          .orderBy(col("lvl").desc, col("event_type").asc_nulls_first,
            col("dow").asc_nulls_first)
      },
      oracle = Some {
        def lvlCtes(tag: String, dims: String) = {
          val dsel = if (dims.isEmpty) "" else s"$dims,"
          val dgrp = if (dims.isEmpty) "" else s"GROUP BY $dims"
          val dgrpB = if (dims.isEmpty) "GROUP BY b"
                      else s"GROUP BY $dims, b"
          val dpart = if (dims.isEmpty) "" else s"PARTITION BY $dims"
          s"""
        c$tag AS (SELECT $dsel b, count(*) c FROM bk $dgrpB),
        cum$tag AS (SELECT $dsel b, c,
                  sum(c) OVER ($dpart ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
                  sum(c) OVER ($dpart) total
                FROM c$tag),
        p$tag AS (SELECT $dsel CAST(max(total) AS BIGINT) n,
                min(CASE WHEN cum * 100 >= 50 * total THEN b END) b50,
                min(CASE WHEN cum * 100 >= 90 * total THEN b END) b90
              FROM cum$tag $dgrp)"""
        }
        def lo(name: String) = graft.plans.HistAgg.loDuckSql(name)
        s"""
        WITH v AS (SELECT event_type,
                     (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
                     CAST(floor(value * 100) AS BIGINT) AS cents
                   FROM events),
        vf AS (SELECT * FROM v WHERE cents >= 0),
        bk AS (SELECT event_type, dow,
                 CASE WHEN cents < 8 THEN cents
                      ELSE ((length(bin(cents)) - 2) * 4
                            + ((cents >> (length(bin(cents)) - 3)) & 3))
                 END AS b
               FROM vf),
        ${lvlCtes("2", "event_type, dow")},
        ${lvlCtes("1", "event_type")},
        ${lvlCtes("0", "")},
        u AS (
          SELECT event_type, dow, 2 AS lvl, n, b50, b90 FROM p2
          UNION ALL
          SELECT event_type, CAST(NULL AS BIGINT), 1, n, b50, b90 FROM p1
          UNION ALL
          SELECT CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 0, n,
                 b50, b90 FROM p0)
        SELECT event_type, dow, lvl, n,
               ${lo("b50")} AS p50_lo, ${lo("b90")} AS p90_lo
        FROM u
        ORDER BY lvl DESC, event_type ASC NULLS FIRST,
                 dow ASC NULLS FIRST"""
      },
      bench = true),

    // ── lossless edit-distance similarity join (r14) ───────────────
    // The entity-resolution join behind the reference's unused
    // `fast-levenshtein` dependency (§2.K), priced for an unbounded
    // string set: prefix-filtered positional q-grams (rarest-gram
    // postings — complete by the Gravano count bound) + SymSpell
    // deletion variants for the short tail, ONE exact levenshtein
    // verify over the deduped candidates. The oracle replays the full
    // QUADRATIC join — the hash match proves the blocking lossless
    // (the q168/q170/q172 row-invisibility discipline). Customer
    // names are the worst case the prefix ordering exists for: every
    // string shares the hot `Customer#0000…` boilerplate, and only
    // the rare tail-digit grams enter postings. Non-vacuous at every
    // SF (…010 vs …020 is distance 1). The %10 slice bounds the
    // ORACLE's n² replay, not the operator.
    "q180_edit_sim_join" -> QuerySpec(
      build = (s, d) => {
        val strs = customer(s, d)
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"))
        // joinAuto measures the gram vocabulary and picks q (r15):
        // c_name is a digit-heavy key, and grams over a closed digit
        // alphabet saturate — q=2's ~10² vocabulary at thousands of
        // strings, q=3's ~10³ at hundreds of thousands (the r15
        // EditSimScale table + the 100× rotation measurement). The
        // pre-flight picks q=2 here at sf0.1, q=4 on the 100× scale
        // set — any q is lossless (blocking only), so the oracle hash
        // never moves.
        graft.operators.EditSimJoin
          .joinAuto(strs, "c_custkey", "c_name", t = 2)
          .orderBy("id_a", "id_b")
      },
      oracle = Some("""
        WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer
                   WHERE c_custkey % 10 = 0)
        SELECT a.id AS id_a, b.id AS id_b,
               levenshtein(a.nm, b.nm) AS ed
        FROM s a JOIN s b ON a.id < b.id
        WHERE levenshtein(a.nm, b.nm) <= 2
        ORDER BY id_a, id_b"""),
      bench = true),

    // ── SCD type-2 dimension build (r14) ───────────────────────────
    // The reference's MERGE dimensions are type-1 (history lost on
    // every upsert); this builds the TYPE-2 interval table from the
    // raw change stream — per customer, the order-status history with
    // change compression (a re-stated status is not a version),
    // half-open validity intervals and one current row per key. All
    // window arithmetic over ONE key-hash exchange (PlanSpec pins
    // it); the oracle replays compression + chaining with the same
    // (eff, tie) total order.
    "q181_scd2_history" -> QuerySpec(
      build = (s, d) => {
        val changes = orders(s, d).select(
          col("o_custkey").as("custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          col("o_orderkey").as("change_key"),
          col("o_orderstatus").as("status"))
        graft.etl.Scd2.build(changes,
            keys = Seq("custkey"),
            seqCols = Seq("valid_from", "change_key"),
            attrs = Seq("status"))
          .withColumnRenamed("valid_to_seq", "valid_to")
          .orderBy("custkey", "valid_from", "change_key")
      },
      oracle = Some("""
        WITH c AS (SELECT o_custkey AS custkey,
                          strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
                          o_orderkey AS change_key,
                          o_orderstatus AS status
                   FROM orders),
        m AS (SELECT *,
                lag(status) OVER w AS prev,
                row_number() OVER w AS rn
              FROM c
              WINDOW w AS (PARTITION BY custkey
                           ORDER BY valid_from, change_key)),
        kept AS (SELECT custkey, valid_from, change_key, status FROM m
                 WHERE rn = 1 OR prev IS DISTINCT FROM status)
        SELECT custkey, valid_from, change_key, status,
               lead(valid_from) OVER (PARTITION BY custkey
                 ORDER BY valid_from, change_key) AS valid_to,
               CASE WHEN lead(valid_from) OVER (PARTITION BY custkey
                 ORDER BY valid_from, change_key) IS NULL
                 THEN 1 ELSE 0 END AS is_current
        FROM kept
        ORDER BY custkey, valid_from, change_key"""),
      bench = true),

    // ── cascaded CUBE without Expand (r14) ─────────────────────────
    // q175's cascade on the full subset LATTICE: built-in `cube()`
    // Expands every fact row 2^L times pre-exchange (3 dims over
    // 100 TB ⇒ ~800 TB into the shuffle); here the fact table
    // aggregates once at the finest grain and each of the other
    // 2^L − 1 groupings folds group-scale from a one-dim-finer
    // parent. `gid` is the SQL GROUPING_ID (bit ⇔ dim aggregated
    // away), which the oracle replays with DuckDB's native GROUP BY
    // CUBE + GROUPING() — the textbook lowering this cascade must
    // equal.
    "q182_cascaded_cube" -> QuerySpec(
      build = (s, d) => {
        import graft.operators.CascadedRollup._
        val fact = lineitem(s, d).select(
          col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).as("ship_year"),
          col("l_quantity"), col("l_extendedprice"))
        cube(fact,
          Seq("l_returnflag", "l_linestatus", "ship_year"),
          Seq(sum_("l_quantity", "sum_qty"), count_("n"),
            max_("l_extendedprice", "max_price")))
          .withColumn("sum_qty", round(col("sum_qty"), 2))
          .orderBy(col("gid").asc,
            col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first,
            col("ship_year").asc_nulls_first)
      },
      oracle = Some("""
        WITH f AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
                 l_quantity, l_extendedprice
          FROM lineitem)
        SELECT l_returnflag, l_linestatus, ship_year,
               CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                 + GROUPING(ship_year) AS INTEGER) AS gid,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n,
               max(l_extendedprice) AS max_price
        FROM f
        GROUP BY CUBE (l_returnflag, l_linestatus, ship_year)
        ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
                 l_linestatus ASC NULLS FIRST,
                 ship_year ASC NULLS FIRST"""),
      bench = true),

    // ── SCD2 as-of probe (r15) ─────────────────────────────────────
    // The consuming join q181's interval table exists for: each fact
    // probed against the dimension version in effect at its time —
    // `valid_from <= t < valid_to`, open current row matches forever,
    // probes before a key's first version get NULL (left join). The
    // warehouse "dimension as of" lookup the reference's type-1
    // MERGE can never answer (conductor.ts:90-98 keeps only the
    // latest row). Facts: every order probed 90 days BACK — "what
    // status history was in effect a quarter before this order" —
    // non-trivial (early probes precede the first version) and
    // deterministic. Scale shape: the dimension is CHANGE-COMPRESSED
    // (dimension-scale, orders-of-magnitude under the fact table), so
    // it broadcasts and the probe is a BroadcastHashJoin on the key
    // with the interval bounds as residual — the fact side never
    // shuffles, never explodes (SCD2 intervals are disjoint per key:
    // ≤ 1 match per fact). PlanSpec pins join-not-nested-loop; at a
    // dimension too big to broadcast the same probe rides
    // [[graft.operators.RangeJoin.pointInInterval]] (bucketed
    // equi-join) — the operator pair q149 already prices.
    "q186_scd2_asof_probe" -> QuerySpec(
      build = (s, d) => scd2AsOfQuery(s, d, graft.etl.Scd2.BroadcastProbe),
      oracle = Some(scd2AsOfOracle),
      bench = true),

    // ── SCD2 incremental fold (r15) ────────────────────────────────
    // Dimension MAINTENANCE, the production shape q181's build only
    // bootstraps: yesterday's interval table + today's change batch →
    // today's interval table, at BATCH-scale cost. Here the stream
    // splits at 1997-01-01 (append-only per key by construction —
    // every later change's (valid_from, change_key) sequences after
    // every earlier one), the pre-1997 table folds the post-1997
    // batch, and the oracle is q181's FULL-rebuild SQL verbatim: the
    // hash match IS the fold≡rebuild proof (the q183 discipline).
    // Untouched keys ride a broadcast anti-join (no shuffle, no
    // window); only touched keys' histories re-window (PlanSpec pins
    // the single hash exchange).
    "q187_scd2_fold" -> QuerySpec(
      build = (s, d) => {
        def changesOf(f: DataFrame) = f.select(
          col("o_custkey").as("custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          col("o_orderkey").as("change_key"),
          col("o_orderstatus").as("status"))
        val all = orders(s, d)
        val existing = graft.etl.Scd2.build(
          changesOf(all.filter(col("o_orderdate") < "1997-01-01")),
          keys = Seq("custkey"), seqCols = Seq("valid_from", "change_key"),
          attrs = Seq("status"))
        graft.etl.Scd2.fold(existing,
            changesOf(all.filter(col("o_orderdate") >= "1997-01-01")),
            keys = Seq("custkey"), seqCols = Seq("valid_from", "change_key"),
            attrs = Seq("status"))
          .withColumnRenamed("valid_to_seq", "valid_to")
          .orderBy("custkey", "valid_from", "change_key")
      },
      oracle = Some("""
        WITH c AS (SELECT o_custkey AS custkey,
                          strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
                          o_orderkey AS change_key,
                          o_orderstatus AS status
                   FROM orders),
        m AS (SELECT *,
                lag(status) OVER w AS prev,
                row_number() OVER w AS rn
              FROM c
              WINDOW w AS (PARTITION BY custkey
                           ORDER BY valid_from, change_key)),
        kept AS (SELECT custkey, valid_from, change_key, status FROM m
                 WHERE rn = 1 OR prev IS DISTINCT FROM status)
        SELECT custkey, valid_from, change_key, status,
               lead(valid_from) OVER (PARTITION BY custkey
                 ORDER BY valid_from, change_key) AS valid_to,
               CASE WHEN lead(valid_from) OVER (PARTITION BY custkey
                 ORDER BY valid_from, change_key) IS NULL
                 THEN 1 ELSE 0 END AS is_current
        FROM kept
        ORDER BY custkey, valid_from, change_key"""),
      bench = true),

    // ── time-in-state over the SCD2 dimension (r15) ────────────────
    // The interval table's other consumer (q186 probes it; this
    // AGGREGATES it): how long does each status version live? Closed
    // intervals price as valid_to − valid_from days; open (current)
    // rows clip at a fixed as-of date past the data horizon. Version-
    // scale input (the dimension is change-compressed), so the whole
    // query is one groupBy over dimension rows — the fact table is
    // never re-scanned. avg in integer hundredths of a day (e2
    // discipline: `div` floor matches DuckDB `//`).
    "q189_time_in_state" -> QuerySpec(
      build = (s, d) => {
        val changes = orders(s, d).select(
          col("o_custkey").as("custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
          col("o_orderkey").as("change_key"),
          col("o_orderstatus").as("status"))
        graft.etl.Scd2.build(changes,
            keys = Seq("custkey"), seqCols = Seq("valid_from", "change_key"),
            attrs = Seq("status"))
          .withColumn("days", datediff(
            coalesce(to_date(col("valid_to_seq")),
              to_date(lit("1998-12-31"))),
            to_date(col("valid_from"))))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_versions"),
            sum(when(col("valid_to_seq").isNotNull, 1L).otherwise(0L))
              .as("closed_versions"),
            sum(col("days")).as("total_days"))
          .withColumn("avg_days_e2",
            expr("total_days * 100 div n_versions"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH c AS (SELECT o_custkey AS custkey,
                          strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
                          o_orderkey AS change_key,
                          o_orderstatus AS status
                   FROM orders),
        m AS (SELECT *,
                lag(status) OVER w AS prev,
                row_number() OVER w AS rn
              FROM c
              WINDOW w AS (PARTITION BY custkey
                           ORDER BY valid_from, change_key)),
        kept AS (SELECT custkey, valid_from, change_key, status FROM m
                 WHERE rn = 1 OR prev IS DISTINCT FROM status),
        dim AS (SELECT custkey, valid_from, status,
                       lead(valid_from) OVER (PARTITION BY custkey
                         ORDER BY valid_from, change_key) AS valid_to
                FROM kept),
        priced AS (SELECT status, valid_to,
                          date_diff('day', CAST(valid_from AS DATE),
                            coalesce(CAST(valid_to AS DATE),
                                     DATE '1998-12-31')) AS days
                   FROM dim)
        SELECT status, count(*) AS n_versions,
               CAST(sum(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS closed_versions,
               CAST(sum(days) AS BIGINT) AS total_days,
               (CAST(sum(days) AS BIGINT) * 100) // count(*) AS avg_days_e2
        FROM priced GROUP BY status ORDER BY status"""),
      bench = true),

    // ── entity clusters from the edit-distance join (r15) ──────────
    // EditSimJoin's consumer loop closed the way q186 closed q181's:
    // pairs → connected components → canonical entities. The scale
    // lesson is the FIRST step: exact-dedup before fuzzy-join (part
    // has ~64 distinct names across 2000 rows at sf0.01 — blocking
    // 2000 strings would re-verify every identical copy against every
    // other; grouping first makes the join input VOCABULARY-scale and
    // carries the copy counts as weights). Components via the q82
    // pointer-doubling min-label engine; names with no ≤t partner stay
    // singleton entities (left join, own id as rep). The oracle
    // replays the quadratic join + a recursive-CTE closure.
    "q190_entity_clusters" -> QuerySpec(
      build = (s, d) => {
        val names = part(s, d).groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("id"),
            count(lit(1)).as("n_parts"))
        val pairs = graft.operators.EditSimJoin
          .join(names.select(col("id"), col("p_name")),
            "id", "p_name", t = 1, q = 3)
          .select(col("id_a").as("da"), col("id_b").as("db"))
        graft.text.CurationQueries.withDupClusterLabels(s, pairs) { labels =>
          names.join(labels, names("id") === labels("doc_id"), "left")
            .withColumn("rep", coalesce(col("rep"), col("id")))
            .groupBy(col("rep"))
            .agg(count(lit(1)).as("n_names"),
              sum(col("n_parts")).as("n_parts"),
              min_by(col("p_name"), col("id")).as("rep_name"))
            .transform(graft.Checkpoints.cut)
        }.orderBy("rep")
      },
      oracle = Some("""
        WITH RECURSIVE names AS (
          SELECT p_name, min(p_partkey) AS id, count(*) AS n_parts
          FROM part GROUP BY p_name),
        p AS (SELECT a.id AS ida, b.id AS idb
              FROM names a JOIN names b
              ON a.id < b.id AND levenshtein(a.p_name, b.p_name) <= 1),
        e AS (SELECT ida AS a, idb AS b FROM p
              UNION ALL SELECT idb, ida FROM p),
        reach(n, m) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM e)
          UNION
          SELECT r.n, e.b FROM reach r JOIN e ON e.a = r.m),
        lbl AS (SELECT n AS id, min(m) AS rep FROM reach GROUP BY n),
        full_n AS (SELECT nm.p_name, nm.id, nm.n_parts,
                          coalesce(l.rep, nm.id) AS rep
                   FROM names nm LEFT JOIN lbl l ON l.id = nm.id)
        SELECT rep, count(*) AS n_names,
               CAST(sum(n_parts) AS BIGINT) AS n_parts,
               arg_min(p_name, id) AS rep_name
        FROM full_n GROUP BY rep ORDER BY rep"""),
      bench = true),

    // ── SCD2 as-of probe, PAST the broadcast ceiling (r16) ─────────
    // q186's production fallback made first-class: the SAME probe
    // (same oracle SQL — the hash match is the strategies-are-
    // row-identical proof) through Scd2.BucketedProbe, which rides
    // RangeJoin.pointInIntervalLeft. This is the path that matters at
    // 100 TB: the change-compressed dimension is ~10 M version rows at
    // 100× (SURVEY §8) and will not broadcast forever; here both sides
    // bucket on a 512-day grid and the theta probe becomes a shuffled
    // EQUI-join on (key, bucket) + residual — one exchange per side,
    // no nested loop (PlanSpec pins it). Open current versions are
    // capped at max(probe)+1 via a broadcast 1-row stat frame, so an
    // open interval explodes into the observed range's ~5 buckets,
    // never a sentinel-infinity's thousands.
    "q195_scd2_asof_bucketed" -> QuerySpec(
      build = (s, d) => scd2AsOfQuery(s, d,
        graft.etl.Scd2.BucketedProbe(bucketWidth = 512L)),
      oracle = Some(scd2AsOfOracle),
      bench = true),

    // ── incremental graph maintenance (r18) ────────────────────────
    // q136's fold twin — the LAST derived-artifact family without an
    // incremental path (labels/vectors/postings/rollups/SCD2/
    // attribution/funnel/markov/decay all fold; EdgeIndex rebuilt from
    // scratch on any lineitem change). Parallel edges are weights, so
    // the edge relation folds associatively: three lineitem slices
    // (l_orderkey mod 3 — a partition of the fact table) each derive
    // their edge batch through the SAME fulfillmentEdges definition
    // and fold into a BucketedStateStore by per-(src, dst) weight
    // addition (touched-bucket publication; key-local by
    // construction). Serve re-runs the fixed unrolled iterations with
    // weighted contributions (integer-identical — see
    // withMaintainedPagerankRanks). The oracle is q136's generated
    // SQL VERBATIM over the full tables = the union of the folded
    // batches: the hash match IS the fold ≡ rebuild proof.
    "q208_pagerank_fold" -> QuerySpec(
      build = (s, d) =>
        withMaintainedPagerankRanks(s, maintainedEdgeStore(s, d))(
          localTop20(s, _)),
      oracle = Some(pagerankOracleSql),
      bench = true),

    // ── personalized PageRank from the SAME maintained edge store ──
    // q139's fold twin for free (the q205→q207 pattern on the graph
    // side): the maintained weighted edge relation is report-agnostic,
    // so the store q208 folds serves the personalized recurrence too —
    // only the serve half differs (seed restart mass, full-outer
    // rule). Oracle is q139's SQL verbatim: fold ≡ rebuild again.
    "q209_ppr_fold" -> QuerySpec(
      build = (s, d) =>
        withMaintainedPprRanks(s, maintainedEdgeStore(s, d))(
          localTop20(s, _)),
      oracle = Some(pprOracleSql),
      bench = true),

    // ── incremental rank DELTA-SERVE (r19, the r18 stretch) ─────────
    // the fold made the BUILD batch-proportional; this makes the SERVE
    // sliver-proportional too: after a sliver fold, only the changed
    // sources' ≤3-hop out-neighborhood can change rank, so the serve
    // recomputes exactly that neighborhood over the maintained bucketed
    // edges and overlays the previous full serve's per-iteration rank
    // history (RankHistory). Oracle is q136's SQL verbatim over the
    // union of ALL folded batches — the fold ≡ rebuild proof pattern
    // applied to the serve half, through the driver's own hash gate.
    "q210_pagerank_delta_serve" -> QuerySpec(
      build = (s, d) => {
        val dir = maintainedDeltaStore(s, d)
        RankHistory.withDeltaServedRanks(s,
          dir.resolve("state").toString,
          dir.resolve("history").toString,
          s.read.parquet(dir.resolve("changed").toString))(
          localTop20(s, _))
      },
      oracle = Some(pagerankOracleSql),
      bench = true)
  )

  /** The q210 fixture: batches 1–2 (split by orderkey parity) fold
    * into the store and the full serve publishes the per-iteration
    * rank history; batch 3 — the SLIVER, l_orderkey % 199 == 0
    * (~0.5% of the fact rows) — folds after it, so the query-time
    * serve exercises the delta path: history + sliver.
    *
    * Node coverage (the r19 100× lesson): a sliver order whose
    * supplier or customer appears in NO base row would add a new node
    * at fold 3, shift rInit = scale/\|V\|, and the delta serve's
    * node-set guard would (correctly) refuse — at 100× the mod-199
    * keys contain 4 such orders. Those orders are DEMOTED into batch 1
    * at build time (a bounded anti-join per side), so the sliver only
    * ever touches nodes the history already ranks — the regime the
    * delta serve exists for, at every scale. The three slices still
    * partition lineitem, so the union of the folded batches is the
    * full table and q136's oracle applies verbatim. The changed-source
    * set (the sliver's edge endpoints) is persisted at build time.
    * Returns the artifact dir (state/, history/, changed/). */
  private def maintainedDeltaStore(s: SparkSession,
                                   d: String): java.nio.file.Path = {
    val store = graft.text.Artifacts.dirMulti(d,
      "edgefold_delta_b64_v2", Seq("lineitem.parquet", "orders.parquet"))
    graft.text.Artifacts.materialize(store) { tmp =>
      val stateDir = tmp.resolve("state").toString
      val li = lineitem(s, d)
      val ord = orders(s, d)
      val isSliverKey = pmod(col("l_orderkey"), lit(199)) === 0
      val cand = li.filter(isSliverKey)
      val rest = li.filter(!isSliverKey)
      val custOf = ord.select(col("o_orderkey"), col("o_custkey"))
      val badSupp = cand.join(
          rest.select(col("l_suppkey")).distinct(),
          Seq("l_suppkey"), "left_anti")
        .select(col("l_orderkey"))
      val badCust = cand.select(col("l_orderkey")).distinct()
        .join(custOf, col("l_orderkey") === col("o_orderkey"))
        .join(rest.select(col("l_orderkey").as("rk"))
            .join(custOf, col("rk") === col("o_orderkey"))
            .select(col("o_custkey")).distinct(),
          Seq("o_custkey"), "left_anti")
        .select(col("l_orderkey"))
      val badKeys = badSupp.unionByName(badCust).distinct().persist()
      val demoted = cand.join(badKeys, Seq("l_orderkey"), "left_semi")
      val sliver = cand.join(badKeys, Seq("l_orderkey"), "left_anti")
      try {
        val parity = pmod(col("l_orderkey"), lit(2))
        EdgeFold.fold(fulfillmentEdgesFrom(
          rest.filter(parity === 0).unionByName(demoted), ord),
          id = 1L, stateDir, buckets = 64)
        EdgeFold.fold(fulfillmentEdgesFrom(
          rest.filter(parity === 1), ord),
          id = 2L, stateDir, buckets = 64)
        RankHistory.publish(s, stateDir, tmp.resolve("history").toString)
        val sliverEdges = fulfillmentEdgesFrom(sliver, ord).persist()
        try {
          EdgeFold.fold(sliverEdges, id = 3L, stateDir, buckets = 64)
          sliverEdges.select(col("src")).distinct()
            .write.parquet(tmp.resolve("changed").toString)
        } finally sliverEdges.unpersist(false)
      } finally badKeys.unpersist(false)
    }
    store
  }

  /** The q208/q209 fixture store: three lineitem slices (l_orderkey
    * mod 3 — a partition of the fact table) each derive their edge
    * batch through the SAME [[fulfillmentEdges]] definition and fold
    * into a [[EdgeFold]] `BucketedStateStore`, materialized once per
    * (lineitem, orders) content fingerprint. Corpus-slice folds touch
    * every bucket, so only the last version's layer is live — the
    * build prunes the earlier two. Returns the state dir. */
  private def maintainedEdgeStore(s: SparkSession, d: String): String = {
    val store = graft.text.Artifacts.dirMulti(d,
      "edgefold_b64_i3_v2", Seq("lineitem.parquet", "orders.parquet"))
    graft.text.Artifacts.materialize(store) { tmp =>
      val stateDir = tmp.resolve("state").toString
      (0 until 3).foreach { i =>
        val li = lineitem(s, d)
          .filter(pmod(col("l_orderkey"), lit(3)) === i)
        EdgeFold.fold(fulfillmentEdgesFrom(li, orders(s, d)),
          id = i + 1L, stateDir, buckets = 64)
      }
      EdgeFold.prune(stateDir, keep = 1)
    }
    store.resolve("state").toString
  }

  /** [[fulfillmentEdges]] with each row's source degree attached —
    * ONE definition of (src, dst, d) for the q136 build and the
    * [[EdgeIndex]] artifact (a degree-semantics change cannot diverge
    * them). `edges` must already be persisted by the caller (degrees
    * re-scan it). */
  private[graft] def degreedEdges(edges: DataFrame): DataFrame =
    edges.join(
      edges.groupBy(col("src")).agg(count(lit(1)).as("d")), "src")

  /** The src-bucketed [[EdgeIndex]] artifact as [[PageRank]] input:
    * every parallel edge is its own row, so each row weighs w = 1. */
  private def indexEdges(s: SparkSession, d: String): DataFrame =
    EdgeIndex.load(s, d).withColumn("w", lit(1L))

  /** The q136 PageRank rank table (node, rank_scaled), one row per
    * graph node, handed to `use` inside [[PageRank.ranks]]' managed
    * scope (`use` MUST force its result — the
    * [[graft.text.CurationQueries.withDupClusterLabels]] pattern).
    * Shared by the q136 direct query and the [[RankIndex]] build.
    *
    * Iterates over the src-BUCKETED [[EdgeIndex]] artifact (degrees
    * already denormalized there): a bucketed scan's
    * HashPartitioning(src) survives persist(), so every iteration's
    * rank⋈edges join exchanges ONLY the |V|-row rank side. The ad-hoc
    * persist of [[fulfillmentEdges]] this replaced paid the
    * lineitem⋈orders edge build per run (bench min-of-3: 5.0 → 3.2 s
    * at sf0.1, 29.2 → 11.1 s at 100×; the remaining floor is the three
    * |E|-scale probe+agg passes — parallel-edge multiplicity is 1.02 at
    * scale, so weighted-edge compression cannot cut it further). */
  private[graft] def withPagerankRanks[T](s: SparkSession, d: String)
      (use: DataFrame => T): T =
    PageRank.ranks(indexEdges(s, d), PageRank.Global())((r, _) => use(r))

  /** Force the bounded top-20 inside a managed-cache scope and return
    * it as a local frame (20 rows — driver-bounded by construction). */
  private def localTop20(s: SparkSession, ranks: DataFrame): DataFrame = {
    val top = pagerankTop20(ranks)
    s.createDataFrame(
      java.util.Arrays.asList(top.collect(): _*), top.schema)
  }

  /** The both-ways weighted fulfillment edge list (src, dst) as long
    * node ids (supplier 2k, customer 2k+1) — ONE definition shared by
    * the q136 direct build and the [[EdgeIndex]] artifact. Both
    * directions are emitted in one pass over the join (a union of two
    * selects would recompute the scan+join per branch). */
  private[graft] def fulfillmentEdges(s: SparkSession, d: String): DataFrame =
    fulfillmentEdgesFrom(lineitem(s, d), orders(s, d))

  /** [[fulfillmentEdges]] over CALLER-SUPPLIED fact frames — the same
    * one-pass both-directions build, factored so the incremental path
    * ([[EdgeFold]], q208) derives a BATCH of edges from a batch of
    * lineitem rows through the identical definition. */
  private[graft] def fulfillmentEdgesFrom(li: DataFrame,
                                          ord: DataFrame): DataFrame = {
    val e0 = li.select(col("l_suppkey"), col("l_orderkey"))
      .join(ord.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("sid"),
        (col("o_custkey") * 2 + 1).as("cid"))
    e0.select(explode(array(
        struct(col("sid").as("src"), col("cid").as("dst")),
        struct(col("cid").as("src"), col("sid").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
  }

  /** The q136 rank table served from the MAINTAINED weighted edge
    * state ([[EdgeFold]]): [[PageRank]]'s recurrence with the folded
    * weights — degree = Σw per src (= the parallel-edge multiplicity
    * the one-shot build counts), so the served ranks are integer-
    * identical to the one-shot q136 build over the union of the folded
    * batches. Same managed-scope contract as [[withPagerankRanks]]. The
    * maintained edge table arrives as the store's composed BUCKETED
    * scan ([[EdgeFold.degreedEdgesBucketed]]) with the degree
    * maintained in-state, so the serve carries ZERO |E|-scale exchange
    * end to end — setup included: no per-serve repartition, no degree
    * self-join; each iteration exchanges ONLY the |V|-row rank side. */
  private[graft] def withMaintainedPagerankRanks[T](s: SparkSession,
      storeDir: String)(use: DataFrame => T): T =
    PageRank.ranks(EdgeFold.degreedEdgesBucketed(s, storeDir),
      PageRank.Global())((r, _) => use(r))

  /** q139's seed suppliers (suppkey values; node ids are 2k). Baked
    * into the oracle SQL. A def: `queries` forces the oracle at object
    * init, BEFORE trailing vals would be assigned. */
  private[graft] def pprSeedSuppliers: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L)

  /** q139's restart: the seed suppliers' node ids. */
  private def pprRestart = PageRank.Personalized(pprSeedSuppliers.map(_ * 2))

  /** Personalized PageRank over the [[EdgeIndex]] edge artifact:
    * restart mass on [[pprSeedSuppliers]] only ([[PageRank.Personalized]]). */
  private[graft] def withPprRanks[T](s: SparkSession, d: String)
      (use: DataFrame => T): T =
    PageRank.ranks(indexEdges(s, d), pprRestart)((r, _) => use(r))

  /** q139's PPR served from the MAINTAINED weighted edge state — the
    * [[withMaintainedPagerankRanks]] edges under [[withPprRanks]]'
    * restart, so ONE maintained store serves the whole graph-report
    * family (global centrality q208, personalized q209) the way one
    * maintained Markov cell table serves q205 and q207. Managed scope
    * — `use` must force its result. */
  private[graft] def withMaintainedPprRanks[T](s: SparkSession,
      storeDir: String)(use: DataFrame => T): T =
    PageRank.ranks(EdgeFold.degreedEdgesBucketed(s, storeDir), pprRestart)(
      (r, _) => use(r))

  /** The q139 oracle: same edge CTEs as q136, the PPR recurrence
    * unrolled with the full-outer restart rule. */
  private lazy val pprOracleSql: String = {
    val seeds = pprRestart.seeds
    val iterCtes = (1 to PageRank.iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, (85 * sum(r${i - 1}.r // e.d)) // 100 rc
             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
             GROUP BY e.dst),
         r$i AS (SELECT coalesce(c.node, s.node) AS node,
                coalesce(c.rc, 0)
                  + (CASE WHEN s.node IS NOT NULL
                     THEN ${PageRank.scale} * 15 // 100 // ${seeds.size}
                     ELSE 0 END) AS r
              FROM c$i c FULL JOIN seeds s ON c.node = s.node)"""
    }.mkString(", ")
    s"""
    WITH $pagerankEdgeCtes,
    seeds AS (SELECT DISTINCT src AS node FROM e
              WHERE src IN (${seeds.mkString(", ")})),
    r0 AS (SELECT node, ${PageRank.scale} // ${seeds.size} r FROM seeds),
    $iterCtes
    $rankTop20Sql"""
  }

  /** The q136/q137 result shape over a rank table (private[graft]:
    * PlanSpec pins the iteration plan through it inside the managed
    * scope). */
  private[graft] def pagerankTop20(ranks: DataFrame): DataFrame =
    ranks.orderBy(col("rank_scaled").desc, col("node")).limit(20)

  /** The shared oracle CTE block building the degree-denormalized
    * edge relation `e` — ONE copy for the q136/q137 and q139 oracles
    * (the SQL twin of [[degreedEdges]]). */
  private def pagerankEdgeCtes: String = s"""
    e0 AS (SELECT l_suppkey * 2 sid, o_custkey * 2 + 1 cid
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    eu AS (SELECT sid AS src, cid AS dst FROM e0
           UNION ALL SELECT cid, sid FROM e0),
    deg AS (SELECT src, count(*) d FROM eu GROUP BY src),
    e AS (SELECT eu.src, eu.dst, deg.d FROM eu JOIN deg ON eu.src = deg.src)"""

  /** The shared oracle tail: the last iteration's (node long, r) table
    * labelled s<k>/c<k> and cut to the top 20 — ONE copy for the q136
    * and q139 oracles (the SQL twin of [[PageRank.labelled]] +
    * [[pagerankTop20]]). */
  private def rankTop20Sql: String = s"""
    SELECT (CASE WHEN node % 2 = 0 THEN 's' ELSE 'c' END)
             || (node // 2)::VARCHAR AS node,
           CAST(r AS BIGINT) AS rank_scaled
    FROM r${PageRank.iters} ORDER BY rank_scaled DESC, node LIMIT 20"""

  /** One oracle for the direct build AND the artifact read path. */
  private lazy val pagerankOracleSql: String = {
    val iterCtes = (1 to PageRank.iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
             (SELECT rbase FROM c) + (85 * sum(r${i - 1}.r // e.d)) // 100 AS r
           FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
           GROUP BY e.dst)"""
    }.mkString(", ")
    s"""
    WITH $pagerankEdgeCtes,
    c AS (SELECT (${PageRank.scale} // count(*)) rinit,
                 ((${PageRank.scale} // count(*)) * 15) // 100 rbase FROM deg),
    r0 AS (SELECT src AS node, (SELECT rinit FROM c) r FROM deg),
    $iterCtes
    $rankTop20Sql"""
  }
}
