package graft
package queries

import graft.operators.{FuzzyMatch, RangeJoin, ZOrder}
import graft.sources.MetaStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Analytics core, relational part: the TPC-H-style aggregates and
  * joins, SQL feature breadth (grouping sets, window functions, null
  * semantics, set operations, recursive SQL) and the join shapes
  * (as-of, range, interval, spatial, skew, fuzzy).
  */
object AnalyticsQueries {

  import Parity.{dec, outD, tsLit}

  /** The q_sql_recursive text: valid, and semantically identical, in
    * BOTH Spark SQL and DuckDB — the whole point of the query.
    *
    * The recursion runs to a CONSTANT depth (8 covers any SF:
    * l_quantity caps at 50 → max cents-bin 5) and the data bound
    * applies ONCE in the outer scalar subquery. Putting the bound in
    * the step predicate instead re-evaluates its lineitem aggregate
    * on every iteration (measured 2.7s → 0.6s at sf0.1 moving it
    * out); the emitted rows are identical.
    */
  private val RecursiveBinsSql: String =
    """WITH RECURSIVE bins(bin) AS (
      |  SELECT CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT bin + 1 FROM bins WHERE bin + 1 <= 8),
      |c AS (
      |  SELECT CAST(floor(
      |      CAST(CAST(l_quantity AS DECIMAL(10,2)) * 100 AS BIGINT)
      |      / 1000.0) AS BIGINT) AS bin,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY 1)
      |SELECT b.bin, COALESCE(c.n, 0) AS n
      |FROM bins b LEFT JOIN c ON c.bin = b.bin
      |WHERE b.bin <= (SELECT MAX(bin) FROM c)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_base_price_cents,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) * 100 AS BIGINT) AS sum_disc_price_cents,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) * 100 AS BIGINT) AS sum_charge_cents,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) * 100 AS BIGINT) // COUNT(*) AS avg_qty_cents
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val disc = lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2)
      val charge = lit(1).cast(DecimalType(4, 2)) + dec(col("l_tax"), 4, 2)
      l.filter(col("l_shipdate") <= tsLit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"), 10, 2)).as("sum_qty_dec"),
          sum(dec(col("l_extendedprice"), 12, 2)).as("sum_base_dec"),
          sum(dec(col("l_extendedprice"), 12, 2) * disc).as("sum_disc_dec"),
          sum(dec(col("l_extendedprice"), 12, 2) * disc * charge)
            .as("sum_charge_dec"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          outD(col("sum_qty_dec")).as("sum_qty"),
          // money sums as integer hundredths (BIGINT): decimal→double is
          // engine-divergent once the unscaled value passes 2^53 (a scale-6
          // sum_charge crosses that at only ~9.0e9), so round the exact
          // decimal to scale 2 and emit fixed-point — exact at any SF.
          expr("cast(sum_base_dec * 100 as bigint)").as("sum_base_price_cents"),
          expr("cast(round(sum_disc_dec, 2) * 100 as bigint)")
            .as("sum_disc_price_cents"),
          expr("cast(round(sum_charge_dec, 2) * 100 as bigint)")
            .as("sum_charge_cents"),
          col("count_order"),
          // exact integer-cents mean — never a rounded double ratio
          // (HALF_UP-vs-banker tie divergence, SURVEY §6)
          expr("cast(sum_qty_dec * 100 as bigint) div count_order")
            .as("avg_qty_cents"))
    }),

    Query("q3_join",
      """SELECT l_orderkey AS okey,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) * 100 AS BIGINT) AS revenue_cents,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY l_orderkey, odate
        |ORDER BY revenue_cents DESC, okey
        |LIMIT 10""".stripMargin)((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < tsLit("1996-01-01"))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > tsLit("1996-01-01"))
      val rev = dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), unix_timestamp(col("o_orderdate")).as("odate"))
        .agg(sum(rev).as("rev_dec"))
        // fixed-point cents, exact past the 2^53 decimal→double cliff
        .select(col("l_orderkey").as("okey"),
          expr("cast(round(rev_dec, 2) * 100 as bigint)").as("revenue_cents"),
          col("odate"))
        .orderBy(col("revenue_cents").desc, col("okey"))
        .limit(10)
    }),

    Query("q5_multijoin",
      """SELECT n_name,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) * 100 AS BIGINT) AS revenue_cents
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin)((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= tsLit("1996-01-01") &&
          col("o_orderdate") < tsLit("1997-01-01"))
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val rev = dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2))
      // dims broadcast; the only big shuffles are orders⋈lineitem and the agg
      broadcast(r).join(broadcast(n), col("n_regionkey") === col("r_regionkey"))
        .join(c, col("c_nationkey") === col("n_nationkey"))
        .join(o, col("o_custkey") === col("c_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(rev).as("rev_dec"))
        .select(col("n_name"),
          expr("cast(round(rev_dec, 2) * 100 as bigint)").as("revenue_cents"))
    }),

    Query("q_window_rank",
      """SELECT o_orderpriority, o_orderkey,
        |  o_totalprice AS price, rnk
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        // raw parquet double passes through both engines bit-identical
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice").as("price"), col("rnk"))
    }),

    Query("q_semi_anti",
      """SELECT 'with_orders' AS tag, c_mktsegment, COUNT(*) AS n
        |FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_mktsegment, COUNT(*) AS n
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin)((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).select(col("o_custkey"))
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("tag", lit("with_orders"))
      val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .withColumn("tag", lit("no_orders"))
      withO.unionByName(noO).select(col("tag"), col("c_mktsegment"), col("n"))
    }),

    Query("q_topk",
      """SELECT l_suppkey,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) * 100 AS BIGINT) AS revenue_cents
        |FROM lineitem
        |GROUP BY l_suppkey
        |ORDER BY revenue_cents DESC, l_suppkey
        |LIMIT 15""".stripMargin)((s, dir) => {
      val rev = dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2))
      Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(sum(rev).as("rev_dec"))
        .select(col("l_suppkey"),
          expr("cast(round(rev_dec, 2) * 100 as bigint)").as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_suppkey"))
        .limit(15)
    }),

    Query("q_pivot",
      """SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin)((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      pivoted.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),

    Query("q_enrich",
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)((s, dir) => {
      Tables.events(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          outD(sum(dec(col("value"), 10, 2))).as("sum_value"))
    }),

    // custom typed aggregate: bounded top-k with map-side partial
    // merge — the shuffle carries ≤4k-row buffers per group per map
    // task, not every order (contrast q_window_rank's full sort)
    Query("q_topk_agg",
      // the window-rank formulation is the ORACLE for the custom
      // bounded-heap aggregate — equal output proves the aggregate
      """SELECT o_orderpriority, rnk, o_orderkey, price_cents FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS price_cents,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 5""".stripMargin)((s, dir) => {
      val cents = (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType)
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg.topK(5)(cents, col("o_orderkey"))
          .as("top"))
        .select(col("o_orderpriority"),
          posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("o_orderpriority"), (col("pos") + 1).as("rnk"),
          col("e._2").as("o_orderkey"), col("e._1").as("price_cents"))
    }),

    // ordered-selection aggregates (max_by/min_by with a composite
    // tie-break key so both engines pick the same row) + FILTER-clause
    // conditional aggregation; cents measures, integer-exact
    Query("q_aggfuncs",
      // arg_max/arg_min on the same zero-padded composite string key
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey,
        |    lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |        * 100 AS BIGINT) AS VARCHAR), 14, '0')
        |      || lpad(CAST(o_orderkey AS VARCHAR), 14, '0'))
        |    AS priciest_key,
        |  arg_min(o_orderkey,
        |    lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |        * 100 AS BIGINT) AS VARCHAR), 14, '0')
        |      || lpad(CAST(o_orderkey AS VARCHAR), 14, '0'))
        |    AS cheapest_key,
        |  COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
        |    FILTER (WHERE o_totalprice > 150000.0) AS BIGINT) AS big_cents
        |FROM orders GROUP BY o_orderpriority""".stripMargin)((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      // the selection key is a zero-padded (cents, orderkey) string:
      // lexicographic order == numeric order, and DuckDB's arg_max
      // accepts it where a ROW/struct key would be rejected
      s.sql("""SELECT o_orderpriority,
              |  max_by(o_orderkey,
              |    concat(lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
              |        * 100 AS BIGINT) AS STRING), 14, '0'),
              |      lpad(CAST(o_orderkey AS STRING), 14, '0')))
              |    AS priciest_key,
              |  min_by(o_orderkey,
              |    concat(lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
              |        * 100 AS BIGINT) AS STRING), 14, '0'),
              |      lpad(CAST(o_orderkey AS STRING), 14, '0')))
              |    AS cheapest_key,
              |  COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
              |    FILTER (WHERE o_totalprice > 150000.0) AS BIGINT)
              |    AS big_cents
              |FROM orders_v GROUP BY o_orderpriority""".stripMargin)
    }),

    // window-function breadth: ranking + distribution + frame
    // functions in one pass; ratios are IEEE-identical in both engines
    // (same ints, same division), tie-free ordering via o_orderkey
    Query("q_window_funcs",
      """SELECT o_orderkey, o_orderpriority,
        |  rank() OVER w AS rnk,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  ntile(4) OVER w AS quartile,
        |  first_value(o_orderkey) OVER w AS top_key,
        |  last_value(o_orderkey) OVER
        |    (PARTITION BY o_orderpriority
        |     ORDER BY o_totalprice DESC, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS bottom_key
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          rank().over(w).as("rnk"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(w).as("top_key"),
          last(col("o_orderkey")).over(wFull).as("bottom_key"))
    }),

    // event-time RANGE frame (value-based window bounds, a different
    // operator class from the row-frame windows above): per user, the
    // trailing-1-hour running spend at each event, integer cents
    Query("q_range_frame",
      """SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
        |    OVER w AS BIGINT) AS hour_cents,
        |  COUNT(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"),
          (dec(col("value"), 10, 2) * 100).cast(LongType).as("c"))
        .select(col("event_id"), col("user_id"), col("sec"),
          sum(col("c")).over(w).as("hour_cents"),
          count(lit(1)).over(w).cast(LongType).as("hour_n"))
    }),

    // null-semantics parity: a planted nullable key must form its own
    // group, COUNT(col) skips nulls while COUNT(*) does not, and
    // min/max ignore nulls — the corners engines disagree on first
    Query("q_null_semantics",
      """WITH t AS (
        |  SELECT CASE WHEN event_type = 'error' THEN NULL
        |              ELSE event_type END AS et,
        |    CASE WHEN value < 1.0 THEN NULL
        |         ELSE CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
        |    END AS c
        |  FROM events)
        |SELECT et, COUNT(*) AS n_rows, COUNT(c) AS n_vals,
        |  MIN(c) AS min_c, MAX(c) AS max_c
        |FROM t GROUP BY et""".stripMargin)((s, dir) =>
      Tables.events(s, dir)
        .select(when(col("event_type") === "error", lit(null))
            .otherwise(col("event_type")).as("et"),
          when(col("value") < 1.0, lit(null))
            .otherwise((dec(col("value"), 10, 2) * 100).cast(LongType))
            .as("c"))
        .groupBy(col("et")).agg(
          count(lit(1)).as("n_rows"),
          count(col("c")).as("n_vals"),
          min(col("c")).as("min_c"),
          max(col("c")).as("max_c"))),

    // explicit GROUPING SETS (beyond rollup/cube): all four sets with
    // GROUPING() ids; integer-cents measures hold at any scale
    Query("q_grouping_sets",
      """SELECT
        |  COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
        |    AS sum_qty_cents,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())""".stripMargin)((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT
              |  COALESCE(l_returnflag, 'ALL') AS rf,
              |  COALESCE(l_linestatus, 'ALL') AS ls,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
              |    AS sum_qty_cents,
              |  COUNT(*) AS n,
              |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
              |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
              |FROM lineitem_v
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
              |  (l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    Query("q_rollup",
      """SELECT coalesce(p_brand, 'ALL') AS brand,
        |  coalesce(p_type, 'ALL') AS ptype,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY ROLLUP(p_brand, p_type)""".stripMargin)((s, dir) => {
      val rev = dec(col("l_extendedprice"), 12, 2) *
        (lit(1).cast(DecimalType(4, 2)) - dec(col("l_discount"), 4, 2))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("p_partkey") === col("l_partkey"))
        .rollup(col("p_brand"), col("p_type"))
        .agg(outD(sum(rev)).as("revenue"), count(lit(1)).as("n"))
        .select(coalesce(col("p_brand"), lit("ALL")).as("brand"),
          coalesce(col("p_type"), lit("ALL")).as("ptype"),
          col("revenue"), col("n"))
    }),

    Query("q_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)((s, dir) => {
      val qty = dec(col("l_quantity"), 10, 2)
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(outD(sum(qty)).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
    }),

    Query("q_json",
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY k_mod""".stripMargin)((s, dir) =>
      Tables.events(s, dir)
        .select(pmod(get_json_object(col("props"), "$.k").cast(LongType), lit(10L))
          .as("k_mod"), col("value"))
        .groupBy(col("k_mod"))
        .agg(count(lit(1)).as("n"),
          outD(sum(dec(col("value"), 10, 2))).as("sum_value"))),

    Query("q_scalar_filter",
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER () AS s,
        |    COUNT(*) OVER () AS c
        |  FROM orders)
        |SELECT o_orderkey, o_custkey, CAST(price AS DOUBLE) AS price
        |FROM t WHERE price * c > s""".stripMargin)((s, dir) => {
      // orders priced above the global mean — the exact-arithmetic
      // form p*count > sum avoids a double division entirely; global
      // stats come from a broadcast cross join, not a one-partition
      // window
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          dec(col("o_totalprice"), 12, 2).as("price"))
      val stats = o.agg(sum(col("price")).as("s"), count(lit(1)).as("c"))
      o.crossJoin(broadcast(stats))
        .filter(col("price") * col("c") > col("s"))
        .select(col("o_orderkey"), col("o_custkey"), outD(col("price")).as("price"))
    }),

    Query("q_distinct",
      """SELECT c_mktsegment,
        |  COUNT(DISTINCT c_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio,
        |  COUNT(*) AS n_orders
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_orders"))),

    Query("q_skew_join",
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)((s, dir) =>
      // row-identical to a plain events⋈customer join (same oracle as
      // that join); the salt spreads hot user_ids over 8 sub-keys
      operators.SkewJoin.saltedJoin(
          Tables.events(s, dir), Tables.customer(s, dir)
            .withColumnRenamed("c_custkey", "user_id"), "user_id", "event_id", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          outD(sum(dec(col("value"), 10, 2))).as("sum_value"))),

    // schema-on-read resilience: deterministically corrupt a slice of
    // the JSON payloads (drop the closing brace on event_id % 7 = 0),
    // then count valid vs malformed per type — the permissive-parse
    // accounting a 100 TB crawl ingest needs. Spark's get_json_object
    // nulls on malformed input; the oracle mirrors via json_valid.
    Query("q_badrecords",
      // same deterministic corruption; json_valid mirrors
      // get_json_object's null-on-malformed
      """WITH r AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0
        |         THEN substr(props, 1, length(props) - 1)
        |         ELSE props END AS raw
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN json_valid(raw) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_valid,
        |  CAST(SUM(CASE WHEN json_valid(raw) THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_malformed
        |FROM r GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("props"))
        .withColumn("raw", when(pmod(col("event_id"), lit(7)) === 0,
          expr("substring(props, 1, length(props) - 1)"))
          .otherwise(col("props")))
      // validity = the whole document parses (try_parse_json), not
      // "some expected key is present" — a well-formed payload
      // without a 'k' key must count valid, matching the oracle's
      // json_valid exactly
      e.select(col("event_type"),
          expr("try_parse_json(raw)").isNotNull
            .cast("long").as("ok"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("ok")).cast(LongType).as("n_valid"),
          (count(lit(1)) - sum(col("ok"))).cast(LongType)
            .as("n_malformed"))
    }),

    // Z-order layout key arithmetic, oracled bit for bit: the Morton
    // interleave is pure shift/mask integer math, so DuckDB mirrors
    // the exact spread steps. XOR-fold (order-independent, can't
    // overflow) plus min/max summarize every row's key exactly; the
    // file-skipping effect of range-clustering on this key is
    // asserted by ZOrderSpec (stats-pruning is layout, not a result
    // set — not SQL-expressible).
    Query("q_zorder",
      // the same magic-mask spread steps, via DuckDB's lateral column
      // aliasing; bit_xor folds every key into an order-free checksum
      """WITH e AS (
        |  SELECT event_type,
        |    ((user_id % 65536) + 65536) % 65536 AS x,
        |    (((CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
        |       % 65536) + 65536) % 65536) AS y
        |  FROM events),
        |s AS (
        |  SELECT event_type,
        |    ((x | (x << 8)) & 16711935) AS x1,
        |    ((x1 | (x1 << 4)) & 252645135) AS x2,
        |    ((x2 | (x2 << 2)) & 858993459) AS x3,
        |    ((x3 | (x3 << 1)) & 1431655765) AS xs,
        |    ((y | (y << 8)) & 16711935) AS y1,
        |    ((y1 | (y1 << 4)) & 252645135) AS y2,
        |    ((y2 | (y2 << 2)) & 858993459) AS y3,
        |    ((y3 | (y3 << 1)) & 1431655765) AS ys,
        |    (xs | (ys << 1)) AS zkey
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |  bit_xor(zkey) AS xor_key,
        |  MIN(zkey) AS min_key,
        |  MAX(zkey) AS max_key
        |FROM s GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        pmod(col("user_id"), lit(65536)).cast(LongType).as("x"),
        pmod((dec(col("value"), 10, 2) * 100).cast(LongType), lit(65536))
          .as("y"))
      e.withColumn("zkey", ZOrder.mortonKey(col("x"), col("y")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("bit_xor(zkey)").as("xor_key"),
          min(col("zkey")).as("min_key"),
          max(col("zkey")).as("max_key"))
    }),

    // keyless time-interval join: events counted into the ±60 s
    // windows around the 50 highest-value events. Binned equi-join
    // (operators.RangeJoin) — a naive BETWEEN join is a nested-loop
    // cartesian at scale; binning shuffles on bin keys instead.
    Query("q_range_join",
      // the BETWEEN join here is what the Spark side computes via
      // binned equi-join — identical match set, different plan shape
      """WITH e AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(value AS DECIMAL(10,2)) AS v
        |  FROM events),
        |hot AS (
        |  SELECT event_id AS hot_id, sec AS hsec FROM e
        |  ORDER BY v DESC, event_id LIMIT 50)
        |SELECT h.hot_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(x.v * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM hot h JOIN e x ON x.sec BETWEEN h.hsec - 60 AND h.hsec + 60
        |GROUP BY h.hot_id""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_id"),
        unix_timestamp(col("ts")).as("sec"), dec(col("value"), 10, 2).as("v"))
      val hot = e.orderBy(col("v").desc, col("event_id")).limit(50)
        .select(col("event_id").as("hot_id"),
          (col("sec") - 60).as("lo"), (col("sec") + 60).as("hi"))
      RangeJoin.pointInInterval(e, hot, "sec", "lo", "hi", binWidth = 60)
        .groupBy(col("hot_id"))
        .agg(count(lit(1)).as("n_events"),
          sum((col("v") * 100).cast(LongType)).as("sum_cents"))
    }),

    // interval×interval OVERLAP join (the two-sided generalization of
    // q_range_join): 4-hour vs 8-hour event windows meet in a binned
    // equi-join — both sides explode into 4-hour bins, each
    // overlapping pair survives only in its overlap-start bin, so no
    // dedup shuffle — where the naive BETWEEN form nested-loops.
    // Per-A-interval aggregation keeps the output linear in |A|.
    Query("q_interval_join",
      // the naive inclusive-overlap BETWEEN join — same pair set as the
      // binned exactly-once plan, different physical shape
      """WITH e AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |a AS (SELECT event_id AS a_id, t AS a_lo, t + 14400 AS a_hi
        |      FROM e WHERE event_id % 20 = 0),
        |b AS (SELECT event_id AS b_id, t AS b_lo, t + 28800 AS b_hi
        |      FROM e WHERE event_id % 20 = 7)
        |SELECT a_id, COUNT(*) AS n_overlaps,
        |  CAST(SUM(least(a_hi, b_hi) - greatest(a_lo, b_lo)) AS BIGINT)
        |    AS total_overlap_sec,
        |  CAST(MAX(least(a_hi, b_hi) - greatest(a_lo, b_lo)) AS BIGINT)
        |    AS max_overlap_sec
        |FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
        |GROUP BY a_id""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), unix_timestamp(col("ts")).as("t"))
      val a = e.filter(pmod(col("event_id"), lit(20)) === 0)
        .select(col("event_id").as("a_id"), col("t").as("a_lo"),
          (col("t") + 14400L).as("a_hi"))
      val b = e.filter(pmod(col("event_id"), lit(20)) === 7)
        .select(col("event_id").as("b_id"), col("t").as("b_lo"),
          (col("t") + 28800L).as("b_hi"))
      RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          binWidth = 14400L)
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo"))).as("total_overlap_sec"),
          max(least(col("a_hi"), col("b_hi")) -
            greatest(col("a_lo"), col("b_lo"))).as("max_overlap_sec"))
    }),

    Query("q_setops",
      """SELECT 'common' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'only_customer' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders)""".stripMargin)((s, dir) => {
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val withOrders = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"))
      building.intersect(withOrders).withColumn("tag", lit("common"))
        .unionByName(
          building.except(withOrders).withColumn("tag", lit("only_customer")))
        .select(col("tag"), col("c_custkey"))
    }),

    // bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep
    // multiplicity (min / truncated difference of per-row counts),
    // where the distinct variants of q_setops collapse it — the
    // semantics ledger-style reconciliation needs
    Query("q_setops_all",
      // DuckDB speaks INTERSECT ALL / EXCEPT ALL natively
      """WITH u AS (SELECT o_custkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |h AS (SELECT o_custkey FROM orders
        |      WHERE o_orderpriority = '2-HIGH'),
        |b AS (SELECT o_custkey, 'both' AS tag
        |      FROM (SELECT o_custkey FROM u
        |            INTERSECT ALL SELECT o_custkey FROM h)),
        |o AS (SELECT o_custkey, 'urgent_only' AS tag
        |      FROM (SELECT o_custkey FROM u
        |            EXCEPT ALL SELECT o_custkey FROM h))
        |SELECT tag, o_custkey, COUNT(*) AS n
        |FROM (SELECT * FROM b UNION ALL SELECT * FROM o)
        |GROUP BY tag, o_custkey""".stripMargin)((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val high = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"))
      urgent.intersectAll(high).withColumn("tag", lit("both"))
        .unionByName(
          urgent.exceptAll(high).withColumn("tag", lit("urgent_only")))
        .groupBy(col("tag"), col("o_custkey"))
        .agg(count(lit(1)).as("n"))
    }),

    // spatial radius join without a cross product: grid cells of side
    // r, the 50-point query side explodes to its 3×3 neighborhood,
    // one equi-join on cell ids + exact verify. Coordinates derive
    // from ids by pure arithmetic so the oracle can mirror them; the
    // oracle itself joins naively BETWEEN — same pair set, different
    // plan shape (q_range_join's argument, one dimension up).
    Query("q_spatial_join",
      // the naive BETWEEN form — identical pair set to the grid plan
      """WITH p AS (
        |  SELECT event_id, (event_id * 7919) % 100000 AS x,
        |    (event_id * 104729) % 100000 AS y
        |  FROM events),
        |q AS (
        |  SELECT c_custkey, (c_custkey * 7919) % 100000 AS x,
        |    (c_custkey * 104729) % 100000 AS y
        |  FROM customer WHERE c_custkey <= 50)
        |SELECT q.c_custkey AS q_id, p.event_id AS p_id,
        |  greatest(abs(p.x - q.x), abs(p.y - q.y)) AS cheb_dist
        |FROM q JOIN p
        |  ON p.x BETWEEN q.x - 500 AND q.x + 500
        | AND p.y BETWEEN q.y - 500 AND q.y + 500""".stripMargin)((s, dir) => {
      val pts = Tables.events(s, dir).select(col("event_id"),
        ((col("event_id") * 7919) % 100000).as("x"),
        ((col("event_id") * 104729) % 100000).as("y"))
      val qs = Tables.customer(s, dir)
        .filter(col("c_custkey") <= 50).select(col("c_custkey"),
          ((col("c_custkey") * 7919) % 100000).as("x"),
          ((col("c_custkey") * 104729) % 100000).as("y"))
      operators.SpatialJoin.radiusJoin(pts, qs, "event_id", "c_custkey",
        r = 500L)
    }),

    Query("q_sql",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      // the spark.sql path over a registered view (same engine, SQL
      // front-end) — proves the library surface is SQL-accessible
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql("""SELECT event_type, COUNT(*) AS n,
              |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
              |FROM events_v GROUP BY event_type""".stripMargin)
    }),

    // ONE SQL text, two engines: Spark 4's WITH RECURSIVE runs the
    // identical string the DuckDB oracle runs (engine-common
    // functions only — no div//, no epoch/unix_timestamp). The
    // recursion builds the zero-filled bin scaffold that q_histogram
    // leaves gappy; recursion depth is bounded by the max bin, not
    // data volume.
    // verbatim the string Spark executed — the oracle IS the query
    Query("q_sql_recursive", RecursiveBinsSql)((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      s.sql(RecursiveBinsSql)
    }),

    // null-safe equi-join (<=>): a NULL join key MATCHES a NULL key,
    // where plain equality silently drops the row — the semantics a
    // dimension with an "unknown" bucket needs. Planted nulls via
    // NULLIF; DuckDB mirrors with IS NOT DISTINCT FROM.
    Query("q_nullsafe_join",
      // IS NOT DISTINCT FROM is SQL's spelling of Spark's <=>
      """WITH f AS (
        |  SELECT nullif(event_type, 'view') AS k,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT DISTINCT k, COALESCE(k, 'unknown') AS bucket_id
        |      FROM f)
        |SELECT d.bucket_id, COUNT(*) AS n,
        |  CAST(SUM(f.cents) AS BIGINT) AS sum_cents
        |FROM d JOIN f ON d.k IS NOT DISTINCT FROM f.k
        |GROUP BY d.bucket_id""".stripMargin)((s, dir) => {
      val fact = Tables.events(s, dir)
        .select(expr("nullif(event_type, 'view')").as("k"),
          (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val dict = fact.select(col("k")).distinct()
        .withColumn("bucket_id",
          coalesce(col("k"), lit("unknown")))
      dict.join(fact, dict("k") <=> fact("k"))
        .groupBy(col("bucket_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).cast(LongType)
          .as("sum_cents"))
    }),

    // replica comparison without moving data: an order-independent
    // content checksum per table — md5 over a canonical row string,
    // folded by count + XOR + SUM (all commutative). Two replicas
    // compare by exchanging three integers per table instead of
    // terabytes; any single-row difference flips the fold. The 60-bit
    // hex prefix keeps the per-row value in positive BIGINT range in
    // both engines (Spark conv(hex,16,10) ≡ DuckDB CAST('0x…')).
    Query("q_table_checksum",
      // same canonical strings, same md5 prefix, same commutative folds
      """WITH o AS (
        |  SELECT CAST(('0x' || substr(md5(
        |      CAST(o_orderkey AS VARCHAR) || '|' ||
        |      CAST(o_custkey AS VARCHAR) || '|' ||
        |      CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |        AS BIGINT) AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 1000000007 AS h
        |  FROM orders),
        |c AS (
        |  SELECT CAST(('0x' || substr(md5(
        |      CAST(c_custkey AS VARCHAR) || '|' ||
        |      CAST(c_nationkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 1000000007 AS h
        |  FROM customer)
        |SELECT 'orders' AS table_name, COUNT(*) AS n,
        |  bit_xor(h) AS xor_h,
        |  CAST(SUM(h) % 1000000007 AS BIGINT) AS sum_h FROM o
        |UNION ALL
        |SELECT 'customer' AS table_name, COUNT(*) AS n,
        |  bit_xor(h) AS xor_h,
        |  CAST(SUM(h) % 1000000007 AS BIGINT) AS sum_h
        |FROM c""".stripMargin)((s, dir) => {
      // sum fold is MODULAR (p = 1e9+7, DECIMAL(38,0) accumulate):
      // a raw BIGINT sum of 60-bit hashes wraps past ~8k rows in
      // Spark while DuckDB's HUGEINT doesn't — mod-p keeps both
      // engines exact at any row count
      def sums(df: DataFrame, name: String, canon: Column) =
        df.select((conv(substring(md5(canon), 1, 15), 16, 10)
            .cast(LongType) % 1000000007L).as("h"))
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(h)").as("xor_h"),
            (sum(col("h").cast(DecimalType(38, 0))) % 1000000007L)
              .cast(LongType).as("sum_h"))
          .select(lit(name).as("table_name"), col("n"), col("xor_h"),
            col("sum_h"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      sums(o, "orders", concat_ws("|", col("o_orderkey"), col("o_custkey"),
          (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType)))
        .unionByName(
          sums(c, "customer", concat_ws("|", col("c_custkey"),
            col("c_nationkey"))))
    }),

    // ordered set aggregation: sorted-distinct listagg per source plus
    // counts — deterministic (sorted) so both engines emit one string
    Query("q_listagg",
      """SELECT source,
        |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin)((s, dir) =>
      Tables.documents(s, dir).groupBy(col("source")).agg(
        array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
        count(lit(1)).as("n_docs"))),

    // wide→long unpivot of the per-flag measure sums (integer cents);
    // oracled as a UNION ALL, the portable spelling of UNPIVOT
    Query("q_unpivot",
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) * 100 AS BIGINT) AS qty_c,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS price_c,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(10,2))) * 100 AS BIGINT) AS disc_c,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(10,2))) * 100 AS BIGINT) AS tax_c
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS measure, qty_c AS value_cents FROM a
        |UNION ALL
        |SELECT l_returnflag, 'price', price_c FROM a
        |UNION ALL
        |SELECT l_returnflag, 'disc', disc_c FROM a
        |UNION ALL
        |SELECT l_returnflag, 'tax', tax_c FROM a""".stripMargin)((s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_returnflag")).agg(
          (sum(dec(col("l_quantity"), 10, 2)) * 100).cast(LongType).as("qty_c"),
          (sum(dec(col("l_extendedprice"), 12, 2)) * 100).cast(LongType).as("price_c"),
          (sum(dec(col("l_discount"), 10, 2)) * 100).cast(LongType).as("disc_c"),
          (sum(dec(col("l_tax"), 10, 2)) * 100).cast(LongType).as("tax_c"))
        .select(col("l_returnflag"),
          expr("stack(4, 'qty', qty_c, 'price', price_c, " +
            "'disc', disc_c, 'tax', tax_c) as (measure, value_cents)"))),

    Query("q_lag",
      """WITH t AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |    CAST(value AS DECIMAL(10,2)) AS v
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, ts_sec,
        |    lag(ts_sec) OVER w AS prev_sec,
        |    v - lag(v) OVER w AS dvalue
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        |SELECT event_id, user_id, ts_sec - prev_sec AS gap_sec,
        |  CAST(dvalue AS DOUBLE) AS dvalue
        |FROM l WHERE prev_sec IS NOT NULL""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // order by the truncated second + event_id (same collation as
      // the oracle, which never sees sub-second precision)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"), col("value"))
        .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
        .withColumn("gap_sec", col("ts_sec") - col("prev_sec"))
        .withColumn("dvalue",
          dec(col("value"), 10, 2) - lag(dec(col("value"), 10, 2), 1).over(w))
        .filter(col("prev_sec").isNotNull)
        .select(col("event_id"), col("user_id"), col("gap_sec"),
          outD(col("dvalue")).as("dvalue"))
    }),

    // Pareto frontier (2-D skyline: cheapest price × largest size,
    // the classic dominance filter) via a distributed SWEEP — group
    // to per-price maxima, then PrefixSums.exclusivePrefixMax gives
    // each price the best size among all strictly-cheaper parts in
    // the two-level partitioned shape; a point survives iff it tops
    // its own price group AND beats every cheaper group. The naive
    // relational form is an O(n²) NOT-EXISTS domination join; the
    // sweep is n log n and never plans a global window or a cross
    // product — the shape that survives a 100 TB catalog.
    Query("q_pareto",
      // the oracle's prefix max is the plain global window the Spark
      // side deliberately avoids — agreement shows the two-level sweep
      // equals the sequential one; survivor semantics: top of own
      // price group, strictly above every cheaper group (ties at the
      // same price-size corner all survive — neither dominates)
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(p_size AS BIGINT) AS p_size
        |  FROM part),
        |g AS (SELECT cents, MAX(p_size) AS ymax FROM p GROUP BY cents),
        |m AS (
        |  SELECT cents, ymax,
        |    MAX(ymax) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt
        |  FROM g)
        |SELECT a.p_partkey, a.cents, a.p_size
        |FROM p a JOIN m ON m.cents = a.cents
        |WHERE a.p_size = m.ymax
        |  AND (m.mlt IS NULL OR a.p_size > m.mlt)""".stripMargin)((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"),
        (dec(col("p_retailprice"), 12, 2) * 100).cast(LongType)
          .as("cents"),
        col("p_size").cast(LongType).as("p_size"))
      val g = p.groupBy(col("cents")).agg(max(col("p_size")).as("ymax"))
      val m = operators.PrefixSums.exclusivePrefixMax(
        g, "cents", "ymax", "mlt")
      p.join(g, "cents").join(m, "cents")
        .filter(col("p_size") === col("ymax") &&
          (col("mlt").isNull || col("p_size") > col("mlt")))
        .select(col("p_partkey"), col("cents"), col("p_size"))
    }),

    // data-quality audit: referential integrity + constraint checks
    // as one long-format report (each check is an independent
    // aggregate; anti joins carry keys only)
    Query("q_integrity",
      """SELECT 'orphan_orders' AS check,
        |  CAST(COUNT(*) AS BIGINT) AS violations
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'orphan_lineitems',
        |  CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'dup_partkeys', CAST(COUNT(*) AS BIGINT)
        |FROM (SELECT p_partkey FROM part
        |      GROUP BY p_partkey HAVING COUNT(*) > 1)
        |UNION ALL
        |SELECT 'null_event_values', CAST(COUNT(*) AS BIGINT)
        |FROM events WHERE value IS NULL
        |UNION ALL
        |SELECT 'nonpositive_quantities', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem WHERE l_quantity <= 0""".stripMargin)((s, dir) => {
      val orders = Tables.orders(s, dir)
      val customer = Tables.customer(s, dir)
      val lineitem = Tables.lineitem(s, dir)
      val part = Tables.part(s, dir)
      val events = Tables.events(s, dir)
      def check(tag: String, d: DataFrame): DataFrame =
        d.agg(count(lit(1)).cast(LongType).as("violations"))
          .select(lit(tag).as("check"), col("violations"))
      check("orphan_orders",
          orders.join(customer, orders("o_custkey") === customer("c_custkey"),
            "left_anti"))
        .unionByName(check("orphan_lineitems",
          lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"),
            "left_anti")))
        .unionByName(check("dup_partkeys",
          part.groupBy("p_partkey").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1)))
        .unionByName(check("null_event_values",
          events.filter(col("value").isNull)))
        .unionByName(check("nonpositive_quantities",
          lineitem.filter(col("l_quantity") <= 0)))
    }),

    // footer-only snapshot statistics: COUNT/MIN/MAX pushed into the
    // parquet scan (DSv2 PushedAggregation — metadata, no data pages;
    // see sources.MetaStats). The oracle recomputes from rows, so the
    // gate proves footer stats == data
    Query("q_meta_stats",
      // ground truth from the rows themselves
      """SELECT 'orders' AS "table", COUNT(*) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key FROM orders
        |UNION ALL
        |SELECT 'lineitem', COUNT(*),
        |  CAST(MIN(l_orderkey) AS BIGINT),
        |  CAST(MAX(l_orderkey) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'part', COUNT(*),
        |  CAST(MIN(p_partkey) AS BIGINT),
        |  CAST(MAX(p_partkey) AS BIGINT) FROM part""".stripMargin)((s, dir) =>
      MetaStats.tableStats(s, s"$dir/orders.parquet", "orders", "o_orderkey")
        .unionByName(MetaStats.tableStats(s, s"$dir/lineitem.parquet",
          "lineitem", "l_orderkey"))
        .unionByName(MetaStats.tableStats(s, s"$dir/part.parquet",
          "part", "p_partkey"))),

    Query("q_asof",
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id,
        |    CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_sec,
        |    c.click_id,
        |    CAST(floor(epoch(c.c_ts)) AS BIGINT) AS cts_sec,
        |    row_number() OVER (PARTITION BY p.event_id
        |        ORDER BY c.c_ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.c_ts <= p.ts)
        |SELECT event_id, user_id, ts_sec, click_id,
        |  ts_sec - cts_sec AS gap_sec
        |FROM j WHERE rn = 1""".stripMargin)((s, dir) => {
      // point-in-time: each purchase matched to the user's latest
      // preceding (inclusive) click — genuinely interleaved streams
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      operators.AsOfJoin.join(purchases, clicks, "user_id", "ts", "c_ts",
          "click_id", Seq("click_id", "c_ts"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"), col("click_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("c_ts")))
            .as("gap_sec"))
    }),

    // typo-level variants in the part-name DICTIONARY (distinct
    // values, first-token blocking, exact levenshtein verify — see
    // operators.FuzzyMatch for the blocking contract)
    Query("q_fuzzy_match",
      // same first-token blocking, then exact levenshtein — DuckDB's
      // and Spark's edit distances are the identical DP integers
      """WITH names AS (
        |  SELECT DISTINCT p_name AS name,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM part)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  levenshtein(a.name, b.name) AS dist
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin)((s, dir) =>
      FuzzyMatch.dictionaryPairs(Tables.part(s, dir), "p_name", 3)),

    // COMPLETE distance-1 fuzzy matching via the deletion-neighborhood
    // index (FastSS/SymSpell): planted last-char-truncated variants of
    // every 10th part name guarantee true pairs, and — unlike
    // q_fuzzy_match's first-token blocking — every distance-1 pair is
    // found, first-character typos included (spec-proven vs the naive
    // O(n²) join; the oracle mirrors the same key join)
    Query("q_fuzzy_sym",
      // the same deletion-key candidate join, then the exact verify —
      // both engines generate identical N(s) = {s} ∪ del1(s) keys
      """WITH names0 AS (
        |  SELECT p_name AS name FROM part
        |  UNION ALL
        |  SELECT substr(p_name, 1, length(p_name) - 1) FROM part
        |  WHERE p_partkey % 10 = 0),
        |names AS (SELECT DISTINCT name FROM names0),
        |k0 AS (
        |  SELECT name, unnest(generate_series(0, length(name))) AS i
        |  FROM names),
        |keys AS (
        |  SELECT DISTINCT name,
        |    CASE WHEN i = 0 THEN name
        |         ELSE substr(name, 1, i - 1) || substr(name, i + 1)
        |    END AS k
        |  FROM k0),
        |cand AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.name < b.name)
        |SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
        |FROM cand WHERE levenshtein(name_a, name_b) <= 1""".stripMargin)((s, dir) => {
      val p = Tables.part(s, dir)
      val base = p.select(col("p_name").as("name"))
      val typos = p.filter(pmod(col("p_partkey"), lit(10)) === 0)
        .select(expr("substring(p_name, 1, length(p_name) - 1)")
          .as("name"))
      FuzzyMatch.deletionNeighborhoodPairs(base.unionByName(typos),
        "name")
    })
  )
}
