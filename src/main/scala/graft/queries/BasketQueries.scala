package graft
package queries

import graft.operators.PrefixSums
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Analytics core, customer part: basket co-occurrence rules,
  * similar items, negative sampling, attribution and RFM segments.
  * Owns the stored basket-rules table its three rule readers share.
  */
object BasketQueries {

  import Parity.dec

  /** Build-once memoization of the SAVED capped basket-rules table
    * (round-10 verdict #5: q_copurchase/q_basket_lift/q_item_sims
    * each re-paid the Σ|basket|² projection — 112 CPU-s combined at
    * sf0.1). One parquet build per dataset dir, three bounded
    * readers — the minhashIndexDir serving shape applied to
    * co-occurrence. Stored with the shared support floor n_co >= 2
    * (every consumer filters at least that hard).
    */
  private val basketRulesDir = Stored.table("_build_basket_rules") {
    (s, dir, p) =>
      val baskets = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      operators.CoOccur.buildRulesTable(baskets, "cust", "part",
        maxBasket = 40, minCo = 2L, p)
  }

  private def basketRules(s: SparkSession, dir: String): DataFrame =
    operators.ParquetIO.read(s, basketRulesDir(s, dir))

  val all: Seq[Query] = Seq(
    // co-purchase graph ("customers who bought A also bought B"): the
    // bipartite customer×part projection with the maxBasket skew
    // guard gate-visible — pairs count CUSTOMERS, support ≥ 2,
    // deterministic top-100. Reads the STORED rule table (built once
    // per dataset dir, round-10 verdict #5): the Σ|basket|² pair
    // projection is a build job shared by three serving queries, so
    // this plan is a parquet scan + top-k, never the self-join.
    Query("q_copurchase",
      // the basket projection with the same maxBasket guard; pairs
      // count customers once (DISTINCT membership first)
      """WITH b AS (
        |  SELECT DISTINCT o_custkey AS g, l_partkey AS it
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (SELECT g FROM b GROUP BY g HAVING COUNT(*) <= 40),
        |bb AS (SELECT b.g, b.it FROM b SEMI JOIN small USING (g)),
        |co AS (
        |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_co
        |  FROM bb x JOIN bb y ON x.g = y.g AND x.it < y.it
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_co FROM co WHERE n_co >= 2
        |ORDER BY n_co DESC, item_a, item_b LIMIT 100""".stripMargin, uses = Seq(basketRulesDir))((s, dir) =>
      basketRules(s, dir)
        .select(col("item_a"), col("item_b"), col("n_co"))
        .orderBy(col("n_co").desc, col("item_a"), col("item_b"))
        .limit(100)),

    // association RULES over the capped basket projection: support /
    // directional confidence / lift in exact integer micro-and-permille
    // units — the "is this co-occurrence real or just popularity"
    // refinement of q_copurchase (lift divides out the independence
    // rate). Every count shares q_copurchase's maxBasket skew guard
    // AND its stored rule table (one build, three readers);
    // DECIMAL(38,0) numerators ride the build.
    Query("q_basket_lift",
      // same capped projection + the integer rule metrics; HUGEINT
      // mirrors the DECIMAL(38,0) numerators
      """WITH b AS (
        |  SELECT DISTINCT o_custkey AS g, l_partkey AS it
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (SELECT g FROM b GROUP BY g HAVING COUNT(*) <= 40),
        |bb AS (SELECT b.g, b.it FROM b SEMI JOIN small USING (g)),
        |n AS (SELECT COUNT(DISTINCT g) AS n_groups FROM bb),
        |ic AS (SELECT it, COUNT(*) AS n_i FROM bb GROUP BY it),
        |co AS (
        |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_co
        |  FROM bb x JOIN bb y ON x.g = y.g AND x.it < y.it
        |  GROUP BY 1, 2)
        |SELECT item_a, item_b, n_co,
        |  CAST((1000000 * CAST(n_co AS HUGEINT)) // n_groups AS BIGINT)
        |    AS support_micro,
        |  (1000 * n_co) // a.n_i AS conf_ab_permille,
        |  (1000 * n_co) // bt.n_i AS conf_ba_permille,
        |  CAST((CAST(1000000 AS HUGEINT) * n_co * n_groups)
        |    // (CAST(a.n_i AS HUGEINT) * bt.n_i) AS BIGINT) AS lift_micro
        |FROM co JOIN ic a ON a.it = item_a
        |JOIN ic bt ON bt.it = item_b CROSS JOIN n
        |WHERE n_co >= 2
        |ORDER BY lift_micro DESC, item_a, item_b LIMIT 100""".stripMargin, uses = Seq(basketRulesDir))((s, dir) =>
      basketRules(s, dir)
        .orderBy(col("lift_micro").desc, col("item_a"), col("item_b"))
        .limit(100)),

    // item-item SIMILAR-ITEMS serving table: for each item, its top-5
    // co-purchase partners by exact integer cosine² (n_co²·10⁶ div
    // (n_a·n_b) — the sqrt-free spelling that stays hash-exact) —
    // the "customers also bought" table recommenders serve; built
    // from the SAME capped pair frame as B86/B93, per-item rank via
    // the narrow per-item window over the support-filtered pairs.
    Query("q_item_sims",
      // the B93 rule CTEs + per-item rank; cos² is the floored
      // confidence product in both engines
      """WITH b AS (
        |  SELECT DISTINCT o_custkey AS g, l_partkey AS it
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |small AS (SELECT g FROM b GROUP BY g HAVING COUNT(*) <= 40),
        |bb AS (SELECT b.g, b.it FROM b SEMI JOIN small USING (g)),
        |ic AS (SELECT it, COUNT(*) AS n_i FROM bb GROUP BY it),
        |co AS (
        |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_co
        |  FROM bb x JOIN bb y ON x.g = y.g AND x.it < y.it
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT item_a, item_b, n_co,
        |    (1000 * n_co) // a.n_i AS cab,
        |    (1000 * n_co) // bt.n_i AS cba
        |  FROM co JOIN ic a ON a.it = item_a
        |  JOIN ic bt ON bt.it = item_b
        |  WHERE n_co >= 2),
        |sym AS (
        |  SELECT item_a AS item, item_b AS other, cab * cba AS cos2,
        |    n_co FROM r
        |  UNION ALL
        |  SELECT item_b, item_a, cab * cba, n_co FROM r),
        |rk AS (
        |  SELECT item, other, cos2 AS cos2_micro, n_co,
        |    row_number() OVER (PARTITION BY item
        |      ORDER BY cos2 DESC, other) AS rnk
        |  FROM sym)
        |SELECT item, other, cos2_micro, n_co, CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 5""".stripMargin, uses = Seq(basketRulesDir))((s, dir) => {
      // support-filtered rules from the STORED table (one build
      // shared with q_copurchase/q_basket_lift); two consumers below
      // (top-k pass, n_co join) each scan the small parquet table,
      // not the basket derivation
      val rules = basketRules(s, dir)
      // cos² ≈ conf_ab·conf_ba (permille × permille = micro) — the
      // floored-confidence product, deterministic and oracle-mirrored
      val scored = rules.select(col("item_a").as("item"),
          col("item_b").as("other"),
          (col("conf_ab_permille") * col("conf_ba_permille"))
            .as("cos2_micro"), col("n_co"))
        .union(rules.select(col("item_b").as("item"),
          col("item_a").as("other"),
          (col("conf_ab_permille") * col("conf_ba_permille"))
            .as("cos2_micro"), col("n_co")))
      // bounded per-item top-5 via the map-side-partial TopKAgg
      // instead of row_number over the doubled union — the shuffle
      // carries ≤5 struct rows per item, not every scored pair;
      // ordering (cos2 desc, other asc) matches the old window.
      // n_co rides a bounded equi-join back against the checkpointed
      // scored frame ((item, other) is unique by construction).
      scored.groupBy(col("item"))
        .agg(graft.functions.TopKAgg.topK(5)(col("cos2_micro"),
          col("other")).as("top"))
        .select(col("item"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("item"), (col("pos") + 1).as("rnk"),
          col("e._2").as("other"), col("e._1").as("cos2_micro"))
        .join(scored.select(col("item"), col("other"), col("n_co")),
          Seq("item", "other"))
        .select(col("item"), col("other"), col("cos2_micro"),
          col("n_co"), col("rnk"))
    }),

    // deterministic NEGATIVE SAMPLING for contrastive training (the
    // word2vec/recsys data-prep primitive): for every (customer,
    // purchased-part) positive, k=2 pseudo-random negatives drawn by
    // md5-prefix probes into the densely-indexed item dictionary,
    // true positives anti-joined away. The dense item index comes
    // from PrefixSums.exclusiveOffsets (counts of 1) — a distributed
    // rank with NO unpartitioned window; draws are engine-common md5
    // arithmetic, so the sample is reproducible and fully oracled.
    Query("q_neg_sample",
      // positional bigrams via the proven w/pos CTE; same integer lift
      // dense item index via ROW_NUMBER (the engine-side distributed
      // rank's sequential mirror); identical md5 probe arithmetic;
      // ANTI JOIN removes true positives
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey % 10 = 0),
        |it AS (SELECT DISTINCT p_partkey FROM part),
        |n AS (SELECT COUNT(*) AS n_items FROM it),
        |idx AS (
        |  SELECT p_partkey,
        |    ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS pidx
        |  FROM it),
        |pr AS (
        |  SELECT cust, item, j,
        |    CAST(('0x' || substr(md5(CAST(cust AS VARCHAR) || ':' ||
        |      CAST(item AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1,
        |      15)) AS BIGINT) % n.n_items AS pidx
        |  FROM pos, (SELECT unnest([1, 2]) AS j) jj, n)
        |SELECT p.cust, p.item AS pos_item, p.j,
        |  i.p_partkey AS neg_item
        |FROM pr p JOIN idx i USING (pidx)
        |ANTI JOIN pos q ON q.cust = p.cust
        |  AND q.item = i.p_partkey""".stripMargin)((s, dir) => {
      val pos = Tables.lineitem(s, dir).join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
        .distinct()
      val items = Tables.part(s, dir).select(col("p_partkey")).distinct()
      val nItems = items.count() // bounded scalar (pageRank class)
      val idx = PrefixSums.exclusiveOffsets(
        items.withColumn("one", lit(1L)), "p_partkey", "one", "idx")
      val probes = pos
        .select(col("cust"), col("item"),
          explode(array(lit(1), lit(2))).as("j"))
        .withColumn("pidx", pmod(
          conv(substring(md5(concat_ws(":", col("cust"), col("item"),
            col("j"))), 1, 15), 16, 10).cast(LongType), lit(nItems)))
      // shuffle_hash on both bounded sides (dictionary index, positive
      // set): the default is two sort-merge joins that sort the probe
      // stream twice for nothing — hash tables on the item-dictionary
      // and per-cust positive sides stream the probes through
      probes
        .join(idx.select(col("idx").as("pidx"),
          col("p_partkey").as("neg_item")).hint("shuffle_hash"), "pidx")
        .join(pos.select(col("cust"), col("item").as("neg_item"))
          .hint("shuffle_hash"),
          Seq("cust", "neg_item"), "left_anti")
        .select(col("cust"), col("item").as("pos_item"), col("j"),
          col("neg_item"))
    }),

    // first/last-touch marketing ATTRIBUTION: each purchase credits
    // the user's earliest and latest preceding non-purchase event —
    // first_value/last_value with IGNORE NULLS over the per-user
    // (ts, event_id)-ordered frame (narrow window, one pass, no
    // touches×conversions join), then one bounded credit rollup per
    // touch type. Touchless purchases credit 'none' rather than
    // silently dropping.
    Query("q_attribution",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    event_id, event_type
        |  FROM events),
        |c AS (
        |  SELECT event_type,
        |    first_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e),
        |p AS (
        |  SELECT coalesce(ft, 'none') AS ft, coalesce(lt, 'none') AS lt
        |  FROM c WHERE event_type = 'purchase'),
        |f AS (SELECT ft AS touch_type, COUNT(*) AS n_first
        |  FROM p GROUP BY 1),
        |l AS (SELECT lt AS touch_type, COUNT(*) AS n_last
        |  FROM p GROUP BY 1)
        |SELECT touch_type, coalesce(n_first, 0) AS n_first,
        |  coalesce(n_last, 0) AS n_last
        |FROM f FULL OUTER JOIN l USING (touch_type)""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts)").as("t"), col("event_id"),
        col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val credited = e
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("first_touch"), lit("none")).as("first_touch"),
          coalesce(col("last_touch"), lit("none")).as("last_touch"))
      credited.groupBy(col("first_touch")).agg(count(lit(1)).as("n_first"))
        .join(credited.groupBy(col("last_touch"))
          .agg(count(lit(1)).as("n_last"))
          .withColumnRenamed("last_touch", "first_touch"),
          Seq("first_touch"), "full_outer")
        .select(col("first_touch").as("touch_type"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("n_last"), lit(0L)).as("n_last"))
    }),

    // RFM customer segmentation: recency/frequency/monetary quintile
    // scores from exact interpolated quintile EDGES (the B37
    // equi-depth convention — floor to integer cents/days/counts, one
    // 1-row broadcast, bin by <=), recency inverted so 5 = best.
    // Output is the ≤125-cell segment grid, never a per-customer
    // global rank — no corpus-scale window anywhere (the approx-
    // percentile swap is the documented B37 scale path).
    Query("q_rfm",
      // quantile_cont + floor is the engine-common edge convention
      // (the q_equidepth parity rule) applied per measure
      """WITH cu AS (
        |  SELECT o_custkey,
        |    MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400)
        |      AS lastd,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
        |      AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |mx AS (
        |  SELECT MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400)
        |    AS maxd
        |  FROM orders),
        |c AS (SELECT o_custkey, mx.maxd - lastd AS r, f, m FROM cu, mx),
        |q AS (SELECT
        |  CAST(floor(quantile_cont(r, 0.2)) AS BIGINT) AS r_e1,
        |  CAST(floor(quantile_cont(r, 0.4)) AS BIGINT) AS r_e2,
        |  CAST(floor(quantile_cont(r, 0.6)) AS BIGINT) AS r_e3,
        |  CAST(floor(quantile_cont(r, 0.8)) AS BIGINT) AS r_e4,
        |  CAST(floor(quantile_cont(f, 0.2)) AS BIGINT) AS f_e1,
        |  CAST(floor(quantile_cont(f, 0.4)) AS BIGINT) AS f_e2,
        |  CAST(floor(quantile_cont(f, 0.6)) AS BIGINT) AS f_e3,
        |  CAST(floor(quantile_cont(f, 0.8)) AS BIGINT) AS f_e4,
        |  CAST(floor(quantile_cont(m, 0.2)) AS BIGINT) AS m_e1,
        |  CAST(floor(quantile_cont(m, 0.4)) AS BIGINT) AS m_e2,
        |  CAST(floor(quantile_cont(m, 0.6)) AS BIGINT) AS m_e3,
        |  CAST(floor(quantile_cont(m, 0.8)) AS BIGINT) AS m_e4
        |  FROM c)
        |SELECT
        |  6 - (CASE WHEN r <= r_e1 THEN 1 WHEN r <= r_e2 THEN 2
        |    WHEN r <= r_e3 THEN 3 WHEN r <= r_e4 THEN 4 ELSE 5 END)
        |    AS r_score,
        |  CASE WHEN f <= f_e1 THEN 1 WHEN f <= f_e2 THEN 2
        |    WHEN f <= f_e3 THEN 3 WHEN f <= f_e4 THEN 4 ELSE 5 END
        |    AS f_score,
        |  CASE WHEN m <= m_e1 THEN 1 WHEN m <= m_e2 THEN 2
        |    WHEN m <= m_e3 THEN 3 WHEN m <= m_e4 THEN 4 ELSE 5 END
        |    AS m_score,
        |  COUNT(*) AS n_customers, CAST(SUM(m) AS BIGINT) AS m_cents
        |FROM c CROSS JOIN q
        |GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
      val o = Tables.orders(s, dir)
      val custs = o.groupBy(col("o_custkey"))
        .agg(max(expr("unix_timestamp(o_orderdate) div 86400")).as("lastd"),
          count(lit(1)).as("f"),
          sum(dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("m"))
        .crossJoin(broadcast(o.agg(
          max(expr("unix_timestamp(o_orderdate) div 86400")).as("maxd"))))
        .select(col("o_custkey"), (col("maxd") - col("lastd")).as("r"),
          col("f"), col("m"))
        .persist()
      custs.count() // eager: edge agg + binning both consume it
      def edges(c: String) = Seq(0.2, 0.4, 0.6, 0.8).zipWithIndex.map {
        case (p, i) => floor(expr(s"percentile($c, $p)")).cast(LongType)
          .as(s"${c}_e${i + 1}")
      }
      val es = custs.agg(edges("r").head,
        (edges("r").tail ++ edges("f") ++ edges("m")): _*)
      def score(c: String) =
        when(col(c) <= col(s"${c}_e1"), 1)
          .when(col(c) <= col(s"${c}_e2"), 2)
          .when(col(c) <= col(s"${c}_e3"), 3)
          .when(col(c) <= col(s"${c}_e4"), 4).otherwise(5)
      // checkpoint the ≤125-cell grid, then drop the customer pin —
      // the Graph.pageRank release discipline (a long session must
      // not accumulate per-query pins)
      val out = custs.crossJoin(broadcast(es))
        .select((lit(6) - score("r")).as("r_score"),
          score("f").as("f_score"), score("m").as("m_score"), col("m"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("m")).cast(LongType).as("m_cents"))
        .localCheckpoint(true)
      custs.unpersist(blocking = false)
      out
    })
  )
}
