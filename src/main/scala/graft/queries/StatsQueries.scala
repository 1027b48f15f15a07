package graft
package queries

import graft.operators.{Eval, PrefixSums}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact-integer statistics: moments, profiles, correlation,
  * regression, distribution tests, evaluation metrics and data-quality
  * audits.
  */
object StatsQueries {

  import Parity.dec

  /** Pearson correlation in permille from exact integer moment sums —
    * ONE formula string valid in both Spark SQL and DuckDB, so the
    * double arithmetic is bit-identical over identical integers
    * (q_corr's engine-exactness argument, reused by q_profile).
    */
  private def corrPmlSql(n: String, sx: String, sy: String,
                         sxx: String, syy: String, sxy: String): String =
    s"""CAST(round(1000.0 *
       |  (CAST($n AS DOUBLE) * CAST($sxy AS DOUBLE)
       |    - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE))
       |  / nullif(sqrt(
       |      (CAST($n AS DOUBLE) * CAST($sxx AS DOUBLE)
       |        - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE))
       |      * (CAST($n AS DOUBLE) * CAST($syy AS DOUBLE)
       |        - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE))), 0.0))
       |  AS BIGINT)""".stripMargin.replace("\n", " ")

  val all: Seq[Query] = Seq(
    // distributed statistics the portable way: integer moment sums
    // (Σx, Σx², Σxy in exact cents) instead of float stddev/corr
    // aggregates whose partial-merge order wobbles the last ulp across
    // engines AND across runs — downstream derives variance/correlation
    // from the moments losslessly. Products and partial sums accumulate
    // in DECIMAL(38,0) (exact to 10^38, so no intermediate overflow at
    // any realistic corpus scale); only the FINAL value casts to BIGINT
    // for engine-portable output. With ANSI off an out-of-range final
    // cast yields NULL — detectably absent, never silently wrapped.
    // The BIGINT envelope: |x| ≤ 10^5 cents over ≤ 9·10^8 rows/group
    // keeps Σx² under 2^63; beyond that, read the moments as
    // DECIMAL(38,0) before the cast.
    Query("q_moments",
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS x,
        |    CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS tsec
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sum_x,
        |  CAST(SUM(x * x) AS BIGINT) AS sum_x2,
        |  CAST(SUM(tsec) AS BIGINT) AS sum_t,
        |  CAST(SUM(x * tsec) AS BIGINT) AS sum_xt
        |FROM t GROUP BY event_type""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val xd = (dec(col("value"), 10, 2) * 100).cast(LongType).cast(d38)
      val td = (unix_timestamp(col("ts")) % 86400).cast(d38)
      Tables.events(s, dir)
        .select(col("event_type"), xd.as("x"), td.as("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast(LongType).as("sum_x"),
          sum(col("x") * col("x")).cast(LongType).as("sum_x2"),
          sum(col("t")).cast(LongType).as("sum_t"),
          sum(col("x") * col("t")).cast(LongType).as("sum_xt"))
    }),

    // one-pass data profiling: every per-column stat AND every
    // pairwise correlation of three measures from a SINGLE hash
    // aggregation — the moment sums are exact DECIMAL(38,0)→BIGINT
    // integers (q_corr pattern), the fixed double formula applies
    // identically in both engines. A profiler that scans once per
    // column would read the fact table k times; this reads it once.
    // same single-pass moments (HUGEINT per-row products mirror the
    // Spark side's DECIMAL(38,0)); the correlation expression is the
    // IDENTICAL formula string evaluated by both engines
    Query("q_profile", {
      val corr = (sx: String, sy: String, sxx: String, syy: String,
                  sxy: String) =>
        corrPmlSql("n", sx, sy, sxx, syy, sxy)
      s"""WITH l AS (
        |  SELECT CAST(CAST(l_quantity AS DECIMAL(10,2)) * 100 AS BIGINT)
        |           AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS p,
        |    CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d
        |  FROM lineitem),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    MIN(q) AS q_min, MAX(q) AS q_max,
        |    CAST(SUM(q) AS BIGINT) AS sq,
        |    MIN(p) AS p_min, MAX(p) AS p_max,
        |    CAST(SUM(p) AS BIGINT) AS sp,
        |    MIN(d) AS d_min, MAX(d) AS d_max,
        |    CAST(SUM(d) AS BIGINT) AS sd,
        |    SUM(CAST(q AS HUGEINT) * q) AS sqq,
        |    SUM(CAST(p AS HUGEINT) * p) AS spp,
        |    SUM(CAST(d AS HUGEINT) * d) AS sdd,
        |    SUM(CAST(q AS HUGEINT) * p) AS sqp,
        |    SUM(CAST(q AS HUGEINT) * d) AS sqd,
        |    SUM(CAST(p AS HUGEINT) * d) AS spd
        |  FROM l)
        |SELECT n, q_min, q_max, sq, p_min, p_max, sp, d_min, d_max, sd,
        |  ${corr("sq", "sp", "sqq", "spp", "sqp")} AS corr_qp_pml,
        |  ${corr("sq", "sd", "sqq", "sdd", "sqd")} AS corr_qd_pml,
        |  ${corr("sp", "sd", "spp", "sdd", "spd")} AS corr_pd_pml
        |FROM a""".stripMargin
    })((s, dir) => {
      val d38 = DecimalType(38, 0)
      val l = Tables.lineitem(s, dir).select(
        (dec(col("l_quantity"), 10, 2) * 100).cast(LongType).as("q"),
        (dec(col("l_extendedprice"), 12, 2) * 100).cast(LongType).as("p"),
        (dec(col("l_discount"), 4, 2) * 100).cast(LongType).as("d"))
      def m(c: String) = col(c).cast(d38)
      // product moments stay DECIMAL(38,0) — Σp² crosses 2^63 already
      // at sf0.1 (measured 2.2e19) — and feed ONLY the double formula;
      // emitted columns are the range-safe firsts
      val agg = l.agg(count(lit(1)).as("n"),
        min(col("q")).as("q_min"), max(col("q")).as("q_max"),
        sum(m("q")).cast(LongType).as("sq"),
        min(col("p")).as("p_min"), max(col("p")).as("p_max"),
        sum(m("p")).cast(LongType).as("sp"),
        min(col("d")).as("d_min"), max(col("d")).as("d_max"),
        sum(m("d")).cast(LongType).as("sd"),
        sum(m("q") * m("q")).as("sqq"),
        sum(m("p") * m("p")).as("spp"),
        sum(m("d") * m("d")).as("sdd"),
        sum(m("q") * m("p")).as("sqp"),
        sum(m("q") * m("d")).as("sqd"),
        sum(m("p") * m("d")).as("spd"))
      agg.select(col("n"),
        col("q_min"), col("q_max"), col("sq"),
        col("p_min"), col("p_max"), col("sp"),
        col("d_min"), col("d_max"), col("sd"),
        expr(corrPmlSql("n", "sq", "sp", "sqq", "spp", "sqp"))
          .as("corr_qp_pml"),
        expr(corrPmlSql("n", "sq", "sd", "sqq", "sdd", "sqd"))
          .as("corr_qd_pml"),
        expr(corrPmlSql("n", "sp", "sd", "spp", "sdd", "spd"))
          .as("corr_pd_pml"))
    }),

    // exact ROC-AUC as the Mann-Whitney U statistic in pure integers:
    // the 2×average-rank trick (a tie group's doubled avg rank is
    // 2·cnt_lt + cnt_eq + 1, always integral) keeps every intermediate
    // BIGINT, so an evaluation metric that is normally float-only
    // hash-oracles exactly. The one window runs over DISTINCT scores
    // (bounded cardinality), never over documents.
    Query("q_auc",
      """WITH d AS (
        |  SELECT n_chars AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |g AS (SELECT score, COUNT(*) AS cnt, SUM(label) AS pos
        |      FROM d GROUP BY score),
        |c AS (SELECT score, cnt, pos,
        |        COALESCE(SUM(cnt) OVER (ORDER BY score
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS cum_lt
        |      FROM g),
        |a AS (SELECT SUM(pos * (cum_lt * 2 + cnt + 1)) AS s2,
        |        SUM(pos) AS n1, SUM(cnt - pos) AS n0 FROM c)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
        |  CAST((s2 - n1 * (n1 + 1)) * 1000000 // (2 * n1 * n0) AS BIGINT)
        |    AS auc_micro
        |FROM a""".stripMargin)((s, dir) =>
      Eval.aucMicro(Tables.documents(s, dir),
        col("n_chars").cast(LongType),
        when(col("lang") === "en", 1L).otherwise(0L))),

    // reliability-diagram calibration over a deterministic Lehmer
    // pseudo-score (permille): per-decile size, positives, mean score
    // and observed positive rate — integer-exact, the eval-side
    // companion of q_auc's ranking metric
    Query("q_calibration",
      // identical integer rank algebra; CASTs pin DuckDB's HUGEINT sums
      // back to BIGINT for the hash
      // same Lehmer pseudo-score; bins and ratios by floor division
      """WITH sc AS (
        |  SELECT (doc_id * 48271 + n_chars) % 1000 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents)
        |SELECT CAST(least(s // 100, 9) AS BIGINT) AS bin,
        |  COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
        |  CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_score_pml,
        |  CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT) AS pos_rate_pml
        |FROM sc GROUP BY 1""".stripMargin)((s, dir) =>
      Eval.calibrationBins(Tables.documents(s, dir),
        pmod(col("doc_id") * 48271 + col("n_chars"), lit(1000)),
        when(col("lang") === "en", 1L).otherwise(0L), bins = 10)),

    // threshold sweep of the confusion matrix at 250/500/750 permille:
    // TP/FP/FN/TN + precision/recall/F1 in integer permille from ONE
    // scan (conditional agg over the exploded threshold list)
    Query("q_eval_thresholds",
      // one pass over scores × the unnested threshold list; permille
      // ratios floor-divide with NULL on empty denominators
      """WITH sc AS (
        |  SELECT (doc_id * 48271 + n_chars) % 1000 AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |t AS (SELECT unnest([250, 500, 750]) AS threshold),
        |g AS (
        |  SELECT threshold,
        |    CAST(SUM(CASE WHEN s >= threshold THEN y ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN s >= threshold THEN 1 - y ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN s < threshold THEN y ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN s < threshold THEN 1 - y ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM sc, t GROUP BY threshold)
        |SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn, tn,
        |  CAST(tp * 1000 // nullif(tp + fp, 0) AS BIGINT)
        |    AS precision_pml,
        |  CAST(tp * 1000 // nullif(tp + fn, 0) AS BIGINT) AS recall_pml,
        |  CAST(2 * tp * 1000 // nullif(2 * tp + fp + fn, 0) AS BIGINT)
        |    AS f1_pml
        |FROM g""".stripMargin)((s, dir) =>
      Eval.thresholdMetrics(Tables.documents(s, dir),
        pmod(col("doc_id") * 48271 + col("n_chars"), lit(1000)),
        when(col("lang") === "en", 1L).otherwise(0L),
        thresholds = Seq(250, 500, 750))),

    // per-group least-squares TREND, integer-exact: slope =
    // (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) evaluated entirely in
    // DECIMAL(38,0) moment sums with one floor division at the end
    // (micro units) — the drift estimator behind "is this metric
    // rising", hash-oracled where float OLS never could be. x is
    // CENTERED on the per-group min epoch second (one cheap
    // min-agg broadcast) so the moment envelope holds to ~1e9 rows
    // per group over year-long spans; beyond that pre-aggregate x to
    // coarser grains. Main pass is ONE hash aggregation.
    Query("q_linreg",
      // same centered moments (HUGEINT mirrors DECIMAL(38,0)), same
      // single floor division at the end
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS xr,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS y
        |  FROM events),
        |x0 AS (SELECT event_type, MIN(xr) AS x0 FROM e GROUP BY 1),
        |m AS (
        |  SELECT e.event_type,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(e.xr - x0.x0 AS HUGEINT)) AS sx,
        |    SUM(CAST(e.y AS HUGEINT)) AS sy,
        |    SUM(CAST(e.xr - x0.x0 AS HUGEINT) * (e.xr - x0.x0)) AS sxx,
        |    SUM(CAST(e.xr - x0.x0 AS HUGEINT) * e.y) AS sxy
        |  FROM e JOIN x0 USING (event_type) GROUP BY e.event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(CAST(1000000 AS HUGEINT) * (n * sxy - sx * sy)
        |       // (n * sxx - sx * sx) AS BIGINT) AS slope_micro,
        |  CAST((1000 * sy) // n AS BIGINT) AS y_mean_milli
        |FROM m""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts)").as("xr"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("y"))
      val x0 = e.groupBy(col("event_type")).agg(min(col("xr")).as("x0"))
      val m = e.join(broadcast(x0), "event_type")
        .select(col("event_type"),
          (col("xr") - col("x0")).cast(d38).as("x"), col("y").cast(d38).as("yv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("yv")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("yv")).as("sxy"))
      m.select(col("event_type"), col("n").cast(LongType).as("n"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * (n * sxy - sx * sy)" +
          " div (n * sxx - sx * sx)").as("slope_micro"),
        expr("(1000 * sy) div n").as("y_mean_milli"))
    }),

    // two-sample KOLMOGOROV-SMIRNOV distribution drift test, integer-
    // exact: D = max_v |F1(v) − F2(v)| evaluated as the cross-
    // multiplied |c1(v)·n2 − c2(v)·n1| over the distinct-value grid —
    // no float ECDF anywhere, so the drift detector hash-oracles (the
    // q_anomaly cross-multiplication rule applied to a whole-
    // distribution test). The whole cumulative machinery rides
    // PrefixSums.maxEcdfCrossGap: the gap is the prefix sum of the
    // per-value SIGNED term z(v) = cnt1·n2 − cnt2·n1, and its max/min
    // decompose over super-buckets — so no per-key ECDF is ever
    // emitted and everything after the one hash(_sb) exchange runs on
    // the bucket table (round-10: two single-measure passes = 44.7
    // CPU-s cold; round-11 inclusive two-measure = 19.4; this shape
    // plans 5 exchanges vs 11 — round-12 verdict item 1). Products
    // accumulate in DECIMAL(38,0) (c·n crosses 2^63 past ~3e9 rows
    // per side); only the bounded permille statistic is emitted.
    Query("q_ks_test",
      // cumulative counts via SQL windows (the oracle may window
      // globally; the engine may not), HUGEINT cross products
      """WITH o AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
        |      AS is1
        |  FROM orders),
        |g AS (
        |  SELECT cents, SUM(is1) AS cnt1, SUM(1 - is1) AS cnt2
        |  FROM o GROUP BY cents),
        |c AS (
        |  SELECT SUM(cnt1) OVER (ORDER BY cents) AS c1,
        |    SUM(cnt2) OVER (ORDER BY cents) AS c2
        |  FROM g),
        |n AS (
        |  SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
        |    CAST(SUM(cnt2) AS BIGINT) AS n2 FROM g)
        |SELECT n1, n2,
        |  CAST(MAX(1000 * abs(CAST(c1 AS HUGEINT) * n2
        |    - CAST(c2 AS HUGEINT) * n1))
        |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_permille
        |FROM c, n GROUP BY n1, n2""".stripMargin)((s, dir) => {
      val g = Tables.orders(s, dir).select(
          (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("is1"))
        .groupBy(col("cents"))
        .agg(sum(col("is1")).as("cnt1"),
          sum(lit(1L) - col("is1")).as("cnt2"))
      PrefixSums.maxEcdfCrossGap(g, "cents", "cnt1", "cnt2")
        .select(col("n1").cast(LongType).as("n1"),
          col("n2").cast(LongType).as("n2"),
          expr("CAST((1000 * max_d) div (n1 * n2) AS BIGINT)")
            .as("ks_permille"))
    }),

    // functional-dependency PROFILING over declared candidate keys:
    // A → B holds iff |distinct A| = |distinct (A, B)|; emitted with
    // the exact violation count (extra (A,B) combinations) per
    // candidate — the constraint-mining face of the B43 audit. Each
    // candidate is one distinct-aggregation; the frame is
    // candidate-count-bounded.
    Query("q_fd_profile",
      """WITH f1 AS (
        |  SELECT 'o_orderkey->o_custkey' AS fd,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey
        |      FROM orders) s) AS n_lhs,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey, o_custkey
        |      FROM orders) s) AS n_both),
        |f2 AS (
        |  SELECT 'o_custkey->o_orderpriority' AS fd,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey
        |      FROM orders) s) AS n_lhs,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey,
        |      o_orderpriority FROM orders) s) AS n_both),
        |f3 AS (
        |  SELECT 'l_orderkey,l_linenumber->l_partkey' AS fd,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
        |      l_linenumber FROM lineitem) s) AS n_lhs,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey,
        |      l_linenumber, l_partkey FROM lineitem) s) AS n_both),
        |f4 AS (
        |  SELECT 'l_partkey->l_suppkey' AS fd,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey
        |      FROM lineitem) s) AS n_lhs,
        |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_partkey, l_suppkey
        |      FROM lineitem) s) AS n_both),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
        |SELECT fd, n_lhs, n_both,
        |  CAST(n_both = n_lhs AS INT) AS holds,
        |  n_both - n_lhs AS n_violations
        |FROM u""".stripMargin)((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      def fd(df: org.apache.spark.sql.DataFrame, name: String,
             lhs: Seq[String], rhs: String) =
        df.agg(countDistinct(struct(lhs.map(col): _*)).as("n_lhs"),
            countDistinct(struct((lhs :+ rhs).map(col): _*)).as("n_both"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_both"),
            (col("n_both") === col("n_lhs")).cast("int").as("holds"),
            (col("n_both") - col("n_lhs")).as("n_violations"))
      fd(o, "o_orderkey->o_custkey", Seq("o_orderkey"), "o_custkey")
        .unionByName(fd(o, "o_custkey->o_orderpriority",
          Seq("o_custkey"), "o_orderpriority"))
        .unionByName(fd(l, "l_orderkey,l_linenumber->l_partkey",
          Seq("l_orderkey", "l_linenumber"), "l_partkey"))
        .unionByName(fd(l, "l_partkey->l_suppkey",
          Seq("l_partkey"), "l_suppkey"))
    }),

    // A/B EXPERIMENT report: users split into deterministic arms by
    // id parity, conversion = any purchase; per-arm rates, uplift,
    // and the pooled two-proportion z² CROSS-MULTIPLIED into exact
    // integers (the B42/B80 no-float rule aimed at experimentation):
    // z²·100 = 100·(cₜ·n_c − c_c·nₜ)²·N div (nₜ·n_c·C·(N−C)).
    // One user-extent aggregation + a 2-row arm frame.
    Query("q_ab_test",
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) >= 14 AS BIGINT) AS conv
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT user_id % 2 AS arm, COUNT(*) AS n,
        |    CAST(SUM(conv) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |w AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS c_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS c_c
        |  FROM a)
        |SELECT n_t, c_t, n_c, c_c,
        |  (1000 * c_t) // n_t - (1000 * c_c) // n_c AS uplift_permille,
        |  CASE WHEN c_t + c_c > 0 AND n_t + n_c > c_t + c_c THEN
        |    CAST((100 * CAST(c_t * n_c - c_c * n_t AS HUGEINT)
        |      * (c_t * n_c - c_c * n_t) * (n_t + n_c))
        |      // (CAST(n_t AS HUGEINT) * n_c * (c_t + c_c)
        |      * (n_t + n_c - c_t - c_c)) AS BIGINT) END AS z2_centi
        |FROM w""".stripMargin)((s, dir) => {
      // conversion = a HEAVY purchaser (≥ 14 purchase events): "any
      // purchase" saturates at ~100% in this corpus, which zeroes the
      // pooled-variance denominator; the threshold keeps the rate
      // interior (~46%) and the CASE guard below keeps a degenerate
      // regime NULL instead of a division error
      val u = Tables.events(s, dir).groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) >= 14L).cast("long").as("conv"))
        .select(pmod(col("user_id"), lit(2)).as("arm"), col("conv"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val wide = u.groupBy()
        .agg(sum(when(col("arm") === 1, col("n"))).as("n_t"),
          sum(when(col("arm") === 1, col("c"))).as("c_t"),
          sum(when(col("arm") === 0, col("n"))).as("n_c"),
          sum(when(col("arm") === 0, col("c"))).as("c_c"))
      wide.select(col("n_t"), col("c_t"), col("n_c"), col("c_c"),
        expr("(1000 * c_t) div n_t - (1000 * c_c) div n_c")
          .as("uplift_permille"),
        expr("CASE WHEN c_t + c_c > 0 AND n_t + n_c > c_t + c_c THEN" +
          " CAST((100 * CAST(c_t * n_c - c_c * n_t AS DECIMAL(38,0))" +
          " * (c_t * n_c - c_c * n_t) * (n_t + n_c))" +
          " div (CAST(n_t AS DECIMAL(38,0)) * n_c * (c_t + c_c)" +
          " * (n_t + n_c - c_t - c_c)) AS BIGINT) END").as("z2_centi"))
    }),

    // K-ANONYMITY risk audit: equivalence-class sizes over the
    // quasi-identifier tuple (nation, segment, coarse balance band) —
    // classes below k = 5 are re-identification risks (Sweeney 2002).
    // The privacy/governance pass run before any data release; one
    // hash aggregation over a dictionary-bounded grid.
    Query("q_kanonymity",
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    // 100000 AS bal_band,
        |  COUNT(*) AS n,
        |  CAST(COUNT(*) < 5 AS INT) AS at_risk
        |FROM customer GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
      Tables.customer(s, dir).select(col("c_nationkey"),
          col("c_mktsegment"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)" +
            " div 100000").as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", (col("n") < 5).cast("int"))
    }),

    // BENFORD first-digit audit: observed leading-digit distribution
    // of order amounts vs Benford's law (expected permilles as exact
    // integer literals — log10(1+1/d) pre-tabulated), with per-digit
    // deviation. Leading digit via string head — no float log10 in
    // either engine. The classic fabricated-data / fraud screen, one
    // scan + a 9-row frame.
    Query("q_benford",
      // expected permilles are shared integer literals; leading digit
      // via string head in both engines — no float log10 anywhere
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice
        |    AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
        |    AS INT) AS digit
        |  FROM orders),
        |n AS (SELECT COUNT(*) AS n_total FROM c),
        |b(digit, benford_permille) AS (VALUES (1, 301), (2, 176),
        |  (3, 125), (4, 97), (5, 79), (6, 67), (7, 58), (8, 51),
        |  (9, 46)),
        |o AS (SELECT digit, COUNT(*) AS cnt FROM c GROUP BY digit)
        |SELECT o.digit, o.cnt AS n,
        |  (1000 * o.cnt) // n.n_total AS observed_permille,
        |  CAST(b.benford_permille AS BIGINT) AS benford_permille,
        |  abs((1000 * o.cnt) // n.n_total - b.benford_permille)
        |    AS abs_dev_permille
        |FROM o JOIN b USING (digit) CROSS JOIN n""".stripMargin)((s, dir) => {
      val cents = (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType)
      val bexp = map(
        (1 to 9).flatMap(d => Seq(lit(d), lit(Seq(301L, 176L, 125L,
          97L, 79L, 67L, 58L, 51L, 46L)(d - 1)))): _*)
      Tables.orders(s, dir)
        .select(substring(cents.cast("string"), 1, 1).cast("int")
          .as("digit"))
        // mirror the oracle's inner JOIN b USING (digit): a zero or
        // negative amount yields digit 0 or NULL ('-' cast), which
        // the 9-row Benford table drops — keep the row sets equal
        // even on degenerate amounts
        .filter(col("digit").between(1, 9))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(Tables.orders(s, dir)
          .agg(count(lit(1)).as("n_total"))))
        .select(col("digit"), col("n"),
          expr("(1000 * n) div n_total").as("observed_permille"),
          element_at(bexp, col("digit")).as("benford_permille"))
        .withColumn("abs_dev_permille",
          abs(col("observed_permille") - col("benford_permille")))
    }),

    // revenue concentration via the exact integer Gini: with values
    // ranked inside each type (ties broken by event_id — Σ rank·x is
    // tie-order-invariant, the tiebreak only pins determinism), G =
    // (2·Σ rank·x − (n+1)·Σx) / (n·Σx) in floor micro units. Window
    // sorts are per-type; at 100 TB the binned q_hist_rollup shape
    // approximates the same integral without the sort.
    Query("q_gini",
      // same rank-sum Gini in HUGEINT-exact integers
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT event_type, cents,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY cents, event_id) AS rk
        |      FROM e),
        |a AS (SELECT event_type, COUNT(*) AS n,
        |        SUM(cents) AS s0, SUM(rk * cents) AS s1
        |      FROM r GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST((2 * s1 - (n + 1) * s0) * 1000000 // (n * s0) AS BIGINT)
        |    AS gini_micro
        |FROM a""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), (dec(col("value"), 10, 2) * 100)
          .cast(LongType).as("cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      e.withColumn("rk", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
            .as("s0"),
          sum((col("rk") * col("cents")).cast(DecimalType(38, 0)))
            .cast(LongType).as("s1"))
        .select(col("event_type"), col("n"),
          // DECIMAL operands: the numerator ×1e6 tops 2^63 once
          // Σrank·cents reaches ~9e12 (sf0.1 already); integral
          // division on decimals keeps the floor exact
          expr("CAST(2 * s1 - (n + 1) * s0 AS DECIMAL(38,0)) * 1000000" +
            " div CAST(n * s0 AS DECIMAL(38,0))").as("gini_micro"))
    }),

    // Pearson correlation + its inputs derived from the exact integer
    // moments (the B35 story closed end-to-end): both engines compute
    // the SAME double formula over the SAME exact integers, so the
    // permille-rounded output is engine-identical. nullif guards the
    // zero-variance degenerate case to NULL in both engines.
    Query("q_corr",
      // identical double formula over identical exact integer moments —
      // permille rounding makes the output engine-exact
      """WITH t AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS x,
        |    CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS tt
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(tt) AS BIGINT) AS st,
        |    CAST(SUM(tt * tt) AS BIGINT) AS stt,
        |    CAST(SUM(x * tt) AS BIGINT) AS sxt
        |  FROM t GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(round(1000.0 *
        |    (CAST(n AS DOUBLE) * CAST(sxt AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(st AS DOUBLE))
        |    / nullif(sqrt(
        |        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
        |          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 0.0))
        |    AS BIGINT) AS corr_pml
        |FROM m""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val xd = (dec(col("value"), 10, 2) * 100).cast(LongType).cast(d38)
      val td = (unix_timestamp(col("ts")) % 86400).cast(d38)
      Tables.events(s, dir)
        .select(col("event_type"), xd.as("x"), td.as("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast(LongType).as("sx"),
          sum(col("x") * col("x")).cast(LongType).as("sxx"),
          sum(col("t")).cast(LongType).as("st"),
          sum(col("t") * col("t")).cast(LongType).as("stt"),
          sum(col("x") * col("t")).cast(LongType).as("sxt"))
        .select(col("event_type"), col("n"),
          expr("""CAST(round(1000.0 *
                 |  (CAST(n AS DOUBLE) * CAST(sxt AS DOUBLE)
                 |    - CAST(sx AS DOUBLE) * CAST(st AS DOUBLE))
                 |  / nullif(sqrt(
                 |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 |      * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                 |        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 0.0))
                 |  AS BIGINT)""".stripMargin.replace("\n", " "))
            .as("corr_pml"))
    }),

    // chi-square independence test lang × source over the FULL
    // contingency grid (zero cells included): every count is an exact
    // integer, expected values and per-cell contributions apply one
    // fixed double formula to those integers (q_corr pattern), so the
    // milli-unit outputs are engine-exact. Row/column marginals are
    // group-count-sized and broadcast.
    Query("q_chi2",
      // full grid via marginal cross join; identical fixed double
      // formula over the same exact integers
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, COUNT(*) AS nr FROM documents GROUP BY lang),
        |c AS (SELECT source, COUNT(*) AS nc FROM documents GROUP BY source),
        |t AS (SELECT COUNT(*) AS nt FROM documents)
        |SELECT r.lang, c.source, COALESCE(cells.n, 0) AS n,
        |  CAST(round(1000.0 * CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
        |    / CAST(nt AS DOUBLE)) AS BIGINT) AS expected_pml,
        |  CAST(round(1000.0 *
        |    (CAST(COALESCE(cells.n, 0) AS DOUBLE)
        |      - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))
        |    * (CAST(COALESCE(cells.n, 0) AS DOUBLE)
        |      - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))
        |    / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)))
        |    AS BIGINT) AS chi2_pml
        |FROM r CROSS JOIN c CROSS JOIN t
        |LEFT JOIN cells ON cells.lang = r.lang AND cells.source = c.source""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val rows = docs.groupBy("lang").agg(count(lit(1)).as("nr"))
      val cols = docs.groupBy("source").agg(count(lit(1)).as("nc"))
      val tot = docs.agg(count(lit(1)).as("nt"))
      rows.crossJoin(broadcast(cols)).crossJoin(broadcast(tot))
        .join(broadcast(cells), Seq("lang", "source"), "left")
        .select(col("lang"), col("source"),
          coalesce(col("n"), lit(0L)).as("n"),
          expr("""CAST(round(1000.0 *
                 |  CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                 |  / CAST(nt AS DOUBLE)) AS BIGINT)""".stripMargin
            .replace("\n", " ")).as("expected_pml"),
          expr("""CAST(round(1000.0 *
                 |  (CAST(coalesce(n, 0) AS DOUBLE)
                 |    - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                 |      / CAST(nt AS DOUBLE))
                 |  * (CAST(coalesce(n, 0) AS DOUBLE)
                 |    - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                 |      / CAST(nt AS DOUBLE))
                 |  / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE)
                 |      / CAST(nt AS DOUBLE))) AS BIGINT)""".stripMargin
            .replace("\n", " ")).as("chi2_pml"))
    }),

    // per-slice corpus PARITY audit: every (lang, source) cell's mean
    // document length against the corpus mean as an exact permille
    // ratio-of-means (Σc·ng·1000 div (nc·Σg), DECIMAL numerators) +
    // a >20%-deviation flag — the representation-balance check run
    // before training mixes are frozen; the cell grid is
    // dictionary-bounded, the global mean one broadcast row.
    Query("q_slice_parity",
      """WITH d AS (
        |  SELECT lang, source, len(string_split(text, ' ')) AS l
        |  FROM documents),
        |c AS (
        |  SELECT lang, source, COUNT(*) AS n_docs,
        |    CAST(SUM(l) AS BIGINT) AS s_len
        |  FROM d GROUP BY 1, 2),
        |g AS (SELECT COUNT(*) AS g_n, CAST(SUM(l) AS BIGINT) AS g_s
        |      FROM d)
        |SELECT lang, source, n_docs,
        |  (1000 * s_len) // n_docs AS mean_len_milli,
        |  CAST((CAST(1000 AS HUGEINT) * s_len * g_n)
        |    // (CAST(n_docs AS HUGEINT) * g_s) AS BIGINT)
        |    AS parity_permille,
        |  CAST(abs(CAST((CAST(1000 AS HUGEINT) * s_len * g_n)
        |    // (CAST(n_docs AS HUGEINT) * g_s) AS BIGINT) - 1000) <= 200
        |    AS INT) AS balanced
        |FROM c, g""".stripMargin)((s, dir) => {
      val d = Tables.documents(s, dir).select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("len"))
      val cells = d.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("s_len"))
      val glob = d.agg(count(lit(1)).as("g_n"), sum(col("len")).as("g_s"))
      cells.crossJoin(broadcast(glob))
        .select(col("lang"), col("source"), col("n_docs"),
          expr("(1000 * s_len) div n_docs").as("mean_len_milli"),
          expr("CAST((CAST(1000 AS DECIMAL(38,0)) * s_len * g_n)" +
            " div (CAST(n_docs AS DECIMAL(38,0)) * g_s) AS BIGINT)")
            .as("parity_permille"))
        .withColumn("balanced",
          (abs(col("parity_permille") - 1000) <= 200).cast("int"))
    })
  )
}
