package graft
package queries

import graft.functions.TextFunctions
import graft.operators.{HeavyHitters, Sketches}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sketches and quantiles: HLL, Count-Min, KMV/theta, Bloom and
  * histogram sketch tables with their merge paths, heavy hitters, and
  * the exact / approximate percentile, winsorize, MAD and equi-depth
  * pairs.
  */
object SketchQueries {

  import Parity.{dec, rankFlag}

  val all: Seq[Query] = Seq(
    Query("q_percentile",
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin)((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
          count(lit(1)).as("n"))),

    // the 100 TB twin of q_percentile: approx_percentile sketches
    // (Greenwald-Khanna at accuracy 10⁴ — a bounded ~KB aggregation
    // buffer per group, vs exact percentile's whole-group value
    // array) gated by the rank CONTRACT (rankFlag). No exact
    // percentile runs anywhere in this plan — this IS the scale
    // path, not a comparison against the unscalable one.
    Query("q_percentile_approx",
      // approx-percentile twins: group keys and counts recomputed
      // exactly; the rank-contract flags are constant-true (the
      // q_approx/q_sketch_table contract shape — a sketch outside its
      // rank tolerance flips the Spark-side flag and the hash gate)
      """SELECT o_orderpriority, COUNT(*) AS n, 1 AS p50_ok, 1 AS p90_ok
        |FROM orders GROUP BY o_orderpriority""".stripMargin)((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderpriority"),
        (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
      val edges = o.groupBy(col("o_orderpriority")).agg(
        expr("approx_percentile(cents, 0.5, 10000)").as("e50"),
        expr("approx_percentile(cents, 0.9, 10000)").as("e90"))
      o.join(broadcast(edges), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          rankFlag(col("cents"), col("e50"), 500L).as("p50_ok"),
          rankFlag(col("cents"), col("e90"), 900L).as("p90_ok"))
    }),

    // sketch surface: HLL distinct-count + approx percentile, gated by
    // an error CONTRACT — the flags compare Spark's sketch against
    // Spark's own exact aggregate, and the oracle recomputes the exact
    // columns with constant-true flags. If a sketch ever leaves its
    // tolerance the flag flips and the hash gate goes red, so the
    // approx path is genuinely exercised without demanding
    // bit-equality of sketch internals across engines.
    Query("q_approx",
      // exact columns recomputed; the _ok flags are the error contract
      // (constant 1 here — Spark's sketch must stay inside tolerance)
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    CAST(value AS DECIMAL(10,2)) AS v
        |  FROM events)
        |SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  1 AS hll_ok,
        |  CAST(quantile_cont(CAST(v * 100 AS BIGINT), 0.5) * 10 AS BIGINT)
        |    AS p50_decicents,
        |  1 AS p50_ok
        |FROM e GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        col("user_id"), dec(col("value"), 10, 2).as("v"))
      // medians on integer cents: the even-n midpoint is k or k.5
      // exactly, so ×10 is an exact BIGINT in both engines — no
      // interpolation-formula float drift can reach the hash
      e.groupBy(col("event_type")).agg(
        countDistinct(col("user_id")).as("n_exact"),
        // tolerance 10% against a 2%-rsd sketch (5 sigma): wide enough
        // that a regenerated dataset or different SF cannot flip the
        // flag without a genuine sketch bug
        when(abs(approx_count_distinct(col("user_id"), 0.02) -
          countDistinct(col("user_id"))).cast(DoubleType) <=
          countDistinct(col("user_id")).cast(DoubleType) * 0.10, 1)
          .otherwise(0).as("hll_ok"),
        (expr("percentile(cast(v * 100 as bigint), 0.5)") * 10)
          .cast(LongType).as("p50_decicents"),
        when(abs(expr("percentile_approx(cast(v * 100 as bigint), 0.5, 10000)")
          .cast(DoubleType) -
          expr("percentile(cast(v * 100 as bigint), 0.5)")) <=
          greatest(expr("percentile(cast(v * 100 as bigint), 0.5)") * 0.05,
            lit(1.0)), 1)
          .otherwise(0).as("p50_ok"))
    }),

    // mergeable sketch-table pattern: ONE raw scan builds per-day HLL
    // sketches; the per-type rollup merges kilobyte register arrays,
    // never rescanning raw keys (exact daily counts can't roll up —
    // users overlap across days). Gate is the q_approx contract shape:
    // exact columns recomputed, the _ok flag demands the merged
    // estimate stay within 10% of exact (5+ sigma at lgK=12's ~1.6%
    // rse, so only a genuine union bug can flip it).
    Query("q_sketch_table",
      // exact distinct + day count recomputed; hll_ok is the union
      // contract (constant 1 — the merged sketch must stay in tolerance)
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  COUNT(DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400)
        |    AS n_days,
        |  1 AS hll_ok
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      val daily = Sketches.distinctSketchTable(e, "user_id",
        Seq("event_type", "day"))
      val rolled = Sketches.rollupDistinct(daily, Seq("event_type"))
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      rolled.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          col("n_sketches").as("n_days"),
          when(abs(col("distinct_est").cast(DoubleType) -
            col("n_exact").cast(DoubleType)) <=
            col("n_exact").cast(DoubleType) * 0.10, 1)
            .otherwise(0).as("hll_ok"))
    }),

    // the FREQUENCY twin of q_sketch_table: per-event-type Count-Min
    // cell tables built in one raw scan, merged by counter addition
    // into a global sketch, then point-estimated for the top-20 users
    // — q_heavy_hitters' question answered without re-scanning raw
    // keys. Gate is the CMS guarantee as a contract: est ≥ true
    // (always, sketches never undercount) and est ≤ true + ε·N + 8
    // (ε = 4/width; depth-5 row minimum puts a genuine merge or hash
    // bug far outside the slack while honest estimates sit at or near
    // exact — deterministic for fixed data, like every sketch gate).
    Query("q_cms",
      """SELECT user_id, COUNT(*) AS true_cnt,
        |  1 AS cms_ge_true, 1 AS cms_within_eps
        |FROM events GROUP BY user_id
        |ORDER BY true_cnt DESC, user_id LIMIT 20""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val perType = Sketches.cmsBuild(ev, "user_id", Seq("event_type"))
      val global = Sketches.cmsMerge(perType, Seq.empty)
      val truth = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("user_id")).limit(20)
      val total = ev.agg(count(lit(1)).as("n_total"))
      Sketches.cmsEstimate(global, truth, "user_id")
        .join(truth, "user_id")
        .crossJoin(broadcast(total))
        .select(col("user_id"), col("true_cnt"),
          when(col("cms_est") >= col("true_cnt"), 1).otherwise(0)
            .as("cms_ge_true"),
          when(col("cms_est") <= col("true_cnt") +
            expr("(4 * n_total) div 2048") + lit(8L), 1).otherwise(0)
            .as("cms_within_eps"))
    }),

    // equi-join SIZE estimation from CMS sketches (the AMS inner
    // product): how many (view, purchase) row pairs join on user_id,
    // answered from two kilobyte cell tables before running the join.
    // Estimate values are engine-internal (xxhash64 buckets), so the
    // gate is the q_cms contract: the SQL-expressible TRUE join size
    // plus never-undercount and within-ε·|A|·|B| flags
    Query("q_cms_join",
      // true join size in SQL + the estimator's guarantee flags (the
      // q_cms contract shape applied to the AMS inner product)
      """WITH ga AS (
        |  SELECT user_id, COUNT(*) AS na FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |gb AS (
        |  SELECT user_id, COUNT(*) AS nb FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT)
        |    AS true_join_size,
        |  1 AS ip_ge_true, 1 AS ip_within_eps
        |FROM ga JOIN gb USING (user_id)""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type") === "view")
      val b = ev.filter(col("event_type") === "purchase")
      val est = Sketches.cmsInnerProduct(
        Sketches.cmsBuild(a, "user_id", Seq.empty),
        Sketches.cmsBuild(b, "user_id", Seq.empty))
      val truth = a.groupBy(col("user_id"))
        .agg(count(lit(1)).as("na"))
        .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("nb")),
          "user_id")
        .agg(coalesce(sum(expr("na * nb")), lit(0L)).cast(LongType)
          .as("true_join_size"))
        .crossJoin(a.agg(count(lit(1)).as("ta")))
        .crossJoin(b.agg(count(lit(1)).as("tb")))
      truth.crossJoin(broadcast(est))
        .select(col("true_join_size"),
          when(col("join_size_est") >= col("true_join_size"), 1)
            .otherwise(0).as("ip_ge_true"),
          when(col("join_size_est") <= col("true_join_size") +
            expr("(4 * ta * tb) div 2048") + lit(8L), 1).otherwise(0)
            .as("ip_within_eps"))
    }),

    // KMV/theta sketch set algebra — the audience-overlap question
    // HLL cannot answer: per-event-type sketches of the distinct
    // (user, day) population, then UNION and INTERSECTION estimates
    // for every type pair from sketch values alone (≤k longs per
    // cell; the raw key stream never re-scans). The md5-prefix hash
    // makes every estimate deterministic, so this approximate
    // operator is fully hash-oracled — the oracle recomputes the
    // same k-min sets and the same integer estimate arithmetic.
    Query("q_theta",
      // the oracle rebuilds the same k-min-distinct sets relationally
      // (row_number over the distinct 60-bit md5 hashes) and applies
      // the same |S|·D div θ integer estimates; LEFT joins keep pairs
      // whose sketches share no value (est_inter = 0)
      """WITH ud AS (
        |  SELECT DISTINCT event_type,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR)
        |      AS ukey
        |  FROM events),
        |hv AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(ukey), 1, 15)) AS BIGINT) AS hv
        |  FROM ud),
        |rk AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv)
        |      AS rn
        |  FROM hv),
        |sk AS (SELECT event_type, hv FROM rk WHERE rn <= 256),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n_sk,
        |    CASE WHEN COUNT(*) < 256 THEN 1152921504606846976
        |         ELSE MAX(hv) END AS th
        |  FROM sk GROUP BY event_type),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    LEAST(a.th, b.th) AS theta,
        |    a.n_sk AS na, a.th AS tha, b.n_sk AS nb, b.th AS thb
        |  FROM st a JOIN st b ON a.event_type < b.event_type),
        |uni AS (
        |  SELECT pr.type_a, pr.type_b, COUNT(DISTINCT s.hv) AS n_union
        |  FROM pr LEFT JOIN sk s
        |    ON (s.event_type = pr.type_a OR s.event_type = pr.type_b)
        |    AND s.hv < pr.theta
        |  GROUP BY pr.type_a, pr.type_b),
        |inter AS (
        |  SELECT pr.type_a, pr.type_b, COUNT(sb.hv) AS n_inter
        |  FROM pr
        |  LEFT JOIN sk sa
        |    ON sa.event_type = pr.type_a AND sa.hv < pr.theta
        |  LEFT JOIN sk sb
        |    ON sb.event_type = pr.type_b AND sb.hv = sa.hv
        |  GROUP BY pr.type_a, pr.type_b)
        |SELECT pr.type_a, pr.type_b,
        |  CASE WHEN na < 256 THEN na
        |       ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
        |                 // tha AS BIGINT) END AS est_a,
        |  CASE WHEN nb < 256 THEN nb
        |       ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
        |                 // thb AS BIGINT) END AS est_b,
        |  CAST(CAST(n_union AS HUGEINT) * 1152921504606846976
        |       // theta AS BIGINT) AS est_union,
        |  CAST(CAST(n_inter AS HUGEINT) * 1152921504606846976
        |       // theta AS BIGINT) AS est_inter
        |FROM pr
        |JOIN uni USING (type_a, type_b)
        |JOIN inter USING (type_a, type_b)""".stripMargin)((s, dir) => {
      val k = 256
      val ud = Tables.events(s, dir).select(col("event_type"),
        concat_ws(":", col("user_id"),
          expr("unix_timestamp(ts) div 86400")).as("ukey"))
      val sk = Sketches.kmvBuild(ud, "ukey", Seq("event_type"), k)
      val a = sk.select(col("event_type").as("type_a"),
        col("kmv").as("kmv_a"))
      val b = sk.select(col("event_type").as("type_b"),
        col("kmv").as("kmv_b"))
      // |types|² pair frame — dictionary-sized, never row-scaled
      a.crossJoin(b).filter(col("type_a") < col("type_b"))
        .withColumn("theta", least(Sketches.kmvTheta(col("kmv_a"), k),
          Sketches.kmvTheta(col("kmv_b"), k)))
        .withColumn("n_union", size(filter(
          array_union(col("kmv_a"), col("kmv_b")),
          x => x < col("theta"))))
        .withColumn("n_inter", size(filter(
          array_intersect(col("kmv_a"), col("kmv_b")),
          x => x < col("theta"))))
        .select(col("type_a"), col("type_b"),
          Sketches.kmvEstimate("kmv_a", k).as("est_a"),
          Sketches.kmvEstimate("kmv_b", k).as("est_b"),
          expr(s"CAST(n_union AS DECIMAL(38,0)) * " +
            s"${Sketches.KmvDomain} div theta").as("est_union"),
          expr(s"CAST(n_inter AS DECIMAL(38,0)) * " +
            s"${Sketches.KmvDomain} div theta").as("est_inter"))
    }),

    // the KMV MERGE path through the gate (q_sketch_table's rollup
    // story for the theta family): per-(type, day) sketches built in
    // one scan, merged to per-type cells from sketch VALUES alone —
    // kilobytes per group, the raw keys never re-scan — then the
    // distinct estimate off the merged sketch. KMV union is exact
    // w.r.t. a direct coarse build (spec-asserted), so the oracle
    // can rebuild per-type k-min sets directly and the merge path
    // must land on the same integers.
    // mergeable QUANTILE sketch tables — the fourth member of the
    // sketch-table family (B45 HLL distinct, B70 CMS frequency, B74
    // KMV set algebra): per-(type, day) bottom-k uniform-sample cells
    // whose order statistics answer per-cell quantiles. The row hash
    // is the engine-common 60-bit md5 prefix of event_id, so the
    // sample — and the p50 read from it — is deterministic and
    // exactly hash-oracled (the KMV argument applied to quantiles).
    Query("q_quantile_table",
      // the oracle skips the merge and rebuilds each type's k-min set
      // directly — KMV union exactness is precisely what's under test
      // bottom-k sample rebuild: ROW_NUMBER over (hv, v) ≡ the bounded
      // aggregator's lexicographic k-min; the quantile index is the
      // same integer nearest-rank formula
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |b AS (
        |  SELECT event_type, day, hv, v FROM (
        |    SELECT e.*, ROW_NUMBER() OVER (
        |      PARTITION BY event_type, day ORDER BY hv, v) AS rn
        |    FROM e) WHERE rn <= 256),
        |r AS (
        |  SELECT event_type, day, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY v)
        |      AS vr,
        |    COUNT(*) OVER (PARTITION BY event_type, day) AS n
        |  FROM b)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n_sample,
        |  MAX(CASE WHEN vr = 1 + (500 * (n - 1)) // 1000 THEN v END)
        |    AS p50_cents
        |FROM r GROUP BY event_type, day, n""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("event_id"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      Sketches.sampleSketchBuild(e, "event_id", "cents",
          Seq("event_type", "day"), k = 256)
        .select(col("event_type"), col("day"),
          size(col("qsk")).cast(LongType).as("n_sample"),
          Sketches.sampleSketchQuantile("qsk", 500).as("p50_cents"))
    }),

    // the MERGE path: per-day cells union to per-type sketches (k
    // smallest of the union of bottom-ks = bottom-k of the union —
    // merge exactness is the property under test, the q_kmv_rollup
    // shape), then p25/p50/p90/p99 read off the merged sample
    Query("q_quantile_rollup",
      // merge ≡ re-rank of the unioned per-day bottom-ks; quantiles off
      // the merged 256-sample
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |b AS (
        |  SELECT event_type, day, hv, v FROM (
        |    SELECT e.*, ROW_NUMBER() OVER (
        |      PARTITION BY event_type, day ORDER BY hv, v) AS rn
        |    FROM e) WHERE rn <= 256),
        |m AS (
        |  SELECT event_type, hv, v FROM (
        |    SELECT b.*, ROW_NUMBER() OVER (
        |      PARTITION BY event_type ORDER BY hv, v) AS rn2
        |    FROM b) WHERE rn2 <= 256),
        |r AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS vr,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n_sample,
        |  MAX(CASE WHEN vr = 1 + (250 * (n - 1)) // 1000 THEN v END)
        |    AS p25_cents,
        |  MAX(CASE WHEN vr = 1 + (500 * (n - 1)) // 1000 THEN v END)
        |    AS p50_cents,
        |  MAX(CASE WHEN vr = 1 + (900 * (n - 1)) // 1000 THEN v END)
        |    AS p90_cents,
        |  MAX(CASE WHEN vr = 1 + (990 * (n - 1)) // 1000 THEN v END)
        |    AS p99_cents
        |FROM r GROUP BY event_type, n""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("event_id"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val daily = Sketches.sampleSketchBuild(e, "event_id", "cents",
        Seq("event_type", "day"), k = 256)
      Sketches.sampleSketchMerge(daily, Seq("event_type"), k = 256)
        .select(col("event_type"),
          size(col("qsk")).cast(LongType).as("n_sample"),
          Sketches.sampleSketchQuantile("qsk", 250).as("p25_cents"),
          Sketches.sampleSketchQuantile("qsk", 500).as("p50_cents"),
          Sketches.sampleSketchQuantile("qsk", 900).as("p90_cents"),
          Sketches.sampleSketchQuantile("qsk", 990).as("p99_cents"))
    }),

    Query("q_kmv_rollup",
      """WITH ud AS (
        |  SELECT DISTINCT event_type,
        |    CAST(user_id AS VARCHAR) || ':' ||
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR)
        |      AS ukey
        |  FROM events),
        |hv AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(ukey), 1, 15)) AS BIGINT) AS hv
        |  FROM ud),
        |rk AS (
        |  SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv)
        |      AS rn
        |  FROM hv),
        |sk AS (SELECT event_type, hv FROM rk WHERE rn <= 256),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n_sk,
        |    CASE WHEN COUNT(*) < 256 THEN 1152921504606846976
        |         ELSE MAX(hv) END AS th
        |  FROM sk GROUP BY event_type)
        |SELECT event_type, CAST(n_sk AS BIGINT) AS n_sketch,
        |  CAST(th AS BIGINT) AS theta,
        |  CASE WHEN n_sk < 256 THEN CAST(n_sk AS BIGINT)
        |       ELSE CAST(CAST(255 AS HUGEINT) * 1152921504606846976
        |                 // th AS BIGINT) END AS est_distinct
        |FROM st""".stripMargin)((s, dir) => {
      val k = 256
      val ud = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        concat_ws(":", col("user_id"),
          expr("unix_timestamp(ts) div 86400")).as("ukey"))
      val daily = Sketches.kmvBuild(ud, "ukey",
        Seq("event_type", "day"), k)
      Sketches.kmvMerge(daily, Seq("event_type"), k)
        .select(col("event_type"),
          size(col("kmv")).cast(LongType).as("n_sketch"),
          Sketches.kmvTheta(col("kmv"), k).as("theta"),
          Sketches.kmvEstimate("kmv", k).as("est_distinct"))
    }),

    // Bloom MEMBERSHIP sketch tables — the membership member of the
    // sketch-table family (B45 HLL = distinct, B70 CMS = frequency,
    // B74 KMV = set algebra, B89 bottom-k = quantiles): "was this key
    // EVER seen" with zero false negatives and a deterministic bit
    // table. Bit positions are engine-common md5 prefixes, so — unlike
    // the xxhash64-bucketed CMS, which gates a contract — every hit
    // flag here, INCLUDING any false-positive collision, is exactly
    // hash-oracled. Probes: the 20 heaviest users (present) plus their
    // 1000003·u+7 images; presence is COMPUTED by an honest join, not
    // assumed, so the gate stays truthful under key-shifted scale
    // replicas where the image of one replica can be a real key of
    // another.
    Query("q_bloom",
      // full bit-table mirror: the md5 probe arithmetic is engine-common,
      // so hit flags — including false-positive collisions — are exact
      """WITH ii AS (SELECT unnest([0, 1, 2, 3]) AS i),
        |bits AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(
        |      CAST(user_id AS VARCHAR) || ':0'),
        |    1 + 8 * i, 8) AS BIGINT) % 65536 AS bloom_bit
        |  FROM events, ii),
        |top AS (
        |  SELECT user_id FROM events GROUP BY user_id
        |  ORDER BY COUNT(*) DESC, user_id LIMIT 20),
        |probes AS (
        |  SELECT user_id AS probe_key FROM top
        |  UNION ALL SELECT user_id * 1000003 + 7 FROM top),
        |pb AS (
        |  SELECT p.probe_key, CAST('0x' || substr(md5(
        |      CAST(p.probe_key AS VARCHAR) || ':0'),
        |    1 + 8 * i, 8) AS BIGINT) % 65536 AS bloom_bit
        |  FROM probes p, ii),
        |hits AS (
        |  SELECT pb.probe_key,
        |    CAST(SUM(CASE WHEN b.bloom_bit IS NOT NULL THEN 1 ELSE 0 END)
        |      = 4 AS INT) AS bloom_hit
        |  FROM pb LEFT JOIN bits b USING (bloom_bit)
        |  GROUP BY pb.probe_key)
        |SELECT h.probe_key,
        |  CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS present,
        |  h.bloom_hit
        |FROM hits h LEFT JOIN (SELECT DISTINCT user_id FROM events) p
        |  ON p.user_id = h.probe_key""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val cells = Sketches.bloomBuild(ev, "user_id", Seq("event_type"))
      val global = Sketches.bloomMerge(cells, Seq.empty)
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(20)
        .select(col("user_id"))
      val probes = top.select(col("user_id").as("probe_key"))
        .union(top.select((col("user_id") * 1000003 + 7).as("probe_key")))
      val present = ev.select(col("user_id").as("probe_key")).distinct()
        .withColumn("present", lit(1))
      Sketches.bloomProbe(global, probes, "probe_key")
        .join(present, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("present"), lit(0)).as("present"),
          col("bloom_hit"))
    }),

    // the MERGE path: per-(type, day) Bloom cells distinct-union to
    // per-type filters (bitwise OR ≡ set union of set-bit positions),
    // gated against a direct build of the coarser cell in the oracle —
    // the q_kmv_rollup shape for membership
    Query("q_bloom_rollup",
      // direct build of the coarser cell — merged-path ≡ direct-build is
      // the property under test
      """WITH ii AS (SELECT unnest([0, 1, 2, 3]) AS i)
        |SELECT event_type, COUNT(*) AS n_bits FROM (
        |  SELECT DISTINCT event_type, CAST('0x' || substr(md5(
        |      CAST(user_id AS VARCHAR) || ':0'),
        |    1 + 8 * i, 8) AS BIGINT) % 65536 AS bloom_bit
        |  FROM events, ii)
        |GROUP BY event_type""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      val daily = Sketches.bloomBuild(ev, "user_id",
        Seq("event_type", "day"))
      Sketches.bloomMerge(daily, Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_bits"))
    }),

    // the OpenTelemetry/Prometheus histogram pattern: fine-grained
    // (type, day, bin) count rows are the sketch — mergeable by plain
    // SUM, so any coarser rollup (here per-type) re-aggregates bins,
    // never raw values. Quantiles read off the cumulative bin counts:
    // a binned quantile is an integer both engines compute identically
    // (unlike interpolated percentiles). Windows run over the bin
    // dictionary, not events.
    Query("q_hist_rollup",
      // identical bin algebra: SUM-merged (type, bin) counts, quantile
      // = first bin whose cumulative count crosses the rank
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |fine AS (SELECT event_type, day, cents // 1000 AS bin,
        |           COUNT(*) AS cnt
        |         FROM e GROUP BY event_type, day, cents // 1000),
        |m AS (SELECT event_type, bin, SUM(cnt) AS cnt
        |      FROM fine GROUP BY event_type, bin),
        |c AS (SELECT event_type, bin, cnt,
        |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin)
        |          AS cum,
        |        SUM(cnt) OVER (PARTITION BY event_type) AS total
        |      FROM m)
        |SELECT event_type,
        |  MIN(CASE WHEN cum * 2 >= total THEN bin END) AS p50_bin,
        |  MIN(CASE WHEN cum * 10 >= total * 9 THEN bin END) AS p90_bin,
        |  MIN(CASE WHEN cum * 100 >= total * 99 THEN bin END) AS p99_bin,
        |  CAST(MAX(total) AS BIGINT) AS n
        |FROM c GROUP BY event_type""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 86400").as("day"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val fine = e.groupBy(col("event_type"), col("day"),
          expr("cents div 1000").as("bin"))
        .agg(count(lit(1)).as("cnt"))
      val merged = fine.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("cnt")).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      val wt = Window.partitionBy(col("event_type"))
      merged.withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("total", sum(col("cnt")).over(wt))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("total"), col("bin")))
            .as("p50_bin"),
          min(when(col("cum") * 10 >= col("total") * 9, col("bin")))
            .as("p90_bin"),
          min(when(col("cum") * 100 >= col("total") * 99, col("bin")))
            .as("p99_bin"),
          max(col("total")).cast(LongType).as("n"))
    }),

    // heavy hitters from a bounded Misra-Gries summary: candidates
    // surface through a ≤capacity-counter mergeable aggregate (never a
    // vocabulary-sized shuffle), then ONLY candidates are re-counted
    // exactly. The MG guarantee makes the filtered result identical to
    // the full GROUP BY + HAVING answer — so this approximate-summary
    // operator is fully hash-oracled, not tolerance-gated.
    Query("q_heavy_hitters",
      // the plain full-vocabulary answer the MG guarantee promises to
      // reproduce exactly: cnt*threshold > n in integers, strict
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t),
        |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token)
        |SELECT token, cnt FROM c, tot WHERE cnt * 50 > n""".stripMargin)((s, dir) =>
      HeavyHitters.frequentTokens(Tables.documents(s, dir), "text",
        threshold = 50)),

    // robust statistics by winsorization: exact p05/p95 edges (the
    // floor-to-integer idiom of q_quality_calib) broadcast to a
    // map-only clamp; outliers pulled to the fences, not dropped.
    // Every output is BIGINT over clamped cents.
    Query("q_winsorize",
      // exact fences via the shared floor(percentile) idiom, then the
      // same clamp-and-aggregate
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |f AS (SELECT event_type,
        |        CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
        |        CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
        |      FROM e GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n,
        |  CAST(SUM(greatest(least(e.cents, f.hi), f.lo)) AS BIGINT)
        |    AS sum_wcents,
        |  MIN(greatest(least(e.cents, f.hi), f.lo)) AS min_wcents,
        |  MAX(greatest(least(e.cents, f.hi), f.lo)) AS max_wcents,
        |  CAST(SUM(CASE WHEN e.cents < f.lo OR e.cents > f.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM e JOIN f USING (event_type)
        |GROUP BY e.event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val edges = e.groupBy(col("event_type")).agg(
        floor(expr("percentile(cents, 0.05)")).cast(LongType).as("lo"),
        floor(expr("percentile(cents, 0.95)")).cast(LongType).as("hi"))
      e.join(broadcast(edges), "event_type")
        .select(col("event_type"),
          greatest(least(col("cents"), col("hi")), col("lo")).as("w"),
          (col("cents") < col("lo") || col("cents") > col("hi"))
            .cast("long").as("clipped"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("w")).cast(LongType).as("sum_wcents"),
          min(col("w")).as("min_wcents"),
          max(col("w")).as("max_wcents"),
          sum(col("clipped")).cast(LongType).as("n_clipped"))
    }),

    // q_winsorize's 100 TB twin (see q_percentile_approx): approx
    // fences + rank-contract flags, plus the downstream consequence
    // the clamp relies on — at most ~10% + 2·tol of rows may fall
    // outside the fences. Exact percentile appears nowhere.
    Query("q_winsorize_approx",
      """SELECT event_type, COUNT(*) AS n,
        |  1 AS lo_ok, 1 AS hi_ok, 1 AS clip_ok
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val edges = e.groupBy(col("event_type")).agg(
        expr("approx_percentile(cents, 0.05, 10000)").as("lo"),
        expr("approx_percentile(cents, 0.95, 10000)").as("hi"))
      e.join(broadcast(edges), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          rankFlag(col("cents"), col("lo"), 50L).as("lo_ok"),
          rankFlag(col("cents"), col("hi"), 950L).as("hi_ok"),
          when(sum(when(col("cents") < col("lo") ||
              col("cents") > col("hi"), 1L).otherwise(0L)) * 1000 <=
            lit(120L) * count(lit(1)), 1).otherwise(0).as("clip_ok"))
    }),

    // robust outlier counts via MAD (median absolute deviation):
    // median and MAD in exact decicents (×10 interpolation trick),
    // then a map-side |x−med| > 5·MAD test against broadcast 5-row
    // fences — the heavy-tail-safe alternative to z-scores, no
    // global sort anywhere.
    Query("q_mad",
      // identical integer MAD algebra over decicents
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |m AS (SELECT event_type,
        |        CAST(quantile_cont(cents, 0.5) * 10 AS BIGINT) AS med10
        |      FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, m.med10,
        |        abs(e.cents * 10 - m.med10) AS adev10
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type,
        |         CAST(quantile_cont(adev10, 0.5) * 10 AS BIGINT) AS mad100
        |       FROM d GROUP BY event_type)
        |SELECT d.event_type, COUNT(*) AS n,
        |  MAX(d.med10) AS med10, MAX(md.mad100) AS mad100,
        |  CAST(SUM(CASE WHEN d.adev10 * 10 > md.mad100 * 5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val med = e.groupBy(col("event_type"))
        .agg((expr("percentile(cents, 0.5)") * 10).cast(LongType)
          .as("med10"))
      val dev = e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("cents"), col("med10"),
          abs(col("cents") * 10 - col("med10")).as("adev10"))
      val mad = dev.groupBy(col("event_type"))
        .agg((expr("percentile(adev10, 0.5)") * 10).cast(LongType)
          .as("mad100"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med10")).as("med10"),
          max(col("mad100")).as("mad100"),
          sum(when(col("adev10") * 10 > col("mad100") * 5, 1L)
            .otherwise(0L)).cast(LongType).as("n_outliers"))
    }),

    // q_mad's 100 TB twin (see q_percentile_approx): both medians —
    // of cents and of the absolute deviations — as approx sketches,
    // each gated by its own rank contract over its own distribution.
    Query("q_mad_approx",
      """SELECT event_type, COUNT(*) AS n, 1 AS med_ok, 1 AS mad_ok
        |FROM events GROUP BY event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val med = e.groupBy(col("event_type")).agg(
        expr("approx_percentile(cents, 0.5, 10000)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .select(col("event_type"), col("cents"),
          abs(col("cents") - col("med")).as("adev"), col("med"))
      val mad = dev.groupBy(col("event_type")).agg(
        expr("approx_percentile(adev, 0.5, 10000)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          rankFlag(col("cents"), col("med"), 500L).as("med_ok"),
          rankFlag(col("adev"), col("mad"), 500L).as("mad_ok"))
    }),

    // equi-depth (quantile) binning without a global sort: exact
    // quartile edges from one percentile aggregate, broadcast to a
    // map-only binning pass + hash agg. The interpolated edges are
    // exact doubles in BOTH engines ((n-1)·k/4 rank arithmetic and
    // quarter fractions are binary-exact), floored to integer cents.
    // At 100 TB swap the exact percentile for approx_percentile and
    // keep the identical downstream shape.
    Query("q_equidepth",
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |q AS (SELECT
        |  CAST(floor(quantile_cont(c, 0.25)) AS BIGINT) AS q1,
        |  CAST(floor(quantile_cont(c, 0.5)) AS BIGINT) AS q2,
        |  CAST(floor(quantile_cont(c, 0.75)) AS BIGINT) AS q3 FROM c)
        |SELECT
        |  CASE WHEN c.c <= q.q1 THEN 1 WHEN c.c <= q.q2 THEN 2
        |       WHEN c.c <= q.q3 THEN 3 ELSE 4 END AS bin,
        |  COUNT(*) AS n, CAST(SUM(c.c) AS BIGINT) AS sum_cents,
        |  MIN(c.c) AS min_c, MAX(c.c) AS max_c
        |FROM c CROSS JOIN q
        |GROUP BY 1""".stripMargin)((s, dir) => {
      val cents = (dec(col("value"), 10, 2) * 100).cast(LongType)
      val e = Tables.events(s, dir).select(cents.as("c"))
      val qs = e.agg(
        floor(expr("percentile(c, 0.25)")).cast(LongType).as("q1"),
        floor(expr("percentile(c, 0.5)")).cast(LongType).as("q2"),
        floor(expr("percentile(c, 0.75)")).cast(LongType).as("q3"))
      e.crossJoin(broadcast(qs))
        .select(when(col("c") <= col("q1"), 1)
          .when(col("c") <= col("q2"), 2)
          .when(col("c") <= col("q3"), 3).otherwise(4).as("bin"), col("c"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("c")).cast(LongType).as("sum_cents"),
          min(col("c")).as("min_c"), max(col("c")).as("max_c"))
    }),

    // q_equidepth's 100 TB twin (see q_percentile_approx): the three
    // quartile edges as approx sketches, each rank-contract-gated —
    // the "swap approx_percentile at 100 TB" comment made a shipped,
    // tested path.
    Query("q_equidepth_approx",
      """SELECT COUNT(*) AS n, 1 AS q1_ok, 1 AS q2_ok, 1 AS q3_ok
        |FROM events""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir)
        .select((dec(col("value"), 10, 2) * 100).cast(LongType).as("c"))
      val qs = e.agg(
        expr("approx_percentile(c, 0.25, 10000)").as("e1"),
        expr("approx_percentile(c, 0.5, 10000)").as("e2"),
        expr("approx_percentile(c, 0.75, 10000)").as("e3"))
      e.crossJoin(broadcast(qs))
        .agg(count(lit(1)).as("n"),
          rankFlag(col("c"), col("e1"), 250L).as("q1_ok"),
          rankFlag(col("c"), col("e2"), 500L).as("q2_ok"),
          rankFlag(col("c"), col("e3"), 750L).as("q3_ok"))
    }),

    // per-GROUP quantile calibration: per-language quality quartile
    // edges (one nlang-row table) broadcast to a map-only binning
    // pass — quantile normalization with no window sort anywhere;
    // quality rides as exact milli units (DECIMAL(4,3)·1000)
    Query("q_quality_calib",
      // per-language quartile edges over the (gate-proven) quality
      // formula in exact milli units, then the same broadcast-binning
      // rollup as q_equidepth
      """WITH qd AS (
        |  SELECT lang,
        |    CAST(CAST(round(
        |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
        |      (CASE WHEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |          / greatest(len(string_split(text, ' ')), 1), 3)
        |          BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END) * 0.3 +
        |      least(round(CAST(len(list_filter(string_split(text, ' '),
        |            w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / greatest(len(string_split(text, ' ')), 1), 3) * 4.0, 1.0) * 0.3,
        |    3) AS DECIMAL(4,3)) * 1000 AS BIGINT) AS qm
        |  FROM documents),
        |q AS (SELECT lang,
        |  CAST(floor(quantile_cont(qm, 0.25)) AS BIGINT) AS q1,
        |  CAST(floor(quantile_cont(qm, 0.5)) AS BIGINT) AS q2,
        |  CAST(floor(quantile_cont(qm, 0.75)) AS BIGINT) AS q3
        |  FROM qd GROUP BY lang)
        |SELECT qd.lang,
        |  CASE WHEN qd.qm <= q.q1 THEN 1 WHEN qd.qm <= q.q2 THEN 2
        |       WHEN qd.qm <= q.q3 THEN 3 ELSE 4 END AS bin,
        |  COUNT(*) AS n, CAST(SUM(qd.qm) AS BIGINT) AS sum_qm,
        |  MIN(qd.qm) AS min_qm, MAX(qd.qm) AS max_qm
        |FROM qd JOIN q USING (lang)
        |GROUP BY 1, 2""".stripMargin)((s, dir) => {
      val qm = (dec(TextFunctions.qualityScore(col("text")), 4, 3) * 1000)
        .cast(LongType)
      val d = Tables.documents(s, dir).select(col("lang"), qm.as("qm"))
      val edges = d.groupBy("lang").agg(
        floor(expr("percentile(qm, 0.25)")).cast(LongType).as("q1"),
        floor(expr("percentile(qm, 0.5)")).cast(LongType).as("q2"),
        floor(expr("percentile(qm, 0.75)")).cast(LongType).as("q3"))
      d.join(broadcast(edges), "lang")
        .select(col("lang"),
          when(col("qm") <= col("q1"), 1)
            .when(col("qm") <= col("q2"), 2)
            .when(col("qm") <= col("q3"), 3).otherwise(4).as("bin"),
          col("qm"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("qm")).cast(LongType).as("sum_qm"),
          min(col("qm")).as("min_qm"), max(col("qm")).as("max_qm"))
    }),

    // q_quality_calib's 100 TB twin (see q_percentile_approx):
    // per-language quartile edges as approx sketches. The quality
    // milli-unit domain has heavy ties (1001 possible values), which
    // is exactly what rankFlag's count(<v)/count(≤v) bracketing is
    // stated for.
    Query("q_quality_calib_approx",
      """SELECT lang, COUNT(*) AS n, 1 AS q1_ok, 1 AS q2_ok, 1 AS q3_ok
        |FROM documents GROUP BY lang""".stripMargin)((s, dir) => {
      val qm = (dec(TextFunctions.qualityScore(col("text")), 4, 3) * 1000)
        .cast(LongType)
      val d = Tables.documents(s, dir).select(col("lang"), qm.as("qm"))
      val edges = d.groupBy("lang").agg(
        expr("approx_percentile(qm, 0.25, 10000)").as("e1"),
        expr("approx_percentile(qm, 0.5, 10000)").as("e2"),
        expr("approx_percentile(qm, 0.75, 10000)").as("e3"))
      d.join(broadcast(edges), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          rankFlag(col("qm"), col("e1"), 250L).as("q1_ok"),
          rankFlag(col("qm"), col("e2"), 500L).as("q2_ok"),
          rankFlag(col("qm"), col("e3"), 750L).as("q3_ok"))
    }),

    // fixed-width value histogram in integer cents (bin = 10-unit
    // buckets): exact BIGINT arithmetic end to end
    Query("q_histogram",
      """WITH c AS (
        |  SELECT CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS c
        |  FROM events)
        |SELECT c // 1000 AS bin, COUNT(*) AS n_events,
        |  CAST(SUM(c) AS BIGINT) AS sum_cents
        |FROM c GROUP BY bin""".stripMargin)((s, dir) => {
      val cents = (dec(col("value"), 10, 2) * 100).cast(LongType)
      Tables.events(s, dir)
        .select(floor(cents / 1000).cast(LongType).as("bin"), cents.as("c"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sum_cents"))
    }),

    // corpus-wide percent-rank normalization WITHOUT a global
    // window: rank(x) = Σ counts of strictly-smaller values, i.e.
    // PrefixSums.exclusiveOffsets over the per-value count table
    // (the q_auc machinery as a user-facing feature transform) —
    // a plain percent_rank() would plan the whole corpus into ONE
    // window task. Emitted as exact integer permille of n-1
    // (percent_rank's denominator), ties sharing a rank.
    Query("q_percent_rank",
      // the oracle's rank is the plain global window sum the Spark
      // side deliberately avoids
      """WITH e AS (
        |  SELECT CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
        |    AS cents
        |  FROM events),
        |c AS (SELECT cents, COUNT(*) AS n FROM e GROUP BY cents),
        |t AS (SELECT COUNT(*) AS n_total FROM e),
        |o AS (
        |  SELECT cents, n,
        |    COALESCE(SUM(n) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_lt
        |  FROM c)
        |SELECT cents, n,
        |  CAST(n_lt * 1000 // GREATEST(n_total - 1, 1) AS BIGINT)
        |    AS pr_pml
        |FROM o, t""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val counts = e.groupBy(col("cents")).agg(count(lit(1)).as("n"))
      val offs = operators.PrefixSums.exclusiveOffsets(
        counts, "cents", "n", "n_lt")
      val tot = e.agg(count(lit(1)).as("n_total"))
      counts.join(offs, "cents").crossJoin(broadcast(tot))
        .select(col("cents"), col("n"),
          expr("n_lt * 1000 div greatest(n_total - 1, 1)").as("pr_pml"))
    })
  )
}
