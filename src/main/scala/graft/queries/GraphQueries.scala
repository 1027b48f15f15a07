package graft
package queries

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.functions._

/** Bounded-round graph algorithms on the arithmetic event graph:
  * PageRank, HITS, triangles, k-core, components (batch and
  * incremental), communities and shortest paths.
  */
object GraphQueries {

  /** Unrolled DuckDB mirror of Graph.kCore on the arithmetic event
    * graph: per round, degrees over the surviving edges, the >= k
    * keep set, and the both-endpoints-kept edge filter — node counts
    * come from the surviving EDGES (a kept node whose neighbors all
    * peel loses its edges and leaves the count), exactly the Spark
    * semantics.
    */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val base =
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM (SELECT event_id % 8192 AS src,
        |          (event_id * 7919 + 13) % 8192 AS dst
        |        FROM events) t
        |  WHERE src <> dst)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT v FROM (SELECT a AS v FROM e${r - 1}
         |                 UNION ALL SELECT b FROM e${r - 1}) u$r
         |  GROUP BY v HAVING COUNT(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM k$r)
         |    AND b IN (SELECT v FROM k$r))""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val out = (1 to rounds).map { r =>
      s"SELECT $r AS peel_round, (SELECT COUNT(DISTINCT v) FROM" +
        s" (SELECT a AS v FROM e$r UNION ALL SELECT b FROM e$r) x$r)" +
        s" AS n_nodes, (SELECT COUNT(*) FROM e$r) AS n_edges"
    }.mkString("\nUNION ALL ")
    base + peels + out + "\nORDER BY peel_round"
  }

  val all: Seq[Query] = Seq(
    // bounded-iteration integer PageRank: micro-unit fixed point +
    // floor division + a fixed 3-round budget make an ITERATIVE graph
    // computation engine-exact (float PageRank can only be
    // tolerance-gated). Customer→supplier edges; even/odd id
    // namespacing keeps the two key spaces disjoint. Dangling mass is
    // dropped by contract — mirrored in the oracle.
    Query("q_pagerank",
      // three unrolled damped rounds of the same floor-division fixed
      // point; UNION (not ALL) mirrors Spark's union().distinct()
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |t AS (SELECT COUNT(*) AS n FROM nodes),
        |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT node, 1000000 // n AS pr FROM nodes, t),
        |i1 AS (SELECT e.dst AS node, SUM(r0.pr // d.deg) AS inflow
        |       FROM e JOIN r0 ON e.src = r0.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |         150000 // n + (850 * COALESCE(i1.inflow, 0)) // 1000 AS pr
        |       FROM nodes CROSS JOIN t LEFT JOIN i1 ON nodes.node = i1.node),
        |i2 AS (SELECT e.dst AS node, SUM(r1.pr // d.deg) AS inflow
        |       FROM e JOIN r1 ON e.src = r1.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |         150000 // n + (850 * COALESCE(i2.inflow, 0)) // 1000 AS pr
        |       FROM nodes CROSS JOIN t LEFT JOIN i2 ON nodes.node = i2.node),
        |i3 AS (SELECT e.dst AS node, SUM(r2.pr // d.deg) AS inflow
        |       FROM e JOIN r2 ON e.src = r2.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT nodes.node,
        |         150000 // n + (850 * COALESCE(i3.inflow, 0)) // 1000 AS pr
        |       FROM nodes CROSS JOIN t LEFT JOIN i3 ON nodes.node = i3.node)
        |SELECT CAST(node AS BIGINT) AS node, CAST(pr AS BIGINT) AS pr
        |FROM r3 ORDER BY pr DESC, node LIMIT 20""".stripMargin)((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      Graph.pageRank(edges, iters = 3)
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // HITS hubs & authorities (Kleinberg 1999) over the directed
    // customer→supplier purchase graph, integer-exact: each half-round
    // is ONE edge join + ONE sum, normalized to micro units by the
    // round's 1-row max broadcast (floor division — the bounded-round
    // hash-exact convention PageRank/k-core/LPA use, applied to the
    // mutually-recursive pair). Two authority rounds unroll in the
    // oracle; DECIMAL(38,0) guards the 1e6·score products.
    Query("q_hits",
      // two authority half-round pairs unrolled; HUGEINT mirrors the
      // DECIMAL(38,0) normalization products
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1 AS (SELECT dst AS node, COUNT(*) * 1000000 AS a1
        |       FROM e GROUP BY dst),
        |a1m AS (SELECT MAX(a1) AS mx FROM a1),
        |a1n AS (SELECT node,
        |    CAST((1000000 * CAST(a1 AS HUGEINT)) // mx AS BIGINT) AS a1n
        |  FROM a1, a1m),
        |h1 AS (SELECT e.src AS node, SUM(a1n.a1n) AS h1
        |       FROM e JOIN a1n ON e.dst = a1n.node GROUP BY e.src),
        |h1m AS (SELECT MAX(h1) AS mx FROM h1),
        |h1n AS (SELECT node,
        |    CAST((1000000 * CAST(h1 AS HUGEINT)) // mx AS BIGINT) AS h1n
        |  FROM h1, h1m),
        |a2 AS (SELECT e.dst AS node, SUM(h1n.h1n) AS a2
        |       FROM e JOIN h1n ON e.src = h1n.node GROUP BY e.dst),
        |a2m AS (SELECT MAX(a2) AS mx FROM a2)
        |SELECT CAST(node AS BIGINT) AS node,
        |  CAST((1000000 * CAST(a2 AS HUGEINT)) // mx AS BIGINT)
        |    AS auth_micro
        |FROM a2, a2m
        |ORDER BY auth_micro DESC, node LIMIT 20""".stripMargin)((s, dir) => {
      val edges = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct().persist()
      edges.count() // eager: three rounds re-read the edge set
      // each level pins (localCheckpoint — node-sized frames) before
      // its max-agg: the normalizer and the next level are two
      // consumers, and unpinned each would re-derive every lower
      // level through the whole join chain (2^levels recomputes)
      def normed(scores0: org.apache.spark.sql.DataFrame, c: String) = {
        val scores = scores0.localCheckpoint(true)
        scores.crossJoin(broadcast(scores.agg(max(col(c)).as("mx"))))
          .select(col("node"),
            expr(s"CAST((1000000 * CAST($c AS DECIMAL(38,0))) div mx" +
              " AS BIGINT)").as(c + "n"))
      }
      val a1 = normed(edges.groupBy(col("dst").as("node"))
        .agg((count(lit(1)) * 1000000L).as("a1")), "a1")
      // shuffle_hash on the node-sized side (the Graph.pageRank
      // finding): a checkpointed frame has no size stats, so the
      // planner's default is a sort-merge join that re-sorts the
      // pinned edge cache every half-round
      val h1 = normed(edges.join(a1.hint("shuffle_hash"),
          edges("dst") === a1("node"))
        .groupBy(edges("src").as("node")).agg(sum(col("a1n")).as("h1")),
        "h1")
      val a2 = normed(edges.join(h1.hint("shuffle_hash"),
          edges("src") === h1("node"))
        .groupBy(edges("dst").as("node")).agg(sum(col("h1n")).as("a2")),
        "a2")
      // 20-row checkpoint, then release the edge pin (Graph pattern)
      val out = a2.select(col("node"), col("a2n").as("auth_micro"))
        .orderBy(col("auth_micro").desc, col("node")).limit(20)
        .localCheckpoint(true)
      edges.unpersist(blocking = false)
      out
    }),

    // exact triangle counting under degree-ordered orientation — the
    // O(m^1.5)-bounded wedge join that survives skewed hubs (see
    // Graph.triangleCount). The PageRank graph is bipartite (zero
    // triangles by construction), so the edges derive from event ids
    // by pure arithmetic on a 8192-node space — SQL-mirrorable, the
    // q_spatial_join pattern — giving a dense non-bipartite graph.
    Query("q_triangles",
      // same degree-ordered orientation, same arithmetic edge space;
      // the inner join against the unique id-canonical edge set closes
      // each wedge 0/1 times, so COUNT equals the semi-join count
      """WITH e0 AS (
        |  SELECT event_id % 8192 AS src,
        |    (event_id * 7919 + 13) % 8192 AS dst
        |  FROM events),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e0 WHERE src <> dst),
        |deg AS (
        |  SELECT v, COUNT(*) AS deg FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) u
        |  GROUP BY v),
        |ork AS (
        |  SELECT
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |      THEN a ELSE b END AS lo,
        |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
        |      THEN b ELSE a END AS hi
        |  FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
        |wedges AS (
        |  SELECT e1.hi AS a, e2.hi AS b
        |  FROM ork e1 JOIN ork e2 ON e1.lo = e2.lo AND e1.hi < e2.hi)
        |SELECT
        |  (SELECT COUNT(*) FROM deg) AS n_nodes,
        |  (SELECT COUNT(*) FROM und) AS n_edges,
        |  (SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT), 0)
        |   FROM (SELECT lo, COUNT(*) AS c FROM ork GROUP BY lo) w)
        |    AS n_wedges,
        |  (SELECT COUNT(*) FROM wedges JOIN und USING (a, b))
        |    AS n_triangles""".stripMargin)((s, dir) => {
      val edges = Tables.events(s, dir).select(
        (col("event_id") % 8192).as("src"),
        ((col("event_id") * 7919 + 13) % 8192).as("dst"))
      Graph.triangleCount(edges)
    }),

    // bounded-round k-core peeling on the same arithmetic graph —
    // the degree-based quality filter run before trusting link
    // structure; the per-round (nodes, edges) trajectory IS the
    // output, so the oracle checks every round of the iteration
    // (the q_pagerank unrolled-rounds pattern).
    Query("q_kcore", kcoreOracleSql(3, 4))((s, dir) => {
      val edges = Tables.events(s, dir).select(
        (col("event_id") % 8192).as("src"),
        ((col("event_id") * 7919 + 13) % 8192).as("dst"))
      Graph.kCore(edges, k = 3, rounds = 4)
    }),

    // connected components, DISTRIBUTED path forced: the min-label +
    // pointer-jumping loop runs to convergence, so the output (min id
    // per component) is engine-exact with NO round budget in the
    // contract — the oracle is a plain transitive closure. The edge
    // space scales with the table (4× the event count) and keeps only
    // every 4th event, so the graph stays subcritical (mean degree
    // 1/4) at every SF: many small components, the regime where
    // per-component min labels actually say something. Node ids mix
    // through prime multipliers; the id is pmod-bounded to m BEFORE
    // multiplying, so the product stays under 2^63 for any id
    // magnitude and for tables to ~2.3e12 rows (sub-1e6 primes —
    // the sf0.5 sweep caught the unbounded form overflowing on
    // key-shifted 4e9 ids).
    Query("q_components",
      // transitive closure to fixpoint: min reachable id per node IS
      // the converged min-label propagation result, so this oracle
      // needs no unrolled rounds — the recursive CTE's UNION dedup
      // keeps the frontier a set, and subcritical components keep the
      // (node, reach) working set Σ|comp|² small at every SF
      // pmod mirrored as ((x % m) + m) % m: Spark pmod is always
      // non-negative where DuckDB % follows the dividend's sign, so
      // parity holds for signed/key-shifted ids too (advice r8)
      """WITH RECURSIVE
        |t AS (SELECT 4 * COUNT(*) AS m FROM events),
        |e0 AS (
        |  SELECT ((((event_id % t.m) + t.m) % t.m) * 999983 + 1) % t.m AS src,
        |    ((((event_id % t.m) + t.m) % t.m) * 911383 + 7) % t.m AS dst
        |  FROM events, t WHERE ((event_id % 4) + 4) % 4 = 0),
        |e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |und AS (SELECT src AS a, dst AS b FROM e1
        |        UNION SELECT dst, src FROM e1),
        |r AS (
        |  SELECT DISTINCT a AS node, a AS reach FROM und
        |  UNION
        |  SELECT r.node, u.b FROM r JOIN und u ON u.a = r.reach)
        |SELECT node, MIN(reach) AS component FROM r GROUP BY node""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      // one Long to the driver — the bounded-scalar class (pageRank's
      // node count); folded into the edge arithmetic as a literal
      val m = 4L * ev.count()
      val edges = ev
        .filter(pmod(col("event_id"), lit(4)) === 0)
        .select(
          pmod(pmod(col("event_id"), lit(m)) * 999983L + 1, lit(m))
            .as("src"),
          pmod(pmod(col("event_id"), lit(m)) * 911383L + 7, lit(m))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
      Graph.connectedComponents(edges)
    }),

    // bounded-round LPA communities over the %4==3 edge slice: 3
    // synchronous mode-vote rounds with (count desc, label asc)
    // tie-breaks — deterministic, so the oracle unrolls the same
    // rounds; argmax is one max-of-struct hash agg, never a per-node
    // window over neighbor labels
    Query("q_communities",
      // 3 unrolled synchronous mode-vote rounds; the per-node argmax
      // mirrors Spark's max(struct(c, -lbl)) as rn=1 over
      // (COUNT DESC, lbl)
      """WITH t AS (SELECT 4 * COUNT(*) AS m FROM events),
        |e0 AS (
        |  SELECT ((((event_id % t.m) + t.m) % t.m) * 999983 + 1) % t.m AS x,
        |    ((((event_id % t.m) + t.m) % t.m) * 911383 + 7) % t.m AS y
        |  FROM events, t WHERE ((event_id % 4) + 4) % 4 = 3),
        |e1 AS (SELECT DISTINCT x, y FROM e0 WHERE x <> y),
        |und AS (SELECT x AS a, y AS b FROM e1
        |        UNION SELECT y, x FROM e1),
        |l0 AS (SELECT DISTINCT b AS node, b AS lbl FROM und),
        |l1 AS (SELECT node, lbl FROM (
        |  SELECT u.b AS node, p.lbl AS lbl,
        |    ROW_NUMBER() OVER (PARTITION BY u.b
        |      ORDER BY COUNT(*) DESC, p.lbl) AS rn
        |  FROM und u JOIN l0 p ON p.node = u.a
        |  GROUP BY u.b, p.lbl) WHERE rn = 1),
        |l2 AS (SELECT node, lbl FROM (
        |  SELECT u.b AS node, p.lbl AS lbl,
        |    ROW_NUMBER() OVER (PARTITION BY u.b
        |      ORDER BY COUNT(*) DESC, p.lbl) AS rn
        |  FROM und u JOIN l1 p ON p.node = u.a
        |  GROUP BY u.b, p.lbl) WHERE rn = 1),
        |l3 AS (SELECT node, lbl FROM (
        |  SELECT u.b AS node, p.lbl AS lbl,
        |    ROW_NUMBER() OVER (PARTITION BY u.b
        |      ORDER BY COUNT(*) DESC, p.lbl) AS rn
        |  FROM und u JOIN l2 p ON p.node = u.a
        |  GROUP BY u.b, p.lbl) WHERE rn = 1)
        |SELECT node, CAST(lbl AS BIGINT) AS lbl FROM l3""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val m = 4L * ev.count()
      val e = ev
        .filter(pmod(col("event_id"), lit(4)) === 3)
        .select(
          pmod(pmod(col("event_id"), lit(m)) * 999983L + 1, lit(m))
            .as("x"),
          pmod(pmod(col("event_id"), lit(m)) * 911383L + 7, lit(m))
            .as("y"))
        .filter(col("x") =!= col("y"))
        .distinct()
      val und = e.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(e.select(col("y").as("src"), col("x").as("dst")))
      Graph.labelPropagation(und, rounds = 3)
    }),

    // bounded-round multi-source SSSP over the %4==1 edge slice of
    // the same mixed-id graph (weights 1 + (src+dst)%97, seeds =
    // nodes ≡ 0 mod 50): 4 fixed relaxation rounds, so the oracle
    // unrolls the same 4 min-relaxations — an iterative shortest-path
    // computation made hash-exact (the kCore/pagerank budget rule)
    Query("q_sssp",
      // 4 unrolled min-relaxation rounds over the same pmod-mirrored
      // edge arithmetic; seeds are distance-0 rows in d0
      """WITH t AS (SELECT 4 * COUNT(*) AS m FROM events),
        |e0 AS (
        |  SELECT ((((event_id % t.m) + t.m) % t.m) * 999983 + 1) % t.m AS x,
        |    ((((event_id % t.m) + t.m) % t.m) * 911383 + 7) % t.m AS y
        |  FROM events, t WHERE ((event_id % 4) + 4) % 4 = 1),
        |e1 AS (SELECT DISTINCT x, y FROM e0 WHERE x <> y),
        |und AS (SELECT x AS a, y AS b FROM e1
        |        UNION SELECT y, x FROM e1),
        |uw AS (SELECT a, b, 1 + (a + b) % 97 AS w FROM und),
        |d0 AS (SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist
        |       FROM und WHERE a % 50 = 0),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d0 UNION ALL
        |  SELECT u.b, d.dist + u.w FROM d0 d JOIN uw u ON u.a = d.node)
        |  GROUP BY node),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d1 UNION ALL
        |  SELECT u.b, d.dist + u.w FROM d1 d JOIN uw u ON u.a = d.node)
        |  GROUP BY node),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d2 UNION ALL
        |  SELECT u.b, d.dist + u.w FROM d2 d JOIN uw u ON u.a = d.node)
        |  GROUP BY node),
        |d4 AS (SELECT node, MIN(dist) AS dist FROM (
        |  SELECT node, dist FROM d3 UNION ALL
        |  SELECT u.b, d.dist + u.w FROM d3 d JOIN uw u ON u.a = d.node)
        |  GROUP BY node)
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val m = 4L * ev.count()
      val e = ev
        .filter(pmod(col("event_id"), lit(4)) === 1)
        .select(
          pmod(pmod(col("event_id"), lit(m)) * 999983L + 1, lit(m))
            .as("x"),
          pmod(pmod(col("event_id"), lit(m)) * 911383L + 7, lit(m))
            .as("y"))
        .filter(col("x") =!= col("y"))
        .distinct()
      val und = e.select(col("x").as("src"), col("y").as("dst"))
        .unionByName(e.select(col("y").as("src"), col("x").as("dst")))
        .withColumn("w", pmod(col("src") + col("dst"), lit(97)) + 1)
      val seeds = und.select(col("src").as("node")).distinct()
        .filter(pmod(col("node"), lit(50)) === 0)
      Graph.sssp(und, seeds, rounds = 4)
    }),

    // INCREMENTAL component admission (the dedup_minhash_inc shape
    // for graphs): the event_id%4==0 edges form the converged base
    // labeling, the %4==2 edges arrive as the daily batch —
    // extendComponents merges via the batch-bounded LABEL graph and
    // never re-reads base edges. The oracle is simply the full
    // transitive closure of the UNION — incremental must equal
    // rebuild, which is exactly the property worth gating.
    Query("q_components_inc",
      // incremental == rebuild: the oracle closes over the UNION of
      // base (%4=0) and batch (%4=2) edge sets in one pass
      """WITH RECURSIVE
        |t AS (SELECT 4 * COUNT(*) AS m FROM events),
        |e0 AS (
        |  SELECT ((((event_id % t.m) + t.m) % t.m) * 999983 + 1) % t.m AS src,
        |    ((((event_id % t.m) + t.m) % t.m) * 911383 + 7) % t.m AS dst
        |  FROM events, t WHERE ((event_id % 4) + 4) % 4 IN (0, 2)),
        |e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |und AS (SELECT src AS a, dst AS b FROM e1
        |        UNION SELECT dst, src FROM e1),
        |r AS (
        |  SELECT DISTINCT a AS node, a AS reach FROM und
        |  UNION
        |  SELECT r.node, u.b FROM r JOIN und u ON u.a = r.reach)
        |SELECT node, MIN(reach) AS component FROM r GROUP BY node""".stripMargin)((s, dir) => {
      val ev = Tables.events(s, dir)
      val m = 4L * ev.count()
      def edgesFor(r: Int) = ev
        .filter(pmod(col("event_id"), lit(4)) === r)
        .select(
          pmod(pmod(col("event_id"), lit(m)) * 999983L + 1, lit(m))
            .as("src"),
          pmod(pmod(col("event_id"), lit(m)) * 911383L + 7, lit(m))
            .as("dst"))
        .filter(col("src") =!= col("dst"))
      // base labeling via the HYBRID clusters entry (driver
      // union-find at gate SFs, distributed escalation past 64k
      // edges) — forcing the distributed loop is q_components' job;
      // here the property under test is the incremental admission
      val base = Dedup.clusters(edgesFor(0), "src", "dst")
        .select(col("doc_id").as("node"), col("cluster_id").as("component"))
      Graph.extendComponents(base, edgesFor(2))
    })
  )
}
