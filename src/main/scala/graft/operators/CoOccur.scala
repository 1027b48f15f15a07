package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Co-engagement / co-occurrence pair mining — the "frequently bought
  * together" primitive behind recommendation candidate generation and
  * bipartite-graph projection (users×items → item-item edges).
  *
  * Scale discipline: pair generation is Σ|basket|² no matter how it is
  * executed — bounded ONLY if baskets are. `maxBasket` drops groups
  * above the cap before pairing (the standard skew guard: a crawler or
  * bot account with 10⁵ items would otherwise contribute 10¹⁰ pairs
  * and dominate both cost and counts with noise). The cap is part of
  * the operator's contract and the gate's oracle mirrors it. Basket
  * membership is deduplicated — a pair counts once per group — and a
  * NULL item is not an item (it joins no pair and holds no count).
  *
  * Execution shape (r13): ONE exchange builds the capped baskets —
  * `groupBy(g).agg(sort_array(collect_set(it)))` with map-side partial
  * sets, then a `size ≤ cap` filter — and pairs EXPAND IN-TASK from
  * each sorted array (every (i, j>i) index pair, ≤ cap²/2 structs per
  * basket) straight into the pair-count aggregation. The previous
  * shape spent five exchanges getting there: distinct → size-count →
  * semi-join back → basket self-join on the group key → pair agg
  * (measured on the sf0.1 rules build: 56 → 11 CPU-s and 58 → 32 MB
  * shuffled; the stored-table readers' scans cheapened too). A hub
  * group's distinct set does materialize once in the
  * agg buffer before the filter drops it (cap-breaching sets cost
  * bytes ∝ distinct items, same order as the rows the old distinct
  * shuffled for the same group — not a new exposure).
  */
object CoOccur {

  /** Build-once MATERIALIZATION of the capped association-rule table
    * (the B45 sketch-table discipline applied to co-occurrence):
    * writes one row per unordered item pair `(item_a, item_b)`,
    * `item_a < item_b`, co-occurring in at least `minCo` groups of
    * ≤ `maxBasket` distinct items, to `path` as parquet. Serving
    * consumers (co-purchase top-k, lift ranking, item-item
    * similar-items) read the stored table instead of each re-paying
    * the Σ|basket|² projection — at scale the projection is a
    * scheduled build job, not a per-query cost. The support floor is
    * part of the STORED table's contract: readers cannot see below
    * `minCo`, so every consumer must want the same (or a higher)
    * floor.
    *
    * Each pair carries the exact integer rule metrics, all counted
    * over the SAME capped basket set, so the skew guard governs every
    * metric consistently (N = capped groups, n_a/n_b = capped groups
    * holding the item):
    *  - `n_co`: groups holding both items (groups, not rows);
    *  - `support_micro` = (10⁶·n_co) div N;
    *  - `conf_ab_permille` = (10³·n_co) div n_a — ‰ of a's baskets
    *    that also hold b — and `conf_ba_permille` the reverse;
    *  - `lift_micro` = (10⁶·n_co·N) div (n_a·n_b) — the observed over
    *    the independence co-rate.
    * Numerators ride DECIMAL(38,0) (n_co·N crosses 2^63 past ~9e12
    * pair-basket products).
    */
  def buildRulesTable(df: DataFrame, groupCol: String, itemCol: String,
                      maxBasket: Int, minCo: Long, path: String): Unit = {
    // capped baskets as SORTED DISTINCT item arrays, one row per
    // surviving group: a single exchange on the group key (collect_set
    // dedups in the map-side partials), groups above `maxBasket`
    // filtered out by array size. The sort makes in-array pair
    // expansion emit `item_a < item_b` directly. Three consumers
    // (pairs, item counts, group count) read them: pin, write,
    // release (the Graph.pageRank discipline).
    val b = df.select(col(groupCol).as("g"), col(itemCol).as("it"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("it"))).as("items"))
      .filter(size(col("items")) <= maxBasket)
      .persist()
    // pair ids pack into ONE long key when the capped baskets' item
    // ids provably fit an unsigned 32-bit word (guide §2.3 — narrower
    // aggregation/shuffle keys; the pair-count exchange is the
    // operator's dominant cost, Σ|basket|²·cap²/2 rows wide). The
    // check is one map-only job over the PINNED basket arrays (sorted,
    // so min/max are the end elements — never a fact-table scan). Ids
    // outside [0, 2^32) — e.g. hashed or namespaced 64-bit ids — fall
    // back to the two-column aggregation; both paths share the same
    // unpacked output schema and are spec-gated equal.
    val packed = b.schema("items").dataType match {
      case ArrayType(LongType | IntegerType | ShortType | ByteType, _) =>
        val r = b.agg(
          min(element_at(col("items"), 1)).cast(LongType),
          max(element_at(col("items"), -1)).cast(LongType)).head
        !r.isNullAt(0) && r.getLong(0) >= 0L && r.getLong(1) < (1L << 32)
      case _ => false
    }
    // every (i, j>i) index pair of each sorted basket array, expanded
    // in-task (≤ maxBasket²/2 pairs per row) and counted — no basket
    // self-join, no second exchange of basket rows. Two chained
    // GENERATORS (posexplode the anchor, explode the tail slice)
    // rather than one flatten/transform HOF building an array of
    // structs: generators stream through whole-stage codegen while the
    // HOF allocates every pair as an InternalRow outside it (measured
    // warm at sf0.1: 0.5 s vs 1.0 s HOF vs 1.7 s self-join for the
    // same 34k surviving pairs). The explicit repartition ahead of the
    // generators: basket arrays are COMPACT (≤ cap items per row), so
    // AQE's size heuristic would coalesce the exchange to ~1 partition
    // and run the up-to-cap²/2 pair amplification serially in that
    // task (the shingleIntersectionsPinned finding — never let a
    // size-based optimizer decision gate a compute-amplifying
    // operator). User-specified partition counts are exempt from AQE
    // coalescing.
    val pairs = b
      .repartition(b.sparkSession.sessionState.conf.numShufflePartitions,
        col("g"))
      .select(col("items"), posexplode(col("items")).as(Seq("i", "item_a")))
      .select(col("item_a"),
        explode(slice(col("items"), col("i") + lit(2), size(col("items"))))
          .as("item_b"))
    val pairCounts =
      if (!packed)
        pairs.groupBy(col("item_a"), col("item_b"))
          .agg(count(lit(1)).as("n_co"))
      else {
        // packed: the aggregation hashes/compares ONE long — pk =
        // a·2^32 + b — instead of a two-long struct key, and the
        // exchange row narrows by 8 bytes. The pack is a map-side
        // projection fused into the generator stage; the unpack after
        // the aggregation restores the exact (item_a, item_b) columns
        // and dtype, so downstream is byte-identical to the two-column
        // path (spec: packed ≡ fallback under a 2^33 id shift).
        val elemType = b.schema("items").dataType
          .asInstanceOf[ArrayType].elementType
        pairs
          .select((shiftleft(col("item_a").cast(LongType), 32) +
            col("item_b").cast(LongType)).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("n_co"))
          .select(shiftrightunsigned(col("pk"), 32).cast(elemType).as("item_a"),
            col("pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(elemType).as("item_b"),
            col("n_co"))
      }
    // n_i = baskets containing item i: one in-task explode of the
    // capped arrays, map-side combinable
    val itemCnt = b.select(explode(col("items")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("n_i"))
    // one array row per capped group, so N is a plain row count
    val nGroups = b.agg(count(lit(1)).as("n_groups"))
    pairCounts
      .join(itemCnt.select(col("it").as("item_a"), col("n_i").as("n_a")),
        "item_a")
      .join(itemCnt.select(col("it").as("item_b"), col("n_i").as("n_b")),
        "item_b")
      .crossJoin(broadcast(nGroups))
      .select(col("item_a"), col("item_b"), col("n_co"),
        expr("(1000000 * CAST(n_co AS DECIMAL(38,0))) div n_groups")
          .cast("long").as("support_micro"),
        expr("(1000 * n_co) div n_a").as("conf_ab_permille"),
        expr("(1000 * n_co) div n_b").as("conf_ba_permille"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_co * n_groups)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_micro"))
      .filter(col("n_co") >= minCo)
      .write.mode("overwrite").parquet(path)
    b.unpersist(blocking = false)
  }
}
