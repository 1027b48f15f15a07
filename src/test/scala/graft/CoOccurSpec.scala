package graft

import graft.operators.CoOccur
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class CoOccurSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** The stored rule table of `rows` (every pair: support floor 1). */
  private def rules(rows: DataFrame, maxBasket: Int): DataFrame = {
    val dir = Stored.tempDir("graft_rules_spec") + "/rules"
    CoOccur.buildRulesTable(rows, "g", "it", maxBasket, minCo = 1L, dir)
    spark.read.parquet(dir)
  }

  test("pairCounts: hand-counted supports, duplicate rows count once, " +
      "over-cap baskets are dropped entirely") {
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (2L, 20L), // dup membership row
      (3L, 10L), (3L, 20L)) ++
      // group 4 exceeds the cap — contributes NOTHING
      (1L to 10L).map(i => (4L, 100L + i))
    val got = rules(rows.toDF("g", "it"), maxBasket = 5)
      .select("item_a", "item_b", "n_co").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === Map((10L, 20L) -> 3L, (10L, 30L) -> 1L,
      (20L, 30L) -> 1L))
  }

  test("null memberships are not items: they pair with nothing, hold " +
      "no count, and do not push a basket over the cap") {
    val rows: Seq[(Long, java.lang.Long)] = Seq(
      (1L, 10L), (1L, 20L), (1L, null),
      // group 2 has exactly cap distinct REAL items + a null row: the
      // null must not count toward the cap
      (2L, 10L), (2L, 20L), (2L, 30L), (2L, null))
    val got = rules(rows.toDF("g", "it"), maxBasket = 3)
      .select("item_a", "item_b", "n_co").collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === Map((10L, 20L) -> 2L, (10L, 30L) -> 1L,
      (20L, 30L) -> 1L))
  }

  test("associationRules: hand-computed support/confidence/lift, and " +
      "a perfectly-dependent pair lifts above an independent one") {
    // 4 baskets: {A,B} {A,B} {A,C} {C}; A=10, B=20, C=30
    val rows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 30L))
    val got = rules(rows.toDF("g", "it"), maxBasket = 5)
      .collect().map(r => (r.getAs[Long]("item_a"), r.getAs[Long]("item_b"))
        -> r).toMap
    // A,B: n_co=2, n_a=3, n_b=2, N=4
    val ab = got((10L, 20L))
    assert(ab.getAs[Long]("n_co") === 2L)
    assert(ab.getAs[Long]("support_micro") === 500000L)   // 2/4
    assert(ab.getAs[Long]("conf_ab_permille") === 666L)   // 2/3
    assert(ab.getAs[Long]("conf_ba_permille") === 1000L)  // 2/2
    assert(ab.getAs[Long]("lift_micro") === 1333333L)     // 2·4/(3·2)
    // A,C: n_co=1, n_a=3, n_c=2 → lift = 4/6 < 1 (co-rate below
    // independence); B⊂A is perfectly dependent and lifts above it
    val ac = got((10L, 30L))
    assert(ac.getAs[Long]("lift_micro") === 666666L)
    assert(ab.getAs[Long]("lift_micro") > ac.getAs[Long]("lift_micro"))
  }

  test("packed pair keys equal the two-column fallback: a 2^33 id " +
      "shift (which disables packing) changes nothing but the ids") {
    // the r17 packed-key fast path fires iff every item id fits an
    // unsigned 32-bit word; shifting ids by 2^33 forces the fallback
    // aggregation on the SAME basket structure, so the two paths'
    // rule metrics must agree exactly (ids un-shifted for comparison)
    val shift = 1L << 33
    val rows = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 30L), (5L, 10L), (5L, 20L), (5L, 30L))
    def metrics(ids: Seq[(Long, Long)], unshift: Long) =
      rules(ids.toDF("g", "it"), maxBasket = 5)
        .collect()
        .map(r => (r.getAs[Long]("item_a") - unshift,
          r.getAs[Long]("item_b") - unshift) ->
          (r.getAs[Long]("n_co"), r.getAs[Long]("support_micro"),
            r.getAs[Long]("conf_ab_permille"),
            r.getAs[Long]("conf_ba_permille"),
            r.getAs[Long]("lift_micro")))
        .toMap
    val packed = metrics(rows, 0L)
    val fallback = metrics(rows.map { case (g, it) => (g, it + shift) },
      shift)
    assert(packed.nonEmpty)
    assert(packed === fallback)
  }
}
