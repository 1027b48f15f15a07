package graft

import graft.pipeline.{Mixer, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MixerSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = Tables.documents(spark, sf)

  test("token budget keeps the best-quality prefix within the budget") {
    val scored = docs.withColumn("q",
      graft.functions.TextFunctions.qualityScore(col("text")))
    val take = Mixer.takeTokenBudget(scored, "doc_id", "text", "q", budget = 5000)
    val total = take.agg(sum("n_tokens")).head.getLong(0)
    assert(total <= 5000)
    assert(take.count() > 0)
    // nothing outside the kept set has strictly better quality than
    // the worst kept doc (greedy prefix property)
    val worstKept = take.agg(min("q")).head.getDouble(0)
    val bestDropped = scored.join(take.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(max("q")).head.getDouble(0)
    assert(bestDropped <= worstKept + 1e-9)
  }

  test("token budget: distributed prefix equals the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.withColumn("q",
      graft.functions.TextFunctions.qualityScore(col("text")))
    val w = Window.orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = scored
      .withColumn("n_tokens", graft.functions.TextFunctions
        .wordCount(col("text")).cast("long"))
      .withColumn("running_tokens", sum(col("n_tokens")).over(w))
      .filter(col("running_tokens") <= 5000)
    // default bucket (= the quality value) and a coarse quantized
    // bucket must BOTH reproduce the global-window selection exactly
    for (bucket <- Seq(None, Some(floor(col("q") * 8)))) {
      val take = Mixer.takeTokenBudget(scored, "doc_id", "text", "q",
        budget = 5000, bucketExpr = bucket)
      assert(take.exceptAll(naive).isEmpty && naive.exceptAll(take).isEmpty,
        s"bucket=$bucket")
      // the corpus-scale window must be hash-partitioned on the bucket;
      // the only single-task stage is the per-bucket offsets window,
      // whose input is one 16-byte row per distinct bucket value
      val plan = take.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(_b"), plan)
    }
  }

  test("sequence packing equals the naive global layout for any bucket size") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .select(col("doc_id"), graft.functions.TextFunctions
        .wordCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("start_tok") / 512).cast("long").as("pack_id"),
        pmod(col("start_tok"), lit(512L)).as("pack_offset"))
    // bucket size 1 (every doc its own bucket), a non-divisor, the
    // shipped default scale, and one bucket holding everything
    for (bs <- Seq(1L, 7L, 64L, 1000000L)) {
      val got = Mixer.packSequences(docs, "doc_id", "text", 512L, bs)
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"bucketSize=$bs")
    }
  }

  test("temperature mix: selection matches an independent BigInt " +
      "recomputation, is deterministic, and lands near the target") {
    val target = 150L
    val out = Mixer.temperatureMix(docs, "doc_id", "source", target)
      .select("doc_id", "source")
    val out2 = Mixer.temperatureMix(docs, "doc_id", "source", target)
      .select("doc_id", "source")
    assert(out.exceptAll(out2).isEmpty && out2.exceptAll(out).isEmpty)
    // independent driver-side recomputation of the integer keep test
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = counts.map { case (s, c) =>
      s -> math.sqrt(c.toDouble).toLong }
    val z = weights.values.sum
    val m = 1000003L
    val expected = docs.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, src) =>
        val draw = BigInt(id) * 48271 % m
        draw * z * counts(src) < BigInt(m) * target * weights(src)
      }.toSet
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
    // the Lehmer draw is uniform enough that the kept total sits near
    // the target (loose band: ±30%)
    assert(math.abs(got.size - target) <= target * 3 / 10, s"kept ${got.size}")
  }

  test("sequence packing invariants: offsets bounded, ids monotone, " +
      "packs cover the token total") {
    val packed = Mixer.packSequences(docs, "doc_id", "text",
      seqLen = 512L, bucketSize = 64L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(packed.forall { case (_, _, _, off) => off >= 0 && off < 512 })
    // pack ids never decrease along the id order
    assert(packed.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    // every pack boundary is consistent: start = pack_id*512 + offset
    // forms a strictly increasing exclusive-prefix sequence matching
    // the token sum
    val starts = packed.map { case (_, _, pid, off) => pid * 512 + off }
    val tokens = packed.map(_._2)
    assert(starts.head === 0)
    starts.zip(tokens).zip(starts.drop(1)).foreach {
      case ((s, t), sNext) => assert(s + t === sNext)
    }
  }

  test("temperature mix: a larger budget keeps a superset") {
    val small = Mixer.temperatureMix(docs, "doc_id", "source", 100L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val large = Mixer.temperatureMix(docs, "doc_id", "source", 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(large),
      s"monotone thresholds must nest: ${small.size} vs ${large.size}")
    assert(large.size > small.size)
  }

  test("corpus delta classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldSnap = Seq(1L -> "one", 2L -> "two", 3L -> "three")
      .toDF("doc_id", "text")
    val newSnap = Seq(2L -> "two", 3L -> "three edited", 4L -> "four")
      .toDF("doc_id", "text")
    val got = Snapshots.corpusDelta(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("changeset apply: upsert overrides, delete drops, rest passes") {
    import spark.implicits._
    val base = Seq(1L -> "one", 2L -> "two", 3L -> "three")
      .toDF("doc_id", "text")
    val changes = Seq(
      (2L, "two v2", "U"), // update existing
      (3L, null, "D"),     // delete existing
      (4L, "four", "I"),   // insert new
      (9L, null, "D"))     // delete of an absent key: no-op
      .toDF("doc_id", "text", "op")
    val got = Snapshots.applyChangeset(base, changes, "doc_id", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "one", 2L -> "two v2", 4L -> "four"))
  }

  test("incremental agg equals full recompute, including group moves") {
    import spark.implicits._
    val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "grp", "m")
    val view = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("m")).cast("long").as("sum_m"))
    val changes = Seq(
      (2L, "b", 25L, "U"), // group MOVE a -> b with a new measure
      (3L, "b", 0L, "D"),  // delete the only other b row
      (4L, "c", 40L, "I")) // new group entirely
      .toDF("id", "grp", "m", "op")
    val got = Snapshots.incrementalAgg(view, base, changes,
        "id", "op", "grp", "m")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // recompute ground truth: a={1:10}, b={2:25}, c={4:40}
    assert(got === Map("a" -> (1L, 10L), "b" -> (1L, 25L),
      "c" -> (1L, 40L)))
  }

  test("dsirWeights ranks target-vocabulary docs above off-target docs") {
    import spark.implicits._
    // target docs share an exclusive vocabulary; the probe doc written
    // in that vocabulary must outscore the probe written in the raw
    // backgound vocabulary, whatever the md5 bucket assignment
    val docs = (
      (1L to 5L).map(i => (i, "alpha beta gamma delta", true)) ++
      (6L to 15L).map(i => (i, "foo bar baz qux", false)) ++
      Seq((90L, "alpha beta alpha gamma", false),
          (91L, "foo bar foo baz", false))
    ).toDF("id", "text", "is_t")
    val w = Mixer.dsirWeights(docs, "id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(90L) > w(91L),
      s"target-like probe must outscore background probe: $w")
    // every doc is scored, token counts ride along
    assert(w.size === 17)
  }

  test("systematicSample: hand-computed picks and multiplicities") {
    import spark.implicits._
    // weights 30,5,5,10 along id order: W=50, k=5 -> step=10,
    // thresholds 10,20,30,40,50. Spans: d1 (0,30] covers 3, d2
    // (30,35] none, d3 (35,40] covers 40, d4 (40,50] covers 50.
    val docs = Seq((1L, 30L), (2L, 5L), (3L, 5L), (4L, 10L))
      .toDF("id", "wt")
    val got = Mixer.systematicSample(docs, "id", "wt", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got === Map(1L -> 3L, 3L -> 1L, 4L -> 1L))
    // uniform weights, k = n: every row picked exactly once
    val uni = (1L to 8L).map(i => (i, 7L)).toDF("id", "wt")
    val gotU = Mixer.systematicSample(uni, "id", "wt", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(gotU === (1L to 8L).map(_ -> 1L).toMap)
  }
}
