package graft

import graft.operators.{Dedup, FuzzyMatch, Relevance, Similarity}
import graft.pipeline.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: every operator must return an empty
  * (or passthrough) result on empty input rather than throw — the
  * guard for incremental pipelines whose daily slice can be empty.
  */
class EmptyInputSpec extends AnyFunSuite with SparkSpec {

  private lazy val noDocs = Tables.documents(spark, sf).filter(lit(false))
  private lazy val noEmb = Tables.embeddings(spark, sf).filter(lit(false))

  test("dedup and clustering operators handle empty corpora") {
    assert(Dedup.exact(noDocs, "doc_id", "text").count() === 0)
    assert(Dedup.clusters(noEmb.select(col("vec_id").as("a"),
      col("vec_id").as("b")), "a", "b").count() === 0)
    assert(Similarity.cosinePairs(noEmb, "vec_id", "embedding", 0.3)
      .count() === 0)
  }

  test("late-round-8 operators handle empty inputs") {
    assert(Similarity.kmeansExact(noEmb, "vec_id", "embedding",
      k = 4, rounds = 2).count() === 0)
    assert(graft.operators.Graph.connectedComponents(
      noEmb.select(col("vec_id").as("src"), col("vec_id").as("dst")))
      .count() === 0)
    assert(graft.pipeline.Mixer.dsirWeights(noDocs, "doc_id", "text",
      col("lang") === "en").count() === 0)
    assert(graft.pipeline.Mixer.systematicSample(noDocs, "doc_id",
      "n_chars", k = 5).count() === 0)
    assert(graft.operators.Sketches.kmvBuild(noDocs, "text",
      Seq("source")).count() === 0)
  }

  test("round-12 eager/scoped paths handle empty corpora") {
    // stored self-dedup is EAGER (localCheckpoint + pin release): an
    // index of the empty corpus must round-trip the checkpoint, not
    // throw
    val noIdx = Dedup.buildBandIndex(noDocs, "doc_id", "text")
    assert(Dedup.minhashPairsFromStored(noIdx).count() === 0)
    noIdx.shingles.unpersist(blocking = false)
    // cleanScoped on an empty corpus: empty result, release is a no-op
    val scoped = graft.pipeline.CleanCorpus.cleanScoped(
      noDocs, "doc_id", "text", minQuality = 0.0)
    assert(scoped.result.count() === 0)
    scoped.release()
    // admission of an EMPTY batch against a real index is empty
    val idx = Dedup.buildBandIndex(
      Tables.documents(spark, sf).limit(50), "doc_id", "text")
    assert(Dedup.admitBatch(idx, noDocs, "doc_id", "text").count() === 0)
    idx.shingles.unpersist(blocking = false)
  }

  test("co-occurrence mining handles empty inputs") {
    // exercises the r13 in-array pair expansion on zero basket rows
    val none = noDocs.select(col("doc_id").as("g"), col("doc_id").as("it"))
    val dir = Stored.tempDir("graft_rules_empty") + "/rules"
    graft.operators.CoOccur.buildRulesTable(none, "g", "it",
      maxBasket = 5, minCo = 1L, dir)
    assert(spark.read.parquet(dir).count() === 0)
  }

  test("stored-IVF serving handles empty query sets") {
    val dir = Stored.tempDir("graft_ivf_empty")
    val embAll = Tables.embeddings(spark, sf)
    val model = Similarity.ivfTrain(embAll, "vec_id", "embedding",
      nlist = 4, iters = 1)
    Similarity.saveIvfIndex(model, embAll, "vec_id", "embedding", dir)
    val (m2, lists) = Similarity.loadIvfIndex(spark, dir)
    // an empty query frame probes zero lists and returns zero rows
    // (the bounded probe pull is an empty driver array, isin(empty))
    assert(Similarity.ivfSearchStored(m2, lists, noEmb,
      "vec_id", "embedding", queryMaxId = 9, k = 5).count() === 0)
    // the composed stored path has the same bounded probe-pull /
    // isin(empty) prologue plus an ADC shortlist — an empty query set
    // must flow through BOTH phases (empty shortlist join included)
    val pqDir = Stored.tempDir("graft_ivfpq_empty")
    val pq = Similarity.pqTrain(embAll, "vec_id", "embedding",
      m = 4, ksub = 4, iters = 1)
    Similarity.saveIvfPqIndex(model, pq, embAll, "vec_id", "embedding",
      pqDir)
    val (c3, p3, lists3) = Similarity.loadIvfPqIndex(spark, pqDir)
    assert(Similarity.ivfPqSearchStored(c3, p3, lists3, noEmb,
      "vec_id", "embedding", queryMaxId = 9, k = 5).count() === 0)
  }

  test("semantic dedup of an empty embedding set is empty") {
    val model = Similarity.ivfTrain(Tables.embeddings(spark, sf),
      "vec_id", "embedding", nlist = 4, iters = 1)
    assert(Similarity.semanticDedup(noEmb, "vec_id", "embedding",
      0.3, model, nprobe = 2).count() === 0)
  }

  /** A postings snapshot of the empty corpus, and its 1-row n_docs. */
  private lazy val noPostings = {
    val dir = Stored.tempDir("graft_postings_empty")
    graft.operators.Postings.build(noDocs, "doc_id", "source", "text", dir)
    dir
  }
  private def noDocsN = noDocs.agg(count(lit(1)).as("n_docs"))

  test("relevance and fuzzy matching handle empty inputs") {
    assert(Relevance.salientTermsStored(spark, noPostings, noDocsN, 3)
      .count() === 0)
    assert(FuzzyMatch.dictionaryPairs(noDocs.select(col("text")), "text", 2)
      .count() === 0)
  }

  test("ranked retrieval, fusion, CMS and BPE-apply handle empty inputs") {
    import spark.implicits._
    assert(Relevance.bm25RankStored(spark, noPostings, noDocsN, Seq("x"), 5)
      .count() === 0)
    val noRanks = Seq.empty[(Long, Long)].toDF("id", "rank")
    assert(Relevance.rrfFuse(noRanks, noRanks, "id", "rank", 5)
      .count() === 0)
    // one-sided fusion still surfaces the populated system
    val oneSide = Seq((7L, 1L)).toDF("id", "rank")
    assert(Relevance.rrfFuse(oneSide, noRanks, "id", "rank", 5)
      .count() === 1)
    val noEvents = Tables.events(spark, sf).filter(lit(false))
    val cells = graft.operators.Sketches
      .cmsBuild(noEvents, "user_id", Seq.empty)
    assert(cells.count() === 0)
    // probing an EMPTY sketch: every bucket missing → estimate 0
    val probes = Seq(1L, 2L).toDF("user_id")
    val est = graft.operators.Sketches.cmsEstimate(
      graft.operators.Sketches.cmsMerge(cells, Seq.empty), probes, "user_id")
      .collect()
    assert(est.length === 2 && est.forall(_.getAs[Long]("cms_est") === 0L))
    // applying an induced merge table to an empty corpus is empty
    def terms(d: org.apache.spark.sql.DataFrame) =
      d.select(col("source"), explode(split(col("text"), " ")).as("word"))
    val ms = graft.operators.Bpe.induceMergesFromTerms(
      terms(Tables.documents(spark, sf).limit(50)).select(col("word")), 2)
    assert(graft.operators.Bpe.tokenizeTermsWith(terms(noDocs), ms)
      .count() === 0)
  }

  test("prefix sums, index admission, and index extension handle " +
      "empty inputs") {
    import spark.implicits._
    // empty totals table → empty offsets, both orders
    val noTotals = Seq.empty[(Long, Long)].toDF("k", "t")
    assert(graft.operators.PrefixSums
      .exclusiveOffsets(noTotals, "k", "t", "off").count() === 0)
    assert(graft.operators.PrefixSums
      .exclusiveOffsets(noTotals, "k", "t", "off", descending = true)
      .count() === 0)
    // an empty ECDF grid yields one all-null row (global-agg shape,
    // same contract as offsetsWithTotals' empty totals)
    val gap = graft.operators.PrefixSums.maxEcdfCrossGap(
      Seq.empty[(Long, Long, Long)].toDF("k", "c1", "c2"),
      "k", "c1", "c2").collect()
    assert(gap.length === 1 && gap.head.isNullAt(2))
    // empty admission batch against a real index → no pairs
    val docs = Tables.documents(spark, sf).limit(50)
    val idx = Dedup.buildBandIndex(docs, "doc_id", "text")
    assert(Dedup.admitBatch(idx, noDocs, "doc_id", "text").count() === 0)
    // extending with an empty batch preserves the index contents
    val extended = Dedup.extendIndex(idx,
      Dedup.buildBandIndex(noDocs, "doc_id", "text"))
    assert(extended.bands.count() === idx.bands.count())
    assert(extended.sizes.count() === idx.sizes.count())
  }

  test("changeset ops: empty changes pass the base through unchanged") {
    import spark.implicits._
    val base = Seq(1L -> "one", 2L -> "two").toDF("doc_id", "text")
    val noChanges = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "op")
    val merged = Snapshots.applyChangeset(base, noChanges, "doc_id", "op")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "one", 2L -> "two"))
    val view = base.groupBy("text").agg(count(lit(1)).as("n"),
      sum(lit(1L)).cast("long").as("sum_m"))
    val kept = Snapshots.incrementalAgg(view, base.withColumn("m", lit(1L)),
        noChanges.withColumn("m", lit(1L)), "doc_id", "op", "text", "m")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(kept === Set(("one", 1L, 1L), ("two", 1L, 1L)))
  }
}
