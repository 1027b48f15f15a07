package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite with SparkSpec {

  test("entry (flagship fraud pipeline) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and is non-empty on sf0.001; " +
      "Bench's isolation discipline leaves no persistent blocks") {
    // the second clause protects a measured failure mode: operators
    // persist/localCheckpoint multi-consumer intermediates, and if
    // Bench's per-name clearing (clearCache + unpersist + GC,
    // Bench.scala) ever stopped reclaiming them, accumulated blocks
    // would bill later queries 5-50x (round-6 root cause). Any
    // operator whose blocks survive this discipline fails here.
    val leaks = scala.collection.mutable.ListBuffer.empty[String]
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).count()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        if (spark.sparkContext.getPersistentRDDs.nonEmpty)
          leaks += name
        if (n == 0) Some(name) else None
    }
    assert(empties.isEmpty, s"empty results: $empties")
    assert(leaks.isEmpty, s"blocks survive Bench clearing after: $leaks")
  }

  test("pin-releasing queries leave only GC-reclaimable blocks " +
      "(no CacheManager pins survive the closure)") {
    // the round-9 leak class: a closure persist()s a multi-consumer
    // intermediate and returns a plan that still references it, so
    // the CacheManager holds it forever (clearCache is the only way
    // out) and a long-lived session accumulates pinned frames. The
    // discipline (Graph.pageRank): checkpoint the bounded answer,
    // unpersist the pin before returning. localCheckpoint blocks ARE
    // still registered in getPersistentRDDs, but they are held only
    // by the result reference — once dropped, the ContextCleaner
    // reclaims them on GC, which CacheManager-held pins never are.
    // So the gate is: run the query, drop every reference, GC-poll
    // until the persistent-RDD map drains. A reintroduced persist
    // leak fails this deterministically (strong refs never drain).
    val names = Seq("q_rfm", "q_hits", "q_ks_test", "q_dbscan",
      "q_vocab_coverage", "q_copurchase", "q_basket_lift", "q_item_sims")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def drainOnce(): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
          System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(250)
      }
      spark.sparkContext.getPersistentRDDs.isEmpty
    }
    // System.gc() is advisory: a GC that defers collection under low
    // heap pressure can outlast one 30 s window without any strong-ref
    // pin existing. Retry the drain once (with a finalization nudge)
    // before declaring a leak — a REAL CacheManager pin still fails
    // both windows deterministically, since strong refs never drain.
    def drained(): Boolean = drainOnce() || {
      System.runFinalization(); drainOnce()
    }
    val leaky = names.filterNot { n =>
      SparkEntry.queries(n)(spark, sf).count() // result ref dies here
      drained()
    }
    assert(leaky.isEmpty,
      s"queries leave GC-unreclaimable pinned blocks: $leaky")
  }

  test("oracle SQL exists only for declared queries") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle for unknown queries: $unknown")
  }

  test("the query index rejects a name declared twice, naming it") {
    val body = (s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).toDF()
    val err = intercept[IllegalArgumentException](Query.index(Seq(
      Query("q_twice", "SELECT 1")(body), Query("q_once", "SELECT 2")(body),
      Query("q_twice", "SELECT 3")(body))))
    assert(err.getMessage.contains("q_twice"))
    assert(!err.getMessage.contains("q_once"))
  }

  test("no query plans a cartesian product; broadcast nested loops " +
      "only where documented") {
    // BNLJ is legitimate exactly where a small side is broadcast
    // against a non-equi condition: ANN query fan-outs, the exact
    // all-pairs cosine baseline, tiny cross-joined side tables
    // (global aggregates / hour scaffolds), and scalar-subquery
    // filters. Anything new showing up here is a plan regression.
    val bnljAllowed = Set("ann_topk", "ann_pq", "ann_ivfpq", "ann_lsh",
      "ann_ivf",
      "ann_ivf_stored", "ann_ivfpq_stored", // same brute-force
      // recall-contract side as ann_ivf/ann_ivfpq; the stored SEARCH
      // itself is equi-joined on cl (BHJ, partition-pruned scan)
      "dedup_cosine", "mix_temperature", "q_gen_series",
      "q_scalar_filter", "q_approx",
      "q_equidepth", // 1-row broadcast quartile edges × events
      "q_equidepth_approx", // same shape, approx edges
      "ann_knn_graph", // brute-force side of the recall contract
      "semantic_dedup", // exact all-pairs side of the agreement contract
      "q_tfidf", // 1-row broadcast corpus count × scored terms
      "q_interpolate", // type × hour scaffold (q_gen_series shape)
      "q_chi2", // marginal grid: langs × broadcast sources × 1-row total
      "q_collocations", // 1-row broadcast word total × bigram counts
      "q_skipgram_pmi", // 1-row broadcast (n_tok, t_pairs) × pair counts
      "q_heavy_hitters", // 1-row broadcast token total × candidate counts
      "q_pagerank", // 1-row broadcast node count × the node frame
      "q_cms", // 1-row broadcast stream total × the estimate frame
      "q_cms_join", // 1-row broadcast estimate × the 1-row truth frame
      "q_search_ranked", // 1-row broadcast corpus stats × scored postings
      "q_rrf_fusion", // same lexical corpus-stats shape as q_search_ranked
      "q_dsir", // 1-row broadcast bucket totals × the ratio table
      "q_theta", // |event types|² sketch-pair frame (dictionary-sized)
      // PrefixSums.exclusiveOffsets: broadcast non-equi self-join of
      // the super-bucket totals (quadratic only in |buckets|/1024)
      "mix_budget", "pack_sequences", "q_auc",
      "q_neg_sample", // PrefixSums item index + 1-row count broadcast
      "q_sample_weighted", // PrefixSums + 1-row broadcast step
      "q_pareto", // PrefixSums prefix-max bucket combine
      "q_percent_rank", // PrefixSums + 1-row broadcast total
      "q_anomaly", // 1-row broadcast moments × the hourly counts
      "q_ks_test", // PrefixSums ×2 + 1-row broadcast (n1, n2) totals
      "q_basket_lift", // 1-row broadcast basket total × the rule frame
      "q_rfm", // 1-row broadcast quintile edges × customer measures
      "q_hits", // 1-row broadcast per-round max normalizers
      "q_knn_classify", // ann_topk's broadcast-query non-equi scorer
      "q_slice_parity", // 1-row broadcast corpus mean × the cell grid
      "q_benford", // 1-row broadcast order total × the 9-digit frame
      "q_churn", // 1-row broadcast corpus-end day × user extents
      "q_dbscan", // 1-row broadcast p90 occupancy threshold × the cell grid
      "q_vocab_coverage", // 1-row broadcast token total × the 3-row k frame
      "q_item_sims") // inherits B93's 1-row basket-total broadcast
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: undocumented BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("SURVEY section 2 and the queries map agree") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")))
    val surveyNames = "query `([a-z0-9_]+)`".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val missingImpl = surveyNames -- SparkEntry.queries.keySet
    assert(missingImpl.isEmpty, s"SURVEY names without implementation: $missingImpl")
    val undocumented = SparkEntry.queries.keySet -- surveyNames
    assert(undocumented.isEmpty, s"queries not in SURVEY section 2: $undocumented")
  }
}
