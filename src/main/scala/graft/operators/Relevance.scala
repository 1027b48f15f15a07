package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-wide term salience (TF-IDF family) — the keyword/topic
  * signal a training-data pipeline uses for domain tagging, query
  * mining, and topical mixing.
  *
  * Deliberately the rational-idf variant (N/df instead of log(N/df)):
  * the score is a pure integer expression — `(1e6·tf·N) div (dl·df)`
  * in micro units — so it is bit-identical across engines, where a
  * float log would wobble in the last ulp between libm
  * implementations. Rankings agree with log-idf whenever df ordering
  * agrees, which is what the top-k is for.
  *
  * Scale shape: the token pass and the `tf`/`dl` aggregations run
  * once per corpus snapshot, in [[Postings.build]]. Per run, `df`
  * aggregates the stored (doc, term)-distinct `tf` rows, so it never
  * re-reads text; the vocabulary-sized `df` table enters the scoring
  * join broadcast. The final per-document top-k partitions by doc —
  * each partition is one document's vocabulary, never the corpus.
  *
  * BIGINT envelope: `1e6·tf·N` must stay under 2^63, i.e. tf·N ≤
  * 9.2·10^12 (at a billion docs, per-doc term frequency ≤ 9200). Past
  * it, swap the literals for DECIMAL(38,0) like `q_moments`.
  */
object Relevance {

  /** Top-`k` salient terms per document, served from a STORED
    * postings snapshot ([[Postings.build]]'s `tf_hashed`, `dl_raw` and
    * `df_raw` tables): `(doc_id, term, rank, score_micro)`, rank dense
    * 1..k by (score desc, term asc). Terms are the raw whitespace
    * tokens; `nDocs` is a 1-row `n_docs` count of ALL documents
    * (tokenless docs included — they still belong in the idf
    * denominator).
    *
    * Aggregations and joins run on 16-byte (xxhash64, len) term keys
    * — the exact-dedup key discipline — so no exchange moves term
    * strings; strings re-attach through the vocabulary-sized df_raw
    * dictionary at the end. Measured at sf0.5 (warm, cache cleared per
    * run): string-keyed 2.50 s / 21.2 MB shuffled vs hash-keyed
    * 1.92 s / 16.3 MB, identical output.
    */
  def salientTermsStored(spark: org.apache.spark.sql.SparkSession,
                         path: String, nDocs: DataFrame,
                         k: Int): DataFrame = {
    // all inputs are direct stored scans — no per-run re-aggregation
    // anywhere (a (doc, term, tf) string table + re-agg was tried
    // first and REVERTED on measurement: at bench conf the small
    // hash-scattered table reads as one task and the single-task
    // re-agg measured 2× the token-stream CPU; storing the hash-keyed
    // aggregation itself removes the re-agg instead of parallelizing
    // it). The ONE exchange this path keeps is a doc_id repartition
    // of the scan, placed BEFORE the scoring joins: it moves the
    // fixed-width (doc, th, tl, tf) rows — narrower than the scored
    // rows the window would otherwise exchange (term strings, scores
    // attached) — it spreads the scoring pipeline across the cluster
    // when the scan itself is few-task, and the window's
    // partitionBy(doc_id) is then already satisfied, so scoring plans
    // NO further exchange. df reads the UN-repartitioned scan (its
    // broadcast subtree would otherwise pay the repartition a second
    // time — measured +0.8 MB). Keyless of a partition count, so AQE
    // right-sizes the exchange from bytes at scale.
    val tfScan = Postings.tfHashed(spark, path)
    val df = tfScan.groupBy("th", "tl").agg(count(lit(1)).as("df"))
    val dict = Postings.dfRaw(spark, path)
      .select(xxhash64(col("term")).as("th"),
        length(col("term")).as("tl"), col("term"))
    val scored = tfScan.repartition(col("doc_id"))
      .join(Postings.dlRaw(spark, path), "doc_id")
      .join(broadcast(df), Seq("th", "tl"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        expr("(1000000L * tf * n_docs) div (dl * df)"))
      .join(broadcast(dict), Seq("th", "tl"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank"), col("score_micro"))
  }

  /** Integer-exact BM25 ranked retrieval served from a STORED
    * postings snapshot ([[Postings.build]]): top-`k` documents for a
    * term-set query, scored with the real BM25 shape — saturating tf
    * with length normalization (k1, b = 3/4) times a rational
    * RSJ-monotone idf — but in pure integer arithmetic so both
    * engines land on identical scores (the object doc's argument; a
    * float log/division would wobble in the last ulp):
    *
    *   idf_micro = (10⁶·(N − df)) div (N + df)
    *   tf_pml    = (10³·tf·(k1+1)·4·avgdl)
    *                 div (4·avgdl·tf + k1·(avgdl + 3·dl))
    *
    * (the b = 3/4 normalizer multiplied through by 4·avgdl, with
    * avgdl = total_tokens div N floored by convention). Terms follow
    * [[Postings]]' BM25 tokenization contract (lowercased `[a-z]+`
    * tokens); `nDocs` is a 1-row `n_docs` count of all documents.
    *
    * Serving shape: the query terms' posting lists come out of the
    * stored tf table (the term filter reaches the parquet scan as a
    * pushed predicate), the per-term df out of the vocabulary-sized
    * dictionary, and document lengths from the stored dl column;
    * nothing token-scale is aggregated per query. dl joins on doc
    * over the posting-sized side only, df/stats enter broadcast, and
    * the result is a TakeOrdered(k), never a global sort. `n_tokens`
    * (for avgdl) sums the stored dl column — a doc-count scan of one
    * long column. Ranks attach on the driver to the ≤k collected rows
    * (the bounded-model pattern) — no window at all, so the engine
    * keeps its no-unpartitioned-window property; the result is a
    * lineage-free k-row local relation, which downstream fusions join
    * for free.
    */
  def bm25RankStored(spark: org.apache.spark.sql.SparkSession,
                     path: String, nDocs: DataFrame,
                     queryTerms: Seq[String], k: Int,
                     k1: Int = 2): DataFrame = {
    val dl = Postings.dlLower(spark, path)
    val stats = nDocs
      .crossJoin(dl.agg(sum(col("dl")).as("n_tokens")))
      .select(col("n_docs"), expr("n_tokens div n_docs").as("avgdl"))
    val tfq = Postings.tfLower(spark, path)
      .filter(col("term").isin(queryTerms: _*))
    val topk = tfq
      .join(dl, "doc_id")
      .join(broadcast(Postings.dfLower(spark, path)
        .filter(col("term").isin(queryTerms: _*))), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        expr("(1000000L * (n_docs - df)) div (n_docs + df)"))
      .withColumn("tf_pml",
        expr(s"(1000L * tf * ${k1 + 1} * 4 * avgdl)" +
          s" div (4 * avgdl * tf + $k1 * (avgdl + 3 * dl))"))
      .groupBy(col("doc_id"))
      .agg(sum(expr("tf_pml * idf_micro")).as("score_nano"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy(col("score_nano").desc, col("doc_id"))
      .limit(k)
    // TakeOrderedAndProject returns the ≤k rows already in (score
    // desc, doc_id) order; zip the rank on the driver instead of
    // planning a WindowExec with no partition key (round-8 finding:
    // Catalyst folds partitionBy(lit(0)) to an unpartitioned window).
    val rows = topk.collect()
    val schema = org.apache.spark.sql.types.StructType(
      topk.schema.fields :+ org.apache.spark.sql.types.StructField(
        "rank", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1).toLong) }
    spark.createDataFrame(java.util.Arrays.asList(ranked: _*), schema)
      .select(col("doc_id"), col("rank"), col("score_nano"),
        col("n_hit_terms"))
  }

  /** Reciprocal-rank fusion of two ranked candidate lists (e.g. a
    * lexical BM25 list and a vector-similarity list — hybrid
    * retrieval's standard merge): score = Σ 1/(k0 + rank) over the
    * systems that ranked the id, in exact integer micro units
    * (10⁶ div (k0 + rank)), so fusion never touches a float. Inputs
    * are already-top-k frames (bounded); the full-outer join keeps
    * ids surfaced by only one system, which is the point of RRF.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              rankCol: String, k: Int, k0: Int = 60): DataFrame =
    a.select(col(idCol).as("id"), col(rankCol).cast("long").as("rank_a"))
      .join(b.select(col(idCol).as("id"),
        col(rankCol).cast("long").as("rank_b")), Seq("id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000L div ($k0 + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000L div ($k0 + rank_b)"), lit(0L)))
      .orderBy(col("rrf_micro").desc, col("id"))
      .limit(k)
}
