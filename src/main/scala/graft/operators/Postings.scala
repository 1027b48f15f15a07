package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once tokenized-corpus tables (the `_build_dedup_clusters` /
  * `_build_basket_rules` stored-table discipline applied to text):
  * ONE corpus scan tokenizes `documents` and writes the stream and
  * dictionary tables per dataset dir, after which every text-family
  * consumer is
  * a columnar scan over pre-exploded rows instead of its own
  * split + zip + explode front end over the raw text.
  *
  *  - `tokens/`  — positional postings `(doc_id, source, pos, term)`;
  *    serves TF-IDF, boolean/phrase/ranked retrieval and the BM25
  *    build (tf/dl/df all derive from it).
  *  - `pairs/`   — ordered word pairs `(doc_id, source, d, w_a, w_b)`
  *    at distances d ∈ {1, 2}; d=1 is the adjacent-bigram stream
  *    (collocations, bigram-LM scoring), d ∈ {1, 2} is the ±2
  *    skip-gram window (PMI co-occurrence).
  *  - `dbigrams/` — per-doc-DISTINCT hashed adjacent bigrams
  *    `(doc_id, source, bh, bl)` as 16-byte (xxhash64, len) keys;
  *    distinct computed IN-ARRAY at build, so no consumer pays the
  *    corpus-wide (doc, bigram) dedup exchange at query time.
  *  - `bigram_df/` — the corpus bigram document-frequency DICTIONARY
  *    `(bh, bl, df)` — vocabulary-sized and corpus-constant per
  *    snapshot, so OOV/novelty scoring is a dictionary join instead
  *    of a per-query corpus-wide df aggregation.
  *  - `source_bigrams/` — the per-SOURCE distinct bigram vocabulary
  *    `(source, bh, bl)` — the cross-source overlap matrix reads this
  *    directly and starts vocabulary-sized, never touching documents.
  *
  * Pair generation mirrors the consumers' previous in-query
  * `zip_with(slice(w,1,n−d), slice(w,1+d,n−d), …)` exactly — same
  * ordered pairs, same empty-array behavior on docs with ≤ d tokens —
  * so every consumer's output is bit-identical to its re-tokenizing
  * predecessor; only the token/pair STREAM source changes. Consumers
  * keep hashing map-side over the scan (the C1 16-byte key
  * discipline), so exchange shapes downstream are unchanged.
  *
  * At 100 TB this is the standard "tokenize once" economics: the
  * corpus text is parsed exactly once per snapshot, the stored stream
  * is dictionary-encoded parquet (repeated terms compress to codes),
  * and each consumer reads only the columns it needs — e.g. the
  * collocation pass reads (w_a, w_b) and never doc ids.
  */
object Postings {

  /** Tokenize once and write the stream + dictionary tables under
    * `path`.
    * The per-doc-DISTINCT streams are computed IN-ARRAY here — while
    * the token array is still in hand, `array_distinct` is a map-side
    * pass — so distinct-posting consumers (boolean search, BM25 term
    * picking) never pay a corpus-wide dedup exchange at query time:
    * their aggregations stay vocabulary-sized, exactly as when they
    * tokenized inline.
    *
    * PRECONDITION: `docs` must carry one row per `idCol` value. The
    * per-doc distincts are in-array (per ROW), so a duplicated doc_id
    * would contribute its bigrams once PER ROW to `bigram_df` —
    * where the inline pipelines this build replaced ran a global
    * (doc, bigram) distinct and counted such a doc once. The corpus
    * tables feeding this build are keyed by doc_id, so the global
    * distinct would be a corpus-wide exchange paid only to defend an
    * input shape that never occurs; callers with multi-row docs must
    * dedup upstream.
    */
  /** `(doc_id, source, w)` tokenized rows — the one tokenize pass all
    * seven stream writers share (build AND batch admission, so the two
    * paths cannot drift).
    */
  private def tokenized(docs: DataFrame, idCol: String, srcCol: String,
                        textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      col(srcCol).as("source"), split(col(textCol), " ").as("w"))

  private def tokenRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("source"),
      posexplode(col("w")).as(Seq("pos", "term")))

  private def pairRows(toks: DataFrame): DataFrame = {
    def pairsAt(d: Int) = zip_with(
      slice(col("w"), lit(1), greatest(size(col("w")) - d, lit(0))),
      slice(col("w"), lit(1 + d), greatest(size(col("w")) - d, lit(0))),
      (a, b) => struct(lit(d).as("d"), a.as("w_a"), b.as("w_b")))
    toks.select(col("doc_id"), col("source"),
        explode(concat(pairsAt(1), pairsAt(2))).as("p"))
      .select(col("doc_id"), col("source"), col("p.d").as("d"),
        col("p.w_a").as("w_a"), col("p.w_b").as("w_b"))
  }

  private def dtokenRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("source"),
      explode(array_distinct(col("w"))).as("term"))

  // the BM25 term-pick tokenization: per-doc distinct of LOWERCASED
  // [a-z]+ tokens (distinct after lowering — "The the" is ONE
  // distinct lowered token)
  private def dtokenLowerRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("source"),
      explode(array_distinct(expr(
        "filter(transform(w, x -> lower(x))," +
          " x -> x rlike '^[a-z]+$')"))).as("term"))

  // per-doc distinct adjacent bigrams, hashed to 16-byte
  // (xxhash64, len) keys IN-ARRAY (hash first, distinct on the
  // hashed struct — exactly the consumers' previous
  // hash-then-distinct order, so a hypothetical (hash, len)
  // collision collapses the same way it did inline)
  private def dbigramRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), col("source"),
        explode(array_distinct(transform(zip_with(
          slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
          slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
          (a, b) => concat(a, lit(" "), b)),
          bg => struct(xxhash64(bg).as("bh"), length(bg).as("bl")))))
          .as("p"))
      .select(col("doc_id"), col("source"),
        col("p.bh").as("bh"), col("p.bl").as("bl"))

  // the BM25 tokenization contract (Relevance.bm25RankTok): lowercase
  // then keep [a-z]+ only. Lowercasing never produces or consumes a
  // space, so lower-then-split ≡ split-then-lower.
  private def bm25Toks = expr(
    "filter(transform(w, x -> lower(x)), x -> x rlike '^[a-z]+$')")

  /** `(doc_id, term, tf)` — the BM25 term-frequency table over the
    * lowered `[a-z]+` tokens. Per-document rows (docs contribute
    * disjoint row sets), so batch admission is a plain append; the
    * map-side partial aggregation means the build's exchange carries
    * (doc, term)-distinct rows, i.e. the table itself.
    */
  private def tfLowerRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(bm25Toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** `(doc_id, dl)` — BM25 document lengths (count of lowered
    * `[a-z]+` tokens), map-only in-array; rows only for docs with
    * ≥ 1 matching token, exactly the row set Σtf over [[tfLowerRows]]
    * yields (the inline path derives dl from tf).
    */
  private def dlLowerRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
        size(bm25Toks).cast("long").as("dl"))
      .filter(col("dl") >= 1)

  /** `(doc_id, th, tl, tf)` — term frequencies over the RAW
    * whitespace tokens, keyed by the 16-byte (xxhash64, length) term
    * keys the TF-IDF scoring tail aggregates and joins on (r16
    * verdict task 3). Storing the HASH-KEYED aggregation — not a
    * (doc, term, tf) string table — matters twice: q_tfidf's per-run
    * plan needs NO re-aggregation at all (a re-agg over the stored
    * table measured 2× the inline CPU at bench conf, because the
    * small hash-scattered table reads as one scan task and its
    * single-task hash agg thrashes), and the stored rows are
    * fixed-width. Per-document row sets, so batch admission is a
    * plain append (the hashes are deterministic). Term strings
    * re-attach per run through the vocabulary-sized `df_raw`
    * dictionary, exactly as the inline path's dictionary join does.
    */
  private def tfHashedRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(col("w")).as("term"))
      .select(col("doc_id"), xxhash64(col("term")).as("th"),
        length(col("term")).as("tl"))
      .groupBy(col("doc_id"), col("th"), col("tl"))
      .agg(count(lit(1)).as("tf"))

  /** `(doc_id, dl)` — RAW document lengths (whitespace token count),
    * map-only in-array (dl = size(w): no exchange at build, and the
    * TF-IDF consumer reads a two-column table instead of aggregating
    * doc lengths per run — measured r17: deriving dl from the stored
    * tf_raw table inflated the doc-level partials 32× because tf_raw
    * files are hash-scattered by (doc, term), not doc-clustered).
    * Row set = docs with a non-null token array, exactly the docs the
    * token stream (and so the inline dl aggregation) covers.
    */
  private def dlRawRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
        size(col("w")).cast("long").as("dl"))
      .filter(col("dl") >= 1)

  /** Write the seven stream tables sequentially from one persisted
    * tokenize pass — the APPEND path [[admitBatch]] uses (batch-sized
    * inputs; [[build]] runs the same row expressions through the
    * concurrent writer pool instead).
    */
  private def writeStreams(docs: DataFrame, idCol: String, srcCol: String,
                           textCol: String, path: String,
                           mode: String): Unit = {
    val toks = tokenized(docs, idCol, srcCol, textCol)
      .persist() // seven writers, one tokenize pass
    try {
      tokenRows(toks).write.mode(mode).parquet(s"$path/tokens")
      pairRows(toks).write.mode(mode).parquet(s"$path/pairs")
      dtokenRows(toks).write.mode(mode).parquet(s"$path/dtokens")
      dtokenLowerRows(toks).write.mode(mode).parquet(s"$path/dtokens_lower")
      dbigramRows(toks).write.mode(mode).parquet(s"$path/dbigrams")
      tfLowerRows(toks).write.mode(mode).parquet(s"$path/tf_lower")
      dlLowerRows(toks).write.mode(mode).parquet(s"$path/dl_lower")
      tfHashedRows(toks).write.mode(mode).parquet(s"$path/tf_hashed")
      dlRawRows(toks).write.mode(mode).parquet(s"$path/dl_raw")
    } finally toks.unpersist(blocking = false)
  }

  /** Tokenize once and write the stream + dictionary tables, with the
    * independent stream writers submitted from a small thread pool
    * (guide §2.6: concurrent jobs back-fill each other's task tails —
    * the seven writers are independent jobs over the one PRE-FILLED
    * tokenize cache, so run sequentially each writer's straggler tail
    * leaves cores idle; measured r16 at `local[32]`: sequential
    * 4.4-4.9 s vs concurrent 2.2-2.3 s steady at sf0.1, 22.0-26.6 vs
    * 11.5-12.4 s at 10× data — interleaved reps, OPTIMIZATION_r16.md).
    * The two dictionary derivations chain INSIDE the future of the
    * stream they aggregate (bigram dictionaries after the dbigrams
    * write, df_lower after the dtokens_lower write), so they overlap
    * the remaining writers too. Same expressions, same tables, same
    * rows as the sequential [[writeStreams]] path admission uses —
    * only job submission order changes; the cache is filled eagerly
    * BEFORE the pool starts (the ngramJaccard lock finding:
    * concurrent first-consumers of a lazy persist serialize on
    * per-block fill locks).
    */
  def build(docs: DataFrame, idCol: String, srcCol: String,
            textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    val toks = tokenized(docs, idCol, srcCol, textCol).persist()
    try {
      toks.count() // eager fill, full parallelism
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      try {
        val fs = Seq(
          Future(tokenRows(toks).write.mode("overwrite")
            .parquet(s"$path/tokens")),
          Future(pairRows(toks).write.mode("overwrite")
            .parquet(s"$path/pairs")),
          Future {
            dtokenRows(toks).write.mode("overwrite")
              .parquet(s"$path/dtokens")
            // df_raw chains off the dtokens write the way df_lower
            // chains off dtokens_lower: dtokens is per-doc DISTINCT,
            // so a per-term count IS the raw document frequency (and
            // its term set IS the raw-term dictionary)
            ParquetIO.read(spark, s"$path/dtokens")
              .groupBy(col("term")).agg(count(lit(1)).as("df"))
              .write.mode("overwrite").parquet(s"$path/df_raw")
          },
          Future(tfLowerRows(toks).write.mode("overwrite")
            .parquet(s"$path/tf_lower")),
          Future(dlLowerRows(toks).write.mode("overwrite")
            .parquet(s"$path/dl_lower")),
          Future(dlRawRows(toks).write.mode("overwrite")
            .parquet(s"$path/dl_raw")),
          Future {
            dtokenLowerRows(toks).write.mode("overwrite")
              .parquet(s"$path/dtokens_lower")
            ParquetIO.read(spark, s"$path/dtokens_lower")
              .groupBy(col("term")).agg(count(lit(1)).as("df"))
              .write.mode("overwrite").parquet(s"$path/df_lower")
          },
          Future(tfHashedRows(toks).write.mode("overwrite")
            .parquet(s"$path/tf_hashed")),
          Future {
            dbigramRows(toks).write.mode("overwrite")
              .parquet(s"$path/dbigrams")
            val bySource = ParquetIO.read(spark, s"$path/dbigrams")
              .groupBy(col("source"), col("bh"), col("bl"))
              .agg(count(lit(1)).as("n"))
              .persist()
            try {
              bySource.groupBy(col("bh"), col("bl"))
                .agg(sum(col("n")).as("df"))
                .write.mode("overwrite").parquet(s"$path/bigram_df")
              bySource.select(col("source"), col("bh"), col("bl"))
                .write.mode("overwrite").parquet(s"$path/source_bigrams")
            } finally bySource.unpersist(blocking = false)
          })
        Await.result(Future.sequence(fs),
          scala.concurrent.duration.Duration.Inf): Unit
      } finally pool.shutdown()
    } finally toks.unpersist(blocking = false)
  }


  /** Admit a BATCH of new documents into an existing postings
    * snapshot at BATCH cost — the stored corpus is never re-read and
    * never re-tokenized (round-15 verdict task 2: a daily 100 TB
    * pipeline admits a batch; full rebuilds are for new snapshots).
    *
    *  - The seven stream tables append the batch's own rows, computed
    *    by the SAME expressions as [[build]] (shared one-definition
    *    helpers, so the two paths cannot drift). Appends are exact
    *    because every stream table is a per-document row set:
    *    admission ≡ rebuild on corpus ∪ batch as multisets (spec:
    *    "admission equals rebuild", random batch splits).
    *  - `bigram_df` count-merges: the batch's per-bigram doc counts
    *    (batch-aggregated, vocabulary-sized) sum into the stored
    *    dictionary — exact because df is a per-doc-distinct COUNT and
    *    doc sets are disjoint by precondition.
    *  - `source_bigrams` distinct-unions the batch vocabulary.
    *
    * The two dictionaries are replaced via a staged write + atomic
    * directory rename (a parquet dir cannot be overwritten while
    * serving as its own write's input). Admission is idempotent only
    * per batch — PRECONDITION as [[build]] plus: batch doc_ids must
    * be disjoint from every already-admitted document's (re-admitting
    * a doc would double its stream rows and df contributions).
    * Concurrent readers of the dictionary dirs during the rename see
    * either snapshot, not a mix; the stream appends are visible to
    * new reads as soon as each write commits.
    */
  def admitBatch(batch: DataFrame, idCol: String, srcCol: String,
                 textCol: String, path: String): Unit = {
    writeStreams(batch, idCol, srcCol, textCol, path, "append")
    val spark = batch.sparkSession
    // batch-cost dictionary folds: aggregate the BATCH's bigram rows
    // once (vocabulary × sources-sized), then merge into the stored
    // dictionaries — the stored dbigrams stream is never re-scanned
    val batchCounts = dbigramRows(
      tokenized(batch, idCol, srcCol, textCol))
      .groupBy(col("source"), col("bh"), col("bl"))
      .agg(count(lit(1)).as("n"))
      .persist() // two dictionary folds, one batch aggregation
    try {
      replaceTable(
        ParquetIO.read(spark, s"$path/bigram_df")
          .unionByName(batchCounts.groupBy(col("bh"), col("bl"))
            .agg(sum(col("n")).as("df")))
          .groupBy(col("bh"), col("bl")).agg(sum(col("df")).as("df")),
        s"$path/bigram_df")
      replaceTable(
        ParquetIO.read(spark, s"$path/source_bigrams")
          .unionByName(batchCounts.select(col("source"), col("bh"), col("bl")))
          .distinct(),
        s"$path/source_bigrams")
    } finally batchCounts.unpersist(blocking = false)
    // df_lower count-merges exactly like bigram_df: the batch's
    // per-term doc counts (vocabulary-sized, from the batch's own
    // per-doc-distinct lowered tokens) sum into the stored dictionary
    // — exact because doc sets are disjoint by precondition
    replaceTable(
      ParquetIO.read(spark, s"$path/df_lower")
        .unionByName(dtokenLowerRows(tokenized(batch, idCol, srcCol, textCol))
          .groupBy(col("term")).agg(count(lit(1)).as("df")))
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      s"$path/df_lower")
    // df_raw count-merges the same way (dtokens is per-doc distinct,
    // so the batch's per-term row count is its df contribution; doc
    // sets disjoint by precondition)
    replaceTable(
      ParquetIO.read(spark, s"$path/df_raw")
        .unionByName(dtokenRows(tokenized(batch, idCol, srcCol, textCol))
          .groupBy(col("term")).agg(count(lit(1)).as("df")))
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      s"$path/df_raw")
  }

  /** Stage `df` beside `dir`, then swap directories — the
    * read-merge-replace primitive for the dictionary folds (writing
    * over the parquet dir a plan is reading throws mid-job).
    */
  private def replaceTable(df: DataFrame, dir: String): Unit = {
    val staged = dir + "__staged"
    df.write.mode("overwrite").parquet(staged)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(conf)
    fs.delete(target, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staged), target))
      sys.error(s"postings admission: rename $staged -> $dir failed")
  }

  /** The positional postings stream `(doc_id, source, pos, term)`. */
  def tokens(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/tokens")

  /** Per-doc-distinct postings `(doc_id, source, term)` — the
    * boolean-search inverted index (df = a vocabulary-sized count).
    */
  def distinctTokens(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/dtokens")

  /** Per-doc-distinct LOWERCASED `[a-z]+` postings — the BM25
    * term-pick stream.
    */
  def distinctTokensLower(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/dtokens_lower")

  /** The word-pair stream at distance `d` — the `d` filter reaches
    * the parquet scan as a pushed predicate, so a d=1 consumer never
    * decodes the skip-gram rows.
    */
  def pairs(spark: SparkSession, path: String, d: Int): DataFrame =
    ParquetIO.read(spark, s"$path/pairs").filter(col("d") === d)

  /** The full pair stream (both distances) for the ±2-window
    * consumers.
    */
  def pairsAll(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/pairs")

  /** Per-doc-distinct hashed adjacent bigrams
    * `(doc_id, source, bh, bl)`.
    */
  def docBigrams(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/dbigrams")

  /** The corpus bigram document-frequency dictionary `(bh, bl, df)`.
    */
  def bigramDf(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/bigram_df")

  /** The per-source distinct bigram vocabulary `(source, bh, bl)`. */
  def sourceBigrams(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/source_bigrams")

  /** The BM25 term-frequency table `(doc_id, term, tf)` over lowered
    * `[a-z]+` tokens — a query-term filter on it reaches the parquet
    * scan as a pushed predicate, so ranked retrieval decodes only the
    * query's posting lists.
    */
  def tfLower(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/tf_lower")

  /** BM25 document lengths `(doc_id, dl)` (docs with ≥ 1 lowered
    * `[a-z]+` token).
    */
  def dlLower(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/dl_lower")

  /** The BM25 document-frequency dictionary `(term, df)` —
    * vocabulary-sized.
    */
  def dfLower(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/df_lower")

  /** The hash-keyed raw-token term-frequency table
    * `(doc_id, th, tl, tf)` — the TF-IDF serving table (whitespace
    * tokens, unfiltered, 16-byte term keys).
    */
  def tfHashed(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/tf_hashed")

  /** The raw-token document-frequency dictionary `(term, df)` —
    * vocabulary-sized; also the raw-term dictionary (one row per
    * distinct term).
    */
  def dfRaw(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/df_raw")

  /** RAW document lengths `(doc_id, dl)` (whitespace token count,
    * docs with a non-null token array).
    */
  def dlRaw(spark: SparkSession, path: String): DataFrame =
    ParquetIO.read(spark, s"$path/dl_raw")
}
