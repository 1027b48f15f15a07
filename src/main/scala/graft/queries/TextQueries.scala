package graft
package queries

import graft.operators.{Graph, Relevance}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-wide text statistics and retrieval: TF-IDF, collocations,
  * PMI, BPE, language-model scores, boolean / phrase / ranked search.
  * Owns the stored positional postings and the BPE merge table most of
  * them read.
  */
object TextQueries {

  /** The q_search term-pick pattern for ranked retrieval: the
    * corpus's df-rank-10/20/30 terms (mid-frequency — discriminative
    * but with overlapping posting lists), read from the STORED df
    * dictionary (_build_postings/df_lower). df counts DOCS containing
    * the term, matching bm25RankStored's df table and the oracle's ranked
    * CTE, and the per-run pull is a 30-row TakeOrdered over an
    * already-aggregated vocabulary-sized table — no per-run
    * aggregation at all.
    */
  private def searchRankedTermsStored(dfLower: DataFrame): Seq[String] = {
    val top = dfLower
      .orderBy(col("df").desc, col("term")).limit(30).collect()
    Seq(top(9).getString(0), top(19).getString(0), top(29).getString(0))
  }

  /** DuckDB mirror of Relevance.bm25RankStored over the documents corpus
    * with the df-rank-10/20/30 query terms: identical integer BM25
    * (k1 = 2, b = 3/4 multiplied through by 4·avgdl, rational idf).
    * Shared by q_search_ranked and q_rrf_fusion.
    */
  private def bm25LexCtes: String =
    """WITH tok AS MATERIALIZED (
      |  SELECT doc_id, word AS term FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |    FROM documents) t
      |  WHERE regexp_matches(word, '^[a-z]+$')),
      |tf AS MATERIALIZED (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT
      |  (SELECT COUNT(*) FROM documents) AS n_docs,
      |  (SELECT COUNT(*) FROM tok) // (SELECT COUNT(*) FROM documents)
      |    AS avgdl),
      |qterms AS (SELECT term, df FROM (
      |  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
      |  FROM dfx) r WHERE rn IN (10, 20, 30)),
      |scored AS (
      |  SELECT tf.doc_id,
      |    CAST(SUM(((1000 * tf.tf * 3 * 4 * avgdl)
      |        // (4 * avgdl * tf.tf + 2 * (avgdl + 3 * dl.dl)))
      |      * ((1000000 * (n_docs - q.df)) // (n_docs + q.df)))
      |      AS BIGINT) AS score_nano,
      |    COUNT(*) AS n_hit_terms
      |  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id), stats
      |  GROUP BY 1)""".stripMargin

  /** Shared unrolled DuckDB mirror of Bpe.induceMergesFromTerms: `merges`
    * rounds of pair-count → deterministic argmax → doubled-delimiter
    * replace, generated mechanically per round the way q_pagerank's
    * oracle unrolls its iterations. Same tie-break (count desc, lhs,
    * rhs), same overlap-inclusive adjacent-pair counting, same
    * leftmost non-overlapping replace — so the merge tables
    * hash-match. Yields CTEs `words0..wordsN` and `b1..bN` for the
    * vocab and tokenize oracles to build on.
    */
  private def bpeInductionCtes(merges: Int): String = {
    // MATERIALIZED is load-bearing: each wordsN is referenced twice
    // (pair count + next round's replace), and letting DuckDB inline
    // the chain re-evaluates it per reference — measured 42.7 s vs
    // 0.2 s at sf0.01 for identical results.
    val base =
      """WITH words0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', '•\1•', 'g') AS w,
        |    COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents) t
        |  WHERE regexp_matches(word, '^[a-z]+$')
        |  GROUP BY 1)""".stripMargin
    val rounds = (1 to merges).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq, syms, generate_subscripts(syms, 1) AS i
         |        FROM (SELECT freq,
         |                string_split(trim(w, '•'), '••') AS syms
         |              FROM words${r - 1}) s$r) e$r
         |  WHERE i < len(syms)
         |  GROUP BY 1, 2
         |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |words$r AS MATERIALIZED (
         |  SELECT replace(w, '•' || lhs || '••' || rhs || '•',
         |    '•' || lhs || rhs || '•') AS w, freq
         |  FROM words${r - 1}, b$r)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    base + rounds
  }

  private def bpeOracleSql(merges: Int): String = {
    val out = (1 to merges).map { r =>
      s"SELECT $r AS merge_round, lhs, rhs, lhs || rhs AS merged," +
        s" pair_count FROM b$r"
    }.mkString("\nUNION ALL ")
    bpeInductionCtes(merges) + out + "\nORDER BY merge_round"
  }

  /** Mirror of Bpe.tokenizeTermsWith: re-run the unrolled induction, then
    * chain the per-round replaces over a (source, word) frequency
    * table and account tokens per source — all integer.
    */
  private def bpeTokenizeOracleSql(merges: Int): String = {
    val src0 =
      """src0 AS MATERIALIZED (
        |  SELECT source, word,
        |    regexp_replace(word, '(.)', '•\1•', 'g') AS w,
        |    COUNT(*) AS freq
        |  FROM (SELECT source,
        |          unnest(string_split(lower(text), ' ')) AS word
        |        FROM documents) t
        |  WHERE regexp_matches(word, '^[a-z]+$')
        |  GROUP BY 1, 2, 3)""".stripMargin
    val applies = (1 to merges).map { r =>
      s"""src$r AS MATERIALIZED (
         |  SELECT source, word, replace(w, '•' || lhs || '••' || rhs || '•',
         |    '•' || lhs || rhs || '•') AS w, freq
         |  FROM src${r - 1}, b$r)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    val agg =
      s"""SELECT source,
         |  CAST(SUM(freq) AS BIGINT) AS n_words,
         |  CAST(COUNT(*) AS BIGINT) AS n_word_forms,
         |  CAST(SUM(freq * length(word)) AS BIGINT) AS base_symbols,
         |  CAST(SUM(freq * len(string_split(trim(w, '•'), '••')))
         |    AS BIGINT) AS bpe_tokens,
         |  (1000 * CAST(SUM(freq * len(string_split(trim(w, '•'), '••')))
         |      AS BIGINT))
         |    // CAST(SUM(freq * length(word)) AS BIGINT)
         |    AS compression_pml
         |FROM src$merges
         |GROUP BY source
         |ORDER BY source""".stripMargin
    bpeInductionCtes(merges) + ",\n" + src0 + applies + agg
  }

  /** Build-once memoization of the tokenized-corpus STREAM tables
    * (round-13 verdict #2: the steepest 10×-data rows — text_oov
    * 6.8×, q_skipgram_pmi 6.1×, q_source_overlap 7.2× — each re-ran
    * the split + zip + explode front end over the raw text per
    * query). One tokenize pass per dataset dir writes positional
    * postings + the d ∈ {1,2} word-pair stream; eleven text-family
    * consumers become columnar scans of the stored stream with their
    * aggregation pipelines (and outputs) unchanged. Since r15 the
    * build also derives the bigram-df dictionary and the per-source
    * bigram vocabularies (corpus-constant per snapshot), so text_oov
    * and q_source_overlap start vocabulary-sized instead of paying a
    * corpus-wide distinct + df aggregation per query. See
    * [[operators.Postings]].
    */
  private val postingsDir = Stored.table("_build_postings") { (s, dir, p) =>
    operators.Postings.build(Tables.documents(s, dir),
      "doc_id", "source", "text", p)
  }

  private def tokensOf(s: SparkSession, dir: String): DataFrame =
    operators.Postings.tokens(s, postingsDir(s, dir))

  private def pairsOf(s: SparkSession, dir: String, d: Int): DataFrame =
    operators.Postings.pairs(s, postingsDir(s, dir), d)

  /** Induce-once memoization of the BPE merge table per corpus dir
    * (10 merges) — induction is deterministic, so vocab emission and
    * tokenize application consume ONE model (the ivfModel shape:
    * induction is training, application is serving).
    */
  private val bpeMerges = Stored("_build_bpe_merges", postingsDir) {
    (s, dir) =>
      // induction's word-frequency front end reads the STORED
      // positional postings instead of re-splitting corpus text (r17,
      // guide §2.4): tokens IS split(text, " ") row-per-occurrence
      // (Postings.build), and lowering per token ≡ lowering the text
      // before the split — BpeSpec checks the merges against a
      // plain-Scala model over the real corpus
      operators.Bpe.induceMergesFromTerms(
        tokensOf(s, dir).select(col("term").as("word")), 10)
  }

  val all: Seq[Query] = Seq(
    Query("q_top_terms",
      """WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT source, word, COUNT(*) AS n FROM w GROUP BY source, word),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |                                   ORDER BY n DESC, word) AS rnk FROM c)
        |SELECT source, word, n, rnk FROM r WHERE rnk <= 5""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("word"))
      counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
    }),

    // corpus-wide TF-IDF (rational idf, integer micro units — see
    // operators.Relevance for the engine-portability rationale).
    // Serves from the STORED tf_raw/df_raw tables (_build_postings,
    // r16 verdict task 3): the per-run plan starts (doc, term)-sized
    // instead of re-aggregating the token stream, and the dictionary
    // is a map-only df_raw projection instead of a corpus-wide
    // distinct. n_docs still counts the documents table itself
    // (footer-only count) so tokenless docs stay in the idf
    // denominator.
    Query("q_tfidf",
      // rational-idf TF-IDF in integer micro units: BIGINT floor
      // division mirrors Spark's `div` exactly
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    (1000000 * t.tf * n.n_docs) // (d.dl * f.df) AS score_micro
        |  FROM tf t
        |  JOIN dl d USING (doc_id)
        |  JOIN df f USING (term)
        |  CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score_micro DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, rank, CAST(score_micro AS BIGINT) AS score_micro
        |FROM ranked WHERE rank <= 3""".stripMargin, uses = Seq(postingsDir))((s, dir) =>
      Relevance.salientTermsStored(s, postingsDir(s, dir),
        Tables.documents(s, dir).agg(count(lit(1)).as("n_docs")), 3)),

    // dictionary phrase tagging (the gazetteer/NER-dictionary pass):
    // the corpus's top-20 bigram phrases matched against every
    // document via TERM-FILTERED positional postings — tokens survive
    // only if they open some dictionary phrase (broadcast of the
    // bounded dict), then one (doc, pos) equi-join checks the second
    // word; mentions counted per (doc, phrase). Never a LIKE scan,
    // never a corpus-wide positional self-join.
    Query("q_phrase_tag",
      // same top-20 bigram dictionary; the match is one positional
      // self-join restricted to dictionary openers
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT a.word AS wa, b.word AS wb, COUNT(*) AS n
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |dict AS (
        |  SELECT wa, wb, wa || ' ' || wb AS phrase FROM bg
        |  ORDER BY n DESC, wa, wb LIMIT 20)
        |SELECT x.doc_id, d.phrase, COUNT(*) AS n_mentions
        |FROM w x
        |JOIN dict d ON x.word = d.wa
        |JOIN w y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
        |  AND y.word = d.wb
        |GROUP BY 1, 2""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // bigram dict and positional postings both serve from the
      // stored token/pair streams (_build_postings) — no re-tokenize
      val bi = pairsOf(s, dir, 1)
        .select(col("w_a").as("wa"), col("w_b").as("wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("n"))
      val dict = bi.orderBy(col("n").desc, col("wa"), col("wb"))
        .limit(20)
        .select(col("wa"), col("wb"),
          concat_ws(" ", col("wa"), col("wb")).as("phrase"))
      val tok = tokensOf(s, dir)
        .select(col("doc_id"), col("pos"), col("term").as("w"))
      tok.join(broadcast(dict), col("w") === col("wa"))
        .select(col("doc_id"), col("pos"), col("phrase"), col("wb"))
        .join(tok.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("w").as("w2")), Seq("doc_id", "pos"))
        .filter(col("w2") === col("wb"))
        .groupBy(col("doc_id"), col("phrase"))
        .agg(count(lit(1)).as("n_mentions"))
    }),

    // skip-gram PMI co-occurrence (window ±2, unordered pairs): the
    // word-association matrix behind PPMI embeddings —
    // lift = P(ab)/(P(a)P(b)) = n_ab·N² / (T·n_a·n_b) in exact
    // integer micro units, DECIMAL(38,0) numerators (the
    // q_collocations envelope rule); pair generation is a MAP-ONLY
    // zip of each doc's token array against its 1- and 2-shifted
    // tails, so only pair counts ever shuffle
    Query("q_skipgram_pmi",
      // positional window join |Δpos| ∈ {1,2} with least/greatest
      // canonicalization; HUGEINT mirrors the DECIMAL(38,0) numerators
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |pr AS (
        |  SELECT least(a.word, b.word) AS w_a,
        |    greatest(a.word, b.word) AS w_b
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id
        |    AND b.pos - a.pos IN (1, 2)),
        |co AS (SELECT w_a, w_b, COUNT(*) AS n_ab FROM pr GROUP BY 1, 2),
        |uni AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tok FROM uni),
        |tp AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS t_pairs FROM co)
        |SELECT w_a, w_b, n_ab,
        |  CAST((CAST(1000000 AS HUGEINT) * n_ab * n_tok * n_tok)
        |    // (CAST(t_pairs AS HUGEINT) * ua.n * ub.n) AS BIGINT)
        |    AS pmi_lift_micro
        |FROM co
        |JOIN uni ua ON ua.word = w_a
        |JOIN uni ub ON ub.word = w_b
        |CROSS JOIN tot CROSS JOIN tp
        |WHERE n_ab >= 3
        |ORDER BY pmi_lift_micro DESC, w_a, w_b LIMIT 50""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // the ±2 window is exactly the stored d ∈ {1,2} pair stream
      // (_build_postings); unordered-pair canonicalization happens
      // map-side over the columnar scan
      val co = operators.Postings.pairsAll(s, postingsDir(s, dir))
        .select(least(col("w_a"), col("w_b")).as("w_a"),
          greatest(col("w_a"), col("w_b")).as("w_b"))
        .groupBy("w_a", "w_b").agg(count(lit(1)).as("n_ab"))
      val uni = tokensOf(s, dir).select(col("term").as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      // vocabulary-sized tables: no broadcast hint (Heaps-law growth —
      // the q_lm_score rule); the two 1-row totals do broadcast
      val tot = uni.agg(sum(col("n")).cast(LongType).as("n_tok"))
        .crossJoin(co.agg(sum(col("n_ab")).cast(LongType).as("t_pairs")))
      co.join(uni.select(col("w").as("w_a"), col("n").as("n_a")), "w_a")
        .join(uni.select(col("w").as("w_b"), col("n").as("n_b")), "w_b")
        .crossJoin(broadcast(tot))
        .filter(col("n_ab") >= 3)
        .select(col("w_a"), col("w_b"), col("n_ab"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_tok" +
            " * n_tok) div (CAST(t_pairs AS DECIMAL(38,0)) * n_a * n_b)" +
            " AS BIGINT)").as("pmi_lift_micro"))
        .orderBy(col("pmi_lift_micro").desc, col("w_a"), col("w_b"))
        .limit(50)
    }),

    // collocation mining (the n-gram-LM/tokenizer-vocabulary signal):
    // top bigrams by count with integer lift — P(ab)/(P(a)P(b))
    // simplified to (1e6·n_ab·n_w) div (n_a·n_b), all exact integers.
    // Bigrams come from a MAP-ONLY zip of each document's own token
    // array with its tail (no positional self-join, nothing but the
    // bigram counts ever shuffles); unigram counts are vocabulary-
    // sized and broadcast twice. BIGINT envelope: n_ab·n_w ≤ 9.2e12 —
    // past that, accumulate the product in DECIMAL(38,0) like
    // q_moments.
    Query("q_collocations",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |bi AS (
        |  SELECT a.word AS w_a, b.word AS w_b, COUNT(*) AS n_ab
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |uni AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_w FROM uni)
        |SELECT w_a, w_b, n_ab,
        |  (1000000 * n_ab * n_w) // (ua.n * ub.n) AS lift_micro
        |FROM bi
        |JOIN uni ua ON ua.word = w_a
        |JOIN uni ub ON ub.word = w_b
        |CROSS JOIN tot
        |ORDER BY n_ab DESC, w_a, w_b
        |LIMIT 20""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // adjacent bigrams and unigrams serve from the stored streams
      // (_build_postings): two columnar scans, zero re-tokenization
      val bi = pairsOf(s, dir, 1)
        .select(col("w_a"), col("w_b"))
        .groupBy("w_a", "w_b").agg(count(lit(1)).as("n_ab"))
      val uni = tokensOf(s, dir).select(col("term").as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val tot = uni.agg(sum(col("n")).cast(LongType).as("n_w"))
      bi.join(broadcast(uni.select(col("w").as("w_a"), col("n").as("n_a"))), "w_a")
        .join(broadcast(uni.select(col("w").as("w_b"), col("n").as("n_b"))), "w_b")
        .crossJoin(broadcast(tot))
        .select(col("w_a"), col("w_b"), col("n_ab"),
          // DECIMAL operands: 1e6·n_ab·n_w crosses 2^63 once pair
          // count × corpus tokens reaches ~9e12 (trivially true at
          // 100 TB); the oracle's HUGEINT arithmetic never wrapped,
          // so BIGINT here would diverge silently at scale
          expr("(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_w)" +
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_micro"))
        .orderBy(col("n_ab").desc, col("w_a"), col("w_b"))
        .limit(20)
    }),

    // BPE vocabulary induction, engine-exact: 10 fixed merge rounds
    // over integer pair counts with a deterministic tie-break (the
    // q_pagerank unrolled-rounds oracling pattern). The greedy
    // leftmost merge application is a plain string replace over a
    // doubled-delimiter word encoding — see operators/Bpe.scala.
    Query("q_bpe_vocab", bpeOracleSql(10), uses = Seq(bpeMerges))((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir).toDF().orderBy(col("merge_round"))
    }),

    // the induced vocabulary APPLIED: per-source token accounting
    // under 10 learned merges — the "how many training tokens does
    // each source contribute" pass. The driver-held merge list
    // unrolls into 10 literal replaces inside one codegen'd map-only
    // projection over the (source, word) frequency table, so apply
    // cost is O(vocab), never O(corpus) — and the merge table itself
    // is induced ONCE per corpus (bpeMerges: train once, apply
    // many — the ivfModel serving shape).
    Query("q_bpe_tokenize", bpeTokenizeOracleSql(10), uses = Seq(postingsDir, bpeMerges))((s, dir) =>
      // the (source, word) frequency table comes from the STORED
      // token stream (r17, §2.4 — see bpeMerges); same multiset as
      // re-splitting the text, spec-gated, output unchanged
      operators.Bpe.tokenizeTermsWith(
        tokensOf(s, dir).select(col("source"), col("term").as("word")),
        bpeMerges(s, dir))),

    // keyword-in-context (KWIC) concordance: every occurrence of the
    // corpus's top length ≥ 6 term with its ±3-token window — the
    // search-result-snippet / corpus-linguistics primitive. The probe
    // term is one 1-row broadcast; extraction is a map-only
    // posexplode + slice over the token array (1-based, explicit
    // clamps, so Spark slice ≡ DuckDB list_slice exactly). Hits are
    // term-df-bounded.
    Query("q_kwic",
      // 1-based list_slice with the same explicit clamps as the Spark
      // slice arithmetic
      """WITH tf AS (
        |  SELECT word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents) u
        |  WHERE length(word) >= 6 GROUP BY word),
        |term AS (SELECT word AS term FROM tf ORDER BY n DESC, word
        |  LIMIT 1),
        |x AS (
        |  SELECT doc_id, toks, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents) d)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  array_to_string(list_slice(toks, greatest(pos - 3, 1),
        |    least(pos + 3, len(toks))), ' ') AS snippet
        |FROM x, term WHERE w = term""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val term = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 6)
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(1)
        .select(col("w").as("term"))
      docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(col("toks")).as(Seq("p0", "w")))
        .crossJoin(broadcast(term))
        .filter(col("w") === col("term"))
        .select(col("doc_id"), (col("p0") + 1).as("pos"),
          array_join(slice(col("toks"),
            greatest(col("p0") + 1 - 3, lit(1)),
            least(col("p0") + 1 + 3, size(col("toks")))
              - greatest(col("p0") + 1 - 3, lit(1)) + 1), " ")
            .as("snippet"))
    }),

    // VOCABULARY COVERAGE curve: what share of corpus token mass the
    // top-k terms cover, for k ∈ {100, 1000, 10000} — the report
    // that sizes a tokenizer vocabulary (C52's BPE budget) before
    // induction; three bounded top-k sums + one 1-row total, never a
    // corpus-scale rank window.
    Query("q_vocab_coverage",
      """WITH tf AS (
        |  SELECT w, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents) u
        |  GROUP BY w),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tok FROM tf),
        |ks AS (
        |  SELECT CAST(100 AS BIGINT) AS k, CAST(SUM(n) AS BIGINT)
        |    AS top_mass
        |  FROM (SELECT n FROM tf ORDER BY n DESC, w LIMIT 100) s
        |  UNION ALL
        |  SELECT 1000, CAST(SUM(n) AS BIGINT)
        |  FROM (SELECT n FROM tf ORDER BY n DESC, w LIMIT 1000) s
        |  UNION ALL
        |  SELECT 10000, CAST(SUM(n) AS BIGINT)
        |  FROM (SELECT n FROM tf ORDER BY n DESC, w LIMIT 10000) s)
        |SELECT k, top_mass, n_tok,
        |  (1000 * top_mass) // n_tok AS coverage_permille
        |FROM ks, tot""".stripMargin)((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .persist()
      tf.count() // eager: 3 top-k sums + the total read it
      val tot = tf.agg(sum(col("n")).cast(LongType).as("n_tok"))
      val ks = Seq(100, 1000, 10000).map { k =>
        tf.orderBy(col("n").desc, col("w")).limit(k)
          .agg(lit(k.toLong).as("k"),
            sum(col("n")).cast(LongType).as("top_mass"))
      }.reduce(_.unionByName(_))
      // 3-row checkpoint, then drop the term-frequency pin
      val out = ks.crossJoin(broadcast(tot))
        .select(col("k"), col("top_mass"), col("n_tok"),
          expr("(1000 * top_mass) div n_tok").as("coverage_permille"))
        .localCheckpoint(true)
      tf.unpersist(blocking = false)
      out
    }),

    // TRENDING TERMS: the top-20 ≥6-char terms by volume, each with
    // its integer OLS slope over daily counts (the B79 moment
    // discipline per term, x centered on the corpus min day) — the
    // "what's rising" text-analytics report; daily per-term counts
    // only exist for the broadcast-bounded dictionary.
    Query("q_keyword_trend",
      // the synthetic md5 clock + per-term B79 moments; HUGEINT mirror
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 30 AS day,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tk AS (SELECT * FROM tok WHERE length(w) >= 6),
        |top AS (
        |  SELECT w, COUNT(*) AS n_total FROM tk GROUP BY w
        |  ORDER BY n_total DESC, w LIMIT 20),
        |daily AS (
        |  SELECT tk.w, top.n_total, tk.day, COUNT(*) AS c
        |  FROM tk JOIN top USING (w) GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT w, n_total, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(day AS HUGEINT)) AS sx, SUM(CAST(c AS HUGEINT)) AS sy,
        |    SUM(CAST(day AS HUGEINT) * c) AS sxy,
        |    SUM(CAST(day AS HUGEINT) * day) AS sxx
        |  FROM daily GROUP BY 1, 2)
        |SELECT w AS term, n_total,
        |  CAST((1000000 * (n * sxy - sx * sy))
        |    // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
        |FROM m WHERE n * sxx - sx * sx <> 0""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val docs = Tables.documents(s, dir)
      // documents carry no timestamps: day = a deterministic md5 hash
      // of doc_id into a 30-day window (the synthetic-clock rule used
      // for engine-common reproducibility)
      val tok = docs.select(col("doc_id"),
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast(LongType), lit(30L)).as("day"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 6)
      val top = tok.groupBy(col("w")).agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("w")).limit(20)
      val daily = tok.join(broadcast(top), "w")
        .groupBy(col("w"), col("n_total"), col("day"))
        .agg(count(lit(1)).as("c"))
      daily.select(col("w"), col("n_total"),
          col("day").cast(d38).as("x"), col("c").cast(d38).as("y"))
        .groupBy(col("w"), col("n_total"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(expr("n * sxx - sx * sx <> 0"))
        .select(col("w").as("term"), col("n_total"),
          expr("CAST((1000000 * (n * sxy - sx * sy))" +
            " div (n * sxx - sx * sx) AS BIGINT)").as("slope_micro"))
    }),

    // integer Flesch-Kincaid readability: sentences from non-empty
    // '.'-units, syllables ≈ vowel runs (count of 'V' markers after
    // the [aeiou]+ collapse — lower() first, so every marker is
    // synthetic), grade in exact centi-units with floor divisions.
    // Map-only over the corpus; regex is a shared-dialect character
    // class, engine-parity-safe.
    Query("q_readability",
      """WITH r AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text, '.'),
        |      x -> trim(x) <> '')) AS BIGINT) AS n_sentences,
        |    regexp_replace(lower(text), '[aeiou]+', 'V', 'g') AS rv
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_words, n_sentences,
        |    CAST(len(rv) - len(replace(rv, 'V', '')) AS BIGINT)
        |      AS n_syllables
        |  FROM r)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  (39 * n_words) // greatest(n_sentences, 1)
        |    + (1180 * n_syllables) // greatest(n_words, 1)
        |    - 1559 AS fk_centi
        |FROM s""".stripMargin)((s, dir) => {
      val rv = regexp_replace(lower(col("text")), "[aeiou]+", "V")
      Tables.documents(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_words"),
          size(filter(split(col("text"), "\\."),
            x => length(trim(x)) > 0)).cast(LongType).as("n_sentences"),
          (length(rv) - length(regexp_replace(rv, "V", "")))
            .cast(LongType).as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          (expr("(39 * n_words) div greatest(n_sentences, 1)") +
            expr("(1180 * n_syllables) div greatest(n_words, 1)") -
            lit(1559L)).as("fk_centi"))
    }),

    // bigram language-model fluency score, integer-exact: per doc,
    // the MEAN conditional probability P(w2|w1) over its adjacent
    // word pairs in micro units (corpus-estimated counts, floor
    // division) — the n-gram-LM quality signal (high = made of
    // common continuations, low = improbable word sequences) beside
    // text_oov's novelty and q_collocations' corpus-level lift. One
    // corpus scan builds both count tables; the bigram table joins
    // on (w1, w2), the unigram table broadcasts.
    Query("q_lm_score",
      // same corpus-estimated bigram/unigram counts, same micro-unit
      // floor-division conditional probabilities, same per-doc mean
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS pos, w
        |  FROM d WHERE len(w) >= 2),
        |p AS (SELECT doc_id, w[pos] AS w1, w[pos + 1] AS w2 FROM s0),
        |bg AS (SELECT w1, w2, COUNT(*) AS n12 FROM p GROUP BY 1, 2),
        |ug AS (SELECT w1, COUNT(*) AS n1 FROM p GROUP BY 1),
        |sc AS (
        |  SELECT p.doc_id, bg.n12 * 1000000 // ug.n1 AS p_micro
        |  FROM p JOIN bg USING (w1, w2) JOIN ug USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS lm_micro
        |FROM sc GROUP BY doc_id""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // The pair stream carries ONLY fixed-width keys: a pair hash
      // (xxhash64 over both words) with both word lengths as the
      // collision guard, plus the w1 hash for the unigram derivation
      // — word strings never leave the scan (the C1 key discipline;
      // the output is per-doc integers, so strings are never needed).
      // The adjacent pairs themselves serve from the stored d=1
      // stream (_build_postings); hashing stays map-side on the scan.
      val pairs = pairsOf(s, dir, 1)
        .select(col("doc_id"),
          xxhash64(col("w_a"), col("w_b")).as("ph"),
          length(col("w_a")).as("pl"), length(col("w_b")).as("pl2"),
          xxhash64(col("w_a")).as("uh"))
      val bg = pairs.groupBy(col("ph"), col("pl"), col("pl2"))
        .agg(count(lit(1)).as("n12"), max(col("uh")).as("uh"))
      // ug is DERIVED from bg — ug(w1) counts pairs grouped by w1,
      // which is exactly Σ_w2 n12(w1, w2) — so the unigram table
      // costs one vocabulary-sized agg over the already-built bigram
      // table instead of a third tokenize+explode pass over the
      // corpus. (uh, pl) is the w1 key: uh alone suffices, pl rides
      // along as the same collision guard the pair key uses.
      val ug = bg.groupBy(col("uh"), col("pl")).agg(sum(col("n12")).as("n1"))
      // Per-PAIR scores materialize on the vocabulary-sized table
      // first, so the corpus-scale pair stream takes exactly ONE
      // exchange (the score join); both count-table joins are
      // SHUFFLE_HASH, never broadcast — vocabulary grows with the
      // corpus (Heaps' law) and the measured broadcast build
      // dominated wall. A/B at 1x/5x/10x data, warm wall / shuffle:
      // string-keyed 1.12/2.84/5.34 s, 5.7/31.2/63.9 MB vs this
      // shape 0.90/2.00/3.72 s, 2.2/11.9/25.2 MB — identical output.
      val sc = bg.join(ug.hint("shuffle_hash"), Seq("uh", "pl"))
        .select(col("ph"), col("pl"), col("pl2"),
          expr("n12 * 1000000 div n1").as("p_micro"))
      pairs.select(col("doc_id"), col("ph"), col("pl"), col("pl2"))
        .join(sc.hint("shuffle_hash"), Seq("ph", "pl", "pl2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_micro) div count(1)").as("lm_micro"))
    }),

    // novelty/noise signal: the share of a document's bigrams that
    // appear NOWHERE else in the corpus (corpus-df = 1), in permille.
    // Boilerplate scores near 0, unique prose near 1000 — the cheap
    // n-gram-LM surprise proxy that stays integer-exact. Bigram df is
    // corpus-constant per snapshot, so it lives in the stored
    // bigram_df dictionary; the join-back runs on 16-byte
    // (xxhash64, len) bigram keys — the C1 exact-dedup key
    // discipline — so every exchange moves fixed-width keys, never
    // the bigram STRINGS (the r12 scale sweep measured the
    // string-keyed shape at 3.9× wall on 5× data; bigram text never
    // leaves the build pass that hashed it).
    Query("text_oov",
      // the exact pair set the LSH+verify pipeline must reproduce:
      // planted near-dups (doc_id-derived, mirrored from
      // withPlantedNearDups) + the dedup_jaccard CTEs, uncapped, at the
      // verify threshold. Valid because verified-LSH output is
      // deterministic: every pair at j>=0.5 shares >=1 of 32 two-row
      // bands w.p. >= 1-1e-4 (>= 1-4e-10 at the j>=0.7 this data has).
      // same gaps-trick bigram CTEs; df=1 bigrams are the novelty set
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |bg0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word AS bg
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |bi AS (SELECT DISTINCT doc_id, bg FROM bg0),
        |df AS (SELECT bg, COUNT(*) AS df FROM bi GROUP BY bg)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000
        |    // COUNT(*) AS BIGINT) AS oov_permille
        |FROM bi JOIN df USING (bg) GROUP BY doc_id""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // per-doc distinct bigram keys AND the corpus df dictionary
      // both serve from stored tables (_build_postings/dbigrams +
      // bigram_df): df is corpus-constant per snapshot, so the query
      // is one dictionary join + a per-doc fold — the corpus-wide
      // distinct exchange and df aggregation moved to build time
      val bi = operators.Postings.docBigrams(s, postingsDir(s, dir))
        .select(col("doc_id"), col("bh"), col("bl"))
      val df = operators.Postings.bigramDf(s, postingsDir(s, dir))
      bi.join(df, Seq("bh", "bl"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(when(col("df") === 1, 1L).otherwise(0L)) * 1000 /
            count(lit(1))).cast(LongType).as("oov_permille"))
    }),

    // corpus provenance matrix: for every ordered source pair, the
    // permille of A's distinct bigrams that also occur in B — the
    // cross-corpus contamination/overlap report (decontaminate's
    // shape, all sources at once). The join runs on hashed distinct
    // bigrams per source (vocabulary-sized), never documents.
    Query("q_source_overlap",
      // distinct per-source bigram sets joined on the shared bigram
      """WITH w AS (
        |  SELECT doc_id, source,
        |    unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |bg0 AS (
        |  SELECT a.source, a.word || ' ' || b.word AS bg
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |sb AS (SELECT DISTINCT source, bg FROM bg0),
        |sz AS (SELECT source AS src_a, COUNT(*) AS n_a FROM sb GROUP BY 1),
        |j AS (SELECT x.source AS src_a, y.source AS src_b,
        |        COUNT(*) AS n_shared
        |      FROM sb x JOIN sb y ON x.bg = y.bg AND x.source <> y.source
        |      GROUP BY 1, 2)
        |SELECT j.src_a, j.src_b, j.n_shared,
        |  CAST(j.n_shared * 1000 // sz.n_a AS BIGINT) AS overlap_permille
        |FROM j JOIN sz USING (src_a)""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // the per-source distinct bigram vocabulary is STORED
      // (_build_postings/source_bigrams — 16-byte (xxhash64, len)
      // keys, the C1 discipline), so the query starts
      // vocabulary-sized: the corpus-wide distinct moved to build
      // time and only the all-pairs self-join + counts remain
      val sb = operators.Postings
        .sourceBigrams(s, postingsDir(s, dir))
      val a = sb.select(col("source").as("src_a"), col("bh"), col("bl"))
      val b = sb.select(col("source").as("src_b"), col("bh"), col("bl"))
      val sizes = a.groupBy(col("src_a")).agg(count(lit(1)).as("n_a"))
      a.join(b, Seq("bh", "bl"))
        .filter(col("src_a") =!= col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sizes, "src_a")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          (col("n_shared") * 1000 / col("n_a")).cast(LongType)
            .as("overlap_permille"))
    }),

    // boolean search over an inverted index: AND of two terms answered
    // by intersecting posting lists — doc-id sets per term — instead
    // of scanning text. The query terms pick themselves
    // deterministically (df ranks 3 and 5) so the oracle agrees on
    // them; posting joins are term-filtered BEFORE touching docs, the
    // LIKE-scan a search engine must never do.
    Query("q_search",
      // same deterministic term choice, same posting intersection
      """WITH posting AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |ranked AS (
        |  SELECT term, COUNT(*) AS df,
        |    row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rk
        |  FROM posting GROUP BY term),
        |ta AS (SELECT term AS term_a FROM ranked WHERE rk = 3),
        |tb AS (SELECT term AS term_b FROM ranked WHERE rk = 5)
        |SELECT pa.doc_id, ta.term_a, tb.term_b
        |FROM posting pa JOIN ta ON pa.term = ta.term_a
        |JOIN posting pb ON pb.doc_id = pa.doc_id
        |JOIN tb ON pb.term = tb.term_b""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // the inverted index IS the stored per-doc-distinct stream
      // (_build_postings/dtokens — distinct computed in-array at
      // build, so df stays a vocabulary-sized agg and the two
      // term-filtered posting reads are pushed-predicate scans)
      val posting = operators.Postings
        .distinctTokens(s, postingsDir(s, dir))
        .select(col("doc_id"), col("term"))
      // the two query terms (df ranks 3 and 5) via a distributed
      // top-k (TakeOrderedAndProject) + a 5-row driver pull — the
      // bounded-model pattern (IVF centroids), where a global
      // row_number window would single-task the whole vocabulary
      val top = posting.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term"))
        .limit(5).select(col("term")).collect().map(_.getString(0))
      val (termA, termB) = (top(2), top(4))
      posting.filter(col("term") === termA)
        .select(col("doc_id"), lit(termA).as("term_a"))
        .join(posting.filter(col("term") === termB)
          .select(col("doc_id").as("doc_id_b"), lit(termB).as("term_b")),
          col("doc_id") === col("doc_id_b"))
        .select(col("doc_id"), col("term_a"), col("term_b"))
    }),

    // positional PHRASE search — the retrieval family's exact-match
    // member (boolean q_search → ranked q_search_ranked → fused
    // q_rrf_fusion → phrase): adjacent-position intersection of two
    // posting lists. The phrase pick (the corpus's rank-5 bigram,
    // deterministic tie-break) is a TakeOrdered(5) + bounded driver
    // pull; the positional postings are TERM-FILTERED before the
    // (doc, pos) equi-join — two narrow scans and one
    // selectivity-bounded join, never a positional self-join of the
    // whole corpus.
    Query("q_phrase",
      // same rank-5 bigram pick (count desc, then lexicographic), same
      // 1-based positions, same adjacent-position intersection
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w) - 1)) AS pos, w
        |  FROM d WHERE len(w) >= 2),
        |bi AS (SELECT w[pos] AS wa, w[pos + 1] AS wb FROM s0),
        |pick AS (
        |  SELECT wa, wb FROM (
        |    SELECT wa, wb, COUNT(*) AS n FROM bi GROUP BY wa, wb) t
        |  ORDER BY n DESC, wa, wb LIMIT 1 OFFSET 4),
        |hits AS (
        |  SELECT s.doc_id, s.pos
        |  FROM s0 s, pick p
        |  WHERE s.w[s.pos] = p.wa AND s.w[s.pos + 1] = p.wb)
        |SELECT doc_id, COUNT(*) AS n_hits,
        |  CAST(MIN(pos) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      // bigram picks and positional postings both serve from the
      // stored streams (_build_postings)
      val bi = pairsOf(s, dir, 1)
        .select(col("w_a").as("wa"), col("w_b").as("wb"))
        .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n"))
      val picks = bi.orderBy(col("n").desc, col("wa"), col("wb"))
        .limit(5).collect()
      if (picks.length < 5) {
        // fewer than 5 distinct bigrams: the oracle's LIMIT 1 OFFSET 4
        // returns no row, so agree by returning the empty frame with
        // the query's schema (rather than silently picking a
        // lower-rank bigram, or throwing on an empty corpus)
        Tables.documents(s, dir).select(col("doc_id")).limit(0)
          .withColumn("n_hits", lit(0L))
          .withColumn("first_pos", lit(0L))
      } else {
        val pick = picks.last
        val (wa, wb) = (pick.getString(0), pick.getString(1))
        val tok = tokensOf(s, dir)
          .select(col("doc_id"), col("pos"), col("term").as("w"))
        val pa = tok.filter(col("w") === wa)
          .select(col("doc_id"), col("pos"))
        val pb = tok.filter(col("w") === wb)
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        pa.join(pb, Seq("doc_id", "pos"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_hits"),
            (min(col("pos")) + 1).cast(LongType).as("first_pos"))
      }
    }),

    // RANKED retrieval over the same inverted index: real BM25 shape
    // (saturating tf, b=3/4 length normalization, RSJ-monotone idf)
    // in pure integer arithmetic so both engines score identically —
    // see Relevance.bm25RankStored. Query terms pick themselves at df ranks
    // 10/20/30 (mid-frequency — discriminative, overlapping posting
    // lists) via the same bounded top-k pull q_search uses.
    Query("q_search_ranked", (bm25LexCtes +
      """,
        |lex AS (SELECT doc_id, score_nano, n_hit_terms FROM scored
        |        ORDER BY score_nano DESC, doc_id LIMIT 10)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY score_nano DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  score_nano, n_hit_terms
        |FROM lex""".stripMargin), uses = Seq(postingsDir))((s, dir) => {
      // Since r16 the whole lexical side serves from the STORED BM25
      // index tables (_build_postings: tf_lower / dl_lower / the
      // df_lower dictionary): term picks are a 30-row TakeOrdered
      // over the stored dictionary and scoring reads only the query
      // terms' posting lists (term filter pushed to the parquet
      // scan) — nothing token-scale aggregates per run. n_docs still
      // counts the documents table (footer-only) so tokenless docs
      // stay in the idf. RelevanceSpec checks the scores against a
      // plain-Scala BM25 model.
      val p = postingsDir(s, dir)
      operators.Relevance.bm25RankStored(s, p,
        Tables.documents(s, dir).agg(count(lit(1)).as("n_docs")),
        searchRankedTermsStored(operators.Postings.dfLower(s, p)), k = 10)
    }),

    // hybrid retrieval's standard merge: reciprocal-rank fusion of
    // the BM25 lexical top-20 with the cosine vector top-20 (query =
    // embedding 1; vec_id embeds doc_id in this corpus), scored in
    // exact integer micro units — Σ 10⁶ div (60 + rank). Ids surfaced
    // by only one system keep their one-sided score: that coverage
    // union is what makes RRF robust when the systems disagree.
    Query("q_rrf_fusion", (bm25LexCtes +
      """,
        |lex AS (SELECT doc_id AS id,
        |    CAST(row_number() OVER (ORDER BY score_nano DESC, doc_id)
        |      AS BIGINT) AS lex_rank
        |  FROM (SELECT * FROM scored
        |        ORDER BY score_nano DESC, doc_id LIMIT 20) s),
        |d AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |nrms AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM d GROUP BY vec_id),
        |dots AS (
        |  SELECT x.vec_id AS id, SUM(q.v*x.v) AS dp
        |  FROM d q JOIN d x ON q.i = x.i AND q.vec_id = 1 AND x.vec_id <> 1
        |  GROUP BY x.vec_id),
        |sims AS (
        |  SELECT id, dp / (nq.nrm * nx.nrm) AS sim
        |  FROM dots JOIN nrms nq ON nq.vec_id = 1
        |  JOIN nrms nx ON nx.vec_id = id),
        |vec AS (SELECT id,
        |    CAST(row_number() OVER (ORDER BY sim DESC, id) AS BIGINT)
        |      AS vec_rank
        |  FROM (SELECT * FROM sims ORDER BY sim DESC, id LIMIT 20) v)
        |SELECT COALESCE(l.id, v.id) AS id, l.lex_rank AS lex_rank,
        |  v.vec_rank AS vec_rank,
        |  COALESCE(1000000 // (60 + l.lex_rank), 0)
        |    + COALESCE(1000000 // (60 + v.vec_rank), 0) AS rrf_micro
        |FROM lex l FULL OUTER JOIN vec v ON l.id = v.id
        |ORDER BY rrf_micro DESC, id LIMIT 10""".stripMargin), uses = Seq(postingsDir))((s, dir) => {
      // lexical side serves from the stored BM25 index tables, like
      // q_search_ranked
      val p = postingsDir(s, dir)
      val lex = operators.Relevance.bm25RankStored(s, p,
        Tables.documents(s, dir).agg(count(lit(1)).as("n_docs")),
        searchRankedTermsStored(operators.Postings.dfLower(s, p)), k = 20)
      val vec = operators.Similarity.bruteForceTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryMaxId = 1, k = 20)
        .filter(col("q_id") === 1)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      operators.Relevance.rrfFuse(lex, vec, "doc_id", "rank", k = 10)
        .select(col("id"), col("rank_a").as("lex_rank"),
          col("rank_b").as("vec_rank"), col("rrf_micro"))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    // over the word co-occurrence graph — ±2-window pairs with
    // n_ab ≥ 2 become symmetric edges between md5-prefix word nodes
    // (engine-common ids, so the whole iteration hash-oracles through
    // the q_pagerank unrolled-rounds mirror), ranked by the SAME
    // bounded-round integer loop as B47; top-20 keywords join back
    // through the vocabulary-sized dictionary. Since r16 both corpus
    // front ends serve from the STORED postings streams
    // (_build_postings): the ±2 co-occurrence window is exactly the
    // stored d ∈ {1,2} pair stream (the q_skipgram_pmi shape —
    // unordered-pair canonicalization happens map-side over the
    // columnar scan, identical multiset to the inline least/greatest
    // zip), and the dictionary is the per-doc-distinct token stream
    // distinct'd corpus-wide. The per-run plan no longer re-tokenizes
    // the corpus: it starts from two columnar scans and only
    // vocabulary-bounded counts ever shuffle.
    Query("q_textrank",
      // the q_pagerank unrolled mirror over md5-hashed word nodes; the
      // co-occurrence edge CTE is the q_skipgram positional join
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |co AS (
        |  SELECT least(a.word, b.word) AS w_a,
        |    greatest(a.word, b.word) AS w_b, COUNT(*) AS n_ab
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id
        |    AND b.pos - a.pos IN (1, 2)
        |  GROUP BY 1, 2),
        |cf AS (SELECT w_a, w_b FROM co WHERE n_ab >= 2 AND w_a <> w_b),
        |e AS (
        |  SELECT CAST('0x' || substr(md5(w_a), 1, 15) AS BIGINT) AS src,
        |    CAST('0x' || substr(md5(w_b), 1, 15) AS BIGINT) AS dst
        |  FROM cf
        |  UNION
        |  SELECT CAST('0x' || substr(md5(w_b), 1, 15) AS BIGINT),
        |    CAST('0x' || substr(md5(w_a), 1, 15) AS BIGINT)
        |  FROM cf),
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
        |       FROM nodes CROSS JOIN t LEFT JOIN i3 ON nodes.node = i3.node),
        |dh AS (
        |  SELECT word, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT)
        |    AS node
        |  FROM (SELECT DISTINCT word FROM w) dw)
        |SELECT dh.word, CAST(pr AS BIGINT) AS pr
        |FROM r3 JOIN dh ON r3.node = dh.node
        |ORDER BY pr DESC, word LIMIT 20""".stripMargin, uses = Seq(postingsDir))((s, dir) => {
      val co = operators.Postings.pairsAll(s, postingsDir(s, dir))
        .select(least(col("w_a"), col("w_b")).as("w_a"),
          greatest(col("w_a"), col("w_b")).as("w_b"))
        .groupBy("w_a", "w_b").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2 && col("w_a") =!= col("w_b"))
      def h(c: Column) = conv(substring(md5(c), 1, 15), 16, 10)
        .cast(LongType)
      val edges = co.select(h(col("w_a")).as("src"), h(col("w_b")).as("dst"))
        .union(co.select(h(col("w_b")).as("src"), h(col("w_a")).as("dst")))
      val dict = operators.Postings.distinctTokens(s, postingsDir(s, dir))
        .select(col("term").as("word")).distinct()
        .select(col("word"), h(col("word")).as("node"))
      Graph.pageRank(edges, iters = 3)
        .join(dict, "node")
        .select(col("word"), col("pr"))
        .orderBy(col("pr").desc, col("word")).limit(20)
    })
  )
}
