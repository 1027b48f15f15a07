package graft
package queries

import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-document text signals of the training-data pipeline: language
  * ID, quality features, entropy, repetition, normalization,
  * scrubbing and chunking.
  */
object CorpusQueries {

  /** Decoration suffix for the unicode-normalization gate: composed
    * Å, A + combining ring, fullwidth HI, roman numeral Ⅲ, the ﬁ
    * ligature, and the Angstrom sign — NFC composes/canonicalizes
    * (A+ring → Å, Angstrom → Å) while NFKC additionally folds the
    * compatibility forms to plain ASCII.
    */
  private val UniDeco = "Å Å ＨＩ Ⅲ ﬁ Å"
  private val UniDecoNfkc = "Å Å HI III fi Å"

  val all: Seq[Query] = Seq(
    Query("lang_id",
      """WITH t AS (
        |  SELECT doc_id, lang AS lang_label, string_split(text, ' ') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang_label,
        |    len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))) AS s_en,
        |    len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))) AS s_es,
        |    len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))) AS s_fr,
        |    len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))) AS s_pt
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en,s_es,s_fr,s_de,s_pt) <= 0 THEN 'und'
        |       WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'en'
        |       WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'es'
        |       WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'fr'
        |       WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'de'
        |       ELSE 'pt' END AS lang_pred,
        |  lang_label
        |FROM s""".stripMargin)((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label"))),

    // language-ID CONFUSION MATRIX: the C8 heuristic evaluated
    // against the gold lang column — per (label, prediction) cell
    // counts + row-share permilles, the classifier-evaluation report
    // run before trusting any lang filter in a cleaning pipeline.
    // One map-only scan + a |langs|²-bounded grid.
    Query("q_lang_confusion",
      // the lang_id CTEs aggregated to the confusion grid
      """WITH t AS (
        |  SELECT lang AS lang_label, string_split(text, ' ') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT lang_label,
        |    len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))) AS s_en,
        |    len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))) AS s_es,
        |    len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))) AS s_fr,
        |    len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))) AS s_pt
        |  FROM t),
        |p AS (
        |  SELECT lang_label,
        |    CASE WHEN greatest(s_en,s_es,s_fr,s_de,s_pt) <= 0 THEN 'und'
        |         WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'en'
        |         WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'es'
        |         WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'fr'
        |         WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'de'
        |         ELSE 'pt' END AS lang_pred
        |  FROM s),
        |cell AS (
        |  SELECT lang_label, lang_pred, COUNT(*) AS n
        |  FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang_label, COUNT(*) AS n_label
        |        FROM p GROUP BY 1)
        |SELECT c.lang_label, c.lang_pred, c.n, t.n_label,
        |  (1000 * c.n) // t.n_label AS share_permille
        |FROM cell c JOIN tot t USING (lang_label)""".stripMargin)((s, dir) => {
      val p = Tables.documents(s, dir).select(
        TextFunctions.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label"))
      val cell = p.groupBy(col("lang_label"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = p.groupBy(col("lang_label"))
        .agg(count(lit(1)).as("n_label"))
      cell.join(tot, "lang_label")
        .select(col("lang_label"), col("lang_pred"), col("n"),
          col("n_label"),
          expr("(1000 * n) div n_label").as("share_permille"))
    }),

    // the per-document feature vector a quality classifier trains on:
    // every text signal family composed in ONE map-only scan — no
    // shuffle, no join; each column reuses a formulation already
    // proven engine-portable by its standalone query's gate
    Query("doc_features",
      // every column re-states its standalone query's proven SQL
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  len(ws) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |    AS bpe_tokens,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT)
        |    AS est_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / greatest(len(ws), 1), 3) AS avg_wlen,
        |  round(CAST(len(list_filter(ws,
        |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / greatest(len(ws), 1), 3) AS stop_ratio,
        |  round(
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
        |    (CASE WHEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / greatest(len(ws), 1), 3) BETWEEN 3.0 AND 9.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3 +
        |    least(round(CAST(len(list_filter(ws,
        |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / greatest(len(ws), 1), 3) * 4.0, 1.0) * 0.3,
        |  3) AS quality,
        |  CASE WHEN greatest(
        |      len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))),
        |      len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))),
        |      len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))),
        |      len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))),
        |      len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em')))) <= 0
        |    THEN 'und'
        |  WHEN len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))) = greatest(
        |      len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))),
        |      len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))),
        |      len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))),
        |      len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))),
        |      len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))))
        |    THEN 'en'
        |  WHEN len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))) = greatest(
        |      len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))),
        |      len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))),
        |      len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))),
        |      len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))),
        |      len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))))
        |    THEN 'es'
        |  WHEN len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))) = greatest(
        |      len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))),
        |      len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))),
        |      len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))),
        |      len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))),
        |      len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))))
        |    THEN 'fr'
        |  WHEN len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) = greatest(
        |      len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))),
        |      len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))),
        |      len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))),
        |      len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))),
        |      len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))))
        |    THEN 'de'
        |  ELSE 'pt' END AS lang_pred,
        |  (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
        |    AS dup_word_pml,
        |  CASE WHEN len(ws) <= 1 THEN 0
        |       ELSE (1000 * ((len(ws) - 1) -
        |         len(list_distinct([ws[i] || ' ' || ws[i+1]
        |           FOR i IN generate_series(1, len(ws)-1)]))))
        |         // (len(ws) - 1)
        |  END AS dup_ngram_pml
        |FROM t""".stripMargin)((s, dir) => {
      val w = split(col("text"), " ")
      Tables.documents(s, dir).select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          TextFunctions.wordCount(col("text")).as("ws_tokens"),
          TextFunctions.regexTokenCount(col("text")).as("bpe_tokens"),
          TextFunctions.estTokenCount(col("text")).as("est_tokens"),
          TextFunctions.avgWordLen(col("text")).as("avg_wlen"),
          TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          size(w).cast(LongType).as("n_words"),
          size(array_distinct(w)).cast(LongType).as("ndw"),
          greatest(size(w) - 1, lit(0)).cast(LongType).as("n_ngrams"),
          size(TextFunctions.shinglesOfWords(w, 2)).cast(LongType).as("ndn"))
        .withColumn("dup_word_pml",
          expr("(1000 * (n_words - ndw)) div n_words"))
        .withColumn("dup_ngram_pml",
          when(col("n_ngrams") === 0, lit(0L))
            .otherwise(expr("(1000 * (n_ngrams - ndn)) div n_ngrams")))
        .drop("n_words", "ndw", "n_ngrams", "ndn")
    }),

    Query("text_quality",
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  len(string_split(text, ' ')) AS n_words,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / greatest(len(string_split(text, ' ')), 1), 3) AS avg_wlen,
        |  round(CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / greatest(len(string_split(text, ' ')), 1), 3) AS stop_ratio,
        |  round(
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
        |    (CASE WHEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / greatest(len(string_split(text, ' ')), 1), 3) BETWEEN 3.0 AND 9.0
        |        THEN 1.0 ELSE 0.5 END) * 0.3 +
        |    least(round(CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |        / greatest(len(string_split(text, ' ')), 1), 3) * 4.0, 1.0) * 0.3,
        |  3) AS quality
        |FROM documents""".stripMargin)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        TextFunctions.wordCount(col("text")).as("n_words"),
        TextFunctions.avgWordLen(col("text")).as("avg_wlen"),
        TextFunctions.stopwordRatio(col("text")).as("stop_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))),

    Query("token_count",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_tokens,
        |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS est_tokens
        |FROM documents""".stripMargin)((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.wordCount(col("text")).as("ws_tokens"),
        TextFunctions.regexTokenCount(col("text")).as("bpe_tokens"),
        TextFunctions.estTokenCount(col("text")).as("est_tokens"))),

    Query("text_entropy",
      // mirrors charEntropy's fold TERM-FOR-TERM: same sorted distinct
      // order, same p * (ln(p)/ln(2)) association, same left fold from
      // 0.0 — float summation is order- and association-sensitive, so
      // anything less is a latent ulp flake at the round(.,3) boundary
      """WITH c AS (
        |  SELECT doc_id, string_split(text, '') AS chars,
        |    CAST(greatest(len(string_split(text, '')), 1) AS DOUBLE) AS n
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    list_transform(list_sort(list_distinct(chars)),
        |      d -> (CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE) / n)
        |           * (ln(CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE) / n)
        |              / ln(2))) AS terms
        |  FROM c)
        |SELECT doc_id,
        |  round(-CASE WHEN len(terms) = 0 THEN 0.0
        |    ELSE list_reduce(list_prepend(0.0, terms), (acc, x) -> acc + x)
        |  END, 3) AS entropy_bits
        |FROM t""".stripMargin)((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.charEntropy(col("text")).as("entropy_bits"))),

    // Gopher-style repetition quality signals; map-only HOF scan
    Query("text_repetition",
      // duplicate-word / duplicate-bigram permille, integer-exact
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |wc AS (
        |  SELECT doc_id, COUNT(*) AS n_words,
        |    COUNT(DISTINCT word) AS n_distinct_words
        |  FROM w GROUP BY doc_id),
        |g AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word AS sh
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |gc AS (
        |  SELECT doc_id, COUNT(*) AS n_ngrams,
        |    COUNT(DISTINCT sh) AS n_distinct_ngrams
        |  FROM g GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_distinct_words,
        |  (1000 * (n_words - n_distinct_words)) // n_words AS dup_word_pml,
        |  COALESCE(n_ngrams, 0) AS n_ngrams,
        |  COALESCE(n_distinct_ngrams, 0) AS n_distinct_ngrams,
        |  CASE WHEN COALESCE(n_ngrams, 0) = 0 THEN 0
        |       ELSE (1000 * (n_ngrams - n_distinct_ngrams)) // n_ngrams
        |  END AS dup_ngram_pml
        |FROM wc LEFT JOIN gc ON gc.doc_id = wc.doc_id""".stripMargin)((s, dir) =>
      TextFunctions.repetitionStats(Tables.documents(s, dir),
        "doc_id", "text", ngramN = 2)),

    // canonical normalization pass (lowercase, ASCII-class strip,
    // whitespace collapse); emits the normalized text itself plus its
    // token count — the input contract for downstream dedup
    Query("text_normalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  len(string_split(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '))
        |    AS norm_tokens
        |FROM documents""".stripMargin)((s, dir) => {
      val norm = TextFunctions.normalize(col("text"))
      Tables.documents(s, dir).select(col("doc_id"),
        norm.as("norm_text"),
        TextFunctions.wordCount(norm).as("norm_tokens"))
    }),

    // Unicode normalization gated two ways: NFC is VALUE-exact against
    // DuckDB's nfc_normalize (both sides decorate each doc with the
    // same combining/precomposed/compat suffix, then length + md5
    // fingerprint the canonical form), while NFKC — which no SQL
    // engine exposes — gates as an expected-literal flag (the
    // constant-true contract pattern): the decorated suffix must
    // compatibility-fold to exactly "Å Å HI III fi Å". Kernels are
    // codegen'd StaticInvoke expressions, map-only.
    Query("text_unicode_norm",
      // NFC value parity: DuckDB's nfc_normalize (utf8proc) must land on
      // the same canonical form as the JVM kernel over the same
      // decorated text (both are UAX#15); NFKC has no SQL counterpart —
      // its flag re-states the Spark-side expected-literal contract
      s"""SELECT doc_id,
        |  CAST(length(nfc_normalize(text || ' ' || '$UniDeco'))
        |    AS BIGINT) AS nfc_len,
        |  CAST(('0x' || substr(md5(nfc_normalize(text || ' ' ||
        |    '$UniDeco')), 1, 15)) AS BIGINT) AS nfc_fp,
        |  CAST(1 AS BIGINT) AS nfkc_ok
        |FROM documents""".stripMargin)((s, dir) => {
      GraftFunctions.register(s)
      val decorated = concat(col("text"), lit(" "), lit(UniDeco))
      val nfc = GraftFunctions.nfc(decorated)
      Tables.documents(s, dir).select(col("doc_id"),
        length(nfc).cast(LongType).as("nfc_len"),
        conv(substring(md5(nfc), 1, 15), 16, 10).cast(LongType)
          .as("nfc_fp"),
        (GraftFunctions.nfkc(lit(UniDeco)) === lit(UniDecoNfkc))
          .cast(LongType).as("nfkc_ok"))
    }),

    Query("text_scrub",
      """WITH p AS (
        |  SELECT doc_id,
        |    'user' || doc_id || '@mail.example.com see https://ex.org/p/'
        |      || doc_id || ' id 12345678 ' || text AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+'))
        |    + len(regexp_extract_all(t, 'https?://[a-zA-Z0-9./_%-]+'))
        |    + len(regexp_extract_all(t, '[0-9]{7,}')) AS pii_n,
        |  length(regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[a-zA-Z0-9./_%-]+', '<URL>', 'g'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |    '[0-9]{7,}', '<NUM>', 'g')) AS scrubbed_len,
        |  length(t) AS orig_len
        |FROM p""".stripMargin)((s, dir) => {
      import graft.functions.TextFunctions._
      // plant deterministic PII derived from doc_id so the scrubber
      // has true positives: an email, a URL and a long digit run
      val planted = concat(lit("user"), col("doc_id"),
        lit("@mail.example.com see https://ex.org/p/"), col("doc_id"),
        lit(" id 12345678 "), col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          piiCount(col("t")).as("pii_n"),
          length(scrubPii(col("t"))).as("scrubbed_len"),
          length(col("t")).as("orig_len"))
    }),

    // corpus-level report: per detected language, doc/token/quality/
    // distinct rollups — the dashboard numbers a data pipeline tracks.
    // All measures are exact integers (quality summed in milli-units
    // derived from the already-3-decimal score) so the hash gate holds
    // at any scale; one scan, one 5-group aggregation.
    Query("corpus_stats",
      // per-language rollup composed from the proven lang_id + quality
      // CTEs; all measures integer-exact
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, text, ws,
        |    len(list_filter(ws, w -> w IN ('the','and','of','to','is','in','that','it'))) AS s_en,
        |    len(list_filter(ws, w -> w IN ('el','la','de','que','y','los','en','un'))) AS s_es,
        |    len(list_filter(ws, w -> w IN ('le','la','de','et','les','des','un','une'))) AS s_fr,
        |    len(list_filter(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS s_de,
        |    len(list_filter(ws, w -> w IN ('o','a','de','que','e','do','da','em'))) AS s_pt
        |  FROM t),
        |l AS (
        |  SELECT doc_id, text, ws,
        |    CASE WHEN greatest(s_en,s_es,s_fr,s_de,s_pt) <= 0 THEN 'und'
        |         WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'en'
        |         WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'es'
        |         WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'fr'
        |         WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_pt) THEN 'de'
        |         ELSE 'pt' END AS lang_pred
        |  FROM sc),
        |q AS (
        |  SELECT lang_pred, text, len(ws) AS n_tokens,
        |    round(
        |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
        |      (CASE WHEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |          / greatest(len(ws), 1), 3) BETWEEN 3.0 AND 9.0
        |          THEN 1.0 ELSE 0.5 END) * 0.3 +
        |      least(round(CAST(len(list_filter(ws,
        |            w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / greatest(len(ws), 1), 3) * 4.0, 1.0) * 0.3,
        |      3) AS quality
        |  FROM l)
        |SELECT lang_pred,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(round(quality * 1000) AS BIGINT)) AS BIGINT) AS sum_quality_milli,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  COUNT(DISTINCT text) AS n_distinct_texts
        |FROM q GROUP BY lang_pred""".stripMargin)((s, dir) =>
      Tables.documents(s, dir)
        .select(col("text"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.wordCount(col("text")).cast(LongType).as("n_tokens"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(round(q * 1000) as bigint)")).as("sum_quality_milli"),
          sum(col("n_tokens")).as("total_tokens"),
          // distinct over 16-byte (xxhash64, len) keys, not the text
          // itself — the C1 exact-dedup key discipline: the distinct
          // aggregation's exchange moves fixed-width keys and corpus
          // bytes never leave the scan
          countDistinct(xxhash64(col("text")), length(col("text")))
            .as("n_distinct_texts"))),

    // sliding-window document chunking (the RAG/long-context prep
    // stage packSequences' concat-chunk does NOT cover): 128-token
    // chunks at stride 96 (32-token overlap), last chunk ragged,
    // chunk text fingerprinted with the engine-common md5 prefix so
    // the oracle verifies the actual chunk CONTENT, not just the
    // arithmetic. Map-only explode — no shuffle, chunk count is pure
    // integer arithmetic on the token count.
    Query("q_chunk",
      // same chunk grid (1-based slice bounds), same md5-prefix
      // content fingerprint
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, w, n,
        |    unnest(generate_series(0,
        |      GREATEST((n - 128 + 95) // 96, 0))) AS chunk_id
        |  FROM d),
        |c AS (
        |  SELECT doc_id, chunk_id,
        |    chunk_id * 96 AS start_tok,
        |    LEAST(128, n - chunk_id * 96) AS n_tokens,
        |    array_to_string(w[chunk_id * 96 + 1 :
        |      chunk_id * 96 + LEAST(128, n - chunk_id * 96)], ' ') AS t
        |  FROM k)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS chunk_hash
        |FROM c""".stripMargin)((s, dir) => {
      val sz = 128; val stride = 96
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr(s"sequence(0, greatest((size(w) - $sz + " +
            s"${stride - 1}) div $stride, 0))")).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * stride).as("start_tok"),
          expr(s"least($sz, size(w) - chunk_id * $stride)")
            .as("n_tokens"),
          expr(s"concat_ws(' ', slice(w, chunk_id * $stride + 1, " +
            s"least($sz, size(w) - chunk_id * $stride)))").as("t"))
        .select(col("doc_id"), col("chunk_id").cast(LongType),
          col("start_tok").cast(LongType), col("n_tokens").cast(LongType),
          conv(substring(md5(col("t")), 1, 15), 16, 10).cast(LongType)
            .as("chunk_hash"))
    })
  )
}
