package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis building blocks for a training-data pipeline, all
  * expressed with native `functions._` / higher-order functions so
  * they stay inside whole-stage codegen — no UDFs in the scan path.
  *
  * Oracle-parity note: functions used by SQL-oracled queries stick to
  * arithmetic expressible identically in DuckDB (split on single
  * space, char counts via replace, simple regex classes).
  */
object TextFunctions {

  /** Whitespace tokens of a single-spaced text column. */
  def words(text: Column): Column = split(text, " ")

  /** Contiguous word n-gram shingles (distinct) over an already-split
    * words array column — the unit of MinHash / Jaccard dedup.
    *
    * Always pass a materialized array attribute, not `split(...)`
    * inline: the expression references the array once per shingle
    * position, so an inlined split would be re-evaluated O(words)
    * times per row (measured 5-10x slowdown on the dedup operators).
    * CollapseProject keeps a separate projection alive when its alias
    * is referenced by non-cheap expressions, so a two-step
    * `select(split(...).as("w")).select(shinglesOfWords($"w"))` plan
    * computes the split exactly once.
    */
  def shinglesOfWords(ws: Column, n: Int): Column =
    // guard: sequence(1, stop) with stop < 1 would DESCEND in Spark
    when(size(ws) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Number of whitespace tokens. */
  def wordCount(text: Column): Column = size(words(text))

  /** BPE-ish token estimate: alpha runs + digit runs + isolated
    * non-alphanumeric marks (the classic "a token is a word piece or
    * a symbol" regex), plus the chars/4 heuristic as `est` variant.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))

  def estTokenCount(text: Column): Column =
    ceil(length(text).cast(DoubleType) / 4).cast(LongType)

  private val Stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are common English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val ws = words(text)
    round(
      size(filter(ws, w => w.isin(Stopwords.map(lit): _*))).cast(DoubleType) /
        greatest(size(ws), lit(1)),
      3)
  }

  /** Mean token length (chars excluding separators / token count). */
  def avgWordLen(text: Column): Column = {
    val nonSpaceChars = length(regexp_replace(text, lit(" "), lit("")))
    round(nonSpaceChars.cast(DoubleType) / greatest(wordCount(text), lit(1)), 3)
  }

  /** Composite quality score in [0,1]: rewards mid-length documents,
    * plausible word lengths and a natural stopword rate — the
    * standard cheap pre-filter before expensive dedup/classification.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 500.0, lit(1.0))
    val wl = avgWordLen(text)
    val wlScore = when(wl.between(3.0, 9.0), 1.0).otherwise(0.5)
    val swScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    round(lenScore * 0.4 + wlScore * 0.3 + swScore * 0.3, 3)
  }

  /** Scrub PII-looking spans (emails, URLs, long digit runs) — the
    * standard pre-training redaction pass. Patterns stay in the
    * simple character-class regex subset that Java and RE2-family
    * engines treat identically.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+"
  val UrlRe = "https?://[a-zA-Z0-9./_%-]+"
  val LongDigitsRe = "[0-9]{7,}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongDigitsRe, "<NUM>")

  def piiCount(text: Column): Column =
    regexp_count(text, lit(EmailRe)) + regexp_count(text, lit(UrlRe)) +
      regexp_count(text, lit(LongDigitsRe))

  /** Canonical text normalization — the pre-dedup/pre-tokenize pass
    * (CCNet-style): lowercase, strip everything outside [a-z0-9 ],
    * collapse whitespace runs, trim. Engine-portable by construction:
    * plain ASCII class regexes behave identically under Java regex
    * and RE2, so the oracle can re-state it verbatim. Map-only — no
    * shuffle, stays in the scan stage.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Shannon entropy (bits/char) of the character distribution — a
    * cheap gibberish/boilerplate signal (natural text ~4 bits/char;
    * repeated filler much lower). Native HOFs over the char array:
    * distinct chars → per-char frequency → -Σ p·log2 p.
    */
  def charEntropy(text: Column): Column = {
    val chars = split(text, "")
    val n = greatest(size(chars), lit(1)).cast(DoubleType)
    // sorted distinct chars: float summation is order-sensitive, and
    // the DuckDB oracle folds in the same sorted order — unordered
    // distinct would let the two engines round differently at ulp
    // scale (then diverge after round(.,3) on half-way sums)
    val probs = transform(array_sort(array_distinct(chars)),
      c => size(filter(chars, x => x === c)).cast(DoubleType) / n)
    round(-aggregate(probs, lit(0.0d),
      (acc, p) => acc + p * log(2.0, p)), 3)
  }

  /** Repetition signals (Gopher-style quality filters): how much of a
    * document is repeated words / repeated word n-grams. Everything is
    * computed with array HOFs on the row itself — no explode, no
    * shuffle — so at 100 TB this is a map-only scan that whole-stage
    * codegen fuses into the parquet read. Ratios are integer permille
    * (exact `div`), never floats, so engines can't disagree on ties.
    *
    * Emits per doc: `n_words`, `n_distinct_words`, `dup_word_pml`,
    * `n_ngrams`, `n_distinct_ngrams`, `dup_ngram_pml`.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      ngramN: Int = 2): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_words"),
        size(array_distinct(col("w"))).cast(LongType).as("n_distinct_words"),
        greatest(size(col("w")) - (ngramN - 1), lit(0))
          .cast(LongType).as("n_ngrams"),
        size(shinglesOfWords(col("w"), ngramN))
          .cast(LongType).as("n_distinct_ngrams"))
      .withColumn("dup_word_pml",
        expr("(1000 * (n_words - n_distinct_words)) div n_words"))
      .withColumn("dup_ngram_pml",
        when(col("n_ngrams") === 0, lit(0L))
          .otherwise(expr("(1000 * (n_ngrams - n_distinct_ngrams)) div n_ngrams")))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("dup_word_pml"), col("n_ngrams"), col("n_distinct_ngrams"),
        col("dup_ngram_pml"))
  }

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em"))

  /** Heuristic language ID: occurrence count of per-language marker
    * stopwords, argmax with deterministic (score desc, code asc)
    * tie-break; "und" (undetermined) when nothing matches.
    */
  def langId(text: Column): Column = {
    val ws = words(text)
    val scored: Seq[(String, Column)] = LangMarkers.map { case (code, markers) =>
      code -> size(filter(ws, w => w.isin(markers.map(lit): _*)))
    }
    val best = greatest(scored.map(_._2): _*)
    val pick = scored.foldRight(lit("und")) { case ((code, score), acc) =>
      when(score === best && best > 0, lit(code)).otherwise(acc)
    }
    // foldRight keeps the FIRST (alphabetically-ordered seq) match on
    // ties: en < es < fr < de? — markers seq order is the tie order.
    pick
  }
}
