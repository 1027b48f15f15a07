package graft

import graft.operators.Postings
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates the stored tokenized-corpus streams (`_build_postings`)
  * against inline tokenization: every stream the build writes must be
  * row-identical to the expression it replaced in the consumers —
  * that equivalence is what lets the eleven text-family queries serve
  * from the stored tables with their outputs unchanged.
  */
class PostingsSpec extends AnyFunSuite with SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "web", "the quick brown fox the quick"),
      (2L, "web", "The the THE the"),
      (3L, "book", "one"),
      (4L, "book", ""), // splits to one empty-string token
      (5L, "wiki", "alpha beta gamma delta")
    ).toDF("doc_id", "source", "text")
  }

  private def built(path: String): Unit =
    Postings.build(corpus, "doc_id", "source", "text", path)

  /** Sorted MULTISET of rows — duplicates are meaningful in the pair
    * streams (doc 1's repeated "the quick" bigram must appear once
    * per occurrence), so a Set comparison would let a build bug that
    * drops or duplicates copies pass while silently changing
    * collocation/PMI/LM counts.
    */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("tokens stream matches posexplode(split) exactly") {
    val dir = Stored.tempDir("graft_post1")
    built(dir)
    val expected = corpus.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    assert(rows(Postings.tokens(spark, dir)
      .select("doc_id", "source", "pos", "term")) === rows(expected))
  }

  test("pair stream mirrors the consumers' zip_with at d=1 and d=2") {
    val dir = Stored.tempDir("graft_post2")
    built(dir)
    def expectedAt(d: Int) = corpus
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        s"zip_with(slice(w, 1, greatest(size(w) - $d, 0))," +
          s" slice(w, ${1 + d}, greatest(size(w) - $d, 0))," +
          " (a, b) -> struct(a, b))")).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.a").as("w_a"), col("p.b").as("w_b"))
    Seq(1, 2).foreach { d =>
      assert(rows(Postings.pairs(spark, dir, d)
        .select("doc_id", "source", "w_a", "w_b")) ===
        rows(expectedAt(d)), s"pair stream diverges at d=$d")
      // count against the INLINE expression (not pairsAll, which is
      // the union of the same two filters by construction) — this is
      // the multiplicity cross-check that catches dropped/duplicated
      // pair copies
      assert(Postings.pairs(spark, dir, d).count() ===
        expectedAt(d).count(), s"pair multiplicity diverges at d=$d")
    }
    // doc 1 repeats "the quick": the d=1 stream must carry BOTH copies
    assert(Postings.pairs(spark, dir, 1)
      .filter(col("doc_id") === 1 && col("w_a") === "the" &&
        col("w_b") === "quick").count() === 2)
  }

  test("distinct streams match the in-array distincts they replace") {
    val dir = Stored.tempDir("graft_post3")
    built(dir)
    val expectedD = corpus.select(col("doc_id"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    assert(rows(Postings.distinctTokens(spark, dir)
      .select("doc_id", "source", "term")) === rows(expectedD))
    // the empty-string token of doc 4 survives dtokens (the
    // case-sensitive stream is filterless)
    assert(Postings.distinctTokens(spark, dir)
      .filter(col("doc_id") === 4).count() === 1)
    // lowered dictionary: distinct AFTER lowering — doc 2's four case
    // variants of "the" count ONCE toward its df; non-[a-z]+ tokens
    // (doc 4's empty string) never become terms
    val lowered = corpus.select(col("doc_id"),
      explode(array_distinct(expr(
        "filter(transform(split(text, ' '), x -> lower(x))," +
          " x -> x rlike '^[a-z]+$')"))).as("term"))
    val dfL = Postings.dfLower(spark, dir)
    assert(rows(dfL.select("term", "df")) ===
      rows(lowered.groupBy(col("term")).agg(count(lit(1)).as("df"))))
    assert(dfL.filter(col("term") === "the").head.getLong(1) === 2L)
    assert(dfL.filter(col("term") === "").count() === 0)
  }

  test("bigram tables match the inline hash-then-distinct pipeline") {
    val dir = Stored.tempDir("graft_post5")
    built(dir)
    // the expression the consumers previously ran inline: adjacent
    // bigrams → 16-byte (xxhash64, len) keys → DISTINCT per doc
    val inline = corpus
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), explode(expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0))," +
          " slice(w, 2, greatest(size(w) - 1, 0))," +
          " (a, b) -> concat(a, ' ', b))")).as("bg"))
      .select(col("doc_id"), col("source"),
        xxhash64(col("bg")).as("bh"), length(col("bg")).as("bl"))
      .distinct()
    assert(rows(Postings.docBigrams(spark, dir)
      .select("doc_id", "source", "bh", "bl")) === rows(inline))
    // doc 1's repeated "the quick" collapses to ONE distinct row but
    // df still counts it as ONE document
    assert(rows(Postings.bigramDf(spark, dir)) ===
      rows(inline.groupBy(col("bh"), col("bl"))
        .agg(count(lit(1)).as("df"))))
    assert(rows(Postings.sourceBigrams(spark, dir)) ===
      rows(inline.select(col("source"), col("bh"), col("bl")).distinct()))
    // doc 3 ("one") and doc 4 ("") have no bigrams
    assert(Postings.docBigrams(spark, dir)
      .filter(col("doc_id").isin(3, 4)).count() === 0)
  }

  test("an empty corpus builds readable empty streams") {
    val dir = Stored.tempDir("graft_post4")
    Postings.build(corpus.filter(lit(false)), "doc_id", "source", "text", dir)
    assert(Postings.tokens(spark, dir).count() === 0)
    assert(Postings.pairsAll(spark, dir).count() === 0)
    assert(Postings.distinctTokens(spark, dir).count() === 0)
    assert(Postings.docBigrams(spark, dir).count() === 0)
    assert(Postings.bigramDf(spark, dir).count() === 0)
    assert(Postings.sourceBigrams(spark, dir).count() === 0)
    assert(Postings.tfLower(spark, dir).count() === 0)
    assert(Postings.dlLower(spark, dir).count() === 0)
    assert(Postings.dfLower(spark, dir).count() === 0)
    assert(Postings.tfHashed(spark, dir).count() === 0)
    assert(Postings.dfRaw(spark, dir).count() === 0)
    assert(Postings.dlRaw(spark, dir).count() === 0)
  }

  test("BM25 index tables match the inline tf/dl/df derivations") {
    // the BM25 tokenization contract as plain Spark expressions: tf
    // over lowered [a-z]+ tokens, dl = Σtf per doc, df = docs per
    // term. The stored tables bm25RankStored serves from must equal
    // them row-for-row.
    val dir = Stored.tempDir("graft_post6")
    built(dir)
    val tok = corpus.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .select(col("doc_id"), lower(col("term")).as("term"))
      .filter(col("term").rlike("^[a-z]+$"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(rows(Postings.tfLower(spark, dir)
      .select("doc_id", "term", "tf")) === rows(tf))
    assert(rows(Postings.dlLower(spark, dir)) ===
      rows(tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))))
    assert(rows(Postings.dfLower(spark, dir)) ===
      rows(tf.groupBy("term").agg(count(lit(1)).as("df"))))
    // doc 2 ("The the THE the") folds to one tf row with tf = 4
    assert(rows(Postings.tfLower(spark, dir)
      .filter(col("doc_id") === 2)
      .select("term", "tf")) === Seq("the|4"))
  }
}
