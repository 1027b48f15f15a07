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
    // lowered stream: distinct AFTER lowering — doc 2's four case
    // variants of "the" collapse to ONE row; non-[a-z]+ tokens drop
    val expectedL = corpus.select(col("doc_id"), col("source"),
      explode(array_distinct(expr(
        "filter(transform(split(text, ' '), x -> lower(x))," +
          " x -> x rlike '^[a-z]+$')"))).as("term"))
    val gotL = Postings.distinctTokensLower(spark, dir)
    assert(rows(gotL.select("doc_id", "source", "term")) ===
      rows(expectedL))
    assert(gotL.filter(col("doc_id") === 2).count() === 1)
    // the empty-string token of doc 4 survives dtokens (case-
    // sensitive stream is filterless) but never dtokens_lower
    assert(Postings.distinctTokens(spark, dir)
      .filter(col("doc_id") === 4).count() === 1)
    assert(gotL.filter(col("doc_id") === 4).count() === 0)
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

  test("batch admission equals a full rebuild on every table " +
      "(random splits)") {
    // the B77 gate property applied to the postings snapshot: build
    // on a random subset, admit the complement as a batch, and every
    // one of the seven tables must equal the from-scratch rebuild of
    // the full corpus as a MULTISET (appends must neither drop nor
    // duplicate stream rows; the dictionary folds must count-merge
    // exactly). Seeded split per round so failures reproduce.
    import spark.implicits._
    val full = (1L to 40L).map { i =>
      val src = if (i % 3 == 0) "web" else if (i % 3 == 1) "book" else "wiki"
      val words = (0 until (i % 7).toInt + 1)
        .map(j => s"w${(i * 31 + j * 17) % 23}")
      (i, src, words.mkString(" "))
    }.toDF("doc_id", "source", "text")
    val tables = Seq("tokens", "pairs", "dtokens", "dtokens_lower",
      "dbigrams", "bigram_df", "source_bigrams",
      "tf_lower", "dl_lower", "df_lower", "tf_hashed", "df_raw", "dl_raw")
    Seq(7, 13, 29).foreach { seed =>
      val inBase = pmod(xxhash64(col("doc_id"), lit(seed)), lit(2)) === 0
      val dirInc = Stored.tempDir(s"graft_post_adm$seed")
      val dirFull = Stored.tempDir(s"graft_post_reb$seed")
      Postings.build(full.filter(inBase), "doc_id", "source", "text", dirInc)
      Postings.admitBatch(full.filter(!inBase), "doc_id", "source", "text",
        dirInc)
      Postings.build(full, "doc_id", "source", "text", dirFull)
      tables.foreach { t =>
        assert(rows(spark.read.parquet(s"$dirInc/$t")) ===
          rows(spark.read.parquet(s"$dirFull/$t")),
          s"table $t diverges after admission (seed=$seed)")
      }
    }
    // a second admission on top of the first must also fold exactly
    // (the daily-pipeline shape: admissions stack)
    val dir2 = Stored.tempDir("graft_post_adm2")
    val third = pmod(col("doc_id"), lit(3))
    Postings.build(full.filter(third === 0), "doc_id", "source", "text", dir2)
    Postings.admitBatch(full.filter(third === 1), "doc_id", "source", "text",
      dir2)
    Postings.admitBatch(full.filter(third === 2), "doc_id", "source", "text",
      dir2)
    val dirF2 = Stored.tempDir("graft_post_reb2")
    Postings.build(full, "doc_id", "source", "text", dirF2)
    tables.foreach { t =>
      assert(rows(spark.read.parquet(s"$dir2/$t")) ===
        rows(spark.read.parquet(s"$dirF2/$t")),
        s"table $t diverges after stacked admissions")
    }
  }

  test("an empty corpus builds readable empty streams") {
    val dir = Stored.tempDir("graft_post4")
    Postings.build(corpus.filter(lit(false)), "doc_id", "source", "text", dir)
    assert(Postings.tokens(spark, dir).count() === 0)
    assert(Postings.pairsAll(spark, dir).count() === 0)
    assert(Postings.distinctTokens(spark, dir).count() === 0)
    assert(Postings.distinctTokensLower(spark, dir).count() === 0)
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
