package graft

import graft.operators.{Postings, Relevance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelevanceSpec extends AnyFunSuite with SparkSpec {

  /** Builds a postings snapshot of `(doc_id, source, text)` docs. */
  private def postings(docs: DataFrame): String = {
    val dir = Stored.tempDir("graft_relevance_spec")
    Postings.build(docs, "doc_id", "source", "text", dir)
    dir
  }

  private def nDocs(docs: DataFrame) = docs.agg(count(lit(1)).as("n_docs"))

  private def toyDocs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("source", lit("s"))
  }

  private lazy val corpus = Tables.documents(spark, sf)
  private lazy val corpusDir = postings(corpus)
  private lazy val corpusRows = corpus.collect().toSeq.map(r =>
    TextModels.Doc(r.getAs[Long]("doc_id"), r.getAs[String]("source"),
      r.getAs[String]("text")))

  test("salient terms: exact integer scores, rare terms outrank common") {
    val docs = toyDocs(1L -> "a a b", 2L -> "a c")
    val got = Relevance.salientTermsStored(spark, postings(docs),
        nDocs(docs), 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getInt(2), r.getLong(3)))
      .toMap
    // N=2, df(a)=2 df(b)=df(c)=1; score = (1e6·tf·N) div (dl·df)
    assert(got((1L, "a")) === (1, 666666L)) // (1e6·2·2)/(3·2), term tiebreak
    assert(got((1L, "b")) === (2, 666666L)) // (1e6·1·2)/(3·1)
    assert(got((2L, "c")) === (1, 1000000L)) // rare c beats common a…
    assert(got((2L, "a")) === (2, 500000L))  // …despite equal tf
  }

  test("salient terms on the corpus: ≤k per doc, dense ranks, all docs") {
    val out = Relevance.salientTermsStored(spark, corpusDir, nDocs(corpus), 3)
    assert(out.select("doc_id").distinct().count() === corpus.count())
    val bad = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mr"))
      .filter(col("n") > 3 || col("mr") =!= col("n"))
    assert(bad.count() === 0)
  }

  test("bm25: tf saturation and length normalization order as BM25 must") {
    // same tf, shorter doc wins; higher tf wins at equal length;
    // saturation: tf 10 vs 20 in equal-length docs differ by less
    // than tf 1 vs 2 does
    // docs 6-8 don't contain x: with df = N the rational idf is 0
    // (the correct BM25 degeneracy for a ubiquitous term), so the
    // discrimination cases need x-free documents in the corpus
    val docs = toyDocs(
      1L -> ("x " * 1 + "f " * 9).trim,   // tf=1, dl=10
      2L -> ("x " * 2 + "f " * 8).trim,   // tf=2, dl=10
      3L -> ("x " * 2 + "f " * 18).trim,  // tf=2, dl=20 (longer, penalized)
      4L -> ("x " * 10 + "f " * 10).trim, // tf=10, dl=20
      5L -> ("x " * 20).trim,             // tf=20, dl=20
      6L -> ("f " * 10).trim, 7L -> ("f " * 10).trim, 8L -> ("f " * 10).trim)
    val got = Relevance.bm25RankStored(spark, postings(docs), nDocs(docs),
        Seq("x"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(2L) > got(1L)) // more tf at same length
    assert(got(2L) > got(3L)) // same tf, longer doc penalized
    assert(got(5L) > got(4L)) // monotone in tf...
    val gain1 = got(2L) - got(1L)
    val gain10 = got(5L) - got(4L)
    assert(gain10 < gain1) // ...but saturating
  }

  test("bm25 stored serving equals the plain-Scala BM25 model on the " +
      "real corpus") {
    // every scored doc (k = 500 covers the corpus) and the top-10 cut,
    // integer scores exact, for frequent, mixed and absent term sets
    for (terms <- Seq(Seq("the", "of", "and"), Seq("data", "a"),
           Seq("zzz_absent")); k <- Seq(10, 500)) {
      val got = Relevance.bm25RankStored(spark, corpusDir, nDocs(corpus),
          terms, k)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val want = Bm25Model.run(corpusRows, terms, k)
      assert(got === want, s"terms $terms, k $k")
      if (terms.head == "the") assert(got.size >= 10)
    }
  }

  test("tfidf stored serving equals the plain-Scala TF-IDF model on the " +
      "real corpus") {
    val got = Relevance.salientTermsStored(spark, corpusDir, nDocs(corpus), 3)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val want = TfIdfModel.run(corpusRows, 3)
    assert(want.size > 1000)
    assert(got.sorted === want.sorted)
  }

  test("rrf: one-sided candidates survive, two-system agreement wins") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val got = Relevance.rrfFuse(a, b, "id", "rank", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    // id 2: 1e6/62 + 1e6/61 — ranked by both, top fused score
    assert(got(2L) === 1000000L / 62 + 1000000L / 61)
    assert(got(1L) === 1000000L / 61) // only system a
    assert(got(4L) === 1000000L / 62) // only system b
    assert(got(2L) > got.values.filter(_ != got(2L)).max)
  }
}
