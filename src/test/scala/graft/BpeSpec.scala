package graft

import graft.operators.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkSpec {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.toDF("text").withColumn("source", lit("s"))
  }

  /** The raw `(source, word)` whitespace-token stream of `d` — one row
    * per token, as the stored positional postings hold it.
    */
  private def terms(d: DataFrame): DataFrame =
    d.select(col("source"), explode(split(col("text"), " ")).as("word"))

  private def induce(d: DataFrame, merges: Int) =
    Bpe.induceMergesFromTerms(terms(d).select(col("word")), merges)

  private def tokenize(d: DataFrame, merges: Int) =
    Bpe.tokenizeTermsWith(terms(d), induce(d, merges))

  test("induction recovers the hand-computed merges of a toy corpus") {
    // corpus: "aaab" x3, "ab" x2 → pair counts round 1:
    // (a,a)=6 (two per "aaab"), (a,b)=5. best=(a,a) → "aa".
    // round 2 over {•aa••a••b• x3, •a••b• x2}: (aa,a)=3,
    // (a,b)=3+2=5 — the "aaab" tails still carry (a,b) — →
    // best=(a,b) → "ab".
    val m = induce(docs("aaab aaab aaab", "ab ab"), merges = 2)
    assert(m.map(r => (r.merged, r.pair_count)) ===
      Seq(("aa", 6L), ("ab", 5L)))
  }

  test("greedy leftmost application: overlapping pairs never double-merge") {
    // "aaaa" after merging (a,a): greedy leftmost yields aa|aa — two
    // tokens, never three overlapping merges
    val t = tokenize(docs("aaaa aaaa aaaa b"), merges = 1).collect()(0)
    // 3 x "aaaa" (2 tokens each) + 1 x "b" (1 token) = 7
    assert(t.getAs[Long]("bpe_tokens") === 7L)
    assert(t.getAs[Long]("base_symbols") === 13L)
    assert(t.getAs[Long]("n_words") === 4L)
    assert(t.getAs[Long]("n_word_forms") === 2L)
  }

  test("induction and tokenize equal the plain-Scala BPE model on the " +
      "real corpus") {
    // 10 rounds, as _build_bpe_merges: round 7 is a count tie between
    // (a,r) and (p,a), so the (lhs, rhs) tie-break is exercised
    val d = Tables.documents(spark, sf)
    val rows = d.collect().toSeq.map(r =>
      TextModels.Doc(r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    val ms = induce(d, merges = 10)
    val want = BpeModel.induce(rows, 10)
    assert(ms.map(m => (m.merge_round, m.lhs, m.rhs, m.merged,
      m.pair_count)) === want)
    val got = Bpe.tokenizeTermsWith(terms(d), ms).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === BpeModel.tokenize(rows, want))
    assert(got.size > 1)
  }

  test("tokenize conserves words and never exceeds base symbols") {
    val d = Tables.documents(spark, sf)
    val t = tokenize(d, merges = 3)
    val bad = t.filter(col("bpe_tokens") > col("base_symbols") ||
      col("bpe_tokens") < col("n_words") ||
      col("compression_pml") > 1000 || col("compression_pml") < 0)
    assert(bad.count() === 0)
    // merges only ever shrink the stream: 3 merges vs 1
    val t1 = tokenize(d, merges = 1)
      .select(col("source"), col("bpe_tokens").as("b1"))
    val shrunk = t.select(col("source"), col("bpe_tokens").as("b3"))
      .join(t1, "source").filter(col("b3") > col("b1"))
    assert(shrunk.count() === 0)
  }
}
