package graft

import graft.functions.{GraftFunctions, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("word/token counts on known sentences") {
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a1 b2, c3!")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextFunctions.wordCount(col("text")).as("wc"),
      TextFunctions.regexTokenCount(col("text")).as("bpe"),
      TextFunctions.estTokenCount(col("text")).as("est"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
      .toMap
    // "a1 b2, c3!" → a,1,b,2,",",c,3,"!" = 8 regex tokens
    assert(got(1L) === ((6, 6, 6L)))
    assert(got(2L) === ((3, 8, 3L)))
  }

  test("language id picks the language with most marker words") {
    val df = Seq(
      (1L, "the cat is in the house and it is warm"),
      (2L, "el gato que vive en la casa de los reyes"),
      (3L, "le chat et les oiseaux sont dans un arbre"),
      (4L, "xyzzy plugh quux")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
    assert(got(3L) === "fr")
    assert(got(4L) === "und")
  }

  test("fingerprint is order-sensitive and deterministic") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"),
      GraftFunctions.fingerprint(TextFunctions.words(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("simhash of near-identical token lists is close in hamming distance") {
    GraftFunctions.register(spark)
    val long1 = (1 to 60).map(i => s"w$i").mkString(" ")
    val long2 = (1 to 58).map(i => s"w$i").mkString(" ")
    val other = (100 to 160).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, long1), (2L, long2), (3L, other)).toDF("doc_id", "text")
    val sig = df.select(col("doc_id"),
      GraftFunctions.simhash(TextFunctions.words(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) <= 8)
    assert(ham(sig(1L), sig(3L)) > 12)
  }

  test("quality score stays in [0,1] over the corpus") {
    val docs = Tables.documents(spark, sf)
    val q = docs.select(TextFunctions.qualityScore(col("text")).as("q"))
    assert(q.filter(col("q") < 0 || col("q") > 1).count() === 0)
  }

  test("shingles of short texts are empty, not inverted sequences") {
    val df = Seq((1L, "one two")).toDF("doc_id", "text")
    val n = df.select(TextFunctions.words(col("text")).as("w"))
      .select(size(TextFunctions.shinglesOfWords(col("w"), 3)).as("n"))
      .head.getInt(0)
    assert(n === 0)
  }

  test("char entropy: bounded, and repeated text scores below varied text") {
    val df = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaa"),
      (2L, "the quick brown fox jumps over lazy dogs"),
      (3L, "abababababababababab")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextFunctions.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 0.0)
    assert(math.abs(got(3L) - 1.0) < 1e-6) // two symbols, equal freq
    assert(got(2L) > 3.0 && got(2L) < 5.0)
    val corpus = Tables.documents(spark, sf)
      .select(TextFunctions.charEntropy(col("text")).as("h"))
    assert(corpus.filter(col("h") < 0 || col("h") > 6).count() === 0)
  }

  test("repetition stats: exact permille on known docs, map-only plan") {
    val df = Seq(
      (1L, "spam spam spam spam"),                  // 4 words, 1 distinct
      (2L, "all words here are fully distinct"),    // 6 words, 6 distinct
      (3L, "go go go stop")).toDF("doc_id", "text") // 4 words, 2 distinct
    val rep = TextFunctions.repetitionStats(df, "doc_id", "text", ngramN = 2)
    val got = rep.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // doc 1: dup words 3/4 = 750 pml; bigrams: 3 total, 1 distinct → 666
    assert(got(1L) === ((4L, 1L, 750L, 3L, 1L, 666L)))
    assert(got(2L) === ((6L, 6L, 0L, 5L, 5L, 0L)))
    // doc 3: dup words 2/4 = 500; bigrams "go go","go go","go stop" →
    // 3 total, 2 distinct → 333
    assert(got(3L) === ((4L, 2L, 500L, 3L, 2L, 333L)))

    // scale contract: no shuffle — a single map-only stage
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetitionStats must stay map-only, got:\n$plan")
  }

  test("unicode kernels: NFC composes, NFKC compatibility-folds, both " +
      "idempotent and ASCII-identity") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // decomposed A+ring (0x41 0x30A), Angstrom sign 0x212B, fullwidth
    // HI, roman III, fi ligature
    val decomposed = "Å"
    val angstrom = "Å"
    val compat = "ＨＩ Ⅲ ﬁ"
    val row = Seq((decomposed, angstrom, compat)).toDF("d", "a", "c")
      .select(GraftFunctions.nfc(col("d")).as("nfc_d"),
        GraftFunctions.nfc(col("a")).as("nfc_a"),
        GraftFunctions.nfc(col("c")).as("nfc_c"),
        GraftFunctions.nfkc(col("c")).as("nfkc_c"),
        GraftFunctions.nfkc(GraftFunctions.nfkc(col("c"))).as("nfkc2_c"),
        GraftFunctions.nfc(lit("plain ascii 123")).as("id"))
      .head()
    assert(row.getString(0) === "Å") // A+ring composes to Å
    assert(row.getString(1) === "Å") // Angstrom canonicalizes to Å
    assert(row.getString(2) === compat)   // NFC leaves compat forms
    assert(row.getString(3) === "HI III fi") // NFKC folds them
    assert(row.getString(4) === row.getString(3)) // idempotent
    assert(row.getString(5) === "plain ascii 123") // ASCII fixpoint
    // SQL surface: registered under stable names
    assert(spark.sql("SELECT graft_nfkc('Ⅲ') AS r").head.getString(0)
      === "III")
  }

  test("q_kwic: snippets clamp at both document edges and always " +
    "contain the probe term") {
    import spark.implicits._
    val snippets = SparkEntry.queries("q_kwic")(spark, sf)
    assert(snippets.count() > 0)
    // every snippet contains the term at its claimed relative spot;
    // windows are at most 7 tokens and clamp at edges
    val bad = snippets
      .withColumn("n_toks", size(split(col("snippet"), " ")))
      .filter(col("n_toks") > 7 || col("n_toks") < 1)
    assert(bad.count() === 0)
    // hand slice arithmetic on a tiny doc: term at pos 1 and at end
    val d = Seq((1L, "kw a b c"), (2L, "x y kw")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(col("toks")).as(Seq("p0", "w")))
      .filter(col("w") === "kw")
      .select(col("doc_id"),
        array_join(slice(col("toks"),
          greatest(col("p0") + 1 - 3, lit(1)),
          least(col("p0") + 1 + 3, size(col("toks")))
            - greatest(col("p0") + 1 - 3, lit(1)) + 1), " ").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "kw a b c") // left-clamped, 3 right tokens
    assert(got(2L) === "x y kw")   // right-clamped
  }

  test("q_textrank: keywords are real corpus tokens and ranks are " +
    "positive with a deterministic ordering") {
    val kw = SparkEntry.queries("q_textrank")(spark, sf).collect()
    assert(kw.length > 0 && kw.length <= 20)
    assert(kw.forall(_.getAs[Long]("pr") > 0))
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(kw.forall(r => vocab(r.getAs[String]("word"))))
    // rank order is non-increasing as emitted
    val prs = kw.map(_.getAs[Long]("pr")).toSeq
    assert(prs === prs.sorted.reverse)
  }
}
