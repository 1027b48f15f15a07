package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import scala.collection.mutable

/** Plain-Scala models of the stored text and dedup readers,
  * independent of Spark: the oracles their specs compare against.
  * Each works over `(doc_id, source, text)` rows collected to the
  * driver and follows Spark's string semantics where they matter:
  * `split(text, " ")` keeps empty tokens, `rlike` is a `find`, and
  * strings order by their UTF-8 bytes.
  */
object TextModels {

  final case class Doc(id: Long, source: String, text: String)

  /** `split(text, " ")`: a null text has no tokens. */
  def tokens(d: Doc): Seq[String] =
    if (d.text == null) Nil else d.text.split(" ", -1).toSeq

  private val azWord = Pattern.compile("^[a-z]+$")

  /** Lowercased `[a-z]+` words of one token stream (the BM25 and BPE
    * tokenization contract).
    */
  def azWords(toks: Seq[String]): Seq[String] =
    toks.map(_.toLowerCase(java.util.Locale.ROOT))
      .filter(azWord.matcher(_).find())

  val byUtf8: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
}

/** Rational-idf TF-IDF salience: per doc, the top `k` raw whitespace
  * terms by `(10⁶·tf·N) div (dl·df)` desc, then term asc.
  */
object TfIdfModel {
  import TextModels._

  /** (doc_id, term, rank, score_micro). */
  type Row = (Long, String, Int, Long)

  def run(docs: Seq[Doc], k: Int): Seq[Row] = {
    val n = docs.size.toLong
    val tf = docs.map(d => d.id -> tokens(d).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toLong })
    val df = tf.flatMap(_._2.keys).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toLong }
    tf.flatMap { case (id, terms) =>
      val dl = terms.values.sum
      terms.toSeq
        .map { case (t, f) => (t, (1000000L * f * n) / (dl * df(t))) }
        .sortBy { case (t, s) => (-s, t) }(
          Ordering.Tuple2(Ordering.Long, byUtf8))
        .take(k).zipWithIndex
        .map { case ((t, s), i) => (id, t, i + 1, s) }
    }
  }
}

/** Integer-exact BM25 (b = 3/4 multiplied through by 4·avgdl,
  * rational RSJ idf) over lowercased `[a-z]+` tokens: the top `k`
  * documents by score desc, then doc_id asc.
  */
object Bm25Model {
  import TextModels._

  /** (doc_id, rank, score_nano, n_hit_terms). */
  type Row = (Long, Long, Long, Long)

  def run(docs: Seq[Doc], queryTerms: Seq[String], k: Int,
          k1: Int = 2): Seq[Row] = {
    val n = docs.size.toLong
    val tf = docs.map(d => d.id -> azWords(tokens(d)).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toLong })
      .filter(_._2.nonEmpty)
    val df = tf.flatMap(_._2.keys).groupBy(identity)
      .map { case (t, ts) => t -> ts.size.toLong }
    val avgdl = tf.map(_._2.values.sum).sum / n
    val q = queryTerms.toSet
    tf.flatMap { case (id, terms) =>
      val dl = terms.values.sum
      val hits = terms.toSeq.filter { case (t, _) => q(t) }
      if (hits.isEmpty) None
      else Some((id, hits.map { case (t, f) =>
        val idf = (1000000L * (n - df(t))) / (n + df(t))
        val tfPml = (1000L * f * (k1 + 1) * 4 * avgdl) /
          (4 * avgdl * f + k1 * (avgdl + 3 * dl))
        tfPml * idf
      }.sum, hits.size.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }
      .take(k).zipWithIndex
      .map { case ((id, s, h), i) => (id, i + 1L, s, h) }
  }
}

/** Byte-pair encoding over lowercased `[a-z]+` words: each round
  * merges the adjacent symbol pair with the largest frequency-weighted
  * count (every adjacent position, overlaps included), ties broken by
  * (lhs, rhs) ascending; a merge applies greedily leftmost and never
  * overlaps itself.
  */
object BpeModel {
  import TextModels._

  /** (merge_round, lhs, rhs, merged, pair_count). */
  type Merge = (Int, String, String, String, Long)

  /** (source, n_words, n_word_forms, base_symbols, bpe_tokens,
    * compression_pml), ordered by source.
    */
  type SourceRow = (String, Long, Long, Long, Long, Long)

  def applyMerge(syms: Vector[String], lhs: String,
                 rhs: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.size) {
      if (i + 1 < syms.size && syms(i) == lhs && syms(i + 1) == rhs) {
        out += lhs + rhs; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def symbols(w: String, ms: Seq[Merge]): Vector[String] =
    ms.foldLeft(w.map(_.toString).toVector)((s, m) => applyMerge(s, m._2, m._3))

  def induce(docs: Seq[Doc], merges: Int): Seq[Merge] = {
    val freqs = docs.flatMap(d => azWords(tokens(d))).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }
    var words = freqs.toSeq.map { case (w, f) => (symbols(w, Nil), f) }
    (1 to merges).map { round =>
      val counts = mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((s, f) <- words; i <- 0 until s.size - 1)
        counts((s(i), s(i + 1))) += f
      val ((lhs, rhs), c) = counts.toSeq.minBy { case ((l, r), c) =>
        (-c, l, r) }
      words = words.map { case (s, f) => (applyMerge(s, lhs, rhs), f) }
      (round, lhs, rhs, lhs + rhs, c)
    }
  }

  def tokenize(docs: Seq[Doc], ms: Seq[Merge]): Seq[SourceRow] =
    docs.flatMap(d => azWords(tokens(d)).map(d.source -> _))
      .groupBy(_._1).toSeq.sortBy(_._1)(byUtf8)
      .map { case (src, ws) =>
        val forms = ws.groupBy(_._2).map { case (w, o) => w -> o.size.toLong }
        val base = forms.map { case (w, f) => f * w.length }.sum
        val bpe = forms.map { case (w, f) => f * symbols(w, ms).size }.sum
        (src, ws.size.toLong, forms.size.toLong, base, bpe, (1000 * bpe) / base)
      }
}

/** Directional word-n-gram shingle containment over df-capped
  * candidate pairs: for each pair sharing a shingle held by 2 to
  * `maxShingleDf` docs, C(sub ⊆ sup) = (1000·|S(a) ∩ S(b)|) div
  * min(|S(a)|, |S(b)|), counting only shared shingles under the cap;
  * sub is the smaller set, ties to the smaller id.
  */
object ContainmentModel {
  import TextModels._

  /** (sub_id, sup_id, cont_permille). */
  type Row = (Long, Long, Long)

  def shingles(d: Doc, n: Int): Set[String] = {
    val ws = tokens(d)
    if (ws.size < n) Set.empty else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  def run(docs: Seq[Doc], shingleN: Int, maxShingleDf: Int,
          minPermille: Long): Seq[Row] = {
    val sets = docs.map(d => d.id -> shingles(d, shingleN)).toMap
    val inter = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    sets.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
      .filter(ids => ids.size >= 2 && ids.size <= maxShingleDf)
      .foreach(ids => ids.combinations(2).foreach { p =>
        inter((p(0), p(1))) += 1 })
    inter.toSeq.map { case ((a, b), c) =>
      val (sa, sb) = (sets(a).size.toLong, sets(b).size.toLong)
      val (sub, sup) = if (sa <= sb) (a, b) else (b, a)
      (sub, sup, (1000L * c) / math.min(sa, sb))
    }.filter(_._3 >= minPermille)
  }
}
