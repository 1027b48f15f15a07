package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction over a document corpus,
  * and its application back to the corpus (tokenization).
  *
  * The classic iterative scheme (count adjacent symbol pairs weighted
  * by word frequency, merge the most frequent pair everywhere, repeat)
  * is made engine-exact the same way PageRank is (Graph.scala): a
  * FIXED merge budget, integer pair counts, and a deterministic
  * tie-break (count desc, then (lhs, rhs) lexicographic) mean two
  * engines running the same rounds land on the same merge table, so
  * the driver's hash oracle can gate an iterative induction exactly.
  *
  * The greedy leftmost-non-overlapping merge application is the one
  * genuinely order-sensitive step; it is expressed as a plain string
  * `replace` over a doubled-delimiter encoding: word "abc" is held as
  * "•a••b••c•" (each symbol wrapped in its own bullet pair), and
  * merging (a,b) is replace("•a••b•" -> "•ab•"). Because every symbol
  * carries its own delimiters, consecutive occurrences never share a
  * separator and the standard left-to-right replace semantics — which
  * Spark and DuckDB both implement — IS the greedy BPE merge. Pair
  * counting counts every adjacent position (overlaps included), the
  * standard get_stats contract.
  *
  * Scale shape: the token stream is read once into a word-frequency
  * table (one vocabulary shuffle); every round after that touches only that
  * table — a map-side pair explode, a (lhs,rhs)-keyed count shuffle,
  * and a TakeOrdered(1) argmax whose single row is pulled to the
  * driver (the bounded-model pattern: IVF centroids, the q_search
  * term pick). Holding the merge table driver-side makes each round's
  * re-encode a map-only projection over LITERAL patterns — no
  * broadcast build, no crossJoin, no per-round checkpoint — and the
  * returned merge table is a local relation with no lineage at all.
  * No round re-reads corpus text, so cost is merges × O(vocab), not
  * merges × O(corpus).
  *
  * Words are lowercased and restricted to /^[a-z]+$/ — BPE induction
  * normalizes its input by convention, and the restriction also
  * guarantees the bullet delimiter can never collide with a symbol.
  *
  * Contract: the corpus must contain at least `merges` distinct
  * adjacent pairs (any natural-language corpus does); otherwise later
  * rounds have no argmax and induction fails fast.
  */
object Bpe {

  /** One induced merge rule (row `merge_round` of the merge table). */
  final case class Merge(merge_round: Int, lhs: String, rhs: String,
                         merged: String, pair_count: Long)

  /** Tokenize a RAW whitespace token stream (`(source, word)`, one
    * row per token occurrence — e.g. the stored positional postings)
    * under an already-induced merge table `ms`: lowercase each token,
    * keep `^[a-z]+$` words, apply the merges to every word and account
    * tokens per `source` group — the "how many training tokens does
    * each source contribute" pass. Induce once (training), apply to
    * any corpus batch (one map-only pass each).
    *
    * Output per source: word instances, distinct word forms, base
    * (character) symbol count, post-merge BPE token count, and the
    * integer-permille compression ratio. All counters are exact
    * BIGINTs.
    *
    * Lowering per token equals lowering the text before the `" "`
    * split: lowercasing never creates or removes the delimiter, and
    * the only position-dependent lowering (Greek final sigma) produces
    * non-`[a-z]` characters both ways.
    *
    * Scale shape: application is ONE map-only projection — the
    * driver-held merge list unrolls into a chain of `merges` literal
    * `replace` calls, fully inside whole-stage codegen — over a
    * (source, word)-keyed frequency table, so apply cost is O(vocab),
    * never O(corpus).
    */
  private[graft] def tokenizeTermsWith(terms: DataFrame,
                                       ms: Seq[Merge]): DataFrame = {
    val enc0 = regexp_replace(col("word"), "(.)", "•$1•")
    val encN = ms.foldLeft(enc0)((acc, m) => applyMerge(acc, m.lhs, m.rhs))
    terms
      .select(col("source"), lower(col("word")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("freq"))
      .select(col("source"), col("freq"),
        length(col("word")).cast("long").as("n_chars"),
        size(split(trim(encN, "•"), "••")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_words"),
        count(lit(1)).as("n_word_forms"),
        sum(col("freq") * col("n_chars")).as("base_symbols"),
        sum(col("freq") * col("n_tok")).as("bpe_tokens"))
      .withColumn("compression_pml",
        expr("(1000 * bpe_tokens) div base_symbols"))
      .orderBy(col("source"))
  }

  /** Merging (lhs, rhs) in the doubled-delimiter encoding is a plain
    * left-to-right literal replace — see the object doc.
    */
  private def applyMerge(w: Column, lhs: String, rhs: String): Column =
    replace(w, lit(s"•$lhs••$rhs•"), lit(s"•$lhs$rhs•"))

  /** Induce `merges` BPE merges from a RAW whitespace token stream
    * (one `word` column, one row per occurrence — e.g. the stored
    * positional postings), lowercased and `^[a-z]+$`-filtered as in
    * [[tokenizeTermsWith]]. The merge rules come back as a driver-side
    * list (bounded: `merges` rows), one [[Merge]] per round.
    */
  private[graft] def induceMergesFromTerms(terms: DataFrame,
                                           merges: Int): Seq[Merge] = {
    require(merges >= 1, "need at least one merge round")
    val wordFreqs = terms
      .select(lower(col("word")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
    // loop-scoped, restored on exit: lets AQE right-size the stages
    // that read each round's pinned word table — the Graph.pageRank
    // finding; without it the per-round materializations re-run wide
    // 32-task stages over a vocabulary-sized frame
    ConfScope.withCachedPlanRepartitioning(wordFreqs.sparkSession) {
      induceImpl(wordFreqs, merges)
    }
  }

  private def induceImpl(wordFreqs: DataFrame, merges: Int): Seq[Merge] = {
    // word-frequency table with symbols pre-wrapped: "ab" ->
    // "•a••b•". regexp_replace of every char with •c• builds the
    // doubled-delimiter form in one codegen'd pass, no char split.
    val words0 = wordFreqs
      .select(regexp_replace(col("word"), "(.)", "•$1•").as("w"),
        col("freq"))

    val words = words0.persist()
    words.count() // eager fill: every round reuses this frame
    val out = ArrayBuffer.empty[Merge]
    for (round <- 1 to merges) {
      // round r re-applies the r-1 accepted merges ON THE FLY as a
      // chain of codegen'd literal replaces over the ONE pinned base
      // table — a bounded-depth expression (`merges` replaces), not a
      // per-round persist+count materialization of the whole word
      // table (the old shape's second job per round; measured at
      // sf0.1 the build fell 8.7 → 3.6 CPU-s). Lineage stays constant:
      // the plan is always pinned-base → ≤`merges` replaces → agg.
      val w = out.foldLeft(col("w"))((c, mg) =>
        applyMerge(c, mg.lhs, mg.rhs))
      val syms = split(trim(w, "•"), "••")
      val m = greatest(size(syms) - 1, lit(0))
      val pairs = zip_with(slice(syms, lit(1), m), slice(syms, lit(2), m),
        (a, b) => struct(a.as("lhs"), b.as("rhs")))
      // argmax as TakeOrdered(1) + a ONE-ROW driver pull per round —
      // never a full sort, never more than one row off the cluster
      val best = words
        .select(col("freq"), explode(pairs).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()
      require(best.nonEmpty, s"corpus exhausted at merge round $round")
      val (lhs, rhs) = (best(0).getString(0), best(0).getString(1))
      out += Merge(round, lhs, rhs, lhs + rhs, best(0).getLong(2))
    }
    words.unpersist(blocking = false)
    out.toSeq
  }
}
