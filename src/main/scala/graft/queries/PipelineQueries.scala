package graft
package queries

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.pipeline.{Mixer, Snapshots}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline steps: mixing, packing, sampling, splits,
  * snapshot deltas, CDC merges, view maintenance and the multimodal
  * decoders.
  */
object PipelineQueries {

  import DedupQueries.{dedupClusterDir, dedupClusters}

  val all: Seq[Query] = Seq(
    // token-budget cut ordered by (n_chars desc, doc_id): the
    // distributed two-level prefix sum (per-quality-bucket sums +
    // offset join; deterministic, no partition-id dependence, no
    // corpus-scale single-partition stage) must equal the naive
    // global window — which is exactly what the oracle computes
    Query("mix_budget",
      // naive global-window prefix — must equal Spark's distributed
      // range-partitioned prefix exactly
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    SUM(len(string_split(text, ' '))) OVER (
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS running_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens, CAST(running_tokens AS BIGINT) AS running_tokens
        |FROM t WHERE running_tokens <= 15000""".stripMargin)((s, dir) =>
      Mixer.takeTokenBudget(Tables.documents(s, dir), "doc_id", "text",
          qualityCol = "n_chars", budget = 15000L)
        .select(col("doc_id"), col("n_tokens"), col("running_tokens"))),

    // concat-and-chunk packing into 512-token training windows; the
    // distributed prefix (64-doc buckets) must reproduce the oracle's
    // naive global running sum exactly
    Query("pack_sequences",
      // naive global concat-and-chunk layout — must equal Spark's
      // bucketed two-level prefix exactly
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  start_tok // 512 AS pack_id,
        |  start_tok % 512 AS pack_offset
        |FROM t""".stripMargin)((s, dir) =>
      Mixer.packSequences(Tables.documents(s, dir), "doc_id", "text",
        seqLen = 512L, bucketSize = 64L)),

    // temperature-reweighted source sampling: integer-only keep test
    // (floor-sqrt weights, Lehmer draw, cross-multiplied threshold) so
    // the oracle reproduces the exact selected set in pure SQL
    Query("mix_temperature",
      // same integer keep test, spelled in SQL: w = floor(sqrt(count)),
      // keep iff draw·Z·c < M·target·w with draw = (id·48271) mod M
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |z AS (SELECT SUM(w) AS z FROM c)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN c ON c.source = d.source CROSS JOIN z
        |WHERE ((d.doc_id * 48271) % 1000003) * z.z * c.n
        |      < 1000003 * 150 * c.w""".stripMargin)((s, dir) =>
      Mixer.temperatureMix(Tables.documents(s, dir), "doc_id", "source",
          targetTotal = 150L)
        .select(col("doc_id"), col("source"))),

    // DSIR-style importance weighting (hashed-unigram target/raw
    // probability ratios, integer micro units): target = the English
    // subset, raw = the whole corpus. One scan builds both bucket
    // counts; the 2048-row ratio table broadcasts to the scoring
    // join. Top 20 by weight — the "select the most target-like
    // documents" pass.
    Query("q_dsir",
      // same md5 bucketing (Spark conv(hex,16,10) ≡ DuckDB CAST('0x…')),
      // same add-one-smoothed integer ratio, same floor divisions;
      // HUGEINT mirrors the DECIMAL(38,0) accumulate
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(w), 1, 6)) AS BIGINT) % 2048 AS bkt,
        |    t
        |  FROM tok),
        |bc AS (
        |  SELECT bkt, COUNT(*) AS cr,
        |    SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct
        |  FROM b GROUP BY bkt),
        |tt AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM bc),
        |r AS (
        |  SELECT bkt,
        |    CAST(ct + 1 AS HUGEINT) * (nr + 2048) * 1000000
        |      // (CAST(cr + 1 AS HUGEINT) * (nt + 2048)) AS rm
        |  FROM bc, tt),
        |d AS (
        |  SELECT b.doc_id, COUNT(*) AS n_tokens, SUM(r.rm) AS s
        |  FROM b JOIN r USING (bkt) GROUP BY b.doc_id)
        |SELECT doc_id, n_tokens, CAST(s // n_tokens AS BIGINT) AS w_micro
        |FROM d ORDER BY w_micro DESC, doc_id LIMIT 20""".stripMargin)((s, dir) =>
      Mixer.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en")
        .orderBy(col("w_micro").desc, col("doc_id")).limit(20)),

    // weight-proportional systematic sampling (PPS without RNG):
    // 50 evenly spaced thresholds over the char-weight line laid
    // along doc_id order; picks and multiplicities are pure floor
    // arithmetic over PrefixSums offsets — never a global window
    Query("q_sample_weighted",
      // the oracle computes the SAME picks with the naive global
      // running sum the Spark side deliberately avoids (PrefixSums
      // two-level offsets) — agreement is exactly the property that
      // matters: the distributed prefix equals the sequential one
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |           FROM documents),
        |w AS (SELECT GREATEST(SUM(n_chars) // 50, 1) AS step FROM d),
        |p AS (
        |  SELECT doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off
        |  FROM d)
        |SELECT doc_id, n_chars, CAST(off AS BIGINT) AS off,
        |  CAST((off + n_chars) // step - off // step AS BIGINT)
        |    AS n_picks
        |FROM p, w
        |WHERE (off + n_chars) // step > off // step""".stripMargin)((s, dir) =>
      Mixer.systematicSample(Tables.documents(s, dir), "doc_id",
        "n_chars", k = 50)),

    // per-source document cap: keep the top 5 docs per source by
    // (n_chars desc, doc_id) — the crawl-style per-domain quota
    Query("q_domain_cap",
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 5)
    }),

    // snapshot-version diff: %10==1 docs exist only in the new
    // snapshot (added), %10==2 only in the old (removed), %5==0 are
    // edited (changed); the 24-byte-key full-outer join must classify
    // identically to the oracle's raw-text comparison
    Query("corpus_delta",
      // raw-text full-outer mirror of the 24-byte-key diff
      """WITH old AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 1),
        |new AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 10 <> 2)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old o FULL OUTER JOIN new n ON n.doc_id = o.doc_id""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 1)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 2)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Snapshots.corpusDelta(oldSnap, newSnap, "doc_id", "text")
    }),

    // CDC MERGE: a derived changeset (updates / deletes / inserts,
    // disjoint by construction) applied to the documents snapshot
    Query("merge_upsert",
      // the same changeset, applied: upserts override, deletes drop,
      // untouched base rows pass through
      """WITH chg AS (
        |  SELECT doc_id, text || ' v2' AS text, 'U' AS op
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, NULL AS text, 'D' AS op
        |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, 'I' AS op
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
        |  CAST(length(CASE WHEN c.op IS NOT NULL THEN c.text
        |                   ELSE b.text END) AS BIGINT) AS n_chars_m
        |FROM documents b FULL OUTER JOIN chg c ON c.doc_id = b.doc_id
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          lit("U").as("op"))
      val deletes = docs
        .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 11 === 3)
        .select(col("doc_id"), lit(null).cast(StringType).as("text"),
          lit("D").as("op"))
      val inserts = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("I").as("op"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      Snapshots.applyChangeset(docs.select("doc_id", "text"), changes,
          "doc_id", "op")
        .select(col("doc_id"), length(col("text")).as("n_chars_m"))
    }),

    // incremental VIEW MAINTENANCE: the per-source (count, token-sum)
    // view folded forward under the same changeset family — Spark
    // computes view + delta (no base re-aggregation), the oracle
    // recomputes the merged snapshot from scratch; equality proves
    // the incremental path exact
    Query("q_view_maintain",
      // ground truth for the incremental view: full re-aggregation of
      // the merged snapshot
      """WITH chg AS (
        |  SELECT doc_id, source, text || ' v2' AS text, 'U' AS op
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, source, NULL AS text, 'D' AS op
        |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 11 = 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, text, 'I' AS op
        |  FROM documents WHERE doc_id % 13 = 0),
        |merged AS (
        |  SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN c.op IS NOT NULL THEN c.source ELSE b.source END
        |      AS source,
        |    CASE WHEN c.op IS NOT NULL THEN c.text ELSE b.text END AS text
        |  FROM documents b FULL OUTER JOIN chg c ON c.doc_id = b.doc_id
        |  WHERE c.op IS NULL OR c.op <> 'D')
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        |FROM merged GROUP BY source""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = size(split(col("text"), " ")).cast(LongType)
      val base = docs.select(col("doc_id"), col("source"), toks.as("m"))
      val view = base.groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("m")).cast(LongType).as("sum_m"))
      // " v2" appends exactly one token to a nonempty text
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("source"), (toks + 1).as("m"),
          lit("U").as("op"))
      val deletes = docs
        .filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 11 === 3)
        .select(col("doc_id"), col("source"), lit(0L).as("m"),
          lit("D").as("op"))
      val inserts = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          toks.as("m"), lit("I").as("op"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      Snapshots.incrementalAgg(view, base, changes,
          "doc_id", "op", "source", "m")
        .select(col("source"), col("n").as("n_docs"),
          col("sum_m").as("sum_tokens"))
    }),

    // deterministic train/val/test assignment (80/10/10) by integer
    // Lehmer draw on the doc id — the reproducible-split primitive
    // every training pipeline needs; the integer keep test makes the
    // assignment engine-exact (same pattern as mix_temperature)
    Query("split_assign",
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    (doc_id * 48271) % 1000003 AS draw
        |  FROM documents)
        |SELECT
        |  CASE WHEN draw * 10 < 1000003 * 8 THEN 'train'
        |       WHEN draw * 10 < 1000003 * 9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM t GROUP BY 1""".stripMargin)((s, dir) => {
      val draw = pmod(col("doc_id") * 48271, lit(1000003L))
      val sp = when(draw * 10 < 1000003L * 8, "train")
        .when(draw * 10 < 1000003L * 9, "val").otherwise("test")
      Tables.documents(s, dir)
        .select(sp.as("split"), col("doc_id"),
          TextFunctions.wordCount(col("text")).as("n_tokens"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("sum_tokens"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),

    // LEAKAGE-SAFE split assignment: the Lehmer draw runs on the
    // near-dup CLUSTER id, not the doc id, so every near-duplicate
    // family lands in ONE split — the contamination-proof version of
    // split_assign (a test doc's near-dups in train is silent eval
    // leakage; spec-asserted: no jaccard pair crosses splits).
    // Singletons are their own cluster (coalesce to doc_id).
    Query("split_by_cluster",
      // dedup_clusters' closure CTEs + the split_assign Lehmer draw on
      // the cluster id; singletons coalesce to their own doc id
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |sh0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |shj AS (
        |  SELECT s.doc_id, s.sh FROM sh s
        |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 50) k
        |    ON k.sh = s.sh),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        |  FROM shj x JOIN shj y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a
        |  JOIN sz sb ON sb.doc_id = id_b
        |  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.1),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id
        |       FROM reach GROUP BY id),
        |assigned AS (
        |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id)
        |    AS cluster_id
        |  FROM documents d LEFT JOIN cl USING (doc_id))
        |SELECT doc_id, cluster_id,
        |  CASE WHEN (cluster_id * 48271) % 1000003 * 10 < 1000003 * 8
        |         THEN 'train'
        |       WHEN (cluster_id * 48271) % 1000003 * 10 < 1000003 * 9
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM assigned""".stripMargin, uses = Seq(dedupClusterDir))((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = dedupClusters(s, dir)
      val withCl = docs.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val draw = pmod(col("cluster_id") * 48271, lit(1000003L))
      withCl.select(col("doc_id"), col("cluster_id"),
        when(draw * 10 < 1000003L * 8, "train")
          .when(draw * 10 < 1000003L * 9, "val")
          .otherwise("test").as("split"))
    }),

    // deterministic per-stratum uniform sample (up to n per source)
    // with the scale-correct two-phase shape: a draw-cutoff prefilter
    // (expected ~3n survivors per stratum, mirrored exactly in the
    // oracle) bounds the rank window to O(n) rows per group — the
    // naive one-phase window would sort every stratum in full
    Query("q_sample_stratified",
      // same two-phase shape: the draw-cutoff prefilter is mirrored, so
      // rank-over-survivors is value-identical to the Spark plan
      """WITH d AS (
        |  SELECT doc_id, source, (doc_id * 48271) % 1000003 AS draw
        |  FROM documents),
        |c AS (SELECT source, COUNT(*) AS cnt FROM d GROUP BY source),
        |p AS (
        |  SELECT d.doc_id, d.source, d.draw FROM d
        |  JOIN c USING (source)
        |  WHERE d.draw * c.cnt < 60 * 1000003),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY draw, doc_id) AS rn
        |  FROM p)
        |SELECT source, doc_id, rn FROM r WHERE rn <= 20""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val n = 20L
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          pmod(col("doc_id") * 48271, lit(1000003L)).as("draw"))
      val counts = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
      val pre = d.join(broadcast(counts), "source")
        .filter(col("draw") * col("cnt") < lit(3 * n * 1000003L))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("draw"), col("doc_id"))
      pre.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= n)
        .select(col("source"), col("doc_id"), col("rn"))
    }),

    // fixed-size per-stratum sampling — the third standard sampling
    // mode beside mix_temperature's Bernoulli draw and
    // q_sample_weighted's PPS thresholds: exactly k docs per source,
    // chosen by the engine-common md5 hash order (deterministic,
    // reproducible, partition-independent), kept by the bounded
    // mergeable TopKAgg — ≤k rows per group per map task cross the
    // wire, never the per-group row_number window that sorts every
    // row of every stratum.
    Query("q_sample_fixed",
      // same md5-hash order, same (hv, doc_id) tie-break — the oracle
      // uses the per-stratum window the Spark side's bounded aggregate
      // deliberately avoids
      """WITH h AS (
        |  SELECT source, doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS hv
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, hv,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id)
        |      AS rk
        |  FROM h)
        |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, hv
        |FROM r WHERE rk <= 5""".stripMargin)((s, dir) => {
      val k = 5
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast(LongType).as("hv"))
        .groupBy(col("source"))
        .agg(graft.functions.TopKAgg.topK(k)(-col("hv"), col("doc_id"))
          .as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("source"), (col("i") + 1).cast(LongType).as("rk"),
          col("p._2").as("doc_id"), (-col("p._1")).as("hv"))
    }),

    // corpus-version reconciliation with precedence: the same doc_id
    // may arrive from several feeds; highest-priority feed wins, ties
    // impossible by construction (priority is the dedup rank key).
    // One per-key window over (priority, feed) — merge_upsert's
    // first-writer-wins generalized to N sources.
    Query("q_corpus_union",
      // same three feeds, same (priority, feed) precedence window
      """WITH feeds AS (
        |  SELECT doc_id, n_chars, 2 AS priority, 'base' AS feed
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, n_chars + 1, 1, 'recrawl' FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars + 2, 0, 'curated' FROM documents
        |  WHERE doc_id % 7 = 0),
        |r AS (SELECT doc_id, n_chars, feed,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY priority, feed) AS rk
        |      FROM feeds)
        |SELECT doc_id, n_chars, feed FROM r WHERE rk = 1""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      // three deterministic feeds: base, a re-crawl of doc_id%3=0
      // (priority 1 beats it), and a curated slice doc_id%7=0
      // (priority 0 beats both)
      val feeds = d.select(col("doc_id"), col("n_chars"),
          lit(2L).as("priority"), lit("base").as("feed"))
        .unionByName(d.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), (col("n_chars") + 1).as("n_chars"),
            lit(1L).as("priority"), lit("recrawl").as("feed")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select(col("doc_id"), (col("n_chars") + 2).as("n_chars"),
            lit(0L).as("priority"), lit("curated").as("feed")))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("priority"), col("feed"))
      feeds.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("n_chars"), col("feed"))
    }),

    // audio DSP through a real RIFF/WAVE round trip: deterministic
    // PCM per doc → encode → decode → integer-exact energy and
    // zero-crossing folds; the oracle recomputes the signal from
    // generate_series, so codec corruption flips the gate
    Query("mm_audio",
      // same deterministic PCM signal, recomputed without the codec
      """WITH i AS (SELECT unnest(generate_series(0, 799)) AS i),
        |s AS (
        |  SELECT d.doc_id, i.i,
        |    ((d.doc_id * 31 + i.i * 17) % 2048) - 1024 AS v
        |  FROM documents d CROSS JOIN i),
        |z AS (
        |  SELECT doc_id, v,
        |    LAG(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
        |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
        |                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
        |FROM z GROUP BY doc_id""".stripMargin)((s, dir) =>
      Multimodal.audioFeatures(Tables.documents(s, dir), "doc_id").toDF()),

    // image modality through a REAL BMP encode->decode round trip
    // (see Multimodal.imageFeatures); exact per-channel pixel sums,
    // oracle recomputes the closed-form pattern over an (x, y) grid
    Query("mm_image",
      // the same closed-form pixel pattern the Spark side encodes into
      // BMP and decodes back; a codec defect flips these sums
      """WITH x AS (SELECT unnest(generate_series(0, 23)) AS x),
        |y AS (SELECT unnest(generate_series(0, 15)) AS y),
        |g AS (SELECT d.doc_id, x.x, y.y
        |      FROM documents d CROSS JOIN x CROSS JOIN y)
        |SELECT doc_id, 24 AS width, 16 AS height,
        |  CAST(SUM((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 17 + x * 11 + y * 5) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 23 + x * 3 + y * 19) % 256) AS BIGINT) AS sum_b
        |FROM g GROUP BY doc_id""".stripMargin)((s, dir) =>
      Multimodal.imageFeatures(Tables.documents(s, dir), "doc_id").toDF()),

    // decode → nearest-neighbor RESIZE → re-encode → re-decode, the
    // thumbnailing stage of a multimodal pipeline, gated end to end:
    // the sampling map (3x, 2y) is integer arithmetic, so the oracle
    // recomputes the thumbnail sums from the pixel formula directly
    Query("mm_resize",
      // the thumbnail grid samples source pixels at (3x, 2y) — the
      // same truncating-division map resizeBytes applies
      """WITH x AS (SELECT unnest(generate_series(0, 7)) AS x),
        |y AS (SELECT unnest(generate_series(0, 7)) AS y),
        |g AS (SELECT d.doc_id, x.x * 3 AS sx, y.y * 2 AS sy
        |      FROM documents d CROSS JOIN x CROSS JOIN y)
        |SELECT doc_id, 8 AS width, 8 AS height,
        |  CAST(SUM((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT)
        |    AS sum_r,
        |  CAST(SUM((doc_id * 17 + sx * 11 + sy * 5) % 256) AS BIGINT)
        |    AS sum_g,
        |  CAST(SUM((doc_id * 23 + sx * 3 + sy * 19) % 256) AS BIGINT)
        |    AS sum_b
        |FROM g GROUP BY doc_id""".stripMargin)((s, dir) =>
      Multimodal.resizedImageFeatures(Tables.documents(s, dir), "doc_id")
        .toDF()),

    // frame-sampled video through a real container round trip: the
    // reader walks the GVID frame index and decodes only every 2nd
    // BMP frame — decode cost ∝ frames kept (see multimodal.Video)
    Query("mm_video",
      // same closed-form pixels over the SAMPLED (even) frames of the
      // 4 + doc_id%5 frame sequence; container or codec defects flip
      // the sums
      """WITH f AS (SELECT unnest(generate_series(0, 8)) AS f),
        |x AS (SELECT unnest(generate_series(0, 15)) AS x),
        |y AS (SELECT unnest(generate_series(0, 7)) AS y),
        |g AS (SELECT d.doc_id, f.f, x.x, y.y
        |      FROM documents d CROSS JOIN f CROSS JOIN x CROSS JOIN y
        |      WHERE f.f < 4 + d.doc_id % 5 AND f.f % 2 = 0)
        |SELECT doc_id,
        |  CAST(4 + doc_id % 5 AS BIGINT) AS n_frames,
        |  CAST((4 + doc_id % 5 + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(SUM((doc_id * 31 + f * 41 + x * 7 + y * 13) % 256)
        |    AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 17 + f * 29 + x * 11 + y * 5) % 256)
        |    AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 23 + f * 37 + x * 3 + y * 19) % 256)
        |    AS BIGINT) AS sum_b
        |FROM g GROUP BY doc_id""".stripMargin)((s, dir) =>
      Multimodal.videoFeatures(Tables.documents(s, dir), "doc_id",
        stride = 2).toDF()),

    Query("mm_meta",
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  strlen(text) % 64 + 16 AS width,
        |  (strlen(text) * 7) % 64 + 16 AS height,
        |  strlen(text) % 10 + 1 AS frames
        |FROM documents""".stripMargin)((s, dir) =>
      Multimodal.withPayload(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.frames").as("frames"))),

    Query("mm_features",
      // feat_nonzero = distinct high nibbles over the UTF-8 payload bytes
      // (text is ASCII, so bytes == characters); frames partition the
      // payload, per-frame histograms are non-negative, so a mean bin is
      // non-zero iff the nibble occurs anywhere in the payload.
      """SELECT doc_id,
        |  strlen(text) AS n_bytes,
        |  strlen(text) % 10 + 1 AS n_frames,
        |  len(list_distinct(
        |    [ord(substr(text, CAST(i AS INT), 1)) // 16
        |     for i in range(1, strlen(text) + 1)])) AS feat_nonzero
        |FROM documents""".stripMargin)((s, dir) =>
      // scalar digests, not the raw array<float> — see Multimodal.featureDigest
      Multimodal.featureDigest(
        Multimodal.extractFeatures(
          Multimodal.withPayload(Tables.documents(s, dir), "doc_id", "text"))))
  )
}
