package graft
package queries

import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication and decontamination: exact, shingle-Jaccard, minhash,
  * simhash and substring dedup, near-dup clusters and survivors.
  * Owns the stored minhash band indexes, shingle-pair tables and the
  * near-dup cluster table.
  */
object DedupQueries {

  /** Key-shift stride of scripts/gen_scale.py (SHIFT = 10^9): scale
    * replicas place original ids at r·KeyShift + base, so any
    * classification of PLANTED (+1e6) vs ORIGINAL ids must test
    * `pmod(id, KeyShift)` — the SURVEY §6 proportionality rule. The
    * dedup_minhash_inc/ext ORACLE strings interpolate this constant
    * so the six sites cannot drift from each other (they still must
    * match gen_scale.py if its SHIFT ever changes — noted there).
    */
  private val KeyShift = 1000000000L

  /** Near-dup planting for the minhash/simhash demonstrations: each
    * 10th document is re-emitted (id + 1,000,000) with its last two
    * words dropped — a high-Jaccard near-duplicate derived from the
    * given corpus, so the LSH operators have true positives to find.
    */
  private def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val ws = split(col("text"), " ")
    val mutated = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1)))).as("text"))
    base.unionByName(mutated)
  }

  /** Exact copies (ids shifted by 1e6) of every 10th document. */
  private def withPlantedExactCopies(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base.unionByName(base.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  // 5-gram containment vs the eval subset's shingle union; shared by
  // the broadcast and bloom-prefiltered paths (bit-identical outputs)
  private val decontaminateOracle =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |g AS (
      |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word
      |    || ' ' || d.word || ' ' || e.word AS sh
      |  FROM w a
      |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      |  JOIN w d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
      |  JOIN w e ON e.doc_id = a.doc_id AND e.pos = a.pos + 4),
      |sh AS (SELECT DISTINCT doc_id, sh FROM g),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 = 0),
      |corp AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
      |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY doc_id),
      |hit AS (
      |  SELECT c.doc_id, COUNT(*) AS n_hit FROM corp c
      |  JOIN bench b ON b.sh = c.sh GROUP BY c.doc_id)
      |SELECT t.doc_id, t.n_shingles,
      |  COALESCE(h.n_hit, 0) AS n_hit,
      |  (1000 * COALESCE(h.n_hit, 0)) // t.n_shingles AS contain_pml
      |FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id""".stripMargin

  /** Build-once memoization of the SAVED minhash band index (temp
    * parquet dir per dataset dir): `dedup_minhash_inc` admissions load
    * from storage, the production serving shape.
    */
  private[graft] val minhashIndexDir = Stored.table("_build_minhash_index") {
    (s, dir, p) =>
      val all = withPlantedNearDups(Tables.documents(s, dir))
      val built = Dedup.buildBandIndex(
        all.filter(pmod(col("doc_id"), lit(KeyShift)) < 1000000L),
        "doc_id", "text", shingleN = 3, k = 64, bands = 32)
      Dedup.saveBandIndex(built, p)
      built.shingles.unpersist(blocking = false)
  }

  /** Build-once memoization of the saved band index of the PLANTED
    * docs (pmod ≥ 1e6) — the complement of [[minhashIndexDir]]'s
    * corpus partition, so corpus-index ∪ planted-index is a stored
    * band index of `dedup_minhash`'s ENTIRE input and the corpus
    * self-dedup query serves from storage
    * ([[operators.Dedup.minhashPairsFromStored]]) instead of
    * re-shingling + re-signing the full corpus per run (the last
    * duplicated corpus front end — round-15 verdict task 1). Stored
    * as its own table rather than a rewritten union so the build
    * pays only the planted tenth of the corpus; the union happens at
    * read over the two loaded parquet indexes.
    */
  private val minhashPlantedDir = Stored.table("_build_minhash_planted") {
    (s, dir, p) =>
      val all = withPlantedNearDups(Tables.documents(s, dir))
      val built = Dedup.buildBandIndex(
        all.filter(pmod(col("doc_id"), lit(KeyShift)) >= 1000000L),
        "doc_id", "text", shingleN = 3, k = 64, bands = 32)
      Dedup.saveBandIndex(built, p)
      built.shingles.unpersist(blocking = false)
  }

  /** Build+EXTEND-once memoization of the saved extended band index
    * (dedup_minhash_ext): corpus index ∪ first planted batch, saved
    * once per dataset dir — repeated gate runs measure the admission
    * of the second batch, the daily rolling cost.
    */
  private val minhashExtDir =
    Stored.table("_build_minhash_ext", minhashIndexDir) { (s, dir, p) =>
      val all = withPlantedNearDups(Tables.documents(s, dir))
      // the base is the SAVED corpus index, loaded — one corpus
      // shingle pass per dataset dir, shared with dedup_minhash_inc
      // (the rolling-index contract: extension starts from storage;
      // measured at sf0.1 this build fell 7.0 → 2.0 CPU-s)
      val base = Dedup.loadBandIndex(s, minhashIndexDir(s, dir))
      // batch membership is pmod(id, 1e9) >= 1e6 (the same §6
      // id-domain partition as dedup_minhash_inc — the absolute
      // `>= 1e6` threshold swept scale replicas' ORIGINAL docs into
      // the batch at sf0.5); halves then split on pmod(id, 20) < 10
      // vs >= 10 — NOT on the planted +1e6 offset classes: the
      // split must PARTITION every batch doc at any SF (the r9
      // sweep caught exactly this — residues outside {0, 10} were
      // in neither index nor batch, and the oracle saw near-dup
      // partners the index never held). At base SFs only residues
      // 0 and 10 exist, so the sets are unchanged.
      val batchIdx = Dedup.buildBandIndex(
        all.filter(pmod(col("doc_id"), lit(KeyShift)) >= 1000000L &&
          pmod(col("doc_id"), lit(20)) < 10),
        "doc_id", "text", base.shingleN, base.k, base.nBands)
      Dedup.saveBandIndex(Dedup.extendIndex(base, batchIdx), p)
      batchIdx.shingles.unpersist(blocking = false)
    }

  /** Build-once memoization of the STORED df-capped shingle-pair
    * tables (round-14 verdict task 4, measured variant: rather than
    * storing raw shingles — which only saves the tokenize front end —
    * store [[operators.Dedup]]'s `(inter, sizes)` outputs, behind
    * which sit the shingle explosion AND the posting-list pair
    * generation). Three consumers ran the IDENTICAL front end per
    * run: `dedup_jaccard`, `dedup_containment` (same N=3 / df-cap-50
    * candidates, different ratio), and `_build_dedup_clusters` (the
    * same ngramJaccard call verbatim) — so the build cost is one of
    * three identical pipelines, eliminated twice over. Serving reads
    * are candidate-volume joins.
    */
  private val shinglePairsDir = Stored.table("_build_shingle_pairs") {
    (s, dir, p) =>
      Dedup.buildShinglePairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, maxShingleDf = 50, p)
  }

  /** Build-once memoization of the SAVED near-dup CLUSTER table
    * (`(doc_id, cluster_id)` for every doc appearing in a jaccard≥0.1
    * pair): cluster formation is one corpus job — pair generation +
    * connected components — whose assignment table three downstream
    * passes consume (cluster listing, survivorship, leakage-safe
    * splits). Stored per dataset dir like the basket-rules table, so
    * each consumer reads a cluster-count-sized parquet instead of
    * re-paying shingling + the component iteration (measured at
    * sf0.1: the three consumers' steady CPU fell from ~3.5 each to
    * reads; the one build pays ~4 CPU-s).
    */
  private[queries] val dedupClusterDir =
    Stored.table("_build_dedup_clusters", shinglePairsDir) { (s, dir, p) =>
      // the pair list serves from the STORED shingle-pair tables —
      // this build no longer re-runs the corpus shingle pipeline
      Dedup.clusters(
        Dedup.jaccardFromStored(s, shinglePairsDir(s, dir),
          minJaccard = 0.1),
        "id_a", "id_b")
        .write.mode("overwrite").parquet(p)
    }

  private[queries] def dedupClusters(s: SparkSession, dir: String): DataFrame =
    operators.ParquetIO.read(s, dedupClusterDir(s, dir))

  val all: Seq[Query] = Seq(
    // default (hashed) mode: groups on (xxhash64(text), length) — a
    // deliberate semantic choice over raw text (a same-length 64-bit
    // collision would merge two distinct docs; odds need ~2^32
    // equal-length docs). The oracle groups on raw text, so the gate
    // also proves hashed ≡ raw on this corpus; pass rawKeys=true
    // where the residual collision risk is unacceptable.
    Query("dedup_exact",
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  length(text) AS text_len
        |FROM documents GROUP BY text""".stripMargin)((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")),

    // incremental ingest: even-id docs re-arrive as a new batch (ids
    // +2e6) — those ≡0 (mod 4) byte-identical (must drop), ≡2 (mod 4)
    // edited (must keep). The oracle's NOT EXISTS is on raw text, so
    // the gate again proves hashed-key ≡ raw anti-join semantics.
    Query("dedup_incremental",
      // incremental ingest: raw-text NOT EXISTS mirror of the
      // hashed-key anti-join
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text
        |         ELSE text || ' incr' END AS text
        |  FROM documents WHERE doc_id % 2 = 0)
        |SELECT b.doc_id, length(b.text) AS text_len
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text)""".stripMargin)((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" incr"))).as("text"))
      Dedup.incremental(batch, docs, "doc_id", "text")
        .select(col("doc_id"), col("text_len"))
    }),

    Query("dedup_jaccard",
      """WITH w AS (
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
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.1""".stripMargin, uses = Seq(shinglePairsDir))((s, dir) =>
      // finite df cap: the hot-shingle guard (a shingle in d docs makes
      // d² join rows) runs through the gate, mirrored in the oracle CTE.
      // Serves from the STORED (inter, sizes) tables
      // (_build_shingle_pairs) — the shingle pipeline is paid once per
      // snapshot, the query is a candidate-volume join
      Dedup.jaccardFromStored(s, shinglePairsDir(s, dir),
        minJaccard = 0.1)),

    // directional shingle CONTAINMENT: C(sub ⊆ sup) = |S∩|/|S(sub)| in
    // exact permille — catches excerpt/syndication subset-duplication
    // that symmetric Jaccard structurally under-scores (an excerpt
    // inside a 10×-longer doc is J ≈ 0.1 but C = 1000‰). Same df-capped
    // inverted-index candidates as dedup_jaccard; only the ratio is new
    Query("dedup_containment",
      // same candidate CTEs as dedup_jaccard; only the final ratio
      // changes — directional permille against the SMALLER shingle set
      """WITH w AS (
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
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT CASE WHEN sa.sz <= sb.sz THEN id_a ELSE id_b END AS sub_id,
        |  CASE WHEN sa.sz <= sb.sz THEN id_b ELSE id_a END AS sup_id,
        |  (1000 * i) // least(sa.sz, sb.sz) AS cont_permille
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE (1000 * i) // least(sa.sz, sb.sz) >= 500""".stripMargin, uses = Seq(shinglePairsDir))((s, dir) =>
      Dedup.containmentFromStored(s, shinglePairsDir(s, dir),
        minPermille = 500)),

    // transitive closure of the (oracled) jaccard pair list: the
    // pick-one-representative step of a real dedup pipeline
    // cluster formation serves from the STORED assignment table
    // (built once per dataset dir — the basket-rules discipline):
    // repeated runs measure the serving read, the oracle still
    // recomputes components from scratch
    Query("dedup_clusters",
      // same pair CTEs as dedup_jaccard (proven engine-portable), then
      // min-reachable-id per node via a recursive closure — DuckDB's
      // recursive CTE plays the role of Spark-side label propagation
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
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst)
        |SELECT id AS doc_id, MIN(r) AS cluster_id
        |FROM reach GROUP BY id""".stripMargin, uses = Seq(dedupClusterDir))((s, dir) => dedupClusters(s, dir)),

    // survivorship: the step after clustering — every document maps to
    // its cluster's best member (longest text, ties to min id), with
    // singletons their own survivor. "Keep the best copy" is the
    // policy real dedup ships, not "keep the min id"; one per-cluster
    // window orders members, nothing corpus-global.
    Query("dedup_survivors",
      // dedup_clusters' recursive closure extended one step: left-join
      // the full corpus (singletons become their own cluster) and pick
      // the first_value under (n_chars DESC, doc_id) per cluster
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
        |m AS (SELECT id AS doc_id, MIN(r) AS cluster_id
        |      FROM reach GROUP BY id),
        |f AS (
        |  SELECT d.doc_id, COALESCE(m.cluster_id, d.doc_id) AS cluster_id,
        |    CAST(d.n_chars AS BIGINT) AS n_chars
        |  FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id,
        |  first_value(doc_id) OVER (PARTITION BY cluster_id
        |    ORDER BY n_chars DESC, doc_id) AS survivor_id,
        |  CASE WHEN doc_id = first_value(doc_id) OVER (
        |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id)
        |    THEN 1 ELSE 0 END AS is_survivor
        |FROM f""".stripMargin, uses = Seq(dedupClusterDir))((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("n_chars").cast(LongType).as("n_chars"))
      val cl = dedupClusters(s, dir)
      val full = docs.join(cl, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      full.withColumn("survivor_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
          (col("doc_id") === col("survivor_id")).cast("long")
            .as("is_survivor"))
    }),

    // LSH candidates + exact-Jaccard verify: the output pair set is
    // engine-independent (LSH miss probability at j>=0.5 is <=1e-4
    // with k=64/bands=32, and the driver data's pairs all sit at
    // j>=0.7 where it is <=4e-10), so the full exact-pair SQL is a
    // real oracle for the LSH pipeline. Probabilistic-output variant
    // (est-jaccard, no verify): Dedup.minhashLsh, spec-checked.
    // Since r16 the query serves from STORAGE: the corpus band index
    // (shared with dedup_minhash_inc) unioned with the planted-docs
    // index covers the entire input, so the per-run plan reads stored
    // band/shingle/size parquet and never re-runs the shingle +
    // k-hash signature front end (Dedup.minhashPairsFromStored;
    // DedupSpec checks it equals the exact ngramJaccard pair set).
    Query("dedup_minhash",
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM docs),
        |sh0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.5""".stripMargin, uses = Seq(minhashIndexDir, minhashPlantedDir))((s, dir) => {
      val full = Dedup.extendIndex(
        Dedup.loadBandIndex(s, minhashIndexDir(s, dir)),
        Dedup.loadBandIndex(s, minhashPlantedDir(s, dir)))
      Dedup.minhashPairsFromStored(full, minJaccard = 0.5)
    }),

    // incremental admission of a re-crawl batch: the planted copies
    // (ids ≥ 1e6) arrive as the NEW batch against the original corpus
    // index — candidates only ever pair the batch against
    // index∪batch, never corpus×corpus. Verified output = the exact
    // jaccard pair set restricted to pairs touching the batch, which
    // the oracle mirrors with the same orientation (new id first).
    // The gate runs the STORED-index path users run at scale: the
    // corpus index is built ONCE per dataset, written to parquet
    // (saveBandIndex), and every admission — including this query's —
    // goes loadBandIndex → admitBatch, so the executed plan reads
    // band/shingle/size tables from parquet and never scans corpus
    // text (corpus text cost was paid once at build, memoized per
    // dir like the IVF/PQ models: repeated runs measure admission,
    // not index construction).
    Query("dedup_minhash_inc",
      // same planted-corpus shingle CTEs; the pair join keeps the new
      // batch (ids >= 1e6) and orients new-new pairs a < b
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM docs),
        |sh0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.sh = y.sh
        |    AND ((x.doc_id % $KeyShift) + $KeyShift) % $KeyShift >= 1000000
        |    AND x.doc_id <> y.doc_id
        |    AND (((y.doc_id % $KeyShift) + $KeyShift) % $KeyShift < 1000000
        |         OR x.doc_id < y.doc_id)
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.5""".stripMargin, uses = Seq(minhashIndexDir))((s, dir) => {
      val all = withPlantedNearDups(Tables.documents(s, dir))
      // corpus/batch classified by pmod(id, 1e9) — the §6 id-domain
      // PARTITION rule: at base SFs ids are < 1e9 so the sets equal
      // the old `< 1e6` split exactly, and at key-shifted scale SFs
      // (replica ids at r·1e9) every ORIGINAL doc stays in the corpus
      // index while the batch is exactly the planted docs. The old
      // absolute `>= 1e6` threshold silently swept the replicas'
      // original docs into the BATCH at sf0.5 — corpus 5k vs batch
      // 22.5k, a 41× batch-shingle blowup that read as superlinear
      // admission cost in the scale-timing table when it was really
      // an inverted corpus:batch ratio.
      val idxPath = minhashIndexDir(s, dir)
      Dedup.admitBatch(Dedup.loadBandIndex(s, idxPath),
        all.filter(pmod(col("doc_id"), lit(KeyShift)) >= 1000000L),
        "doc_id", "text", minJaccard = 0.5)
    }),

    // the DAILY ROLLING index path gated end to end (round-8 verdict
    // item 3): the corpus index is EXTENDED with the first half of
    // the planted batch (extendIndex — batch-cost, corpus text never
    // re-read), the extended index round-trips through parquet
    // (saveBandIndex → loadBandIndex), and the second half admits
    // against the STORED extended index. The oracle is the exact
    // jaccard mirror restricted to pairs whose left side is the
    // second batch — pairs against corpus AND against the extended
    // batch1 docs must both surface, which is exactly what proves the
    // extension is live in the index.
    Query("dedup_minhash_ext",
      // same shingle CTEs; the left side is the SECOND planted batch
      // ((d-1e6)%20=10), the right side everything else (corpus, the
      // extended batch1, and later batch2 ids) — batch2-batch2 pairs
      // oriented a < b exactly like admitBatch's is_new rule
      s"""WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ') AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM docs),
        |sh0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.sh = y.sh
        |    AND ((x.doc_id % $KeyShift) + $KeyShift) % $KeyShift >= 1000000
        |    AND x.doc_id % 20 >= 10
        |    AND x.doc_id <> y.doc_id
        |    AND (NOT (((y.doc_id % $KeyShift) + $KeyShift) % $KeyShift >= 1000000
        |              AND y.doc_id % 20 >= 10)
        |         OR x.doc_id < y.doc_id)
        |  GROUP BY x.doc_id, y.doc_id)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = id_a
        |JOIN sz sb ON sb.doc_id = id_b
        |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.5""".stripMargin, uses = Seq(minhashExtDir))((s, dir) => {
      val all = withPlantedNearDups(Tables.documents(s, dir))
      val extPath = minhashExtDir(s, dir)
      Dedup.admitBatch(Dedup.loadBandIndex(s, extPath),
        all.filter(pmod(col("doc_id"), lit(KeyShift)) >= 1000000L &&
          pmod(col("doc_id"), lit(20)) >= 10),
        "doc_id", "text", minJaccard = 0.5)
    }),

    // simhash pair values are engine-internal 64-bit hashes, so the
    // gate is a planted-recovery CONTRACT (q_approx pattern): the
    // planted near-dups are doc_id-derived — SQL-expressible — and
    // the flag demands >=80% of them back from the full
    // signature→pigeonhole→hamming pipeline (measured: 100% at
    // sf0.01, 97.4% at sf0.1).
    Query("dedup_simhash",
      // planted-recovery contract: the pipeline must find >=80% of the
      // doc_id-derived planted pairs (measured 97-100%)
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted, 1 AS sim_recall_ok
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin)((s, dir) => {
      val pairs = Dedup.simhash(withPlantedNearDups(Tables.documents(s, dir)),
        "doc_id", "text", chunks = 8, maxHamming = 7)
      val expected = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1000000L).as("id_b"))
      expected
        .join(pairs.select(col("id_a"), col("id_b"), lit(1).as("hit")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_planted"),
          when(sum(coalesce(col("hit"), lit(0))) * 1000 >=
            count(lit(1)) * 800, 1).otherwise(0).as("sim_recall_ok"))
    }),

    // span-level duplication: per doc, how many 5-gram positions occur
    // in another doc, and the longest verbatim shared run
    Query("dup_spans",
      // positional 5-gram spans; shared = span text in >=2 distinct
      // docs; runs via gaps-and-islands (pos - row_number)
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(w) - 4)) AS pos, w
        |  FROM d WHERE len(w) >= 5),
        |s AS (
        |  SELECT doc_id, pos,
        |    array_to_string(w[pos:pos+4], ' ') AS sh
        |  FROM s0),
        |shared AS (
        |  SELECT sh FROM s GROUP BY sh
        |  HAVING MIN(doc_id) <> MAX(doc_id)),
        |m AS (SELECT s.doc_id, s.pos FROM s SEMI JOIN shared USING (sh)),
        |r AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS g
        |  FROM m),
        |rc AS (SELECT doc_id, g, COUNT(*) AS run FROM r GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(run) AS BIGINT) AS n_dup_spans,
        |    CAST(MAX(run) AS BIGINT) AS max_dup_run
        |  FROM rc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(greatest(len(string_split(t.text, ' ')) - 4, 0) AS BIGINT)
        |    AS n_spans,
        |  COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
        |  COALESCE(a.max_dup_run, 0) AS max_dup_run
        |FROM documents t LEFT JOIN agg a USING (doc_id)""".stripMargin)((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        spanN = 5)),

    // substring-EXCISION dedup (Lee et al. 2022 ExactSubstr): every
    // duplicated 5-gram keeps its first (min doc_id, pos) occurrence
    // and is excised token-wise everywhere else; the gate verifies the
    // REWRITTEN TEXT itself, not just counts
    Query("dedup_substrings",
      // the excision mirror: canonical occurrence = ROW_NUMBER 1 in
      // (doc_id, pos) order per span text (≡ Spark's min-struct over
      // hashes, modulo 64-bit collisions); covered positions unnest
      // marked spans ×5; the rebuilt text must match STRING-EXACTLY
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(w) - 4)) AS pos, w
        |  FROM d WHERE len(w) >= 5),
        |s AS (
        |  SELECT doc_id, pos,
        |    array_to_string(w[pos:pos+4], ' ') AS sh
        |  FROM s0),
        |m AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos)
        |        AS rn
        |    FROM s) WHERE rn > 1),
        |cov0 AS (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos
        |  FROM m),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |t0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
        |  FROM d),
        |tok AS (SELECT doc_id, pos, w[pos] AS wt FROM t0),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.wt FROM tok
        |  ANTI JOIN cov USING (doc_id, pos)),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(wt, ' ' ORDER BY pos) AS text_out
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(string_split(t.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(t.text, ' ')) - COALESCE(a.n_kept, 0)
        |    AS BIGINT) AS n_removed,
        |  COALESCE(a.text_out, '') AS text_out
        |FROM documents t LEFT JOIN agg a USING (doc_id)""".stripMargin)((s, dir) =>
      Dedup.exciseSubstrings(Tables.documents(s, dir), "doc_id", "text",
        spanN = 5)),

    // the variable-length variant: only maximal covered runs of ≥ 8
    // tokens are excised (Lee et al.'s minimum MATCH length, scaled
    // to the synthetic corpus) — incidental 5-gram repeats survive,
    // verbatim blocks are cut; gate still verifies the rewritten text
    Query("dedup_substrings_minlen",
      // the ≥8-token-run variant: same mirror plus the gaps-and-islands
      // run-length filter over covered positions (pos − ROW_NUMBER is
      // constant within a maximal consecutive run)
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(w) - 4)) AS pos, w
        |  FROM d WHERE len(w) >= 5),
        |s AS (
        |  SELECT doc_id, pos,
        |    array_to_string(w[pos:pos+4], ' ') AS sh
        |  FROM s0),
        |m AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos)
        |        AS rn
        |    FROM s) WHERE rn > 1),
        |cov0 AS (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 4)) AS pos
        |  FROM m),
        |covd AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |runs AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS g
        |  FROM covd),
        |cov AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      COUNT(*) OVER (PARTITION BY doc_id, g) AS run_len
        |    FROM runs) WHERE run_len >= 8),
        |t0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(w))) AS pos, w
        |  FROM d),
        |tok AS (SELECT doc_id, pos, w[pos] AS wt FROM t0),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.wt FROM tok
        |  ANTI JOIN cov USING (doc_id, pos)),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(wt, ' ' ORDER BY pos) AS text_out
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(string_split(t.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(string_split(t.text, ' ')) - COALESCE(a.n_kept, 0)
        |    AS BIGINT) AS n_removed,
        |  COALESCE(a.text_out, '') AS text_out
        |FROM documents t LEFT JOIN agg a USING (doc_id)""".stripMargin)((s, dir) =>
      Dedup.exciseSubstrings(Tables.documents(s, dir), "doc_id", "text",
        spanN = 5, minRunTokens = 8)),

    // benchmark decontamination: eval set = every 10th doc, corpus =
    // the rest; 5-gram containment of each corpus doc against the eval
    // set's shingle union (broadcast semi-join — see Dedup.decontaminate).
    // Integer-permille containment keeps the hash gate float-free.
    // string-shingle joins mirroring the hashed semi-join Spark-side
    // (same counts modulo xxhash64 collisions ~n²/2⁶⁵); the bloom
    // variant shares the SQL because its path must be exact
    Query("decontaminate", decontaminateOracle)((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 5)
    }),

    // same task through the very-large-eval-set path: bloom-sketch
    // prefilter (native BloomFilterAggregate/MightContain) + residual
    // shuffle semi-join. Bit-identical output — same oracle SQL — so
    // the gate proves the bloom path exact, not just plausible.
    Query("decontaminate_bloom", decontaminateOracle)((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 5, bloomPrefilter = true)
    }),

    // fingerprint values are engine-internal, so the gate is a
    // PROPERTY contract over the whole corpus: injectivity (distinct
    // texts -> distinct fingerprints; a collision makes fp_collisions
    // > 0) and order sensitivity (reversing the token sequence of any
    // non-palindromic doc must change the fingerprint). Per-doc
    // fingerprint/simhash values stay available via
    // GraftFunctions.fingerprint/simhash (spec-checked).
    Query("doc_fingerprint",
      // fingerprint property contract: injectivity over distinct texts
      // + order sensitivity (both violation counts must be zero)
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts,
        |  CAST(0 AS BIGINT) AS fp_collisions,
        |  CAST(0 AS BIGINT) AS fp_order_violations
        |FROM documents""".stripMargin)((s, dir) => {
      GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("text"), TextFunctions.words(col("text")).as("w"))
        .select(col("text"), col("w"), reverse(col("w")).as("wr"))
        .select(col("text"),
          graft.functions.GraftFunctions.fingerprint(col("w")).as("fp"),
          graft.functions.GraftFunctions.fingerprint(col("wr")).as("fp_rev"),
          (col("w") === col("wr")).as("palin"))
        .agg(count(lit(1)).as("n_docs"),
          // same (xxhash64, len) key discipline as corpus_stats: the
          // injectivity contract needs distinct COUNTS, not the texts
          countDistinct(xxhash64(col("text")), length(col("text")))
            .as("n_texts"),
          (countDistinct(xxhash64(col("text")), length(col("text"))) -
            countDistinct(col("fp"))).as("fp_collisions"),
          sum(when(!col("palin") && col("fp") === col("fp_rev"), 1L)
            .otherwise(0L)).as("fp_order_violations"))
    }),

    // sentence-granular exact dedup over the planted-copy corpus:
    // every sentence of a planted copy re-occurs, so n_kept = 0 for
    // copies while originals keep everything not already seen
    Query("dedup_units",
      // raw-text first-occurrence mirror of the hashed-key Spark plan
      // (hashed ≡ raw, the dedup_exact proof pattern); subscripts are
      // 1-based here vs 0-based posexplode — order-isomorphic, so the
      // lexicographic first is the same unit
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |u0 AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, '. ')) AS u,
        |    generate_subscripts(string_split(text, '. '), 1) AS idx
        |  FROM base),
        |u AS (SELECT * FROM u0 WHERE length(trim(u)) > 0),
        |f AS (
        |  SELECT u,
        |    MIN(lpad(CAST(doc_id AS VARCHAR), 10, '0') || ':'
        |      || lpad(CAST(idx AS VARCHAR), 8, '0')) AS fk
        |  FROM u GROUP BY u)
        |SELECT u.doc_id, COUNT(*) AS n_units,
        |  CAST(SUM(CASE WHEN lpad(CAST(u.doc_id AS VARCHAR), 10, '0') || ':'
        |      || lpad(CAST(u.idx AS VARCHAR), 8, '0') = f.fk
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM u JOIN f USING (u)
        |GROUP BY u.doc_id""".stripMargin)((s, dir) =>
      Dedup.unitDedup(withPlantedExactCopies(Tables.documents(s, dir)),
        "doc_id", "text")),

    // planted EXACT copies + exact-Jaccard near-dup removal: every
    // stage (quality filter, exact dedup, near-dup anti-join, scrub,
    // token count) is deterministic and SQL-expressible, so the whole
    // pipeline output is oracled. The LSH variant of the same pipeline
    // is the approximate scale path, recall-tested in DedupSpec.
    Query("clean_corpus",
      // full pipeline on planted exact copies: quality filter →
      // exact dedup (keep min id per text) → exact-Jaccard near-dup
      // anti-join (the same shingle CTEs the green dedup_jaccard oracle
      // proved engine-portable, at the pipeline's 0.8 threshold) →
      // PII scrub → token count.
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
        |q AS (
        |  SELECT doc_id, text,
        |    round(
        |      least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
        |      (CASE WHEN round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |          / greatest(len(string_split(text, ' ')), 1), 3) BETWEEN 3.0 AND 9.0
        |          THEN 1.0 ELSE 0.5 END) * 0.3 +
        |      least(round(CAST(len(list_filter(string_split(text, ' '),
        |            w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |          / greatest(len(string_split(text, ' ')), 1), 3) * 4.0, 1.0) * 0.3,
        |      3) AS quality
        |  FROM base),
        |f AS (SELECT * FROM q WHERE quality >= 0.3),
        |k AS (
        |  SELECT doc_id, text, quality,
        |    min(doc_id) OVER (PARTITION BY text) AS keep_id
        |  FROM f),
        |kept AS (SELECT doc_id, text, quality FROM k WHERE doc_id = keep_id),
        |w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM kept),
        |sh0 AS (
        |  SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS sh
        |  FROM w a
        |  JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN w c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |shj AS (
        |  SELECT s.doc_id, s.sh FROM sh s
        |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 50) hot
        |    ON hot.sh = s.sh),
        |inter AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
        |  FROM shj x JOIN shj y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |  GROUP BY x.doc_id, y.doc_id),
        |losers AS (
        |  SELECT DISTINCT id_b AS doc_id FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a
        |  JOIN sz sb ON sb.doc_id = id_b
        |  WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 3) >= 0.8),
        |s AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[a-zA-Z0-9./_%-]+', '<URL>', 'g'),
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]+', '<EMAIL>', 'g'),
        |      '[0-9]{7,}', '<NUM>', 'g') AS text,
        |    quality
        |  FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM losers))
        |SELECT doc_id, text, quality,
        |  len(string_split(text, ' ')) AS n_tokens
        |FROM s""".stripMargin)((s, dir) =>
      graft.pipeline.CleanCorpus.clean(
        withPlantedExactCopies(Tables.documents(s, dir)), "doc_id", "text",
        exactNearDup = true, maxShingleDf = 50))
  )
}
