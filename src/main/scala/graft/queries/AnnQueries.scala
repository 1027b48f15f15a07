package graft
package queries

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector search over the embeddings table: exact top-k, LSH, IVF, PQ
  * and IVF+PQ indexes gated by recall contracts, k-means, kNN
  * classification, density clustering and semantic dedup. Owns the
  * trained IVF/PQ models and the saved indexes.
  */
object AnnQueries {

  /** Single-row ANN recall contract: |approx ∩ exact top-k| over the
    * exact top-k pair count, gated at `minPermille`. Exact side and
    * intersection are computed in THIS engine, so the oracle only
    * re-states the SQL-expressible pair count plus a constant-true
    * flag — the q_approx error-contract pattern applied to ANN.
    */
  private def annRecallContract(s: SparkSession, dir: String,
                                approx: DataFrame, minPermille: Int,
                                flag: String): DataFrame = {
    val exact = Similarity.bruteForceTopK(Tables.embeddings(s, dir),
      "vec_id", "embedding", queryMaxId = 9, k = 5)
      .select(col("q_id"), col("neighbor_id"))
    // both sides are queries×k rows — broadcast the approx side so
    // the intersection never shuffles the (already tiny) tables
    exact.join(broadcast(approx.select(col("q_id"), col("neighbor_id"),
          lit(1).as("hit"))),
        Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact_pairs"),
        when(sum(coalesce(col("hit"), lit(0))) * 1000 >=
          count(lit(1)) * minPermille, 1).otherwise(0).as(flag))
  }

  /** Unrolled DuckDB mirror of Similarity.kmeansExact: the same
    * micro-quantization, the same per-round nearest-centroid argmin
    * (ties to the lowest centroid id) and truncating-division
    * centroid update, rounds times — then the same member/mean-dist/
    * fingerprint summary off the final assignment.
    */
  private def kmeansOracleSql(k: Int, rounds: Int): String = {
    val base =
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS i,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      AS BIGINT) AS x
         |  FROM embeddings),
         |ini AS (SELECT id FROM (
         |  SELECT DISTINCT id FROM v ORDER BY id LIMIT $k) t0),
         |c0 AS MATERIALIZED (
         |  SELECT v.id AS c, i, x FROM v JOIN ini USING (id))""".stripMargin
    val loops = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT v.id, c.c, SUM((v.x - c.x) * (v.x - c.x)) AS d
         |  FROM v JOIN c${r - 1} c USING (i)
         |  GROUP BY v.id, c.c),
         |a$r AS MATERIALIZED (
         |  SELECT id, c, d FROM (
         |    SELECT id, c, d,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, c) AS rn
         |    FROM d$r) t$r WHERE rn = 1),
         |c$r AS MATERIALIZED (
         |  SELECT a.c, v.i, SUM(v.x) // COUNT(*) AS x
         |  FROM a$r a JOIN v USING (id) GROUP BY a.c, v.i)""".stripMargin
    }.mkString(",\n", ",\n", ",\n")
    base + loops +
      s"""fp AS (SELECT c AS cluster, CAST(SUM(x) AS BIGINT)
         |         AS centroid_sum
         |       FROM c$rounds GROUP BY c)
         |SELECT a.c AS cluster, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(a.d AS HUGEINT)) // COUNT(*) AS BIGINT)
         |    AS mean_dist,
         |  fp.centroid_sum
         |FROM a$rounds a JOIN fp ON fp.cluster = a.c
         |GROUP BY a.c, fp.centroid_sum""".stripMargin
  }

  /** Per-corpus-dir IVF model cache backing `ann_ivf`'s
    * train-once/search-many shape. Also steadies results: searches
    * against ONE model are exactly deterministic, while re-training
    * can wobble centroids in the last ulp (avg partials merge in
    * shuffle-fetch order — see the model-reuse spec).
    */
  private val ivfModel = Stored("_build_ivf_model") { (s, dir) =>
    Similarity.ivfTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
      nlist = 16, iters = 3, trainFraction = 0.25)
  }

  /** Same train-once memoization for the product quantizer. */
  private val pqModel = Stored("_build_pq_model") { (s, dir) =>
    Similarity.pqTrain(Tables.embeddings(s, dir), "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3, trainFraction = 0.5)
  }

  /** Build-once memoization of the SAVED IVF index (cl-partitioned
    * parquet lists + params table, [[Similarity.saveIvfIndex]]):
    * `ann_ivf_stored` serves from the path alone — the 100 TB shape
    * where a search reads ~nprobe/nlist of the index files via
    * partition pruning instead of re-assigning the corpus.
    */
  private val ivfIndexDir = Stored.table("_build_ivf_index", ivfModel) {
    (s, dir, p) =>
      Similarity.saveIvfIndex(ivfModel(s, dir), Tables.embeddings(s, dir),
        "vec_id", "embedding", p)
  }

  /** Same for the composed IVF+PQ index ([[Similarity.saveIvfPqIndex]]):
    * codes-only ADC scan + shortlist-joined vector reads, from storage.
    */
  private val ivfPqIndexDir =
    Stored.table("_build_ivfpq_index", ivfModel, pqModel) { (s, dir, p) =>
      Similarity.saveIvfPqIndex(ivfModel(s, dir), pqModel(s, dir),
        Tables.embeddings(s, dir), "vec_id", "embedding", p)
    }

  val all: Seq[Query] = Seq(
    Query("dedup_cosine",
      """WITH d AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM d GROUP BY vec_id),
        |dot AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, SUM(x.v*y.v) AS dp
        |  FROM d x JOIN d y ON x.i = y.i AND x.vec_id < y.vec_id
        |  GROUP BY x.vec_id, y.vec_id)
        |SELECT id_a, id_b,
        |  round(dp / (na.nrm * nb.nrm), 3) AS cosine
        |FROM dot
        |JOIN n na ON na.vec_id = id_a
        |JOIN n nb ON nb.vec_id = id_b
        |WHERE dp / (na.nrm * nb.nrm) >= 0.3""".stripMargin)((s, dir) =>
      Similarity.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)),

    Query("ann_topk",
      """WITH d AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM d GROUP BY vec_id),
        |dot AS (
        |  SELECT q.vec_id AS q_id, x.vec_id AS id, SUM(q.v*x.v) AS dp
        |  FROM d q JOIN d x ON q.i = x.i AND q.vec_id <= 9 AND x.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, x.vec_id),
        |scored AS (
        |  SELECT q_id, id, dp / (nq.nrm * nx.nrm) AS sim
        |  FROM dot JOIN n nq ON nq.vec_id = q_id JOIN n nx ON nx.vec_id = id),
        |ranked AS (
        |  SELECT q_id, id, sim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id) AS rank
        |  FROM scored)
        |SELECT q_id, id AS neighbor_id, rank, round(sim, 3) AS cosine
        |FROM ranked WHERE rank <= 5""".stripMargin)((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryMaxId = 9, k = 5)),

    // approximate-index gates are recall CONTRACTS vs the exact
    // brute-force top-k (computed Spark-side; the intersection never
    // crosses engines, so sketch internals stay engine-private while
    // a recall collapse flips the flag and fails the hash gate).
    // ivf: trainFraction < 1 — k-means fits on a deterministic
    // hash-sample, the 100 TB path where training cost is independent
    // of corpus size — and the model is memoized per corpus dir:
    // train-once/search-many is the production serving shape
    // (ivfTrain/ivfSearch split), so repeated query runs measure
    // serving, not re-training. Measured recall 82%/70%
    // (sf0.01/sf0.1) vs the 400-permille gate.
    Query("ann_ivf",
      // recall contracts vs brute-force exact top-5 over 10 queries
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS ivf_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(ivfModel))((s, dir) => {
      val model = ivfModel(s, dir)
      val approx = Similarity.ivfSearch(model, Tables.embeddings(s, dir),
        "vec_id", "embedding", queryMaxId = 9, k = 5, nprobe = 6)
      annRecallContract(s, dir, approx, minPermille = 400, flag = "ivf_recall_ok")
    }),

    // INTEGER-EXACT k-means (3 fixed Lloyd rounds, micro-unit
    // quantized vectors, truncating-division centroid updates, ties
    // to the lowest centroid id): where ann_ivf's float trainer can
    // only be recall-contract-gated, this fit is engine-exact — the
    // oracle unrolls the same three assign/update rounds and must
    // land on the SAME clusters, member counts, mean distances, and
    // centroid fingerprints. Same bounded-model scale shape as
    // ivfTrain: k×dim literals assign, one hash agg updates.
    Query("q_kmeans", kmeansOracleSql(8, 3))((s, dir) =>
      Similarity.kmeansExact(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8, rounds = 3)),

    // multi-probe LSH (flip-1-bit buckets): measured recall 50%/68%
    // (sf0.01/sf0.1) vs the 300-permille gate
    Query("ann_lsh",
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS lsh_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin)((s, dir) => {
      val approx = Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", queryMaxId = 9, k = 5, bits = 8, multiProbe = true)
      annRecallContract(s, dir, approx, minPermille = 300, flag = "lsh_recall_ok")
    }),

    // product quantization: corpus compressed to m=8 codes/vector,
    // ADC table-lookup scoring, exact re-rank of the k survivors
    Query("ann_pq",
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS pq_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(pqModel))((s, dir) => {
      val model = pqModel(s, dir)
      val approx = Similarity.pqSearch(model, Tables.embeddings(s, dir),
        "vec_id", "embedding", queryMaxId = 9, k = 5)
      annRecallContract(s, dir, approx, minPermille = 400, flag = "pq_recall_ok")
    }),

    // the composed big-corpus configuration: coarse lists bound the
    // candidates, PQ codes bound per-candidate cost, exact re-rank
    // bounds the full-vector reads to the shortlist
    Query("ann_ivfpq",
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS ivfpq_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(ivfModel, pqModel))((s, dir) => {
      val coarse = ivfModel(s, dir)
      val pq = pqModel(s, dir)
      val approx = Similarity.ivfPqSearch(coarse, pq,
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryMaxId = 9, k = 5, nprobe = 6)
      annRecallContract(s, dir, approx, minPermille = 300,
        flag = "ivfpq_recall_ok")
    }),

    // the STORED serving twin of ann_ivf: search against the SAVED
    // cl-partitioned index (build paid once per corpus as
    // _build_ivf_index) — the path a 100 TB user actually runs, where
    // partition pruning reads ~nprobe/nlist of the index bytes and
    // the corpus is never re-assigned. Results are row-for-row equal
    // to ivfSearch on the same model (spec-asserted), so the same
    // recall contract gates it.
    Query("ann_ivf_stored",
      // stored-index serving twins: same recall contracts (the stored
      // searches are row-for-row equal to their in-memory counterparts
      // on the same models — spec-asserted — so recall is identical)
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS ivf_stored_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(ivfIndexDir))((s, dir) => {
      val (model, lists) = Similarity.loadIvfIndex(s,
        ivfIndexDir(s, dir))
      val approx = Similarity.ivfSearchStored(model, lists,
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryMaxId = 9, k = 5, nprobe = 6)
      annRecallContract(s, dir, approx, minPermille = 400,
        flag = "ivf_stored_recall_ok")
    }),

    // the STORED composed twin of ann_ivfpq: ADC scans ONLY
    // (id, codes, cl) of the probed partitions; full vectors are read
    // through the broadcast shortlist join — FAISS-IVFPQ economics in
    // parquet terms, gated end to end from storage.
    Query("ann_ivfpq_stored",
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS ivfpq_stored_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(ivfPqIndexDir))((s, dir) => {
      val (coarse, pq, lists) = Similarity.loadIvfPqIndex(s,
        ivfPqIndexDir(s, dir))
      val approx = Similarity.ivfPqSearchStored(coarse, pq, lists,
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryMaxId = 9, k = 5, nprobe = 6)
      annRecallContract(s, dir, approx, minPermille = 300,
        flag = "ivfpq_stored_recall_ok")
    }),

    // the all-vectors kNN GRAPH (self-join ANN, not a query set);
    // gate = the graph rows for ids 0-9 against the same brute-force
    // recall contract the other ann_* queries use
    Query("ann_knn_graph",
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  1 AS knn_recall_ok
        |FROM embeddings WHERE vec_id <= 9""".stripMargin, uses = Seq(ivfModel))((s, dir) => {
      val model = ivfModel(s, dir)
      val graph = Similarity.knnGraph(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 5, model, nprobe = 6)
      annRecallContract(s, dir,
        graph.filter(col("id") <= 9)
          .select(col("id").as("q_id"), col("neighbor_id")),
        minPermille = 400, flag = "knn_recall_ok")
    }),

    // SemDeDup composed end-to-end: IVF-bucketed candidate pairs >=
    // tau -> duplicate components -> keep the min id of each. The
    // exact columns (n_docs, survivors of the EXACT all-pairs
    // closure) cross engines; the flag demands >=900-permille Jaccard
    // agreement between the approximate and exact survivor SETS,
    // computed Spark-side (same contract shape as the ann_* recall
    // gates; measured 1000/1000 permille at sf0.01/sf0.1 at
    // nprobe=8). Unprobed cross-list pairs can only split components,
    // so the approx path errs toward keeping extra docs — agreement
    // measures exactly that drift.
    Query("semantic_dedup",
      // exact survivor count via the dedup_cosine pair CTEs + the
      // dedup_clusters recursive closure; the agreement flag is a
      // Spark-side contract (constant-true here)
      """WITH RECURSIVE d AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM d GROUP BY vec_id),
        |dot AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b, SUM(x.v*y.v) AS dp
        |  FROM d x JOIN d y ON x.i = y.i AND x.vec_id < y.vec_id
        |  GROUP BY x.vec_id, y.vec_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM dot
        |  JOIN n na ON na.vec_id = id_a
        |  JOIN n nb ON nb.vec_id = id_b
        |  WHERE dp / (na.nrm * nb.nrm) >= 0.3),
        |e AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
        |lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_docs,
        |  CAST((SELECT COUNT(*) FROM embeddings)
        |    - (SELECT COUNT(*) FROM lab WHERE id <> cluster_id)
        |    AS BIGINT) AS n_kept_exact,
        |  1 AS sem_agree_ok""".stripMargin, uses = Seq(ivfModel))((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = ivfModel(s, dir)
      val approxKept = Similarity.semanticDedup(emb, "vec_id", "embedding",
          minCosine = 0.3, model, nprobe = 8)
        .filter(col("kept") === 1).select(col("doc_id"))
      val exactLab = Dedup.clusters(
        Similarity.cosinePairs(emb, "vec_id", "embedding", 0.3),
        "id_a", "id_b")
      val exactKept = emb.select(col("vec_id").as("doc_id"))
        .join(exactLab, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select(col("doc_id"))
      val sets = exactKept.withColumn("in_e", lit(1))
        .join(approxKept.withColumn("in_a", lit(1)), Seq("doc_id"), "full_outer")
      val agree = sets.agg(
        sum(when(col("in_e") === 1, 1).otherwise(0))
          .cast(LongType).as("n_kept_exact"),
        when(sum(when(col("in_e") === 1 && col("in_a") === 1, 1).otherwise(0))
          * 1000 >= count(lit(1)) * 900, 1).otherwise(0).as("sem_agree_ok"))
      emb.agg(count(lit(1)).cast(LongType).as("n_docs")).crossJoin(agree)
    }),

    // kNN CLASSIFICATION over the embedding table: majority vote of
    // the 5 exact nearest neighbors' labels per probe (C6's scored
    // frame + one bounded per-probe vote window, ties broken (votes
    // desc, label asc) — a total order, so the prediction is
    // hash-exact), scored against the true label — the
    // label-propagation / weak-supervision primitive of a training-
    // data pipeline.
    Query("q_knn_classify",
      // the ann_topk scored frame + a label vote; (votes desc, label)
      // is a total order so the argmax row is exact
      """WITH d AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |n AS (SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM d GROUP BY vec_id),
        |dot AS (
        |  SELECT q.vec_id AS q_id, x.vec_id AS id, SUM(q.v*x.v) AS dp
        |  FROM d q JOIN d x ON q.i = x.i AND q.vec_id <= 9 AND x.vec_id <> q.vec_id
        |  GROUP BY q.vec_id, x.vec_id),
        |scored AS (
        |  SELECT q_id, id, dp / (nq.nrm * nx.nrm) AS sim
        |  FROM dot JOIN n nq ON nq.vec_id = q_id JOIN n nx ON nx.vec_id = id),
        |ranked AS (
        |  SELECT q_id, id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id) AS rank
        |  FROM scored),
        |votes AS (
        |  SELECT r.q_id, em.label, COUNT(*) AS n_votes
        |  FROM ranked r JOIN embeddings em ON em.vec_id = r.id
        |  WHERE r.rank <= 5 GROUP BY r.q_id, em.label),
        |pv AS (
        |  SELECT q_id, label, n_votes,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY n_votes DESC, label) AS rn
        |  FROM votes)
        |SELECT pv.q_id, pv.label AS pred_label, t.label AS true_label,
        |  pv.n_votes,
        |  CAST(pv.label = t.label AS INT) AS correct
        |FROM pv JOIN embeddings t ON t.vec_id = pv.q_id
        |WHERE pv.rn = 1""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryMaxId = 9, k = 5)
      val lbl = emb.select(col("vec_id"), col("label"))
      val votes = topk
        .join(lbl.withColumnRenamed("vec_id", "neighbor_id"),
          "neighbor_id")
        .groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("n_votes").desc, col("label"))
      votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(lbl.select(col("vec_id").as("q_id"),
          col("label").as("true_label")), "q_id")
        .select(col("q_id"), col("label").as("pred_label"),
          col("true_label"), col("n_votes"),
          (col("label") === col("true_label")).cast("int").as("correct"))
    }),

    // grid-density CLUSTERING (DBSCAN's grid approximation, the
    // standard distributed form): bin points into cells, keep cells
    // at or above the p90 occupancy (adaptive, engine-common
    // floor(percentile) — a fixed minPts would be SF-brittle), then
    // merge 8-adjacent dense cells through the SAME distributed
    // connected-components loop B73 gates — adjacency by 8 explode-
    // probes + ONE equi-join on the cell key, never a cell×cell
    // distance join. Coordinates are the B64 synthetic lattice.
    Query("q_dbscan",
      // bounded cell graph: the oracle may use the O(cells²) neighbor
      // join + recursive closure; the engine must not
      """WITH RECURSIVE
        |p AS (
        |  SELECT (event_id * 7919) % 100000 AS x,
        |    (event_id * 104729) % 100000 AS y
        |  FROM events),
        |occ AS (
        |  SELECT x // 5000 AS cx, y // 5000 AS cy, COUNT(*) AS n
        |  FROM p GROUP BY 1, 2),
        |th AS (SELECT greatest(CAST(floor(quantile_cont(n, 0.9))
        |  AS BIGINT), 2) AS thr FROM occ),
        |cc AS (
        |  SELECT cx * 1000 + cy AS cell, cx, cy, n
        |  FROM occ, th WHERE n >= thr),
        |e1 AS (
        |  SELECT a.cell AS src, b.cell AS dst
        |  FROM cc a JOIN cc b ON abs(a.cx - b.cx) <= 1
        |    AND abs(a.cy - b.cy) <= 1 AND a.cell < b.cell),
        |und AS (SELECT src AS a, dst AS b FROM e1
        |        UNION SELECT dst, src FROM e1),
        |r AS (
        |  SELECT DISTINCT a AS node, a AS reach FROM und
        |  UNION
        |  SELECT r.node, u.b FROM r JOIN und u ON u.a = r.reach),
        |lbl AS (SELECT node, MIN(reach) AS comp FROM r GROUP BY node)
        |SELECT coalesce(l.comp, cc.cell) AS cluster_id,
        |  COUNT(*) AS n_cells, CAST(SUM(cc.n) AS BIGINT) AS n_points
        |FROM cc LEFT JOIN lbl l ON l.node = cc.cell
        |GROUP BY 1""".stripMargin)((s, dir) => {
      val pts = Tables.events(s, dir).select(
        ((col("event_id") * 7919) % 100000).as("x"),
        ((col("event_id") * 104729) % 100000).as("y"))
      val occ = pts.select(expr("x div 5000").as("cx"),
          expr("y div 5000").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))
      val thr = occ.agg(greatest(floor(expr("percentile(n, 0.9)"))
        .cast(LongType), lit(2L)).as("thr"))
      val cells = occ.crossJoin(broadcast(thr))
        .filter(col("n") >= col("thr"))
        .select((col("cx") * 1000 + col("cy")).as("cell"),
          col("cx"), col("cy"), col("n"))
        .persist()
      cells.count() // eager: probes + dst side + final rollup
      val offs = explode(array(
        Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1),
          (1, 0), (1, 1)).map { case (dx, dy) =>
          struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
        }: _*))
      val edges = cells.select(col("cell").as("src"), col("cx"),
          col("cy"), offs.as("o"))
        .select(col("src"),
          ((col("cx") + col("o.dx")) * 1000 + col("cy") + col("o.dy"))
            .as("dst"))
        .join(cells.select(col("cell").as("dst")), "dst")
        .filter(col("src") < col("dst"))
      // the dense-cell graph is GRID-BOUNDED (≤ 20×20 cells by
      // construction), so the ≤64k-edge driver union-find fast path
      // in Dedup.clusters replaces O(log diameter) distributed
      // join+checkpoint rounds with one bounded collect — same min-id
      // labels (B73's q_components still forces the distributed loop)
      val comp = Dedup.clusters(
        edges.select(col("src").as("a"), col("dst").as("b")), "a", "b")
      // cluster-bounded checkpoint, then drop the cell pin
      val out = cells.join(comp, cells("cell") === comp("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("cell")).as("cluster_id"),
          col("n"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("n")).cast(LongType).as("n_points"))
        .localCheckpoint(true)
      cells.unpersist(blocking = false)
      out
    })
  )
}
