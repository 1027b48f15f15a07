package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search over an `array<float>` column.
  *
  * Scale design: the brute-force paths broadcast the (small) query
  * side and stream the corpus once — embarrassingly parallel, no
  * shuffle of the big side; norms are precomputed per vector so each
  * pair costs one dot product. The LSH path buckets vectors by a
  * random-hyperplane signature so a probe touches ~corpus/2^bits
  * rows — the 100 TB path where even one full scan per query batch is
  * too much.
  */
object Similarity {

  /** Adds `vecd` (double widened) and `nrm` columns. */
  def withNorm(embeddings: DataFrame, vecCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .withColumn("vecd", toDouble(col(vecCol)))
      .withColumn("nrm", norm2(col("vecd")))
  }

  /** All pairs with cosine >= minSim — the exact near-dup baseline.
    * Deliberately a (broadcast) nested-loop pair join: correct at test
    * scale, superseded by [[Dedup.minhashLsh]]/[[lshTopK]] bucketing
    * at corpus scale.
    */
  def cosinePairs(embeddings: DataFrame, idCol: String, vecCol: String,
                  minSim: Double): DataFrame = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
    e.alias("a").join(e.alias("b"), col("a.id") < col("b.id"))
      .withColumn("sim",
        cosinePrenormed(col("a.vecd"), col("b.vecd"), col("a.nrm"), col("b.nrm")))
      .filter(col("sim") >= minSim)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("sim"), 3).as("cosine"))
  }

  /** Exact top-k cosine neighbors for each query id: broadcast the
    * query vectors against one pass over the corpus, per-query top-k
    * via rank. Ties broken by neighbor id for determinism.
    */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     queryMaxId: Long, k: Int): DataFrame = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
    val queries = e.filter(col("id") <= queryMaxId)
      .select(col("id").as("q_id"), col("vecd").as("q_vec"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(queries), col("id") =!= col("q_id"))
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** A trained IVF coarse quantizer: just the nlist×dim centroid
    * matrix. Train ONCE (on a sample at corpus scale), then reuse
    * across any number of [[ivfSearch]] calls / sessions — the model
    * is a plain value, trivially (de)serializable.
    */
  case class IvfModel(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
    def dim: Int = centroids.headOption.map(_.length).getOrElse(0)
  }

  // Centroids travel as ONE typedLit (a codegen reference object,
  // not inlined doubles) so the generated code is byte-identical
  // across Lloyd iterations and the codegen cache hits — baking the
  // values in as scalar literals recompiled ~1 s of Janino per
  // iteration. argmin = array_min over struct(dist², idx)
  // (field-order comparison: min distance, then min idx).
  private def centLit(cs: Array[Array[Double]]): Column =
    typedlit(cs.map(c => (c.map(x => x * x).sum, c.toSeq)).toSeq)

  /** Nearest-centroid id for vector column `v` under ‖c‖²−2·c·v
    * (rank-equivalent to L2 for fixed v).
    */
  private def assignTo(cs: Array[Array[Double]], v: Column): Column = {
    val scored = transform(centLit(cs), (c, i) =>
      struct((c.getField("_1") - lit(2.0) * dot(v, c.getField("_2")))
        .as("d"), i.as("i")))
    array_min(scored).getField("i")
  }

  private def assignCol(cs: Array[Array[Double]]): Column =
    assignTo(cs, col("vecd"))

  /** Train an IVF model: `iters` Lloyd steps as DataFrame jobs
    * (assign = broadcast-centroid argmin, update = one hash
    * aggregation of per-dimension means); only the nlist×dim centroid
    * MODEL is collected to the driver. At 100 TB train on
    * `trainFraction` of the corpus — a deterministic hash-sample
    * (reproducible, partitioning-independent) is plenty to fit nlist
    * centroids — and train ONCE: the returned model is a value you
    * persist and reuse, so training cost is independent of query
    * traffic.
    */
  def ivfTrain(embeddings: DataFrame, idCol: String, vecCol: String,
               nlist: Int = 16, iters: Int = 3,
               trainFraction: Double = 1.0): IvfModel = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"))
    val sampled =
      if (trainFraction >= 1.0) e
      else e.filter(pmod(xxhash64(col("id"), lit(0x1df7L)), lit(1000000L))
        .cast(org.apache.spark.sql.types.DoubleType) / 1000000.0 < trainFraction)
    val train = sampled.persist()
    // try/finally: the empty-sample require (or any mid-Lloyd failure)
    // must not leave the training sample pinned in the caller's
    // session — a long-lived session retrying with corrected
    // parameters would accumulate orphaned cache entries (the
    // pageRank release discipline, applied to the error path too)
    try {
    // deterministic init: the nlist lowest-id vectors
    var centroids: Array[Array[Double]] = train.orderBy(col("id")).limit(nlist)
      .select(col("vecd")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(centroids.nonEmpty,
      s"empty IVF training sample (trainFraction=$trainFraction over " +
        "this input selected zero rows) — raise trainFraction")

    val dim = centroids.headOption.map(_.length).getOrElse(0)
    for (_ <- 0 until iters) {
      // centroid update as one hash aggregation with `dim` per-column
      // means (map-side partials; no explode, no second shuffle)
      val dimAggs = (0 until dim).map(i =>
        avg(element_at(col("vecd"), i + 1)).as(s"d$i"))
      val updated = train.select(assignCol(centroids).as("cl"), col("vecd"))
        .groupBy(col("cl")).agg(dimAggs.head, dimAggs.tail: _*)
        .collect()
        .map(r => r.getInt(0) -> Array.tabulate(dim)(i => r.getDouble(i + 1)))
        .toMap
      centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i))).toArray
    }
    IvfModel(centroids)
    } finally train.unpersist(blocking = false)
  }

  /** Search a trained [[IvfModel]]: assign the corpus to inverted
    * lists in one narrow pass, probe each query's `nprobe` nearest
    * lists. Search cost per query is ~corpus×nprobe/nlist; no
    * training jobs run here.
    */
  def ivfSearch(model: IvfModel, embeddings: DataFrame, idCol: String,
                vecCol: String, queryMaxId: Long, k: Int,
                nprobe: Int = 4): DataFrame = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
    val centroids = model.centroids
    val indexed = e.withColumn("cl", assignCol(centroids))
    // query probes: nprobe nearest centroids by the same metric
    val probes = {
      val scored = transform(centLit(centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val queries = e.filter(col("id") <= queryMaxId)
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), explode(probes).as("q_cl"))

    val scored = indexed.join(broadcast(queries),
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** The STORED half of IVF serving — the minhash band-index
    * discipline ([[graft.operators.Dedup.MinhashIndex]]) applied to
    * ANN. [[ivfSearch]] re-assigns the whole corpus to lists on every
    * call ("the inverted lists are what you'd persist at 100 TB" was
    * previously a doc note); [[saveIvfIndex]] pays that assignment
    * pass ONCE and writes the lists as a `cl`-PARTITIONED parquet
    * table of (id, vecd, nrm), so [[ivfSearchStored]] reads only the
    * queries' nprobe/nlist partitions via static partition pruning —
    * at a billion vectors a search touches nprobe/nlist of the index
    * files instead of scanning and re-hashing the corpus. The model
    * rides along as a one-row params table, so a fresh session can
    * serve from the path alone ([[loadIvfIndex]]).
    */
  def saveIvfIndex(model: IvfModel, embeddings: DataFrame, idCol: String,
                   vecCol: String, path: String): Unit = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
    e.withColumn("cl", assignCol(model.centroids))
      .write.mode("overwrite").partitionBy("cl").parquet(s"$path/lists")
    val spark = embeddings.sparkSession
    import spark.implicits._
    Seq(model.centroids.map(_.toSeq).toSeq).toDF("centroids")
      .write.mode("overwrite").parquet(s"$path/model")
  }

  /** Restore (model, lists) written by [[saveIvfIndex]]. The lists
    * frame is lazy — nothing is read until a search prunes it.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): (IvfModel, DataFrame) = {
    // the model row is write-once at save time and the lists schema is
    // a constant of the path — ParquetIO memoizes both per JVM, so a
    // serving run issues no metadata/collect job (r17 fewer-jobs pass)
    val cents = ParquetIO.headOnce(spark, s"$path/model")
      .getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray
    (IvfModel(cents), ParquetIO.read(spark, s"$path/lists"))
  }

  /** [[ivfSearch]] against a STORED lists table: per query, the
    * nprobe nearest centroids are computed exactly as in
    * [[ivfSearch]], the probed list ids are pulled to the driver (a
    * BOUNDED pull — queries × nprobe ints, the centroid-table
    * discipline), and the lists scan is filtered with a LITERAL
    * `cl IN (...)` so parquet partition pruning provably reaches the
    * file listing (spec asserts via input_file_name that only probed
    * `cl=` directories are read). Scoring/top-k are identical to
    * [[ivfSearch]], so results match it row-for-row on the same
    * model — asserted by spec.
    */
  def ivfSearchStored(model: IvfModel, lists: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      queryMaxId: Long, k: Int,
                      nprobe: Int = 4): DataFrame = {
    val centroids = model.centroids
    val probes = {
      val scored = transform(centLit(centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val q = withNorm(queries, vecCol)
      .filter(col(idCol) <= queryMaxId)
      .select(col(idCol).as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"),
        explode(probes).as("q_cl"))
    val probed = q.select(col("q_cl")).distinct().collect()
      .map(_.getInt(0)).sorted
    val pruned = lists.filter(col("cl")
      .isin(probed.map(Int.box).toIndexedSeq: _*))
    val scored = pruned.join(broadcast(q),
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** A trained product quantizer: `m` per-subspace codebooks of
    * `ksub` centroids over `dim/m`-dimensional subvectors (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search"). Like
    * [[IvfModel]] a plain value — train once (on a sample at corpus
    * scale), persist, reuse. The compressed corpus representation is
    * `m` small codes per vector (m bytes at ksub ≤ 256) instead of
    * `dim` floats: at 100 TB this is the difference between an index
    * that fits executor memory and one that does not.
    */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.headOption.map(_.length).getOrElse(0)
    def dsub: Int =
      codebooks.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)
    def dim: Int = m * dsub
  }

  private def subvec(v: Column, s: Int, dsub: Int): Column =
    slice(v, s * dsub + 1, dsub)

  /** Unit-normalized `vecd` (zero vectors pass through unscaled).
    * PQ trains/encodes/probes on the unit sphere so that L2 rank —
    * what ADC approximates — coincides with cosine rank, the metric
    * every other operator here reports: ‖a−b‖² = 2−2·cos(a,b) on
    * unit vectors.
    */
  private def unitVec: Column =
    when(col("nrm") > 0.0, transform(col("vecd"), x => x / col("nrm")))
      .otherwise(col("vecd"))

  /** Train a [[PqModel]]: per subspace, the same Lloyd loop as
    * [[ivfTrain]] (broadcast-centroid argmin assignment, one hash
    * aggregation of per-dimension means per step) over the sliced
    * subvectors; only the m×ksub×dsub codebook is collected. Same
    * train-on-a-sample / train-once economics as IVF.
    */
  def pqTrain(embeddings: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 3,
              trainFraction: Double = 1.0): PqModel = {
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), unitVec.as("vecd"))
    val sampled =
      if (trainFraction >= 1.0) e
      else e.filter(pmod(xxhash64(col("id"), lit(0x9c7fL)), lit(1000000L))
        .cast(DoubleType) / 1000000.0 < trainFraction)
    val train = sampled.persist()
    try { // release-on-failure: same rationale as ivfTrain
    val first = train.orderBy(col("id")).limit(ksub)
      .select(col("vecd")).collect().map(_.getSeq[Double](0).toArray)
    require(first.nonEmpty,
      s"empty PQ training sample (trainFraction=$trainFraction over " +
        "this input selected zero rows) — raise trainFraction")
    val dim = first.head.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    // deterministic init: subvectors of the ksub lowest-id vectors
    var books = Array.tabulate(m)(s =>
      first.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    // all m subspaces train in ONE job per Lloyd step: each row
    // explodes into its m (subspace, nearest-centroid, subvector)
    // entries and one (s, cl) aggregation updates every codebook —
    // the old per-subspace inner loop ran m×iters sequential jobs,
    // each re-scanning the sample to read one slice (measured at
    // sf0.1: the model build fell 24 jobs → 3 and 5.0 → 1.5 CPU-s).
    // Per-(s, cl) input rows are identical to the per-subspace
    // jobs'; partial-buffer merge order (hence low-order float bits
    // of the avg) may differ because groupBy(s, cl) hashes rows to
    // different shuffle partitions than groupBy(cl) — the guarantee
    // is same-input approximate equality, not bit-identity.
    for (_ <- 0 until iters) {
      val entries = (0 until m).map { s =>
        val sv = subvec(col("vecd"), s, dsub)
        struct(lit(s).as("s"), assignTo(books(s), sv).as("cl"),
          sv.as("sv"))
      }
      val dimAggs = (0 until dsub).map(i =>
        avg(element_at(col("sv"), i + 1)).as(s"d$i"))
      val updated = train
        .select(explode(array(entries: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.cl").as("cl"),
          col("e.sv").as("sv"))
        .groupBy(col("s"), col("cl")).agg(dimAggs.head, dimAggs.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          Array.tabulate(dsub)(i => r.getDouble(i + 2)))
        .toMap
      // sized to books(s).length, not ksub: a training sample smaller
      // than ksub inits fewer centroids, and assignTo only ever emits
      // indices < books(s).length — tabulating to ksub would read
      // books(s)(c) out of bounds for the never-assignable tail
      books = Array.tabulate(m)(s => Array.tabulate(books(s).length)(c =>
        updated.getOrElse((s, c), books(s)(c))))
    }
    PqModel(books)
    } finally train.unpersist(blocking = false)
  }

  /** Asymmetric-distance search over a trained [[PqModel]]: the
    * corpus is encoded ONCE into m-code rows (a narrow pass — at
    * scale this compressed index is what you'd persist), each QUERY
    * precomputes its m×ksub table of `‖c‖²−2·q_s·c` partial
    * distances, and scoring a corpus row is m table lookups
    * (`zip_with` + `aggregate`) instead of a dim-length dot product.
    * The approximate top-k per query is then re-ranked with the true
    * cosine on the k survivors only — the standard ADC + exact
    * re-rank shape.
    *
    * Ordering inside the approximate phase is (adc distance, id) —
    * fully deterministic for a fixed model.
    *
    * @param rerankFactor ADC keeps a shortlist of `k·rerankFactor`
    * candidates per query and the exact re-rank selects the final k
    * from it — the standard shortlist trick: ADC's job is to not
    * MISS a true neighbor, the exact pass fixes its ordering noise.
    */
  def pqSearch(model: PqModel, embeddings: DataFrame, idCol: String,
               vecCol: String, queryMaxId: Long, k: Int,
               rerankFactor: Int = 5): DataFrame = {
    val dsub = model.dsub
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"),
        unitVec.as("u"))
    val codes = array((0 until model.m).map(s =>
      assignTo(model.codebooks(s), subvec(col("u"), s, dsub))): _*)
    val encoded = e.select(col("id"), col("vecd"), col("nrm"),
      codes.as("codes"))
    // per-query ADC tables: tbl[s][j] = ‖cb[s][j]‖² − 2·q_s·cb[s][j]
    // over the unit-normalized query subvectors
    val tbl = array((0 until model.m).map { s =>
      transform(centLit(model.codebooks(s)), c =>
        c.getField("_1") -
          lit(2.0) * dot(subvec(col("q_u"), s, dsub), c.getField("_2")))
    }: _*)
    val queries = e.filter(col("id") <= queryMaxId)
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), col("u").as("q_u"))
      .withColumn("tbl", tbl)
      .drop("q_u")
    val scored = encoded.join(broadcast(queries), col("id") =!= col("q_id"))
      .withColumn("adist",
        aggregate(
          zip_with(col("codes"), col("tbl"),
            (code, t) => element_at(t, code + 1)),
          lit(0.0), (acc, x) => acc + x))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k * rerankFactor)
      // exact re-rank of the shortlist: true cosine, keep the top k
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** IVF + PQ composed — the configuration a 100 TB vector corpus
    * actually runs (FAISS's IVFPQ): the coarse quantizer restricts
    * each query to `nprobe` inverted lists (touching ~corpus×nprobe/
    * nlist rows) and within those lists scoring is PQ table lookups
    * over m-byte codes instead of dim-float dot products. The index
    * that must exist per corpus row is (list id, m codes) — a few
    * bytes — not the vector. An exact cosine re-rank of the
    * k·rerankFactor shortlist fixes ADC ordering noise, reading full
    * vectors only for shortlist rows.
    *
    * Both models are plain values trained once ([[ivfTrain]],
    * [[pqTrain]]) — search spawns no training jobs.
    */
  def ivfPqSearch(coarse: IvfModel, pq: PqModel, embeddings: DataFrame,
                  idCol: String, vecCol: String, queryMaxId: Long, k: Int,
                  nprobe: Int = 4, rerankFactor: Int = 5): DataFrame = {
    val dsub = pq.dsub
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"), unitVec.as("u"))
    val codes = array((0 until pq.m).map(s =>
      assignTo(pq.codebooks(s), subvec(col("u"), s, dsub))): _*)
    val indexed = e.select(col("id"), col("vecd"), col("nrm"),
      assignCol(coarse.centroids).as("cl"), codes.as("codes"))
    val probes = {
      val scored = transform(centLit(coarse.centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val tbl = array((0 until pq.m).map { s =>
      transform(centLit(pq.codebooks(s)), c =>
        c.getField("_1") -
          lit(2.0) * dot(subvec(col("u"), s, dsub), c.getField("_2")))
    }: _*)
    val queries = e.filter(col("id") <= queryMaxId)
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), col("u"),
        explode(probes).as("q_cl"))
      .withColumn("tbl", tbl)
      .drop("u")
    val scored = indexed.join(broadcast(queries),
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .withColumn("adist",
        aggregate(
          zip_with(col("codes"), col("tbl"),
            (code, t) => element_at(t, code + 1)),
          lit(0.0), (acc, x) => acc + x))
    // a doc can reach a query through at most one list (cl is a
    // function of the doc), so no candidate dedup is needed
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k * rerankFactor)
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** The stored composed index ([[ivfPqSearch]]'s economics made
    * durable): one cl-PARTITIONED parquet table of
    * (id, codes, vecd, nrm) plus both models as params tables. The
    * per-row index the ADC phase needs is (id, m codes) — a few
    * bytes — and because parquet is columnar, [[ivfPqSearchStored]]
    * structures its plan so the ADC scan READS ONLY those columns
    * (spec-asserted on the scan schemas): full vectors are read
    * through a second, shortlist-joined scan of the same probed
    * partitions, only for the exact re-rank. Build once per corpus;
    * serve from the path alone.
    */
  def saveIvfPqIndex(coarse: IvfModel, pq: PqModel, embeddings: DataFrame,
                     idCol: String, vecCol: String, path: String): Unit = {
    val dsub = pq.dsub
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"), unitVec.as("u"))
    val codes = array((0 until pq.m).map(s =>
      assignTo(pq.codebooks(s), subvec(col("u"), s, dsub))): _*)
    e.select(col("id"), codes.as("codes"), col("vecd"), col("nrm"),
        assignCol(coarse.centroids).as("cl"))
      .write.mode("overwrite").partitionBy("cl").parquet(s"$path/lists")
    val spark = embeddings.sparkSession
    import spark.implicits._
    Seq(coarse.centroids.map(_.toSeq).toSeq).toDF("centroids")
      .write.mode("overwrite").parquet(s"$path/coarse")
    Seq(pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq).toDF("codebooks")
      .write.mode("overwrite").parquet(s"$path/pq")
  }

  /** Restore (coarse, pq, lists) written by [[saveIvfPqIndex]]. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): (IvfModel, PqModel, DataFrame) = {
    // write-once model rows + constant lists schema: memoized per JVM
    // (see loadIvfIndex) — zero metadata/collect jobs per serving run
    val cents = ParquetIO.headOnce(spark, s"$path/coarse")
      .getSeq[scala.collection.Seq[Double]](0).map(_.toArray).toArray
    val books = ParquetIO.headOnce(spark, s"$path/pq")
      .getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.map(_.toArray).toArray).toArray
    (IvfModel(cents), PqModel(books), ParquetIO.read(spark, s"$path/lists"))
  }

  /** [[ivfPqSearch]] against a STORED index: probed partitions come
    * from the bounded queries×nprobe driver pull (literal `cl IN`
    * → static partition pruning, as in [[ivfSearchStored]]); the ADC
    * phase scans ONLY (id, codes, cl) of those partitions; the exact
    * re-rank reads (id, vecd, nrm) through a broadcast join of the
    * k·rerankFactor shortlist against the same probed partitions.
    * Output is row-for-row identical to [[ivfPqSearch]] with the same
    * models (asserted by spec).
    */
  def ivfPqSearchStored(coarse: IvfModel, pq: PqModel, lists: DataFrame,
                        queries: DataFrame, idCol: String, vecCol: String,
                        queryMaxId: Long, k: Int, nprobe: Int = 4,
                        rerankFactor: Int = 5): DataFrame = {
    val dsub = pq.dsub
    val probes = {
      val scored = transform(centLit(coarse.centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val tbl = array((0 until pq.m).map { s =>
      transform(centLit(pq.codebooks(s)), c =>
        c.getField("_1") -
          lit(2.0) * dot(subvec(col("u"), s, dsub), c.getField("_2")))
    }: _*)
    val q = withNorm(queries, vecCol)
      .filter(col(idCol) <= queryMaxId)
      .select(col(idCol).as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), unitVec.as("u"),
        explode(probes).as("q_cl"))
      .withColumn("tbl", tbl)
      .drop("u")
    val probed = q.select(col("q_cl")).distinct().collect()
      .map(_.getInt(0)).sorted
    val inProbed = col("cl").isin(probed.map(Int.box).toIndexedSeq: _*)
    // phase 1 — ADC over the CODE columns only: this scan's schema is
    // (id, codes, cl); vecd/nrm are never touched here
    val adc = lists.filter(inProbed).select(col("id"), col("codes"), col("cl"))
      .join(broadcast(q.drop("q_vec", "q_nrm")),
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .withColumn("adist",
        aggregate(
          zip_with(col("codes"), col("tbl"),
            (code, t) => element_at(t, code + 1)),
          lit(0.0), (acc, x) => acc + x))
    val shortlist = adc
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adist"), col("id"))))
      .filter(col("rank") <= k * rerankFactor)
      .select(col("q_id"), col("id"))
    // phase 2 — exact re-rank: full vectors read only through the
    // shortlist join against the same probed partitions
    val vecs = lists.filter(inProbed).select(col("id"), col("vecd"), col("nrm"))
    val qv = q.select(col("q_id"), col("q_vec"), col("q_nrm"))
      .dropDuplicates("q_id")
    vecs.join(broadcast(shortlist), "id")
      .join(broadcast(qv), "q_id")
      .withColumn("sim",
        cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** Approximate k-nearest-neighbor GRAPH: top-k cosine neighbors for
    * EVERY corpus vector (not a small query set) — the building block
    * for embedding-space clustering, graph-based near-dup mining, and
    * diversity-aware sampling over a training corpus.
    *
    * Brute force is the n² self-join no corpus survives; this is the
    * IVF formulation: every vector is assigned to its nearest inverted
    * list once, every vector probes its `nprobe` nearest lists, and
    * candidates are pairs meeting in a list — a plain equi-join on the
    * list id, so candidate volume is Σ(probe side × list side) per
    * list, bounded by nlist (which should GROW with the corpus so
    * per-list size stays fixed; the model is a train-once value, same
    * economics as [[ivfSearch]]). A candidate pair meets in at most
    * one list (the neighbor's assignment is a function of the
    * neighbor), so no dedup shuffle is needed. Per-vector top-k runs
    * through the bounded [[graft.functions.TopKAgg]] — map-side
    * partials shuffle O(k) rows per (vector, task), never the
    * candidate set — rather than a window rank over all candidates.
    *
    * Output: `(id, neighbor_id, rank, cosine)` with deterministic
    * (sim desc, neighbor id) ordering; ≤ k rows per id (fewer when a
    * vector's probed lists hold fewer than k others). Recall vs
    * [[bruteForceTopK]] is contract-checked in the spec and the gate
    * query.
    */
  def knnGraph(embeddings: DataFrame, idCol: String, vecCol: String,
               k: Int, model: IvfModel, nprobe: Int = 4): DataFrame = {
    val centroids = model.centroids
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
      .withColumn("cl", assignCol(centroids))
      .persist()
    e.count() // eager: both self-join sides consume this (see Dedup)
    val probes = {
      val scored = transform(centLit(centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val probed = e
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), explode(probes).as("q_cl"))
    val scored = e.join(probed,
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .select(col("q_id"),
        (cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm"))
          * 1e9).cast(LongType).as("sim_e9"),
        col("id"))
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("sim_e9"), col("id")).as("nn"))
      .select(col("q_id").as("id"), posexplode(col("nn")).as(Seq("r", "p")))
      .select(col("id"), col("p._2").as("neighbor_id"),
        (col("r") + 1).cast(IntegerType).as("rank"),
        round(col("p._1") / 1e9, 3).as("cosine"))
  }

  /** Approximate top-k via random-hyperplane LSH with the standard
    * AND-OR construction: `tables` independent signatures of `bits`
    * hyperplanes each (AND within a table, OR across tables). A pair
    * with angular similarity p collides in ≥1 table w.p.
    * 1-(1-p^bits)^tables — tables trades recall against candidate
    * volume. Candidates come from equi-joins on (table, bucket), so a
    * probe touches ~tables/2^bits of the corpus instead of scanning
    * it; recall vs [[bruteForceTopK]] is checked in the spec.
    *
    * @param multiProbe when true, each query also probes the `bits`
    * buckets at Hamming distance 1 from its signature in every table —
    * the classic multi-probe trick: recall of ~(bits+1)x more buckets
    * for the same index size, at query-side cost only.
    */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queryMaxId: Long, k: Int, bits: Int = 8, tables: Int = 8,
              seed: Long = 42L, multiProbe: Boolean = false): DataFrame = {
    // hyperplane width must match the DATA's dimensionality (the dot
    // kernel rejects ragged inputs) — a bounded 1-row pull, the
    // centroid-table discipline, not a hardcoded 64. NULL vectors are
    // excluded (size(NULL) = -1 would yield empty hyperplanes and an
    // opaque ragged-input failure downstream) and the result floors
    // at 1 as belt-and-braces.
    val dimRow = embeddings.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
    val dim = math.max(if (dimRow.isEmpty) 1 else dimRow(0).getInt(0), 1)
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
      .withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"),
          hyperplaneSignature(col("vecd"), dim = dim, bits = bits,
            seed = seed + t * 7919).as("bucket"))
      }: _*)))
      .select(col("id"), col("vecd"), col("nrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val probeBuckets =
      if (!multiProbe) array(col("bucket"))
      else array(col("bucket") +:
        (0 until bits).map(b => col("bucket").bitwiseXOR(lit(1L << b))): _*)
    val queries = e.filter(col("id") <= queryMaxId)
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), col("t").as("q_t"),
        explode(probeBuckets).as("q_bucket"))
    val candidates = e.join(broadcast(queries),
        col("t") === col("q_t") && col("bucket") === col("q_bucket") &&
          col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"), col("vecd"), col("nrm"),
        col("q_vec"), col("q_nrm"))
      .dropDuplicates("q_id", "id") // OR across tables
    val scored = candidates.withColumn("sim",
      cosinePrenormed(col("vecd"), col("q_vec"), col("nrm"), col("q_nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("neighbor_id"), col("rank"),
        round(col("sim"), 3).as("cosine"))
  }

  /** SemDeDup-style embedding-space deduplication: drop all but one
    * document from every group of semantically near-identical ones,
    * where "near-identical" is cosine >= `minCosine` in embedding
    * space — the pass that removes paraphrases and re-crawls exact
    * and n-gram dedup cannot see.
    *
    * Scale shape: candidate pairs come from the same IVF-list
    * equi-join as [[knnGraph]] (each vector is assigned to its
    * nearest list once and probes its `nprobe` nearest lists — never
    * an n² self-join), but clustering needs CONNECTIVITY, not ranked
    * neighbors, so no top-k aggregation runs at all: every candidate
    * pair at or above the threshold is an edge (a pair can meet in
    * either side's probed lists, so both join orientations are kept
    * and normalized to `(least, greatest)` — [[Dedup.clusters]]
    * dedups), and the edge stream goes straight into the transitive
    * closure; the
    * minimum id in each component is kept. Probing misses only
    * cross-list pairs neither side probes — the approximation can
    * only SPLIT a component (never merge two), so it errs toward
    * keeping extra documents, the safe direction for a dedup pass.
    * Agreement with the exact ([[cosinePairs]] + closure) answer is
    * contract-checked in the gate query and the spec.
    *
    * Output: `(doc_id, cluster_id, kept)` for EVERY input vector —
    * unpaired vectors are their own singleton cluster and are kept.
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    minCosine: Double, model: IvfModel,
                    nprobe: Int = 4): DataFrame = {
    val centroids = model.centroids
    val e = withNorm(embeddings, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("nrm"))
      .withColumn("cl", assignCol(centroids))
      .persist()
    e.count() // eager: both sides of the candidate join consume this
    val probes = {
      val scored = transform(centLit(centroids), (c, i) =>
        struct((c.getField("_1") - lit(2.0) * dot(col("vecd"), c.getField("_2")))
          .as("d"), i.as("i")))
      transform(slice(array_sort(scored), 1, nprobe), s => s.getField("i"))
    }
    val probed = e
      .select(col("id").as("q_id"), col("vecd").as("q_vec"),
        col("nrm").as("q_nrm"), explode(probes).as("q_cl"))
    val edges = e.join(probed,
        col("cl") === col("q_cl") && col("id") =!= col("q_id"))
      .filter(cosinePrenormed(col("vecd"), col("q_vec"),
        col("nrm"), col("q_nrm")) >= minCosine)
      .select(least(col("id"), col("q_id")).as("src"),
        greatest(col("id"), col("q_id")).as("dst"))
    val labels = Dedup.clusters(edges, "src", "dst")
    embeddings.select(col(idCol).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("kept", (col("cluster_id") === col("doc_id")).cast(IntegerType))
  }

  /** INTEGER-EXACT Lloyd's k-means — the engine-exact sibling of
    * [[ivfTrain]]'s float trainer: embeddings quantize to micro-unit
    * longs (round(x·10⁶) — identical in any IEEE engine), every
    * distance is an exact integer Σ(v−c)², centroid updates are
    * truncating integer divisions of per-dimension sums, ties break
    * to the lowest centroid id, and the round count is FIXED — so two
    * engines running the same arithmetic land on the same clusters
    * and the driver's hash oracle can gate an iterative ML fit
    * exactly (float k-means could only ever be contract-gated, as
    * `ann_ivf` is).
    *
    * Scale shape (same as ivfTrain): assign = per-row argmin against
    * k×dim centroid LITERALS baked into the plan; update = ONE hash
    * aggregation with `dim` per-column sums (map-side partials, no
    * explode); only the k×dim centroid model reaches the driver each
    * round — the bounded-model pattern. Per-group distance sums
    * accumulate in DECIMAL(38,0): Σd crosses 2^63 near 40k members ×
    * 64 dims at full float range.
    *
    * Init = the k lowest-id vectors; empty clusters drop out of the
    * model (both the update and the oracle lose them identically).
    * Output: one row per surviving cluster — member count, mean
    * member distance (micro²-unit, div n), and the updated centroid's
    * component sum as an exact model fingerprint.
    */
  def kmeansExact(embeddings: DataFrame, idCol: String, vecCol: String,
                  k: Int = 8, rounds: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = embeddings.select(col(idCol).cast(LongType).as("id"),
        transform(col(vecCol), x =>
          round(x.cast(DoubleType) * 1000000).cast(LongType)).as("vm"))
      .persist()
    base.count() // eager fill: rounds+1 consumers
    var centroids: Array[(Long, Array[Long])] = base.orderBy(col("id"))
      .limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    if (centroids.isEmpty) { // empty corpus → empty fit, never a throw
      base.unpersist(blocking = false)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("cluster", "n_members", "mean_dist", "centroid_sum")
    }
    val dim = centroids.head._2.length

    // argmin as an array_min over (distance, centroid-id) structs —
    // struct ordering is lexicographic, so ties go to the lowest id
    def amin = array_min(array(centroids.map { case (cid, c) =>
      struct(
        aggregate(zip_with(col("vm"), typedlit(c.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("d"),
        lit(cid).as("c"))
    }: _*))

    // one agg per round carries the per-dim sums AND the member
    // count/Σd stats, so the final summary is already on the driver
    // when the loop ends — the output is a k-row LOCAL relation, no
    // stats job, no fingerprint join, no checkpoint
    var stats: Array[(Long, Long, Long)] = null // (cluster, n, meanDist)
    for (_ <- 1 to rounds) {
      val am = amin // bake THIS round's centroid literals into the plan
      val assigned = base.select(col("id"), col("vm"),
        am.getField("d").as("d"), am.getField("c").as("cl"))
      val aggs = (0 until dim).map(i =>
        sum(element_at(col("vm"), i + 1)).as(s"s$i")) ++ Seq(
        count(lit(1)).as("n"),
        sum(col("d").cast(DecimalType(38, 0))).as("sd"))
      val rows = assigned.groupBy(col("cl"))
        .agg(aggs.head, aggs.tail: _*).collect()
      centroids = rows.map { r =>
        val n = r.getLong(dim + 1)
        // truncating division — Spark div / DuckDB // semantics
        (r.getLong(0), Array.tabulate(dim)(i => r.getLong(i + 1) / n))
      }.sortBy(_._1)
      stats = rows.map { r =>
        val n = r.getLong(dim + 1)
        (r.getLong(0), n, r.getDecimal(dim + 2).toBigInteger
          .divide(java.math.BigInteger.valueOf(n)).longValueExact)
      }
    }
    base.unpersist(blocking = false)
    centroids.map { case (cid, c) =>
      val st = stats.find(_._1 == cid).get
      (cid, st._2, st._3, c.sum)
    }.toSeq.toDF("cluster", "n_members", "mean_dist", "centroid_sum")
  }
}
