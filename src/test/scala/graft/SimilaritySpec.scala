package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("brute-force top-k returns k ranked neighbors per query") {
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
    val perQuery = topk.groupBy("q_id").agg(count(lit(1)).as("n"),
      max("rank").as("maxr"))
    assert(perQuery.count() === 10)
    assert(perQuery.filter(col("n") =!= 5 || col("maxr") =!= 5).count() === 0)
    // no self matches, cosine within [-1, 1]
    assert(topk.filter(col("q_id") === col("neighbor_id")).count() === 0)
    assert(topk.filter(abs(col("cosine")) > 1.001).count() === 0)
  }

  test("cosine pairs is symmetric-free (a<b) and thresholded") {
    val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.3)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() === 0)
    assert(pairs.filter(col("cosine") < 0.29).count() === 0)
    assert(pairs.count() > 0)
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 9, 5,
      bits = 4, tables = 8)
      .select("q_id", "neighbor_id")
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    // AND-OR: p≈0.6 per bit at these similarities → ~0.13 per 4-bit
    // table, 8 tables → ~2/3 of true top-5 in ≥1 probed bucket
    assert(hit >= 20, s"recall too low: $hit/50")
  }

  test("stored IVF index: search matches ivfSearch row-for-row and " +
      "partition pruning reaches the list files") {
    val dir = Stored.tempDir("graft_ivf_idx")
    val model = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 8, iters = 2)
    Similarity.saveIvfIndex(model, emb, "vec_id", "embedding", dir)
    val (loaded, lists) = Similarity.loadIvfIndex(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq ===
      model.centroids.map(_.toSeq).toSeq)
    // serving equivalence: the stored path scores/ranks identically
    val stored = Similarity.ivfSearchStored(loaded, lists, emb,
      "vec_id", "embedding", queryMaxId = 9, k = 5, nprobe = 3)
    val direct = Similarity.ivfSearch(model, emb, "vec_id", "embedding",
      queryMaxId = 9, k = 5, nprobe = 3)
    assert(stored.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
    // pruning evidence: a literal cl IN (...) filter (the shape
    // ivfSearchStored builds from its bounded probe pull) reads ONLY
    // those cl= directories, while the index holds more
    val readFiles = lists.filter(col("cl").isin(0, 1))
      .select(input_file_name().as("f")).distinct().collect()
      .map(_.getString(0))
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(f => f.contains("/cl=0/") || f.contains("/cl=1/")),
      s"unpruned files read: ${readFiles.filterNot(f =>
        f.contains("/cl=0/") || f.contains("/cl=1/")).take(3).mkString(",")}")
    val allDirs = new java.io.File(s"$dir/lists").listFiles()
      .count(_.getName.startsWith("cl="))
    assert(allDirs > 2, s"index only produced $allDirs lists")
  }

  test("stored IVFPQ index: matches ivfPqSearch row-for-row; the ADC " +
      "scan reads codes, never vectors") {
    val dir = Stored.tempDir("graft_ivfpq_idx")
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 8, iters = 2)
    val pq = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 8, iters = 2)
    Similarity.saveIvfPqIndex(coarse, pq, emb, "vec_id", "embedding", dir)
    val (c2, p2, lists) = Similarity.loadIvfPqIndex(spark, dir)
    assert(c2.centroids.map(_.toSeq).toSeq ===
      coarse.centroids.map(_.toSeq).toSeq)
    assert(p2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val stored = Similarity.ivfPqSearchStored(c2, p2, lists, emb,
      "vec_id", "embedding", queryMaxId = 9, k = 5, nprobe = 3)
    val direct = Similarity.ivfPqSearch(coarse, pq, emb,
      "vec_id", "embedding", queryMaxId = 9, k = 5, nprobe = 3)
    assert(stored.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet)
    // columnar economics: of the two lists-table scans, the ADC one
    // projects (id, codes, cl) and never touches the vector columns;
    // vectors are read only by the shortlist-joined re-rank scan.
    // (The executed plan is adaptive — unwrap AQE stages like
    // PlanAudit does before collecting scans.)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[Set[String]] = p.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(qse.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString
            .contains("graft_ivfpq_idx")) =>
        Seq(s.output.map(_.name).toSet)
      case _ => Nil
    }
    val listScans = scansOf(stored.queryExecution.executedPlan)
    assert(listScans.exists(o => o.contains("codes") && !o.contains("vecd")),
      s"no codes-only ADC scan among: $listScans")
    assert(listScans.exists(o => o.contains("vecd") && !o.contains("codes")),
      s"no vector-only re-rank scan among: $listScans")
  }

  test("lshTopK survives a NULL leading vector (dim probe skips nulls)") {
    // regression for the r11 advice finding: the unordered
    // limit(1) dim probe could land on a NULL embedding, size(NULL)
    // = -1 made empty hyperplanes, and the dot kernel failed
    // opaquely on the ragged input. The probe now null-filters; the
    // NULL row itself cosines to 0.0 (the documented zero-norm/NULL
    // contract — which CAN outrank a negative true cosine, so the
    // assertion is "never with positive similarity", not "never").
    import spark.implicits._
    val withNull = Seq((9999L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
      .unionByName(emb.select(col("vec_id"), col("embedding")))
    val out = Similarity.lshTopK(withNull, "vec_id", "embedding", 9, 5,
      bits = 4, tables = 8)
    assert(out.count() > 0)
    assert(out.filter(col("neighbor_id") === 9999L &&
      col("cosine") > 0.0).count() === 0)
  }

  test("IVF top-k achieves reasonable recall vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val approx = Similarity.ivfSearch(
        Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8),
        emb, "vec_id", "embedding", 9, 5, nprobe = 4)
      .select("q_id", "neighbor_id")
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    // probing half the lists (4/8) must beat the random-half baseline
    assert(hit >= 25, s"recall too low: $hit/50")
  }

  test("kNN graph covers every vector, bounded at k, with brute-force recall") {
    val model = Similarity.ivfTrain(emb, "vec_id", "embedding",
      nlist = 8, iters = 3)
    val graph = Similarity.knnGraph(emb, "vec_id", "embedding",
      k = 5, model, nprobe = 4)
    val n = emb.count()
    // every vector appears as a graph source with at most k neighbors
    assert(graph.select("id").distinct().count() === n)
    val over = graph.groupBy("id").count().filter(col("count") > 5).count()
    assert(over === 0)
    // no self-edges; rank is 1..k dense per id
    assert(graph.filter(col("id") === col("neighbor_id")).count() === 0)
    assert(graph.filter(col("rank") < 1 || col("rank") > 5).count() === 0)
    // recall on the sampled query ids vs brute force — same contract
    // the ann_* gates use (nprobe=4 of nlist=8 probes half the lists)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val approx = graph.filter(col("id") <= 9)
      .select(col("id").as("q_id"), col("neighbor_id"))
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    assert(hit >= 25, s"recall too low: $hit/50")
  }

  test("multi-probe LSH recall strictly dominates single-probe") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    def recall(multiProbe: Boolean): Long = exact.join(
      Similarity.lshTopK(emb, "vec_id", "embedding", 9, 5,
        bits = 6, tables = 2, multiProbe = multiProbe)
        .select("q_id", "neighbor_id"),
      Seq("q_id", "neighbor_id")).count()
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(multi >= single, s"multi $multi < single $single")
    // theory at these similarities (p~0.62/bit, 2 tables of 6 bits):
    // single ~ 2x0.056 -> ~5/50; hamming<=1 probing ~ 0.19/table -> ~17/50
    assert(multi >= 12, s"multi-probe recall too low: $multi/50")
  }

  test("IVF trained on a sample still achieves reasonable recall") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val approx = Similarity.ivfSearch(
        Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8,
          trainFraction = 0.3),
        emb, "vec_id", "embedding", 9, 5, nprobe = 4)
      .select("q_id", "neighbor_id")
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    assert(hit >= 20, s"sampled-training recall too low: $hit/50")
  }

  test("PQ ADC search achieves reasonable recall vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 3)
    val approx = Similarity.pqSearch(model, emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    // 8 subspaces × 16 centroids quantize 64 dims; ADC keeps most of
    // the true top-5 in a 500-vector corpus
    assert(hit >= 25, s"PQ recall too low: $hit/50")
  }

  test("IVF+PQ composed search achieves reasonable recall vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 9, 5)
      .select("q_id", "neighbor_id")
    val coarse = Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8)
    val pq = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val approx = Similarity.ivfPqSearch(coarse, pq, emb, "vec_id",
      "embedding", 9, 5, nprobe = 4)
      .select("q_id", "neighbor_id")
    val hit = exact.join(approx, Seq("q_id", "neighbor_id")).count()
    // probing half the lists caps recall at the IVF level; the PQ
    // shortlist must not lose much more
    assert(hit >= 18, s"IVF+PQ recall too low: $hit/50")
  }

  test("PQ search against one model is deterministic and bounded at k") {
    val model = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 2, trainFraction = 0.5)
    val a = Similarity.pqSearch(model, emb, "vec_id", "embedding", 9, 5)
    val b = Similarity.pqSearch(model, emb, "vec_id", "embedding", 9, 5)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val perQuery = a.groupBy("q_id").count().collect()
    assert(perQuery.forall(_.getLong(1) == 5))
    assert(perQuery.length == 10)
  }

  test("IVF model trains once and serves repeated searches") {
    val model = Similarity.ivfTrain(emb, "vec_id", "embedding", nlist = 8)
    assert(model.nlist === 8 && model.dim > 0)
    val s1 = Similarity.ivfSearch(model, emb, "vec_id", "embedding", 9, 5,
      nprobe = 4)
    val s2 = Similarity.ivfSearch(model, emb, "vec_id", "embedding", 9, 5,
      nprobe = 4)
    // deterministic: two searches over ONE model agree exactly.
    // (Two independently TRAINED models are not compared bit-exactly:
    // avg() partials merge in shuffle-fetch order, so re-training can
    // differ in the last ulp and flip a Voronoi-boundary vector.)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // the model is a plain value — reusable across sessions via any
    // serialization; round-trip through java serialization here
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(model)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[Similarity.IvfModel]
    assert(back.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
  }

  test("semantic dedup drops planted duplicates, keeps everything else") {
    val dup = emb.limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val all = emb.select("vec_id", "embedding").unionByName(dup)
    val model = Similarity.ivfTrain(all, "vec_id", "embedding",
      nlist = 8, iters = 3)
    // tau high enough that ONLY the planted exact copies pair up
    val out = Similarity.semanticDedup(all, "vec_id", "embedding",
      minCosine = 0.999, model, nprobe = 8)
    assert(out.count() === all.count()) // every vector classified once
    // each planted copy clusters under its original (the min id) and
    // is dropped; originals and all unpaired vectors are kept
    assert(out.filter(col("doc_id") >= 1000000L)
      .filter(col("cluster_id") =!= col("doc_id") - 1000000L ||
        col("kept") =!= 0).count() === 0)
    assert(out.filter(col("doc_id") < 1000000L)
      .filter(col("kept") =!= 1 || col("cluster_id") =!= col("doc_id"))
      .count() === 0)
  }

  test("identical vectors have cosine 1") {
    val dup = emb.limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val pairs = Similarity.cosinePairs(emb.select("vec_id", "embedding")
      .unionByName(dup), "vec_id", "embedding", 0.999)
    assert(pairs.filter(col("id_b") === col("id_a") + 1000000L).count() === 5)
  }

  test("kmeansExact separates two obvious blobs, hand-checked stats") {
    import spark.implicits._
    // blob A near (0,0): ids 0,2,3; blob B near (10,10): ids 1,4,5.
    // init = ids 0,1 (the two lowest) — one seed per blob, so one
    // round converges and rounds 2..3 are fixed points.
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.2f, 0.0f)), (3L, Array(0.0f, 0.2f)),
      (4L, Array(10.2f, 10.0f)), (5L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansExact(pts, "vec_id", "embedding",
        k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // centroids: A=(66666,66666) (200000/3 truncated), B likewise
    // +10M; member dists: seed (66666²+66666²)=8888710912... compute
    // exactly: two members at (200000-66666)²+66666² and symmetric.
    val a = 66666L
    val dSeed = a * a * 2
    val dOff = (200000L - a) * (200000L - a) + a * a
    val mean = (dSeed + 2 * dOff) / 3
    assert(got === Map(
      0L -> (3L, mean, 2 * a),
      1L -> (3L, mean, 2 * (10000000L + a))))
    // partitioning invariance: the fit is a function of the data set
    val got7 = Similarity.kmeansExact(pts.repartition(7), "vec_id",
        "embedding", k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got7 === got)
  }
}
