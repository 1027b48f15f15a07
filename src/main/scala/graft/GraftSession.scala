package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for graft workloads, and the
  * one session builder of graft's tools (`Verify`, `Bench`,
  * `PlanAudit`, `PlanBaseline`), the test suite and the benchmark.
  *
  * A local session on `cores` threads mirrors the multi-executor
  * layout: shuffle partitions sized to cores (not the 200 default),
  * AQE on for runtime coalescing/skew splitting, 128 MB scan
  * partitions so a 100 TB input splits into ~800k well-sized tasks on
  * a 1000-executor cluster rather than millions of tiny ones.
  */
object GraftSession {

  def builder(cores: Int = Runtime.getRuntime.availableProcessors,
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      // Always use the serialized (Unsafe) shuffle writer. With <=200
      // reduce partitions Spark defaults to BypassMergeSortShuffleWriter,
      // which opens one temp file PER REDUCER PER MAP TASK — at
      // local[32]/32 partitions that is 1024 file creates + a 32-way
      // concat + commit PER EXCHANGE, and thread-stack profiling showed
      // those syscalls (FileOutputStream.open0, transferTo mmap/unmap,
      // commit metadata) dominating every small query's fixed CPU
      // (q_ks_test steady 21 -> 13.6 CPU-s from this one conf). A real
      // cluster always runs shuffles with hundreds+ partitions where the
      // unsafe writer is the standard path anyway, so this also makes
      // local plans exercise the same writer they would at 100 TB.
      // Measured neutral-to-better on the heavy tier at sf0.1 and sf0.5
      // (dedup_minhash steady wall 8.7 -> 2.4 s at sf0.1).
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
