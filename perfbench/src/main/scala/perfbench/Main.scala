package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.streaming.GraftStreams
import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. */
case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                cores: Int, root: Path, work: Path) {
  def data: Path = root.resolve("perfbench/data")
}

/** What a workload run hands back: end-to-end metrics (JSON, bounded by
  * BENCHMARK.json), the per-layer metrics a traced run reports, and the
  * human-readable report lines (every named metric with its unit).
  */
case class Result(attempted: Long, failed: Long,
                  endToEnd: Seq[(String, Double, String)],
                  perLayer: Seq[(String, Double, String)],
                  report: Seq[(String, Double, String)])

/** Benchmark JVM entry point; `run.py` builds the classpath and starts
  * this main directly (no sbt in the measured process).
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s>
  *       --trace <0|1> --cores <n> --root <checkout> }}}
  * Prints report lines, then one JSON object as the last stdout line.
  */
object Main {
  val workloads: Map[String, (Opts, Trace) => Result] = Map(
    "stream_timer" -> StreamBench.timer,
    "batch" -> BatchBench.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize
    if (kv.contains("dump-oracle")) {
      BatchBench.dumpOracle(Paths.get(kv("dump-oracle")))
      return
    }
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("cores").toInt, root,
      root.resolve("perfbench/.work"))
    val run = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${workloads.keys.mkString(", ")}"))
    val trace = new Trace(o.trace)
    val r = run(o, trace)
    val metrics = if (o.trace) r.perLayer ++ overhead(o, r) else r.endToEnd
    if (o.trace) trace.write(o.work.resolve(s"trace-${o.workload}-${o.seed}.json"))
    else Files.writeString(o.work.resolve(s"last-${o.workload}.tsv"),
      r.endToEnd.map { case (n, v, _) => s"$n\t$v" }.mkString("\n"))
    val failFrac = r.failed.toDouble / math.max(1L, r.attempted)
    (r.report ++ Seq(("fail_frac", failFrac, "ratio"),
      ("jvm_elapsed_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")) ++
      (if (o.trace) r.endToEnd else Nil)).foreach { case (n, v, u) =>
      println(f"$n%-34s ${fmt(v)}%s $u")
    }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$body}}""")
    System.out.flush()
  }

  /** Tracing overhead: the traced run's end-to-end figures against the
    * last untraced run of the same workload in this checkout.
    */
  private def overhead(o: Opts, r: Result): Seq[(String, Double, String)] = {
    val f = o.work.resolve(s"last-${o.workload}.tsv")
    val base: Map[String, Double] =
      if (!Files.exists(f)) Map.empty
      else Files.readAllLines(f).asScala.map(_.split('\t'))
        .collect { case Array(n, v) => n -> v.toDouble }.toMap
    r.endToEnd.filter(m => m._1 == "work_p50_ms" || m._1 == "latency_ms")
      .map { case (n, v, _) =>
        val b = base.getOrElse(n, v)
        (s"trace.overhead.$n", if (b == 0) 0.0 else v / b - 1, "ratio")
      }
  }

  /** A JSON number with every digit as measured. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  // ---- session -------------------------------------------------------

  /** One session at `cores` task threads with shuffle partitions =
    * cores (GraftSession's builder sets both from `cores`), spill and
    * warehouse directories inside the checkout, RocksDB state.
    */
  def session(o: Opts, name: String): SparkSession = {
    val spark = GraftStreams.withRocksDBState(GraftSession.builder(o.cores, name))
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- process probes ------------------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent compiling, summed over the
    * compiler threads. The workloads generate new classes on every
    * micro-batch and batch pass, so this keeps growing after warm-up.
    */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** This machine's CPU ticks stolen by its host, and all its CPU
    * ticks (/proc/stat). Other tenants of a shared host slow every
    * timing; the share of stolen ticks shows when they did.
    */
  def hostTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    100.0 * (to._1 - from._1) / math.max(1L, to._2 - from._2)

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}
