package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Closed-loop batch workload: one caller runs a fixed set of
  * `SparkEntry.queries` rows over the tables in `perfbench/data`, pass
  * after pass, materializing every result in full (`collect`, never
  * `count`, so Catalyst cannot prune the projected work away).
  */
object BatchBench {

  /** The reference's window and fraud semantics in batch form (scan,
    * shuffle and execution heavy) plus two rows whose cost is elsewhere:
    * `q_components`, a driver-side iteration loop of eager jobs
    * (construction), and `text_oov`, which serves from the stored
    * postings index whose build is paid in set-up.
    */
  val queries: Seq[String] = Seq(
    "w_tumbling_sum", "w_sliding_pane", "fraud_alerts", "q1_agg",
    "q3_join", "q_components", "text_oov")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents")

  private val setups = 3
  private val minPasses = 3
  private val warmupS = 10

  def run(o: Opts, trace: Trace): Result = {
    // Every pass runs the queries in its own seeded order. A query's
    // time depends on what ran before it (JIT state, garbage), so one
    // fixed order per seed gave each seed its own offset of about 10%.
    val rng = new scala.util.Random(o.seed)
    def order(): Seq[String] = rng.shuffle(queries)
    // dependency order first, then any build it does not list
    val deps = queries.flatMap(q => SparkEntry.buildDeps.getOrElse(q, Nil)).toSet
    val builds = SparkEntry.buildOrder.filter(deps) ++
      (deps -- SparkEntry.buildOrder).toSeq.sorted
    val expected = Expected.load(o.root.resolve("perfbench/expected.tsv"))

    // Set-up, repeated: a fresh session and a fresh copy of the tables
    // (graft memoizes stored-index builds per table directory, so each
    // copy pays its builds again). The first includes JVM start.
    var spark: SparkSession = null
    var dir: Path = null
    val buildSecs = mutable.LinkedHashMap.empty[String, Double]
    val setupSecs = (0 until setups).map { i =>
      val t0 = if (i == 0) Main.jvmStartMs / 1e3 else System.currentTimeMillis() / 1e3
      if (spark != null) spark.stop()
      spark = Main.session(o, "perfbench-batch")
      trace.attach(spark)
      dir = o.work.resolve(s"tables-$i")
      Main.deleteTree(dir)
      Files.createDirectories(dir)
      Files.list(o.data).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
      trace.span(s"setup:$i") {
        tables.foreach(t => Tables.table(spark, dir.toString, t).schema)
        Tables.events(spark, dir.toString).schema
        builds.foreach { b =>
          buildSecs(b) = Main.timed(trace.span(s"build:$b") {
            SparkEntry.builds(b)(spark, dir.toString)
          })._2
        }
      }
      System.currentTimeMillis() / 1e3 - t0
    }

    // Warm-up: whole passes for `warmupS`. Passes keep getting faster
    // while the JIT compiles Catalyst and the operators; after one pass
    // a run's median still depended on how far its JIT had got.
    val warm = Main.timed(trace.span("warmup") {
      val t = System.nanoTime()
      var n = 0
      while (n == 0 || (System.nanoTime() - t) / 1e9 < warmupS) {
        pass(spark, dir.toString, order(), trace); n += 1
      }
    })

    // Measured window: whole passes until `seconds` have elapsed, and at
    // least three. Passes still speed up a little as the JIT settles, so
    // a run that fits only two would report a slower median than one
    // that fits three.
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tStart = System.nanoTime()
    val jit0 = Main.jitSeconds()
    val host0 = Main.hostTicks()
    while (passes.size < minPasses || (System.nanoTime() - tStart) / 1e9 < o.seconds)
      passes += trace.span(s"pass:${passes.size}") { pass(spark, dir.toString, order(), trace) }
    val jitS = (Main.jitSeconds() - jit0) / passes.size
    val steal = Main.stealPct(host0, Main.hostTicks())
    trace.drain()

    var failed = 0L
    passes.flatMap(_.results).foreach { case (q, res) =>
      val ok = res match {
        case Left(err) =>
          System.err.println(s"[perfbench] $q failed: $err"); false
        case Right((cols, rows)) => Expected.check(q, cols, rows, expected)
      }
      if (!ok) failed += 1
    }
    val attempted = passes.map(_.results.size).sum.toLong
    val walls = passes.map(_.wallS)
    val cpus = passes.map(_.cpuS)
    val perQueryMs = passes.flatMap(_.queryMs.map(_._2))
    // typical time to a full result: each query's median over the passes,
    // then their geometric mean, so every query weighs the same and no
    // single pass or query sets the figure
    val queryMedians = passes.flatMap(_.queryMs).groupMap(_._1)(_._2).values.map(Main.median(_))
    val latencyMs = math.exp(queryMedians.map(math.log).sum / queryMedians.size)
    val gc = Main.gcSeconds()
    spark.stop()

    val n = passes.size.toDouble
    def inPasses(s: Span): Boolean = trace.all.exists(p =>
      p.name.startsWith("pass:") && s.startMs >= p.startMs && s.endMs <= p.endMs)
    def selfS(prefix: String) = trace.all.filter(s => s.name.startsWith(prefix) && inPasses(s))
      .map(trace.selfMs).sum / 1e3 / n
    def cnt(prefix: String, m: String) = trace.countOver(prefix, m, inPasses) / n
    val scanFiles = passes.map(_.scanFiles).sum / n
    val buildLayer = Seq(
      ("build.s", buildSecs.values.sum, "s"),
      ("build.jobs", trace.countOver("build:", "jobs") / setups.toDouble, "count")) ++
      buildSecs.toSeq.map { case (b, s) => (s"build.${b.stripPrefix("_build_")}_s", s, "s") }

    val perLayer = Layers.fill(Seq(
      ("construct.s", selfS("construct:"), "s"),
      ("construct.jobs", cnt("construct:", "jobs"), "count"),
      ("plan.s", selfS("plan:"), "s"),
      ("exec.s", selfS("exec:"), "s"),
      ("exec.jobs", cnt("exec:", "jobs"), "count"),
      ("exec.stages", cnt("exec:", "stages"), "count"),
      ("exec.tasks", cnt("exec:", "tasks"), "count"),
      ("exec.task_cpu_s", cnt("exec:", "task_cpu_ns") / 1e9, "s"),
      ("exec.task_overhead_s", cnt("exec:", "task_overhead_ms") / 1e3, "s"),
      ("shuffle.read_bytes", cnt("", "shuffle_read_bytes"), "bytes"),
      ("shuffle.write_bytes", cnt("", "shuffle_write_bytes"), "bytes"),
      ("shuffle.spill_bytes", cnt("", "spill_bytes"), "bytes"),
      ("scan.bytes", cnt("", "input_bytes"), "bytes"),
      ("scan.rows", cnt("", "input_rows"), "count"),
      ("scan.files", scanFiles, "count"),
      ("jvm.gc_s", gc, "s"),
      ("jvm.jit_s", jitS, "s"),
      ("jvm.rss_peak_mb", Main.rssPeakMb(), "MB"),
      ("jvm.heap_peak_mb", Main.heapPeakMb(), "MB")) ++ buildLayer)

    val setupS = Main.median(setupSecs)
    Result(attempted, failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("cpu_s", Main.median(cpus), "s"),
        ("work_p50_ms", Main.median(walls) * 1e3, "ms"),
        ("latency_ms", latencyMs, "ms")),
      perLayer = perLayer,
      report = Seq(
        ("setup_s", setupS, "s"),
        ("setup_first_s", setupSecs.head, "s"),
        ("warmup_s", warm._2, "s"),
        ("query_wall_s", Main.median(walls), "s"),
        ("query_wall_passes", n, "count"),
        ("query_latency_ms", latencyMs, "ms"),
        ("query_p50_ms", Main.median(perQueryMs), "ms"),
        ("cpu_s", Main.median(cpus), "s"),
        ("rss_peak_mb", Main.rssPeakMb(), "MB"),
        ("host_steal_pct", steal, "%")))
  }

  /** One timed pass. `results` holds each query's columns and rows (or
    * its error); they are checked after the measured window.
    */
  case class Pass(wallS: Double, cpuS: Double, queryMs: Seq[(String, Double)],
                  results: Seq[(String, Either[String, (Seq[String], Array[Row])])],
                  scanFiles: Long)

  private def pass(spark: SparkSession, dir: String, order: Seq[String],
                   trace: Trace): Pass = {
    var wall = 0.0
    var cpu = 0.0
    var files = 0L
    val ms = mutable.ArrayBuffer.empty[(String, Double)]
    val results = order.map { q =>
      val c0 = Main.cpuSeconds()
      val t0 = System.nanoTime()
      val res = try {
        trace.span(s"query:$q") {
          val df = trace.span(s"construct:$q") { SparkEntry.queries(q)(spark, dir) }
          trace.span(s"plan:$q") { df.queryExecution.executedPlan }
          val rows = trace.span(s"exec:$q") { df.collect() }
          if (trace.enabled) files += scanFiles(df)
          Right((df.columns.toSeq, rows))
        }
      } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      wall += dt
      cpu += Main.cpuSeconds() - c0
      ms += q -> dt * 1e3
      q -> res
    }
    Pass(wall, cpu, ms.toSeq, results, files)
  }

  /** Files read by the file scans of an executed plan (SQL metrics). */
  private def scanFiles(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .filter(_.nodeName.startsWith("Scan"))
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  /** Writes `SparkEntry.oracleSql` for this workload's queries as JSON,
    * the input of `make_expected.py`.
    */
  def dumpOracle(out: Path): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = queries.map(n => s"  ${q(n)}: ${q(SparkEntry.oracleSql(n))}")
    Files.writeString(out, body.mkString("{\n", ",\n", "\n}\n"), UTF_8)
  }
}

/** Expected result multisets, one entry per query: sorted column names,
  * row count and an order-independent hash of the canonical rows. The
  * same canonical form is computed by `make_expected.py` over DuckDB
  * results of the oracle SQL.
  */
object Expected {
  case class Entry(columns: Seq[String], rows: Long, hash: String)

  def load(p: Path): Map[String, Entry] = {
    // flat format written by make_expected.py: name<TAB>rows<TAB>hash<TAB>col,col,...
    Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, r, h, c) = l.split('\t')
      n -> Entry(c.split(',').toSeq, r.toLong, h)
    }.toMap
  }

  def check(q: String, cols: Seq[String], rows: Array[Row],
            expected: Map[String, Entry]): Boolean = expected.get(q) match {
    case None =>
      System.err.println(s"[perfbench] $q: no expected result"); false
    case Some(e) =>
      val got = Entry(cols.sorted, rows.length, hash(cols, rows))
      if (got != e) System.err.println(
        s"[perfbench] $q mismatch: got ${got.rows} rows hash ${got.hash} cols ${got.columns.mkString(",")}; " +
          s"expected ${e.rows} rows hash ${e.hash} cols ${e.columns.mkString(",")}")
      got == e
  }

  def hash(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.indices.sortBy(cols(_))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val s = order.map(i => Canon(r.get(i))).mkString("\u001f")
      val d = md.digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    java.lang.Long.toUnsignedString(sum, 16)
  }
}

/** Engine-neutral text form of one value: numbers at 15 significant
  * digits without trailing zeros, timestamps as epoch microseconds,
  * dates as epoch days, nested values recursively.
  */
object Canon {
  private val mc = new java.math.MathContext(15, java.math.RoundingMode.HALF_EVEN)

  private def num(b: java.math.BigDecimal): String = {
    val r = b.round(mc)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def micros(epochMs: Long, nanos: Int): Long =
    Math.floorDiv(epochMs, 1000L) * 1000000L + nanos / 1000

  def apply(x: Any): String = x match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else num(new java.math.BigDecimal(d))
    case f: Float => apply(f.toDouble)
    case d: java.math.BigDecimal => num(d)
    case d: scala.math.BigDecimal => num(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp => "t" + micros(t.getTime, t.getNanos)
    case t: java.time.Instant => "t" + micros(t.toEpochMilli, t.getNano)
    case t: java.time.LocalDateTime => apply(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case r: Row => r.toSeq.map(apply).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => apply(k) + ":" + apply(v) }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(apply).mkString("[", ",", "]")
    case other => other.toString
  }
}
