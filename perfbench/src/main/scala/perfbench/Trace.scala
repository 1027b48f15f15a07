package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a call into a layer, timed by the benchmark's own code
  * (batch) or rebuilt from a `StreamingQueryProgress` (streaming).
  * `key` names the bucket listener counts are attributed to.
  */
case class Span(id: Int, name: String, parent: Int, startMs: Double,
                endMs: Double, key: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder plus a `SparkListener` that attributes job,
  * stage and task counts to the span open when the job was submitted
  * (batch: the `perfbench.span` local property; streaming: Spark's own
  * `streaming.sql.batchId`). Disabled, it records nothing and attaches
  * no listener, so untraced runs pay only a few clock reads per call.
  */
class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 = the run's root
  private var nextId = 1
  private val counts = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()

  def now(): Double = System.nanoTime() / 1e6 + offsetMs
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Times `f` as a child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val id = nextId; nextId += 1
    val parent = stack.head
    val spark = SparkSession.getActiveSession
    val prevKey = spark.map(_.sparkContext.getLocalProperty("perfbench.span")).orNull
    spark.foreach(_.sparkContext.setLocalProperty("perfbench.span", id.toString))
    stack = id :: stack
    val start = now()
    try f
    finally {
      spans += Span(id, name, parent, start, now(), id.toString)
      stack = stack.tail
      spark.foreach(_.sparkContext.setLocalProperty("perfbench.span", prevKey))
    }
  }

  /** Records a span measured elsewhere; returns its id. */
  def add(name: String, parent: Int, startMs: Double, endMs: Double,
          key: String = ""): Int = {
    val id = nextId; nextId += 1
    if (enabled) spans += Span(id, name, parent, startMs, endMs, key)
    id
  }

  def attach(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Adds `by` to `metric` of the span bucket `key`. */
  def bump(key: String, metric: String, by: Long): Unit =
    if (key != null) counts.computeIfAbsent(key, _ => new ConcurrentHashMap())
      .computeIfAbsent(metric, _ => new AtomicLong()).addAndGet(by)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      val p = Option(e.properties)
      val key = p.flatMap(x => Option(x.getProperty("perfbench.span")))
        .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
          .map("batch:" + _))
        .getOrElse("none")
      e.stageIds.foreach(s => stageSpan.put(s, key))
      bump(key, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      bump(stageSpan.get(e.stageInfo.stageId), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      bump(key, "tasks", 1)
      if (m != null) {
        bump(key, "task_cpu_ns", m.executorCpuTime)
        bump(key, "task_overhead_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime))
        bump(key, "shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        bump(key, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        bump(key, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        bump(key, "input_bytes", m.inputMetrics.bytesRead)
        bump(key, "input_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  /** Waits until the listener bus has delivered every job it started. */
  def drain(): Unit = if (enabled) {
    var stable = 0
    var last = -1L
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val s = jobsStarted.get
      if (s == jobsEnded.get && s == last) stable += 1 else stable = 0
      last = s
    }
  }

  def count(key: String, metric: String): Long =
    Option(counts.get(key)).flatMap(m => Option(m.get(metric))).map(_.get).getOrElse(0L)

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part of it its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs max s.startMs, k.endMs min s.endMs))
      .filter(k => k._2 > k._1).sortBy(_._1)
    var covered = 0.0
    var end = Double.MinValue
    kids.foreach { case (a, b) =>
      val from = a max end
      if (b > from) { covered += b - from; end = b }
    }
    s.ms - covered
  }

  /** Listener counts summed over spans whose name starts with `prefix`. */
  def countOver(prefix: String, metric: String, within: Span => Boolean = _ => true): Long =
    spans.filter(s => s.name.startsWith(prefix) && within(s)).map(s => count(s.key, metric)).sum

  def write(path: Path): Unit = if (enabled) {
    val run = path.getFileName.toString.stripSuffix(".json")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.sortBy(_.id).map { s =>
      val c = Option(counts.get(s.key)).map(_.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${v.get}" }.mkString(", ")).getOrElse("")
      s"""{"run": ${q(run)}, "id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "start_ms": ${Main.fmt(s.startMs)}, "end_ms": ${Main.fmt(s.endMs)}, "self_ms": ${Main.fmt(selfMs(s))}, "counts": {$c}}"""
    }
    Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}
