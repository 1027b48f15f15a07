package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan audit over every SparkEntry query: counts shuffles /
  * broadcast vs sort-merge joins / scans and verifies parquet
  * pushdown, so plan regressions are visible per round. Run:
  * `sbt "runMain graft.tools.PlanAudit [queryName]"`.
  * With a query name argument, prints that query's formatted plan.
  *
  * The same counters feed `PlanRegressionSpec`, which freezes them
  * per query in `src/test/resources/plan_baseline.tsv` and fails on
  * drift — refresh the baseline deliberately with
  * `sbt "runMain graft.tools.PlanBaseline"` when a plan change is
  * intentional.
  */
object PlanAudit {

  final case class PlanMetrics(shuffles: Int, bhj: Int, smj: Int,
                               scans: Int, pushdown: Boolean,
                               unpartitionedWindows: Int) {
    def tsv: String = s"$shuffles\t$bhj\t$smj\t$scans\t" +
      s"${if (pushdown) "yes" else "-"}"
    def +(o: PlanMetrics): PlanMetrics = PlanMetrics(
      shuffles + o.shuffles, bhj + o.bhj, smj + o.smj, scans + o.scans,
      pushdown || o.pushdown,
      unpartitionedWindows + o.unpartitionedWindows)
  }

  def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val extra = p match {
      case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
      // an EXECUTED adaptive plan wraps each materialized stage in a
      // leaf QueryStageExec whose real operators (the exchange, the
      // scans below it) hang off `.plan`, not `.children` — without
      // recursing there, every construction-time execution reports
      // zero shuffles (a reused stage holds ReusedExchangeExec, so an
      // exchange still counts exactly once)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectPlan(q.plan)
      case _ => Nil
    }
    (p +: p.children.flatMap(collectPlan)) ++ extra
  }

  /** [[metrics]] of the SECOND construction: the first call pays any
    * memoized model/index build (IVF centroids, minhash index dirs),
    * so the warm plan is deterministic regardless of what ran earlier
    * in the session — the state both the baseline tool and the
    * regression spec must measure to agree.
    *
    * Eager `localCheckpoint(true)` / `persist()+count()` pins execute
    * their derivation DURING construction and leave only a LogicalRDD
    * scan in the returned frame — the round-10 advice: seven queries'
    * baseline rows had collapsed to `0 0 0 1`, hiding the real plans
    * from this gate. A QueryExecutionListener records every plan
    * executed while `fn` constructs (Dataset actions — count /
    * checkpoint — route through `withAction`, which notifies it), and
    * the counts SUM over those executions plus the returned frame's
    * plan, so the frozen baseline sees the whole derivation again —
    * including any unpartitioned window that only ever runs inside a
    * construction-time pin.
    */
  def warmMetrics(fn: (SparkSession, String) => DataFrame,
                  spark: SparkSession, dir: String): PlanMetrics = {
    fn(spark, dir)
    // construction-time persist() registers plan fragments in the
    // CacheManager, which would swap scans for InMemoryRelations in
    // the NEXT construction (and in whatever query measures after
    // us) — clear to a canonical no-cache state before measuring
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    drainListenerBus(spark) // stray events from the warm call
    val rec =
      new java.util.concurrent.ConcurrentLinkedQueue[PlanMetrics]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { rec.add(metricsOf(qe)); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = fn(spark, dir)
      drainListenerBus(spark) // listener events are async
      import scala.jdk.CollectionConverters._
      (rec.asScala.toSeq :+ metricsOf(df.queryExecution))
        .reduce(_ + _)
    } finally spark.listenerManager.unregister(l)
  }

  /** The ExecutionListenerBus rides the async shared listener bus;
    * `waitUntilEmpty` is private[spark] — reflection with a sleep
    * fallback (the Bench pattern). */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 0) match {
        case Some(f) => f.invoke(bus): Unit
        case None => Thread.sleep(300)
      }
    } catch { case _: Throwable => Thread.sleep(300) }

  /** Counts over the (initial, pre-execution) physical plan. */
  def metrics(df: DataFrame): PlanMetrics = metricsOf(df.queryExecution)

  def metricsOf(
      qe: org.apache.spark.sql.execution.QueryExecution): PlanMetrics = {
    val nodes = collectPlan(qe.executedPlan)
    val simple = qe.simpleString
    PlanMetrics(
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      scans = nodes.count(_.nodeName.contains("Scan")),
      pushdown = simple.contains("PushedFilters: [") &&
        !simple.contains("PushedFilters: []"),
      unpartitionedWindows = nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      })
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (args.nonEmpty && args(0) == "-full") {
      // FULL formatted dump: every plan executed while the query
      // constructs (eager pins — persist fills, localCheckpoints,
      // broadcast-model collects — run as their own QueryExecutions
      // and are invisible in the returned frame's explain) plus the
      // returned frame's own plan. This is what the per-round
      // plans/rNN/<query>_{before,after}.txt files are generated
      // from: a checkpoint-pinned query's final frame alone reads as
      // a bare ExistingRDD scan and would hide the real shape.
      val fn = SparkEntry.queries(args(1))
      fn(spark, dir) // warm: memoized _build_* tables, codegen
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      var n = 0
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          n += 1
          println(s"\n===== construction-time execution $n ($funcName) =====")
          println(qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString(
              "formatted")))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val df = fn(spark, dir)
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" &&
          m.getParameterCount == 0).foreach(_.invoke(bus))
      } catch { case _: Throwable => Thread.sleep(500) }
      spark.listenerManager.unregister(l)
      println(s"\n===== returned frame =====")
      df.explain("formatted")
      spark.stop(); return
    }
    if (args.nonEmpty) {
      SparkEntry.queries(args(0))(spark, dir).explain("formatted")
      spark.stop(); return
    }

    println(f"${"query"}%-16s ${"shuffles"}%9s ${"bcastJoin"}%10s ${"smj"}%5s ${"scans"}%6s  pushdown")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // warm + construction-summed, same semantics as the frozen
        // baseline (eagerly-pinned derivations stay visible)
        val m = warmMetrics(fn, spark, dir)
        val pushed = if (m.pushdown) "yes" else "-"
        println(f"$name%-16s ${m.shuffles}%9d ${m.bhj}%10d ${m.smj}%5d ${m.scans}%6d  $pushed")
      } catch {
        case e: Exception => println(f"$name%-16s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}

/** Regenerates the frozen per-query plan baseline the regression
  * spec checks against. Run at the SPEC's scale factor (sf0.001) so
  * the spec compares like for like:
  * `sbt "runMain graft.tools.PlanBaseline"`.
  */
object PlanBaseline {
  val path = "src/test/resources/plan_baseline.tsv"

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        s"$name\t${PlanAudit.warmMetrics(fn, spark, dir).tsv}"
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"wrote ${lines.size} baselines to $path")
    spark.stop()
  }
}
