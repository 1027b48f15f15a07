package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession =
    // the served config (GraftSession) on 4 threads, plus the UI on a
    // random port so MetricsSpec can scrape the Prometheus servlet
    // GraftStreams.withPrometheus configures
    graft.streaming.GraftStreams.withPrometheus(
      GraftSession.builder(4, "graft-test"))
      .config("spark.ui.port", "0")
      .getOrCreate()
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}
