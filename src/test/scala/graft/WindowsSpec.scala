package graft

import graft.operators.{Fraud, Windows}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WindowsSpec extends AnyFunSuite with SparkSpec {

  private lazy val events = Tables.events(spark, sf)

  test("pane-sliced sliding agg equals the direct sliding agg") {
    val direct = Windows.slidingAgg(events, "event_type", "ts", "value", 3600, 900)
    val pane = Windows.paneSlidingAgg(events, "event_type", "ts", "value", 3600, 900)
    assert(direct.count() > 0)
    assert(direct.exceptAll(pane).isEmpty && pane.exceptAll(direct).isEmpty)
  }

  // edge rows: a null ts, timestamps before 1970 (negative epoch
  // seconds, off any window boundary), one on a boundary and keys
  // with one row
  private def at(sec: Long) = new java.sql.Timestamp(sec * 1000)
  private val edgeRows = Seq[(String, java.sql.Timestamp, Double)](
    ("a", null, 5.0), ("a", at(-50), 1.5), ("a", at(-7200), 2.25),
    ("a", at(600), 3.0), ("b", at(-302181904L), 7.0),
    ("c", at(1704067201L), 4.0))
  private lazy val edges = {
    import spark.implicits._
    edgeRows.toDF("event_type", "ts", "value")
  }

  /** Plain-Scala tumbling windows over `edgeRows`: (key, floor-aligned
    * start in epoch seconds, sum in cents, count). A null-ts row falls
    * in no window.
    */
  private def tumblingModel(sizeSec: Long): Seq[(String, Long, Long, Long)] =
    edgeRows.filter(_._2 != null)
      .groupBy { case (k, ts, _) =>
        (k, Math.floorDiv(Math.floorDiv(ts.getTime, 1000L), sizeSec) * sizeSec) }
      .toSeq.map { case ((k, ws), rows) =>
        (k, ws, math.round(rows.map(_._3).sum * 100), rows.size.toLong) }
      .sorted

  private def windowRows(df: DataFrame) =
    df.select("event_type", "ws", "sum_val", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100),
        r.getLong(3))).toSeq.sorted

  test("pane-sliced sliding agg equals direct for non-divisible shapes") {
    // gcd-pane generality: slide does not divide size (pane < slide)
    for ((input, name) <- Seq(events -> "events", edges -> "edges");
         (size, slide) <- Seq((3600L, 1000L), (3000L, 900L), (5400L, 2400L))) {
      val direct = Windows.slidingAgg(input, "event_type", "ts", "value", size, slide)
      val pane = Windows.paneSlidingAgg(input, "event_type", "ts", "value", size, slide)
      assert(direct.count() > 0, s"no windows on $name")
      assert(direct.exceptAll(pane).isEmpty && pane.exceptAll(direct).isEmpty,
        s"mismatch on $name for size=$size slide=$slide")
    }
  }

  test("tumbling agg partitions every row into exactly one window") {
    val agg = Windows.tumblingAgg(events, "user_id", "ts", "value", 21600)
    assert(agg.agg(sum("cnt")).head.getLong(0) === events.count())
  }

  test("tumbling agg and fraud alerts equal the floor-aligned model on " +
      "edge rows, null ts dropped") {
    // off-boundary, pre-1970 and on-boundary starts, for sizes that do
    // and do not divide a day; the threshold splits the windows
    for (size <- Seq(7L, 900L, 3600L, 86400L)) {
      val model = tumblingModel(size)
      assert(windowRows(Windows.tumblingAgg(edges, "event_type", "ts", "value",
        size)) === model, s"tumbling size=$size")
      assert(windowRows(Fraud.windowAlerts(edges, "event_type", "ts", "value",
        size, 2.0)) === model.filter(_._3 > 200), s"alerts size=$size")
    }
  }

  test("session agg covers all rows and respects the gap") {
    val sess = Windows.sessionAgg(events, "user_id", "ts", "value", 1800)
    assert(sess.agg(sum("cnt")).head.getLong(0) === events.count())
    // two sessions of one user never start within the gap of each other
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("sess_start")
    val gaps = sess
      .withColumn("prev", lag(col("sess_start"), 1).over(w))
      .filter(col("prev").isNotNull && col("sess_start") - col("prev") < 1800)
    assert(gaps.count() === 0)
  }

  test("cumulative window sum is the prefix sum of window sums") {
    val cum = Windows.cumulativeWindowSum(events, "user_id", "ts", "value", 86400)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ws")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // running_sum is the exact DECIMAL prefix cast to double; re-summing the
    // DOUBLE sum_val column here can differ in the last ulp, so accumulate
    // the expected prefix in DECIMAL too and compare exactly after the cast.
    val bad = cum
      .withColumn("expect",
        sum(col("sum_val").cast(org.apache.spark.sql.types.DecimalType(38, 2)))
          .over(w).cast("double"))
      .filter(col("running_sum") =!= col("expect"))
    assert(bad.count() === 0)
  }

  test("trigger chunks: every chunk but the last has exactly maxCount rows") {
    val chunks = Windows.triggerChunks(events, "event_type", "ts", "event_id",
      "value", 86400, 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "ws")
    val bad = chunks
      .withColumn("maxChunk", max(col("chunk")).over(w))
      .filter(col("chunk") < col("maxChunk") && col("cnt") =!= 5)
    assert(bad.count() === 0)
    assert(chunks.agg(sum("cnt")).head.getLong(0) === events.count())
  }

  test("fraud alerts are exactly the windows above threshold") {
    val all = Windows.tumblingAgg(events, "user_id", "ts", "value", 86400)
    val alerts = Fraud.windowAlerts(events, "user_id", "ts", "value", 86400, 300.0)
    assert(alerts.count() ===
      all.filter(col("sum_val") > 300.0).count())
    assert(alerts.count() > 0)
  }
}
