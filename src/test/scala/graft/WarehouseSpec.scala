package graft

import graft.pipeline.Snapshots
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Warehouse-operational semantics: snapshot time travel, dynamic
  * partition overwrite, and catalog statistics driving the
  * cost-based optimizer.
  */
class WarehouseSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("time travel reads an exact or as-of snapshot version") {
    val dir = Stored.tempDir("graft_tt")
    Seq(0L, 2L, 5L).foreach { v =>
      Seq((v, s"state at v$v")).toDF("doc_id", "text")
        .write.parquet(s"$dir/snap/v=$v")
    }
    assert(Snapshots.readVersion(spark, s"$dir/snap")
      .head.getString(1) === "state at v5")
    // as-of between versions resolves to the newest not-later one
    assert(Snapshots.readVersion(spark, s"$dir/snap", asOf = Some(4L))
      .head.getString(1) === "state at v2")
    assert(Snapshots.readVersion(spark, s"$dir/snap", asOf = Some(2L))
      .head.getString(1) === "state at v2")
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, s"$dir/snap", asOf = Some(-1L))
    }
  }

  test("uncommitted snapshot versions are invisible to readers and " +
      "swept by vacuum") {
    val dir = Stored.tempDir("graft_cm")
    Seq(0L, 3L).foreach { v =>
      Seq((v, s"state at v$v")).toDF("doc_id", "text")
        .write.parquet(s"$dir/snap/v=$v")
    }
    // a crashed writer's leavings: an OLD abandoned staging dir
    // (batch id below the newest commit — unambiguously dead), plus
    // data files with no _SUCCESS marker and a staging dir NEWER than
    // every commit — either of which may be an in-flight publication
    Seq((1L, "old staging")).toDF("doc_id", "text")
      .write.parquet(s"$dir/snap/_tmp_v=1")
    Seq((9L, "half-written")).toDF("doc_id", "text")
      .write.parquet(s"$dir/snap/v=7")
    val fs = new java.io.File(s"$dir/snap/v=7/_SUCCESS")
    assert(fs.delete(), "fixture: _SUCCESS must exist to remove")
    Seq((8L, "staging")).toDF("doc_id", "text")
      .write.parquet(s"$dir/snap/_tmp_v=8")
    // "latest" must be the newest COMMITTED version, not v=7
    assert(Snapshots.readVersion(spark, s"$dir/snap")
      .head.getString(1) === "state at v3")
    assert(Snapshots.committedVersions(spark, s"$dir/snap") === Seq(0L, 3L))
    // vacuum keeps both committed versions, removes the DEAD debris
    // only: anything newer than the newest commit may be in flight
    // (the streaming writer racing this vacuum) and must survive
    assert(Snapshots.vacuumVersions(spark, s"$dir/snap", keepLast = 2) === Nil)
    val left = new java.io.File(s"$dir/snap").listFiles.map(_.getName).toSet
    assert(left === Set("v=0", "v=3", "v=7", "_tmp_v=8"),
      s"v=7 and _tmp_v=8 are NEWER than every committed version (a " +
        s"possibly in-flight publication) and must survive; dead " +
        s"staging dirs at-or-below the newest commit must not: $left")
    // the CDC writer itself publishes by rename: after a batch, the
    // version is committed and no staging directory remains
    graft.streaming.GraftStreams.applyCdcBatch(
      Seq((1L, "x", "I")).toDF("doc_id", "text", "op"),
      9L, s"$dir/snap", "doc_id", "op")
    assert(Snapshots.committedVersions(spark, s"$dir/snap")
      === Seq(0L, 3L, 9L))
    val after = new java.io.File(s"$dir/snap").listFiles.map(_.getName).toSet
    assert(!after.contains("_tmp_v=9"), after.toString)
    // and the NEXT vacuum — now that v=9 committed — sweeps the
    // formerly-in-flight-eligible _tmp_v=8 as dead debris
    assert(Snapshots.vacuumVersions(spark, s"$dir/snap", keepLast = 3) === Nil)
    val swept = new java.io.File(s"$dir/snap").listFiles.map(_.getName).toSet
    assert(swept === Set("v=0", "v=3", "v=9"), swept.toString)
    // and the batch folded from v=3, never from the uncommitted v=7
    val texts = Snapshots.readVersion(spark, s"$dir/snap")
      .collect().map(_.getString(1)).toSet
    assert(texts === Set("state at v3", "x"))
  }

  test("CDC retry of an already-committed batch is a no-op, never a " +
      "delete-then-rewrite of the latest version") {
    // foreachBatch is at-least-once: a crash after the rename but
    // before the checkpoint advanced re-delivers the same batch. The
    // re-publication must not take v=<batchId> — at that moment the
    // latest committed version — offline for a delete-to-rename
    // window under a concurrent reader.
    val dir = Stored.tempDir("graft_retry")
    val batch = Seq((1L, "a", "I"), (2L, "b", "I"))
      .toDF("doc_id", "text", "op")
    graft.streaming.GraftStreams.applyCdcBatch(
      batch, 0L, s"$dir/snap", "doc_id", "op")
    val files = new java.io.File(s"$dir/snap/v=0").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    Thread.sleep(20)
    // the retry: same batch id, already committed → must not rewrite
    graft.streaming.GraftStreams.applyCdcBatch(
      batch, 0L, s"$dir/snap", "doc_id", "op")
    val after = new java.io.File(s"$dir/snap/v=0").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    assert(after === files,
      "retry of a committed batch must leave the published files untouched")
    assert(Snapshots.readVersion(spark, s"$dir/snap")
      .collect().map(_.getString(1)).toSet === Set("a", "b"))
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    // the daily-incremental idiom at 100 TB: re-running one day's load
    // must not truncate the other 364 partitions (static overwrite
    // would). Session conf scoped to this test.
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val dir = Stored.tempDir("graft_dpo")
      Seq((1L, "d1"), (2L, "d2"), (3L, "d3"))
        .toDF("id", "day").write.partitionBy("day").parquet(s"$dir/t")
      // overwrite ONLY day d2 with new content
      Seq((20L, "d2")).toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(s"$dir/t")
      val got = spark.read.parquet(s"$dir/t")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(got === Set(1L -> "d1", 20L -> "d2", 3L -> "d3"))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("schema evolution: mergeSchema unifies old and new file schemas") {
    // a long-lived table gains a column mid-life; readers must see the
    // union schema with nulls for pre-evolution files, and writers of
    // the old schema must keep working untouched
    val dir = Stored.tempDir("graft_evo")
    Seq((1L, "alpha")).toDF("doc_id", "text").write.parquet(s"$dir/t/p1")
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/t/p2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/t/p1", s"$dir/t/p2")
    assert(merged.columns.sorted.toSeq === Seq("doc_id", "lang", "text"))
    val rows = merged.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(rows === Map(1L -> None, 2L -> Some("en")))
  }

  test("ANALYZE TABLE statistics let the CBO broadcast a small table") {
    // catalog stats are what the cost-based optimizer sees at plan
    // time on a real warehouse (file listing alone undercounts after
    // compression). Persist a small dim + a larger fact as managed
    // tables, ANALYZE both, and check (a) rowCount lands in the
    // catalog, (b) the dim side of the join plans as broadcast with
    // autoBroadcastJoinThreshold comfortably above its stated size.
    spark.sql("DROP TABLE IF EXISTS wh_dim")
    spark.sql("DROP TABLE IF EXISTS wh_fact")
    Tables.nation(spark, sf).write.saveAsTable("wh_dim")
    Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
      .write.saveAsTable("wh_fact")
    spark.sql("ANALYZE TABLE wh_dim COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE wh_fact COMPUTE STATISTICS")
    val stats = spark.sql("DESCRIBE EXTENDED wh_dim")
      .filter(col("col_name") === "Statistics").head.getString(1)
    assert(stats.contains("rows"), s"expected row stats, got: $stats")
    val joined = spark.table("wh_fact")
      .join(spark.table("wh_dim"), col("o_custkey") % 25 === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"dim join should broadcast under CBO stats:\n$plan")
    spark.sql("DROP TABLE wh_dim")
    spark.sql("DROP TABLE wh_fact")
  }
}
