package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite with SparkSpec {

  test("mortonKey interleaves bits exactly") {
    import spark.implicits._
    // x=0b101 at even bits (1<<0 | 0<<2 | 1<<4 = 17), y=0b011 at odd
    // bits (1<<1 | 1<<3 = 10) -> 27
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.mortonKey(col("x"), col("y"))).head.getLong(0)
    assert(got === 27L)
    // key of (x,0) is spread(x); key of (0,y) is spread(y)<<1
    val xo = Seq((0xFFFFL, 0L)).toDF("x", "y")
      .select(ZOrder.mortonKey(col("x"), col("y"))).head.getLong(0)
    assert(xo === 0x55555555L)
    val yo = Seq((0L, 0xFFFFL)).toDF("x", "y")
      .select(ZOrder.mortonKey(col("x"), col("y"))).head.getLong(0)
    assert(yo === 0xAAAAAAAAL)
  }

  test("z-ordered files prune the non-leading dimension; linear cannot") {
    // uniform 16-bit dims (sf0.001's raw user_id spans only 0..14,
    // which degenerates any 2-D layout question) — the spec is about
    // layout geometry, so hash the ids into full-range dims
    val e = Tables.events(spark, sf).select(
      pmod(xxhash64(col("event_id")), lit(65536L)).as("x"),
      pmod(xxhash64(col("event_id"), lit(7)), lit(65536L)).as("y"))
    val dir = Stored.tempDir("zorder")
    // the same one range shuffle for both layouts; only the key differs
    def write(key: org.apache.spark.sql.Column, path: String): Unit =
      e.withColumn("_k", key)
        .repartitionByRange(16, col("_k")).sortWithinPartitions("_k")
        .drop("_k").write.mode("overwrite").parquet(path)
    write(ZOrder.mortonKey(col("x"), col("y")), s"$dir/z")
    write(col("x"), s"$dir/linear")

    // a y-only predicate covering ~1/8 of the y range: how many files
    // could contain matches, judging by per-file min/max as a parquet
    // scan's stats-based skipping would?
    val yCut = 65536L / 8
    def overlapping(path: String): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg(min(col("y")).as("lo"))
        .filter(col("lo") < yCut).count()
    val lin = overlapping(s"$dir/linear")
    val zed = overlapping(s"$dir/z")
    // linear-on-x leaves y unclustered: nearly every file spans the
    // full y range (a couple of thin tail files can dodge the cut at
    // this tiny SF). The Morton key's odd bits sort y too, so only
    // files whose y-prefix matches survive.
    assert(lin >= 12, s"expected no real linear pruning, got $lin of 16")
    assert(zed <= lin / 2,
      s"expected z-order pruning, got $zed vs linear $lin")
  }
}
