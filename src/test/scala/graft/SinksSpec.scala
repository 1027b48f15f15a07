package graft

import graft.sources.GraftSinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite with SparkSpec {

  test("partitioned write creates prunable directories, round-trips rows") {
    val dir = Stored.tempDir("graft_part")
    val docs = Tables.documents(spark, sf)
    val back = GraftSinks.writePartitioned(docs, s"$dir/out", Seq("lang"))
    assert(back.count() === docs.count())
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    langs.foreach { l =>
      assert(new java.io.File(s"$dir/out/lang=$l").isDirectory, s"missing lang=$l")
    }
    // partition pruning: a lang filter plans only that directory
    val one = back.filter(col("lang") === langs.head)
    assert(one.count() === docs.filter(col("lang") === langs.head).count())
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      "partition filter missing from scan:\n" + scan.take(500))
  }

  test("range-bucketed write produces the requested file count, sorted") {
    val dir = Stored.tempDir("graft_rb")
    val orders = Tables.orders(spark, sf)
    val back = GraftSinks.writeSortedBuckets(orders, s"$dir/out", 4,
      Seq("o_custkey"))
    assert(back.count() === orders.count())
    val files = new java.io.File(s"$dir/out").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files === 4)
  }

  test("json and csv round-trips preserve the documents table exactly") {
    val dir = Stored.tempDir("graft_fmt")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.json(s"$dir/j")
    val fromJson = spark.read.schema(docs.schema).json(s"$dir/j")
    assert(fromJson.exceptAll(docs).isEmpty && docs.exceptAll(fromJson).isEmpty)
    docs.write.option("header", "true").csv(s"$dir/c")
    val fromCsv = spark.read.schema(docs.schema)
      .option("header", "true").csv(s"$dir/c")
    assert(fromCsv.exceptAll(docs).isEmpty && docs.exceptAll(fromCsv).isEmpty)
    // ORC: the other columnar interchange format warehouses hand us;
    // schema carries through the file footer, no re-declaration needed
    docs.write.orc(s"$dir/o")
    val fromOrc = spark.read.orc(s"$dir/o")
    assert(fromOrc.schema === docs.schema)
    assert(fromOrc.exceptAll(docs).isEmpty && docs.exceptAll(fromOrc).isEmpty)
  }

  test("compaction collapses a many-small-files table, preserving rows") {
    val dir = Stored.tempDir("graft_cp")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    // simulate a sink that accumulated many tiny files
    orders.repartition(40).write.parquet(s"$dir/t")
    def parquetFiles() = new java.io.File(s"$dir/t").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles() === 40)
    val before = orders.collect().map(_.getLong(0)).sorted.toSeq
    // huge target → everything fits one file
    GraftSinks.compact(spark, s"$dir/t", targetFileBytes = 1L << 30)
    assert(parquetFiles() === 1, "40 small files must compact to 1")
    val after = spark.read.parquet(s"$dir/t")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after === before, "compaction must preserve row content")
  }
}
