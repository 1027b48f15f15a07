package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata layout
  * (`/root/testdata/sf{N}/<table>.parquet`).
  *
  * Reads are plain `spark.read.parquet` so Catalyst's column pruning
  * and predicate pushdown reach the scan (verify with
  * `.explain("formatted")` → `ReadSchema`/`PushedFilters`).
  */
object Tables {
  /** Timestamp columns normalize to session-zoned TimestampType: the
    * generator has shipped both isAdjustedToUTC=true and =false
    * (NTZ-inferred) micros, and engine semantics must not depend on
    * which one this round's files carry. Under the UTC session
    * timezone the cast is value-preserving, and every window, interval
    * and epoch expression downstream sees one stable type.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // schema-cached read (r17, guide §2.4 "fewer jobs"): the testdata
    // files are immutable, yet a bare read.parquet re-infers the
    // schema through a ~30 ms single-task footer job on EVERY call —
    // per query per rep across the whole bench surface. ParquetIO
    // infers once per JVM per path; data is still scanned per run.
    val raw = operators.ParquetIO.read(spark, s"$dir/$name.parquet")
    raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw)((df, f) =>
        df.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has been written as parquet TIMESTAMP(NANOS) (which
    * Spark only reads as raw nanos via the legacy conf) and as plain
    * micros by different generator versions — handle both; micros
    * normalize through [[table]].
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
