package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its Spark body, the DuckDB SQL the driver
  * checks it against, and the stored indexes the body reads directly.
  *
  * `run(spark, dir)` builds the result over a dataset dir's tables.
  * `oracle` reads the same tables under the parquet file names, and
  * its column aliases match the Spark side exactly. Queries whose
  * output has engine-internal hashes gate through contracts instead of
  * value parity: exact-verified output (dedup_minhash), planted-
  * recovery / recall / property flags (dedup_simhash, ann_lsh, ann_ivf,
  * doc_fingerprint). There the oracle re-states the SQL-expressible
  * columns plus constant-true flags, so a quality collapse flips a flag
  * and fails the hash gate.
  *
  * `uses` lists the [[Stored]] indexes `run` reads; their builds and
  * the builds those read are the query's `_build_*` dependencies.
  * PlanRegressionSpec checks the list against what `run` actually
  * reads.
  */
final class Query private (val name: String, val oracle: String,
                           val uses: Seq[Stored[_]],
                           val run: (SparkSession, String) => DataFrame) {
  require(!uses.contains(null), s"$name: declare its stored indexes before it")
}

object Query {

  def apply(name: String, oracle: String, uses: Seq[Stored[_]] = Nil)(
      run: (SparkSession, String) => DataFrame): Query =
    new Query(name, oracle, uses, run)

  /** Declarations by name; a name declared twice is an error, never a
    * silently dropped body.
    */
  def index(all: Seq[Query]): Map[String, Query] = {
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      "queries declared twice: " + twice.toSeq.sorted.mkString(", "))
    all.map(q => q.name -> q).toMap
  }
}
