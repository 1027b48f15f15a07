package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory each entry
  * maps to. Every query is one [[Query]] declaration in a family
  * object under `graft.queries`; this object only indexes them.
  */
object SparkEntry {

  /** Flagship: the reference's fraud pipeline on the events stream —
    * per-user daily windowed sums above threshold (driver smoke-checks
    * rows > 0 on sf0.001).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("fraud_alerts")(spark, "/root/testdata/sf0.001")

  private val families: Seq[Seq[Query]] = Seq(AnalyticsQueries.all,
    BasketQueries.all, WindowQueries.all, TextQueries.all,
    CorpusQueries.all, DedupQueries.all, AnnQueries.all, GraphQueries.all,
    SketchQueries.all, StatsQueries.all, PipelineQueries.all)

  private val declared: Map[String, Query] = Query.index(families.flatten)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (n, q) => n -> q.run }

  val oracleSql: Map[String, String] =
    declared.map { case (n, q) => n -> q.oracle }

  /** Every stored index some query reads, directly or through another
    * build, in dependency order (ties by name).
    */
  private[graft] val stored: Seq[Stored[_]] =
    Stored.order(Stored.closure(declared.values.flatMap(_.uses)).toSeq)

  /** The one-time per-dataset BUILD steps behind the stored indexes,
    * exposed by name so the benchmark can time each as its own
    * `_build_*` row (otherwise a build lands in whichever consumer's
    * rep 1 touches it first, as the 5.4 s / 83.9 CPU-s basket-rules
    * build did, and best-of-2 hides it). Each builds once per dataset
    * dir; running one twice measures ~0 the second time, which is
    * exactly the serving-shape claim. Keys start with '_' so they sort
    * ahead of every query.
    */
  val builds: Map[String, (SparkSession, String) => Unit] =
    stored.map(st =>
      st.name -> ((s: SparkSession, dir: String) => { st(s, dir); () })).toMap

  /** [[builds]] in dependency order (ties by name), so each build row
    * pays only its own cost, never that of a model or table it reads.
    */
  val buildOrder: Seq[String] = stored.map(_.name)

  /** Every [[builds]] row each query consumes, directly or through
    * another build, in [[buildOrder]] — so the benchmark can
    * auto-include the right `_build_*` rows when run with an explicit
    * query filter (otherwise the filtered consumer's rep 1 silently
    * re-absorbs the build cost best-of-2 then hides, the defect the
    * `_build_*` rows fixed). Derived from each declaration's `uses`;
    * PlanRegressionSpec checks it against the stored indexes each
    * query actually reads.
    */
  val buildDeps: Map[String, Seq[String]] =
    declared.values.filter(_.uses.nonEmpty).map { q =>
      val all = Stored.closure(q.uses).map(_.name)
      q.name -> buildOrder.filter(all)
    }.toMap
}
