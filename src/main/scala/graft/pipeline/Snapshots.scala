package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot versioning: what changed between two dataset
  * versions — the audit step a training-data pipeline runs before
  * promoting a refreshed corpus (how much churn, what got re-crawled,
  * what disappeared).
  */
object Snapshots {

  /** Per-document diff of two snapshots keyed by `idCol`: classify
    * every id as `added` (new only), `removed` (old only), `changed`
    * (both, different text) or `unchanged`.
    *
    * The full-outer join carries only `(id, xxhash64(text), length)` —
    * 24 bytes per doc — so diffing two 100 TB snapshots shuffles key
    * tables, never corpus bytes. Same residual-collision tradeoff as
    * `Dedup.exact` hashed mode (a same-length collision reports
    * `unchanged` for a changed doc); the driver oracle compares raw
    * text, so the gate proves hashed ≡ raw on its corpus.
    */
  def corpusDelta(oldDocs: DataFrame, newDocs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("doc_id"),
      xxhash64(col(textCol)).as("_ho"), length(col(textCol)).as("_lo"))
    val n = newDocs.select(col(idCol).as("doc_id"),
      xxhash64(col(textCol)).as("_hn"), length(col(textCol)).as("_ln"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_ho").isNull, lit("added"))
          .when(col("_hn").isNull, lit("removed"))
          .when(col("_ho") === col("_hn") && col("_lo") === col("_ln"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Apply a keyed changeset to a snapshot — the MERGE / CDC-apply
    * primitive behind incremental corpus refresh (upsert the
    * re-crawls, drop the takedowns, keep the rest).
    *
    * `changes` carries the base's columns plus `opCol` ∈
    * {"I","U","D"}: I/U rows replace (or introduce) the base row with
    * their key; D rows delete it; base rows with no change pass
    * through. Deletes of absent keys are no-ops. At most one change
    * row per key (last-writer-wins conflation is the upstream CDC
    * reader's job, as in any lakehouse MERGE).
    *
    * Scale shape: ONE full-outer join on the key column — data
    * columns ride the join but only the key shuffles wide tables
    * against each other; a typical changeset is a small fraction of
    * the snapshot, so AQE broadcasts it and the snapshot side never
    * shuffles at all.
    */
  def applyChangeset(base: DataFrame, changes: DataFrame,
                     keyCol: String, opCol: String): DataFrame = {
    val dataCols = base.columns.filterNot(_ == keyCol).toSeq
    val b = base.select(col(keyCol) +:
      dataCols.map(c => col(c).as(s"_b_$c")): _*)
    val c = changes.select(col(keyCol) +: col(opCol).as("_op") +:
      dataCols.map(c2 => col(c2).as(s"_c_$c2")): _*)
    b.join(c, Seq(keyCol), "full_outer")
      .filter(col("_op").isNull || col("_op") =!= "D")
      .select(col(keyCol) +: dataCols.map(c2 =>
        when(col("_op").isNotNull, col(s"_c_$c2"))
          .otherwise(col(s"_b_$c2")).as(c2)): _*)
  }

  /** Incremental materialized-view maintenance for the algebraic
    * aggregates (COUNT + SUM): fold a keyed I/U/D changeset into an
    * existing grouped view WITHOUT re-aggregating the base — the
    * operation that keeps corpus-level statistics current through
    * daily ingest at a cost proportional to the CHANGESET, not the
    * 100 TB corpus.
    *
    * `view` is `(groupCol, n, sum_m)` as produced by
    * `base.groupBy(groupCol).agg(count, sum(measureCol))`. Old group
    * and measure values for U/D rows come from ONE keyed left join
    * against `base` — changeset-sized probe, never a base scan-and-
    * re-aggregate; group MOVES (an update that changes the group)
    * are handled by subtracting at the old group and adding at the
    * new. Same changeset contract as [[applyChangeset]]: at most one
    * change row per key, `I` only for absent keys.
    *
    * Algebraic means exactly invertible: COUNT and SUM deltas
    * compose; MIN/MAX would not (a deleted extremum needs a rescan),
    * which is why the view carries sums and derives averages
    * downstream.
    */
  def incrementalAgg(view: DataFrame, base: DataFrame, changes: DataFrame,
                     keyCol: String, opCol: String, groupCol: String,
                     measureCol: String): DataFrame = {
    val old = changes.select(col(keyCol), col(opCol).as("_op"))
      .join(base.select(col(keyCol), col(groupCol).as("_og"),
        col(measureCol).as("_om")), Seq(keyCol), "left")
    val minus = old
      .filter(col("_op").isin("U", "D") && col("_og").isNotNull)
      .select(col("_og").as(groupCol), lit(-1L).as("_dn"),
        (-col("_om")).as("_dm"))
    val plus = changes.filter(col(opCol).isin("U", "I"))
      .select(col(groupCol), lit(1L).as("_dn"),
        col(measureCol).as("_dm"))
    val delta = minus.unionByName(plus)
      .groupBy(groupCol)
      .agg(sum(col("_dn")).as("_dn"), sum(col("_dm")).as("_dm"))
    view.join(delta, Seq(groupCol), "full_outer")
      .select(col(groupCol),
        (coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L)))
          .as("n"),
        (coalesce(col("sum_m"), lit(0L)) + coalesce(col("_dm"), lit(0L)))
          .as("sum_m"))
      .filter(col("n") > 0)
  }
}
