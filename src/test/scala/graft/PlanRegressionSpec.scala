package graft

import graft.tools.{PlanAudit, PlanBaseline}
import org.scalatest.funsuite.AnyFunSuite

/** Freezes every query's physical-plan shape (shuffle / broadcast /
  * sort-merge-join / scan counts + parquet pushdown) against the
  * checked-in baseline, and bans data-sized unpartitioned windows —
  * so a plan regression fails the suite instead of slipping past the
  * manually refreshed PLANS.md artifact. When a plan change is
  * intentional, refresh with `sbt "runMain graft.tools.PlanBaseline"`
  * and commit the diff alongside the change that caused it.
  */
class PlanRegressionSpec extends AnyFunSuite with SparkSpec {

  // the stored indexes each query read while the plan pass built it
  private val reads =
    scala.collection.mutable.Map.empty[String, Set[Stored[_]]]

  test("per-query plan shape matches the frozen baseline; " +
      "no query plans an unpartitioned WindowExec") {
    val path = java.nio.file.Paths.get(PlanBaseline.path)
    assert(java.nio.file.Files.exists(path),
      s"missing ${PlanBaseline.path} — run graft.tools.PlanBaseline")
    val baseline = scala.io.Source.fromFile(path.toFile).getLines()
      .filter(_.nonEmpty).map { line =>
        val f = line.split("\t")
        f(0) -> (f(1), f(2), f(3), f(4), f(5))
      }.toMap

    val drift = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // warm (second-construction) metrics: memoized model/index
      // builds happen on the first call, so the measured plan is
      // independent of which suites ran before this one
      val (m, touched) =
        Stored.recording(PlanAudit.warmMetrics(fn, spark, sf))
      reads(name) = touched
      if (m.unpartitionedWindows > 0)
        drift += s"$name: ${m.unpartitionedWindows} unpartitioned WindowExec"
      baseline.get(name) match {
        case None => drift += s"$name: not in baseline (run PlanBaseline)"
        case Some((sh, bhj, smj, scans, push)) =>
          val got = (m.shuffles.toString, m.bhj.toString,
            m.smj.toString, m.scans.toString,
            if (m.pushdown) "yes" else "-")
          if (got != ((sh, bhj, smj, scans, push)))
            drift += s"$name: plan drift baseline=" +
              s"($sh,$bhj,$smj,$scans,$push) got=$got"
      }
    }
    val stale = baseline.keySet -- SparkEntry.queries.keySet
    stale.foreach(n => drift += s"$n: baseline entry for removed query")
    assert(drift.isEmpty, drift.mkString("\n"))
  }

  test("buildDeps of every query equals the closure of the stored " +
      "indexes it read during construction") {
    assert(reads.keySet == SparkEntry.queries.keySet,
      "the plan pass above did not construct every query")
    val deps = SparkEntry.buildDeps
    val wrong = reads.toSeq.sortBy(_._1).flatMap { case (name, touched) =>
      val got = Stored.closure(touched).map(_.name)
      val declared = deps.getOrElse(name, Nil).toSet
      if (got == declared) None
      else Some(s"$name: read ${got.toSeq.sorted} but buildDeps has " +
        declared.toSeq.sorted)
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
