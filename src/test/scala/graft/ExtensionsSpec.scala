package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with SparkSpec {

  test("GraftExtensions makes kernel functions available to plain SQL") {
    spark // force shared session (and its SparkContext) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val dot = extended
        .sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head.getDouble(0)
      assert(dot === 11.0)
      val sh = extended
        .sql("SELECT graft_simhash64(array('a','b','c')) AS s").head.getLong(0)
      val fp = extended
        .sql("SELECT graft_fingerprint64(array('a','b','c')) AS f").head.getLong(0)
      assert(sh !== 0L)
      assert(fp !== 0L)
      val norm = extended
        .sql("SELECT graft_nfc('A\u030A') AS c, graft_nfkc('\uFB01') AS k").head
      assert(norm.getString(0) == "\u00C5") // A + combining ring → Å
      assert(norm.getString(1) == "fi") // the ﬁ ligature folds
      // a Bloom filter never drops a member it was built from
      val members = extended.sql(
        """SELECT count_if(graft_bloom_contains(
          |  (SELECT graft_bloom_agg(id, 100L, 4096L) FROM range(100)), id))
          |FROM range(100)""".stripMargin).head.getLong(0)
      assert(members == 100L)
    } finally {
      SparkSession.setDefaultSession(SparkSpec.session)
      SparkSession.setActiveSession(SparkSpec.session)
    }
  }
}
