package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  private lazy val payloads =
    Multimodal.withPayload(Tables.documents(spark, sf), "doc_id", "text")

  test("payload schema: binary column + typed metadata struct") {
    val schema = payloads.schema
    assert(schema("payload").dataType.typeName === "binary")
    val meta = schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSet === Set("n_bytes", "width", "height", "frames"))
  }

  test("metadata is consistent with payload bytes") {
    val bad = payloads.filter(length(col("payload")) =!= col("meta.n_bytes"))
    assert(bad.count() === 0)
  }

  test("feature extraction: 16-dim normalized histograms, deterministic") {
    val f1 = Multimodal.extractFeatures(payloads).collect()
      .map(m => m.doc_id -> m).toMap
    val f2 = Multimodal.extractFeatures(payloads, batchSize = 7).collect()
      .map(m => m.doc_id -> m).toMap
    assert(f1.size === Tables.documents(spark, sf).count())
    f1.values.foreach { m =>
      assert(m.features.length === 16)
      // histogram sums to ~1 per frame-mean
      val s = m.features.sum
      assert(s > 0.99f && s < 1.01f, s"histogram sum $s")
    }
    // batch size must not change results
    f1.foreach { case (id, m) =>
      assert(m.features.sameElements(f2(id).features), s"doc $id differs")
    }
  }

  test("feature digest: feat_nonzero equals distinct high nibbles of payload") {
    val digest = Multimodal.featureDigest(Multimodal.extractFeatures(payloads))
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val expected = payloads.select(col("doc_id"), col("payload")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[Array[Byte]](1).map(b => (b & 0xFF) >> 4).distinct.length)
      .toMap
    assert(digest === expected)
    assert(digest.nonEmpty)
  }

  test("resizeBytes produces fixed-size, deterministic payloads") {
    val bytes = payloads.select("payload").collect()
      .map(_.getAs[Array[Byte]](0))
    assert(bytes.nonEmpty)
    bytes.foreach { p =>
      val out = Multimodal.resizeBytes(p, 32, 16)
      assert(out.length === 32 * 16)
      assert(out.sameElements(Multimodal.resizeBytes(p, 32, 16)))
    }
  }
}
