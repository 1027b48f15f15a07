package graft

import graft.functions.Kernels
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** ScalaCheck property tests for the JVM kernels (pure, no Spark
  * session): algebraic guarantees the dedup/similarity operators rely
  * on.
  */
object KernelsPropSpec extends Properties("Kernels") {

  private def arr(tokens: Seq[String]): ArrayData =
    ArrayData.toArrayData(tokens.map(UTF8String.fromString).toArray)

  private val token: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val tokens: Gen[List[String]] = Gen.choose(20, 80)
    .flatMap(n => Gen.listOfN(n, token))

  property("simhash: dropping one token flips few bits") =
    forAll(tokens) { ts =>
      val full = Kernels.simhash64(arr(ts))
      val dropped = Kernels.simhash64(arr(ts.tail))
      java.lang.Long.bitCount(full ^ dropped) <= 16
    }

  property("simhash and fingerprint are pure functions of the tokens") =
    forAll(tokens) { ts =>
      Kernels.simhash64(arr(ts)) == Kernels.simhash64(arr(ts)) &&
        Kernels.fingerprint64(arr(ts)) == Kernels.fingerprint64(arr(ts))
    }

  property("fingerprint is order-sensitive, simhash order-insensitive") =
    forAll(tokens) { ts =>
      val rev = ts.reverse
      val orderSensitive = Prop(rev == ts ||
        Kernels.fingerprint64(arr(ts)) != Kernels.fingerprint64(arr(rev)))
      val bagOfWords = Prop(
        Kernels.simhash64(arr(ts)) == Kernels.simhash64(arr(rev)))
      orderSensitive && bagOfWords
    }

  private val vec: Gen[List[Double]] = Gen.choose(1, 64)
    .flatMap(n => Gen.listOfN(n, Gen.choose(-10.0, 10.0)))

  property("dot product matches a reference fold and is symmetric") =
    forAll(vec, vec) { (a0, b0) =>
      // equal dims: mismatched lengths fail fast (property below)
      val n = math.min(a0.size, b0.size)
      val (a, b) = (a0.take(n), b0.take(n))
      val ad = ArrayData.toArrayData(a.toArray)
      val bd = ArrayData.toArrayData(b.toArray)
      val got = Kernels.dotProduct(ad, bd)
      val ref = (0 until n).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      math.abs(got - ref) < 1e-9 &&
        math.abs(Kernels.dotProduct(bd, ad) - got) < 1e-12
    }

  property("dot product rejects mismatched dimensions") =
    forAll(vec, vec) { (a, b) =>
      (a.size != b.size) ==> {
        val ad = ArrayData.toArrayData(a.toArray)
        val bd = ArrayData.toArrayData(b.toArray)
        try { Kernels.dotProduct(ad, bd); false }
        catch { case _: IllegalArgumentException => true }
      }
    }
}
