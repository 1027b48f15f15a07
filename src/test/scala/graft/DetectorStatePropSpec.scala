package graft

import graft.streaming.StreamingFraud.PerElementState
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** The timer detector's packed per-key state: `decode(encode(s))`
  * gives back every pending timer and buffered record, in order, and
  * the encoding is exactly the two counted sections.
  */
object DetectorStatePropSpec extends Properties("DetectorState") {

  // small ranges make duplicate timers and zero/negative times common
  private val time: Gen[Long] =
    Gen.frequency(3 -> Gen.choose(-5L, 5L), 1 -> Gen.long)

  private val amount: Gen[Double] =
    Gen.frequency(4 -> Gen.choose(-1e6, 1e6), 1 -> Gen.oneOf(0.0, -0.0,
      Double.NaN, Double.PositiveInfinity, Double.MinPositiveValue))

  private val states: Gen[PerElementState] = for {
    pending <- Gen.listOf(time)
    // an empty buffer under armed timers is what every firing leaves
    buffer <- Gen.frequency(1 -> Gen.const(Nil),
      3 -> Gen.listOf(Gen.zip(time, amount)))
  } yield new PerElementState(pending.toArray, buffer.map(_._1).toArray,
    buffer.map(_._2).toArray)

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  property("decode(encode(s)) == s element-wise") = forAll(states) { s =>
    val back = PerElementState.decode(PerElementState.encode(s))
    back.pending.toSeq == s.pending.toSeq && back.tsMs.toSeq == s.tsMs.toSeq &&
      bits(back.amounts) == bits(s.amounts)
  }

  property("encoding = int count + longs, int count + (long, double) pairs") =
    forAll(states) { s =>
      PerElementState.encode(s).length ==
        4 + 8 * s.pending.length + 4 + 16 * s.tsMs.length
    }
}
