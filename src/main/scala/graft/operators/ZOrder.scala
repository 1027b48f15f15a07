package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Z-order (Morton) key — the sort key of multi-dimensional file
  * clustering for min/max skipping.
  *
  * A range sort on one column makes parquet min/max stats prune that
  * column perfectly and every other column not at all: each file
  * spans the full range of the non-leading dims. Interleaving the
  * bits of two dims into one sort key makes a range sort cluster
  * BOTH dims at once — with 2^k files, each file covers ~2^-(k/2) of
  * each dim's range, so a predicate on either dim (or a box on both)
  * overlaps a vanishing fraction of files. At 100 TB this is the
  * difference between scanning every file for a secondary-dim filter
  * and scanning a few percent; the key is computed map-side (5
  * shift/mask steps per dim, whole-stage codegen), so a range
  * repartition on it costs the same shuffle a plain sorted write pays.
  *
  * The bit-spreading uses the classic magic-mask doubling trick
  * (Morton 1966; the form in Bit Twiddling Hacks): spread the low 16
  * bits of each dim to even positions, OR the second dim in at odd
  * positions. Pure integer arithmetic, so the DuckDB oracle mirrors
  * it operator for operator.
  */
object ZOrder {

  /** Spread the low 16 bits of a non-negative value to the even bit
    * positions of a 32-bit result (LongType arithmetic throughout).
    */
  def spreadBits16(c: Column): Column = {
    val v0 = c.cast(LongType).bitwiseAND(lit(0xFFFFL))
    val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
    v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key of two 16-bit dims: x at even bits, y at odd. */
  def mortonKey(x: Column, y: Column): Column =
    spreadBits16(x).bitwiseOR(shiftleft(spreadBits16(y), 1))
}
