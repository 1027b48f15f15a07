package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for text fingerprinting, exposed to Catalyst through
  * `StaticInvoke` (see [[GraftFunctions]]): the generated code calls
  * these methods directly inside whole-stage codegen — no UDF
  * serialization, no Row boxing.
  *
  * Hash choices are engine-internal (these operators are checked by
  * property specs, not a SQL oracle), so we use xxhash64-style mixing
  * on UTF-8 bytes for speed and determinism.
  */
object Kernels {

  /** 64-bit xxhash-style mix of a UTF8String with a seed. */
  private def hash64(s: UTF8String, seed: Long): Long = {
    var h = s.hashCode.toLong * 0x9E3779B97F4A7C15L + seed
    h ^= h >>> 32
    h *= 0xBF58476D1CE4E5B9L
    h ^= h >>> 29
    h *= 0x94D049BB133111EBL
    h ^ (h >>> 32)
  }

  /** 64-bit SimHash over a token array: majority vote per bit of the
    * per-token 64-bit hashes. Near-duplicate texts land within a
    * small Hamming distance (Charikar 2002, similarity estimation
    * via rounding).
    */
  def simhash64(tokens: ArrayData): Long = {
    if (tokens == null) return 0L
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash64(tokens.getUTF8String(i), 0L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Order-sensitive polynomial rolling hash over tokens — a document
    * fingerprint: identical token sequences collide, any reordering
    * or edit changes the value (w.h.p.).
    */
  def fingerprint64(tokens: ArrayData): Long = {
    if (tokens == null) return 0L
    var fp = 0xCBF29CE484222325L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = if (tokens.isNullAt(i)) 0L else hash64(tokens.getUTF8String(i), 1L)
      fp = fp * 0x100000001B3L + h
      i += 1
    }
    fp
  }

  /** Unicode NFC normalization (UAX#15 canonical compose — the JVM's
    * java.text.Normalizer, same algorithm utf8proc/ICU implement, so
    * DuckDB's `nfc_normalize` is a value-exact oracle for it).
    */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Unicode NFKC normalization (compatibility compose: ligatures,
    * fullwidth forms, roman numerals, unit signs fold to their plain
    * equivalents — the pre-tokenizer pass for multilingual corpora).
    * No SQL engine exposes NFKC, so gates on it are property
    * contracts (expected-literal flags) plus JVM specs.
    */
  def nfkc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFKC))

  /** Dot product of two double arrays — the pair-join hot path. A
    * `zip_with`+`aggregate` HOF formulation allocates an intermediate
    * array per pair; this is a tight primitive loop over ArrayData.
    */
  def dotProduct(a: ArrayData, b: ArrayData): Double = {
    if (a == null || b == null) return 0d
    val n = a.numElements()
    // fail fast: a silent min-length truncation would quietly corrupt
    // similarity scores on ragged embedding data
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0d
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
