package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registration of graft's custom Catalyst expressions.
  *
  * The kernels in [[Kernels]] are wired in as `StaticInvoke`
  * expressions — Catalyst treats them as ordinary deterministic
  * expressions (constant-folded when inputs are literal, inlined into
  * whole-stage codegen as direct static calls), which beats a Scala
  * UDF (no encoder round-trip, no closure serialization).
  *
  * Registered once per session under stable SQL names so both the
  * Column DSL and `spark.sql` can use them: by [[register]], or at
  * session build by [[graft.GraftExtensions]].
  */
object GraftFunctions {

  val SimHashName = "graft_simhash64"
  val FingerprintName = "graft_fingerprint64"
  val DotName = "graft_dot"
  val BloomAggName = "graft_bloom_agg"
  val BloomContainsName = "graft_bloom_contains"
  val NfcName = "graft_nfc"
  val NfkcName = "graft_nfkc"

  /** Each SQL name with the builder of its expression. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    SimHashName -> (exprs =>
      StaticInvoke(Kernels.getClass, LongType, "simhash64",
        exprs, Seq(ArrayType(StringType)), returnNullable = false)),
    FingerprintName -> (exprs =>
      StaticInvoke(Kernels.getClass, LongType, "fingerprint64",
        exprs, Seq(ArrayType(StringType)), returnNullable = false)),
    DotName -> (exprs => DotProduct(exprs(0), exprs(1))),
    // Spark's OWN bloom-filter expressions (what InjectRuntimeFilter
    // plans internally), surfaced as callable functions: the agg
    // builds a binary sketch over long hashes, might-contain tests it
    // with codegen — no UDF, no sketch-library round-trip
    BloomAggName -> (exprs =>
      new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))),
    BloomContainsName -> (exprs => BloomFilterMightContain(exprs(0), exprs(1))),
    NfcName -> (exprs =>
      StaticInvoke(Kernels.getClass, StringType, "nfc",
        exprs, Seq(StringType), returnNullable = false)),
    NfkcName -> (exprs =>
      StaticInvoke(Kernels.getClass, StringType, "nfkc",
        exprs, Seq(StringType), returnNullable = false)))

  /** Registers every function the session does not have yet, so only
    * a session's first call does any work.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, build) <- builders
         if !registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "built-in")
  }

  /** Codegen'd dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = call_function(DotName, a, b)

  /** 64-bit SimHash of an array<string> column. */
  def simhash(tokens: Column): Column = call_function(SimHashName, tokens)

  /** Unicode NFC normalization of a string column (codegen'd). */
  def nfc(text: Column): Column = call_function(NfcName, text)

  /** Unicode NFKC (compatibility) normalization of a string column. */
  def nfkc(text: Column): Column = call_function(NfkcName, text)

  /** Rolling-hash fingerprint of an array<string> column. */
  def fingerprint(tokens: Column): Column = call_function(FingerprintName, tokens)

  /** Hamming distance between two bigint signature columns (native
    * expressions: XOR + popcount via bit_count).
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Bloom-filter aggregate over a bigint column → binary sketch. */
  def bloomAgg(values: Column, estimatedItems: Column,
               numBits: Column): Column =
    call_function(BloomAggName, values, estimatedItems, numBits)

  /** Membership probe of a [[bloomAgg]] sketch (false positives at
    * the configured rate, never false negatives).
    */
  def bloomContains(bloom: Column, value: Column): Column =
    call_function(BloomContainsName, bloom, value)
}
