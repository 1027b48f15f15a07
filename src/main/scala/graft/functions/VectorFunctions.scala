package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense-vector math over `array<float>` embedding columns, built
  * from native higher-order functions (`zip_with` / `aggregate` /
  * `transform`) so everything is codegen'd — no UDFs, no boxing of
  * whole vectors through Scala closures.
  *
  * Floats are widened to double before any arithmetic so results
  * match a double-precision oracle bit-for-bit up to summation order.
  */
object VectorFunctions {

  def toDouble(v: Column): Column = transform(v, x => x.cast(DoubleType))

  /** Dot product through the [[DotProduct]] expression (`graft_dot`),
    * whose generated code is a tight primitive loop (a zip_with /
    * aggregate HOF allocates an intermediate array per evaluation,
    * which dominated the pair-join benchmarks). The name resolves in
    * the session's function registry: run [[GraftFunctions.register]]
    * on the session first, or build it with [[graft.GraftExtensions]].
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  def norm2(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, z) => acc + z))

  /** Cosine similarity of two double-array columns. A zero-norm
    * vector (failed/padding embedding) is similar to NOTHING (0.0),
    * never NaN: Spark orders NaN above every double, so an unguarded
    * 0/0 here would rank a zero vector as every query's #1 neighbor
    * and pass every `>= minCosine` dedup filter, transitively merging
    * unrelated clusters.
    */
  def cosine(a: Column, b: Column): Column =
    cosinePrenormed(a, b, norm2(a), norm2(b))

  /** Cosine when per-row norms were precomputed (pair-join fast path:
    * norms are computed once per vector, not once per pair). Same
    * zero-norm-is-0.0 contract as [[cosine]] — and that contract
    * extends to NULL inputs: a NULL vector (hence NULL norm) makes
    * the `when` predicate NULL and falls through to 0.0, NOT to NULL
    * propagation. Deliberate: a missing embedding is "similar to
    * nothing", exactly like a failed (zero-norm) one. Callers that
    * need NULL rows excluded from top-k rankings entirely (0.0 still
    * outranks a negative true cosine) filter them upstream, as
    * [[graft.operators.Similarity.lshTopK]]'s dim probe does.
    */
  def cosinePrenormed(a: Column, b: Column, normA: Column, normB: Column): Column =
    when(normA * normB > 0.0, dot(a, b) / (normA * normB)).otherwise(lit(0.0))

  /** Random-hyperplane signature (Charikar LSH): bit j is the sign of
    * <v, r_j> for a fixed ±1 hyperplane r_j drawn from a seeded PRNG
    * at plan-build time (deterministic across runs). Returns an
    * integer bucket in [0, 2^bits).
    *
    * The plane matrix travels as ONE `typedlit` (a codegen reference
    * object): inlining bits×dim scalar literals made Janino compile a
    * multi-second method per signature expression. The bucket is the
    * base-2 fold of the sign bits (acc*2 + bit), so generated code is
    * small and stable across seeds.
    */
  def hyperplaneSignature(v: Column, dim: Int, bits: Int, seed: Long): Column = {
    val rng = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] =
      Seq.fill(bits)(Seq.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
    val planesLit = typedlit(planes)
    aggregate(
      transform(planesLit, p => when(dot(v, p) > 0, lit(1L)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc * 2 + b)
  }
}
