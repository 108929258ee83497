package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function reference twins of the native vector
  * expressions in [[VectorFunctions]]. `OperatorUnitSpec` pins the native
  * forms bit-for-bit against these independent formulations (comparing a
  * native expression with itself would prove nothing). Not for query
  * paths: lambda expressions never enter whole-stage codegen.
  */
object VectorTwins {
  import VectorFunctions.l2norm

  /** HOF reference twin of [[VectorFunctions.dot]], same rationale as
    * [[cosineHof]] (which composes it). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** The original HOF cosine, the reference twin of
    * [[VectorFunctions.cosine]]. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (l2norm(a) * l2norm(b))

  /** HOF reference twin of [[VectorFunctions.sqDist]]. */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val diff = (x - y).cast("double"); diff * diff
    }), lit(0.0), (acc, x) => acc + x)
}

/** Declarative higher-order-function formulations of the native text
  * expressions in [[TextFunctions]] — the original forms, mirrored 1:1
  * by the DuckDB oracle SQL — kept as the independent cross-check
  * `OperatorUnitSpec` pins the native expressions against.
  */
object TextTwins {
  import TextFunctions.{charHash, shingles, tokenHashes, tokens, P}

  /** Declarative twin of [[TextFunctions.shingleMinhashSignature]]. */
  def shingleMinhashSignatureDeclarative(text: Column, n: Int, k: Int): Column = {
    val hs = transform(shingles(text, n), charHash _)
    transform(sequence(lit(0L), lit(k - 1L)), i =>
      array_min(transform(hs, h => (h * (i * 2 + 3) + (i * 5 + 7)) % P)))
  }

  /** Declarative twin of [[TextFunctions.minhashSignature]]. */
  def minhashSignatureDeclarative(text: Column, k: Int): Column = {
    val hs = tokenHashes(text)
    transform(sequence(lit(0L), lit(k - 1L)), i =>
      array_min(transform(hs, h => (h * (i * 2 + 3) + (i * 5 + 7)) % P)))
  }

  /** Declarative twin of [[TextFunctions.simhash32]]. */
  def simhash32Declarative(text: Column): Column = {
    val hs = tokenHashes(text)
    aggregate(sequence(lit(0L), lit(29L)), lit(0L), (acc, j) => {
      val pw = pow(lit(2.0), j).cast("long")
      val votes = aggregate(hs, lit(0L),
        (a, h) => a + (h.cast("double") / pw).cast("long") % 2 * 2 - 1)
      acc + when(votes > 0, pw).otherwise(0L)
    })
  }

  /** Declarative twin of [[TextFunctions.tokenShingles]]. */
  def tokenShinglesDeclarative(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= n,
      array_distinct(transform(sequence(lit(1), size(ts) - (n - 1)), i =>
        concat_ws(" ", slice(ts, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }
}
