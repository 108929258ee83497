package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` embedding columns. The
  * hot-path scalars (cosine, sqDist) are native codegen expressions
  * (r14 — the HOF forms are re-evaluated by window/sort consumers,
  * see [[cosine]]); the remaining single-consumer folds (dot, norms)
  * stay higher-order functions.
  *
  * Determinism contract (shared with the DuckDB oracle): multiply in
  * float (IEEE-identical on both engines), cast each product to double,
  * then left-fold from 0.0 — a fixed accumulation order, so results are
  * bit-identical across engines and across partitionings.
  *
  * Scale note: these are per-row expressions (no shuffle). Pairwise uses
  * (knn, ann) bound one side to a constant/broadcast set; the all-pairs
  * path at 100 TB is LSH/IVF bucketing (see Similarity), never a raw
  * cross join.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ as double, fixed left-to-right accumulation — native
    * codegen expression (r14), same recompute argument and identical
    * numerical contract as [[cosine]]'s numerator. */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Σ aᵢ² as double. */
  def norm2(a: Column): Column =
    aggregate(transform(a, x => (x * x).cast("double")), lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ */
  def l2norm(a: Column): Column = sqrt(norm2(a))

  /** Σ aᵢ⁴ as double (the kurtosis moment behind the participation
    * ratio (Σa²)²/Σa⁴ — see q_sim_19_eff_dim). Squares in float, casts
    * to double, squares again — mirrored exactly by Duck.pow4. */
  def pow4(a: Column): Column =
    aggregate(transform(a, x => {
      val s = (x * x).cast("double"); s * s
    }), lit(0.0), (acc, x) => acc + x)

  /** cos(a, b) = a·b / (‖a‖·‖b‖).
    *
    * Built on the native codegen expression (r14): the HOF form
    * (dot/l2norm composition) is re-EVALUATED by every consumer of the
    * output column that Spark cannot pipeline through — measured on
    * q_sim_41's rank window, the sort + WindowGroupLimit path paid the
    * three-lambda cosine several times per row (1.99 s vs 0.35 s for
    * the 90k-pair window). CosineSimilarity is contract-identical
    * (float multiply, widen to double, left-fold from 0.0 —
    * OperatorUnitSpec asserts bit-equality against the HOF form), so no
    * result can move. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Squared euclidean distance Σ (aᵢ-bᵢ)² — native codegen expression
    * (r14), same recompute argument and bit-identical numerical
    * contract as [[cosine]] (subtract in the element type, widen the
    * diff to double, square, left-fold from 0.0; length mismatch →
    * NULL like the zip_with form). */
  def sqDist(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.SqDist(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** DuckDB mirrors of the above, for oracle construction. */
  object Duck {
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip($a, $b), p -> CAST(struct_extract(p, 1) * struct_extract(p, 2) AS DOUBLE))), (acc, x) -> acc + x)"
    def norm2(a: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($a, x -> CAST(x * x AS DOUBLE))), (acc, x) -> acc + x)"
    def pow4(a: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($a, x -> CAST(x * x AS DOUBLE) * CAST(x * x AS DOUBLE))), (acc, x) -> acc + x)"
    def l2norm(a: String): String = s"sqrt(${norm2(a)})"
    def cosine(a: String, b: String): String =
      s"(${dot(a, b)} / (${l2norm(a)} * ${l2norm(b)}))"
    def sqDist(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip($a, $b), p -> CAST(struct_extract(p, 1) - struct_extract(p, 2) AS DOUBLE) * CAST(struct_extract(p, 1) - struct_extract(p, 2) AS DOUBLE))), (acc, x) -> acc + x)"
  }
}
