package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType/DoubleType)` embedding columns as
  * pure Catalyst expressions (codegen'd, row-local, shuffle-free).
  *
  * Semantics match the reference's cosine (`embeddings.py:389-404`):
  * zero-magnitude → 0.0 and length-mismatch → 0.0 guards included.
  *
  * Determinism: elements are cast to double BEFORE any arithmetic and the
  * dot-product folds left sequentially, so results are bit-reproducible
  * (same fold order ⇒ identical IEEE ops) — required for oracle parity.
  */
object VectorOps {

  /** Cast a float[]/double[] column to double[] elementwise. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential left-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with the reference's guards: length mismatch → 0.0,
    * zero magnitude → 0.0 (embeddings.py:394-402). */
  def cosine(a: Column, b: Column): Column = {
    val num = dot(a, b)
    val den = norm(a) * norm(b)
    when(size(a) =!= size(b), 0.0)
      .when(den === 0.0, 0.0)
      .otherwise(num / den)
  }
}
