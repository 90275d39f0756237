package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType` embedding columns, built from Spark's
  * higher-order functions (codegen'd, no UDF — SURVEY §7.3): the dot-product
  * fold runs left-to-right per row, matching DuckDB's `list_dot_product`
  * loop for oracle-exact comparison.
  *
  * All helpers expect DOUBLE arrays — cast float embeddings first via
  * [[toDoubleArray]] so both engines do double multiplies (a float multiply
  * then double accumulate diverges from DuckDB's double-double path).
  */
object VectorFunctions {

  def toDoubleArray(c: Column): Column = transform(c, _.cast("double"))

  /** Σ aᵢ·bᵢ as a strict left fold. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column = dot(a, a)

  /** cosine(a, b) = dot / sqrt(|a|²·|b|²) — one sqrt, one division, so both
    * engines execute the identical IEEE op sequence. Dispatches to the
    * codegen'd [[CosineSimilarity]] expression; [[cosineHof]] is the
    * higher-order-function formulation kept as the bit-exactness reference.
    */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Interpreted HOF cosine (5 array passes, CodegenFallback) — reference
    * implementation for the property test pinning [[CosineSimilarity]].
    */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))

  /** Deterministic pseudo-random hyperplane weight for LSH: integer formula
    * `(((5·plane + 7·dim + 7·plane·dim + 3) mod 67) mod 11) − 5` ∈ [−5, 5]
    * — reproducible in any engine, no RNG (scripts must stay replayable),
    * cheap to inline in codegen.
    *
    * The plane·dim cross term and the mod-67 outer ring are load-bearing
    * (band-width A/B finding, BASELINE.md): the original `((5p + 7j + 3) mod 11) − 5` is
    * PERIODIC IN p WITH PERIOD 11 — planes 11+ are verbatim copies of
    * planes 0–10, so every sign-LSH band beyond the first 11 bits tested
    * the SAME hyperplane set: the 2×8 registry banding paid 2× candidate
    * volume for a second band that added ~zero recall, and all wider
    * configs collapsed to "agree on 11 planes" (measured: 12x4's extra
    * bands found exactly 0 new pairs at exactly 2× volume). mod 67 > the
    * 62-bit signature cap keeps every plane distinct; the inner cross
    * term breaks the p-translation symmetry; the outer mod 11 keeps the
    * weight range (67 = 6·11 + 1, so the distribution skew is one part
    * in 67 — noise). The cross coefficient must be 7, not 3 (review
    * finding): the dim coefficient is (7 + c·p) mod 67, which vanishes
    * for exactly one plane p ≡ −7·c⁻¹ (mod 67) — a constant-weight
    * degenerate plane; c = 3 put it at p = 20 (inside every ≥21-bit
    * signature), c = 7 puts it at p = 66, outside the 62-bit cap.
    */
  def planeWeight(plane: Int, dim: Column): Column =
    ((lit(5 * plane) + lit(7) * dim + lit(7 * plane) * dim + lit(3)) % 67) % 11 - lit(5)

  /** `nBits`-bit sign-LSH signature of a double-array embedding: bit i is the
    * sign of the dot product with pseudo-hyperplane i. Same-bucket vectors
    * are near-duplicate candidates.
    */
  def signLsh(v: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { p =>
      // dimension index derived from the VECTOR's size, not a hardcoded
      // 64: a shorter vector zip_with a longer index range null-pads,
      // nulls the projection, and sends EVERY vector to bucket 0 — the
      // LSH self-join then degenerates to an O(N²) cross product with no
      // error raised
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => x * planeWeight(p, j)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
