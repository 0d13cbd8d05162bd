package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}

/** Vector similarity primitives over `array<float>` columns.
  *
  * The four similarity methods and the IVF distance run on fused native
  * codegen kernels ([[SimilarityKernel]] — one generated loop per row,
  * zero allocation); the HOF combinator forms below them are kept as the
  * readable specification and for ad-hoc composition — both produce
  * bit-identical values (sequential double accumulation).
  *
  * Semantics follow the reference engine (LD-Reborn/embeddingsearch,
  * `src/Server/SimilarityMethods.cs:55-113`):
  *   - Cosine    : (cos(a,b) + 1) / 2               -> [0, 1]
  *   - Euclidian : 1 / (1 + sqrt(sum((a-b)^2)))     -> (0, 1]   (sic, reference spelling)
  *   - Manhattan : 1 / (1 + sum(|a-b|))             -> (0, 1]
  *   - Pearson   : textbook correlation, range [-1, 1], zero denominator -> 0
  *                 (NOT remapped — the reference quirk is preserved)
  *
  * All arithmetic is done in double precision; inputs are cast from float.
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("double")

  /** Sum of elements of a numeric array column, in double. */
  def arraySum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + d(x))

  /** Dot product of two equal-length array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 norm. */
  def norm2(a: Column): Column = dot(a, a)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(norm2(a))

  /** Raw cosine similarity in [-1, 1] (HOF form). */
  def cosineRaw(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Reference Cosine: remapped to [0, 1]. Fused codegen kernel. */
  def cosine01(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim01(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Squared L2 distance (raw, no remap) — shared by Euclidian similarity
    * and the IVF coarse-quantizer assignment. Fused codegen kernel. */
  def l2sq(a: Column, b: Column): Column =
    ExpressionUtils.column(L2Sq(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Reference Euclidian: 1/(1+dist). Fused codegen kernel. */
  def euclidian01(a: Column, b: Column): Column =
    ExpressionUtils.column(EuclidianSim01(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Reference Manhattan: 1/(1+dist). Fused codegen kernel. */
  def manhattan01(a: Column, b: Column): Column =
    ExpressionUtils.column(ManhattanSim01(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Reference Pearson: raw correlation in [-1, 1]; zero denominator -> 0.
    * Fused codegen kernel. */
  def pearson(a: Column, b: Column): Column =
    ExpressionUtils.column(PearsonSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** HOF combinator forms — the executable specification the kernels are
    * checked against (VectorFunctionsSpec asserts bit-identical values).
    */
  object hof {
    def cosine01(a: Column, b: Column): Column =
      (cosineRaw(a, b) + lit(1.0)) / lit(2.0)

    def l2sq(a: Column, b: Column): Column =
      aggregate(
        zip_with(a, b, (x, y) => (d(x) - d(y)) * (d(x) - d(y))),
        lit(0.0), (acc, x) => acc + x)

    def euclidian01(a: Column, b: Column): Column =
      lit(1.0) / (lit(1.0) + sqrt(l2sq(a, b)))

    def manhattan01(a: Column, b: Column): Column = {
      val dist = aggregate(
        zip_with(a, b, (x, y) => abs(d(x) - d(y))),
        lit(0.0), (acc, x) => acc + x)
      lit(1.0) / (lit(1.0) + dist)
    }

    def pearson(a: Column, b: Column): Column = {
      val n     = size(a).cast("double")
      val sum1  = arraySum(a)
      val sum2  = arraySum(b)
      val sumSq1 = dot(a, a)
      val sumSq2 = dot(b, b)
      val pSum  = dot(a, b)
      val num   = pSum - (sum1 * sum2 / n)
      val den   = sqrt((sumSq1 - sum1 * sum1 / n) * (sumSq2 - sum2 * sum2 / n))
      when(den === 0.0, 0.0).otherwise(num / den)
    }
  }

  /** String-dispatched similarity, mirroring the reference registry
    * (`SimilarityMethods.cs:29-36`). `method` is a literal name.
    */
  def similarity(method: String, a: Column, b: Column): Column = method match {
    case "Cosine"    => cosine01(a, b)
    case "Euclidian" => euclidian01(a, b)
    case "Manhattan" => manhattan01(a, b)
    case "Pearson"   => pearson(a, b)
    case other => throw new IllegalArgumentException(s"Unknown similarity method: $other")
  }

  /** Data-driven dispatch on a per-row method-name column: evaluates the
    * method named in `method` for each row (all four are cheap expressions;
    * Catalyst's CaseWhen short-circuits per-row evaluation).
    */
  def similarityCol(method: Column, a: Column, b: Column): Column =
    when(method === "Cosine", cosine01(a, b))
      .when(method === "Euclidian", euclidian01(a, b))
      .when(method === "Manhattan", manhattan01(a, b))
      .when(method === "Pearson", pearson(a, b))
      .otherwise(raise_error(concat(lit("Unknown similarity method: "), method)).cast("double"))

  /** Scalar twin of [[similarityCol]] for the search's driver arm: the
    * kernel's `score` over (n, x, y), null for a null result. Throws on an
    * unknown method, as the Column form's `raise_error` does.
    */
  private[graft] def similarityScalar(method: String)
      : (Int, Int => Double, Int => Double) => java.lang.Double = method match {
    case "Cosine"    => CosineSim01.score
    case "Euclidian" => EuclidianSim01.score
    case "Manhattan" => ManhattanSim01.score
    case "Pearson"   => PearsonSim.score
    case other => throw new IllegalArgumentException(s"Unknown similarity method: $other")
  }
}
