package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native, whole-stage-codegen similarity kernels over numeric array
  * columns — the hot path of every scoring join (q30-q38, q60). The HOF
  * forms in [[VectorFunctions]] (`zip_with` + `aggregate`) are evaluated
  * interpreted (HigherOrderFunction has no `doGenCode`), allocate an
  * intermediate array per row, and walk the vector once per aggregate;
  * these kernels fuse dot/norm/diff accumulation into ONE branch-free
  * generated loop with zero allocation.
  *
  * Value semantics are IDENTICAL to the HOF forms (the DuckDB oracle
  * pins them): per-element cast to double, sequential left-to-right
  * accumulation, Spark's null-on-zero-divisor division, null result for
  * null inputs / mismatched lengths / null elements.
  *
  * Each kernel's interpreted form is one `private[graft]` scalar function
  * in its companion (`score`), over `n` non-null elements read as doubles:
  * `nullSafeEval` calls it, and so does the search's driver arm
  * ([[graft.core.DomainSnapshot]]), so both arms and the generated loop
  * run the same arithmetic in the same order.
  *
  * Reference formulas: `src/Server/SimilarityMethods.cs:55-113`.
  */
abstract class SimilarityKernel extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric array arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Accumulator names and the Java statement run per element (x, y are
    * double element values); `finish` computes ev.value / ev.isNull from
    * the accumulators.
    */
  protected def accumulators: Seq[String] // java double accumulator names
  protected def perElement(x: String, y: String): String
  protected def finish(ev: ExprCode, n: String): String

  /** The companion's scalar form; null for a null result. */
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double

  private def elemGet(arr: String, et: DataType, i: String): String = et match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
  }

  private def elem(arr: ArrayData, et: DataType): Int => Double = et match {
    case FloatType   => i => arr.getFloat(i).toDouble
    case DoubleType  => i => arr.getDouble(i)
    case IntegerType => i => arr.getInt(i).toDouble
    case LongType    => i => arr.getLong(i).toDouble
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      i += 1
    }
    scalar(n, elem(x, elemType(left)), elem(y, elemType(right)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val decls = accumulators.map(acc => s"double $acc = 0.0;").mkString("\n")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  $decls
         |  boolean _anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { _anyNull = true; break; }
         |    final double $x = ${elemGet(a, elemType(left), i)};
         |    final double $y = ${elemGet(b, elemType(right), i)};
         |    ${perElement(x, y)}
         |  }
         |  if (_anyNull) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${finish(ev, n)}
         |  }
         |}
       """.stripMargin
    })
}

/** Reference Cosine remapped to [0,1]: (dot/(|a||b|) + 1)/2; zero norm →
  * null (Spark's zero-divisor semantics, matching the HOF form).
  */
case class CosineSim01(left: Expression, right: Expression) extends SimilarityKernel {
  override def prettyName: String = "cosine01"
  protected val accumulators = Seq("_dot", "_na", "_nb")
  protected def perElement(x: String, y: String): String =
    s"_dot += $x * $y; _na += $x * $x; _nb += $y * $y;"
  protected def finish(ev: ExprCode, n: String): String =
    s"""final double _den = java.lang.Math.sqrt(_na) * java.lang.Math.sqrt(_nb);
       |if (_den == 0.0) { ${ev.isNull} = true; }
       |else { ${ev.value} = (_dot / _den + 1.0) / 2.0; }""".stripMargin
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    CosineSim01.score(n, x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSim01 {
  private[graft] def score(n: Int, x: Int => Double, y: Int => Double): java.lang.Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < n) {
      val a = x(i); val b = y(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) null else (dot / den + 1.0) / 2.0
  }
}

/** Squared L2 distance (raw). */
case class L2Sq(left: Expression, right: Expression) extends SimilarityKernel {
  override def prettyName: String = "l2sq"
  protected val accumulators = Seq("_ss")
  protected def perElement(x: String, y: String): String =
    s"final double _d = $x - $y; _ss += _d * _d;"
  protected def finish(ev: ExprCode, n: String): String = s"${ev.value} = _ss;"
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    L2Sq.score(n, x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object L2Sq {
  private[graft] def score(n: Int, x: Int => Double, y: Int => Double): java.lang.Double = {
    var ss = 0.0
    var i = 0
    while (i < n) { val d = x(i) - y(i); ss += d * d; i += 1 }
    ss
  }
}

/** Reference Euclidian (sic): 1/(1 + sqrt(Σ(aᵢ-bᵢ)²)). */
case class EuclidianSim01(left: Expression, right: Expression) extends SimilarityKernel {
  override def prettyName: String = "euclidian01"
  protected val accumulators = Seq("_ss")
  protected def perElement(x: String, y: String): String =
    s"final double _d = $x - $y; _ss += _d * _d;"
  protected def finish(ev: ExprCode, n: String): String =
    s"${ev.value} = 1.0 / (1.0 + java.lang.Math.sqrt(_ss));"
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    EuclidianSim01.score(n, x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object EuclidianSim01 {
  private[graft] def score(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    1.0 / (1.0 + math.sqrt(L2Sq.score(n, x, y)))
}

/** Reference Manhattan: 1/(1 + Σ|aᵢ-bᵢ|). */
case class ManhattanSim01(left: Expression, right: Expression) extends SimilarityKernel {
  override def prettyName: String = "manhattan01"
  protected val accumulators = Seq("_sa")
  protected def perElement(x: String, y: String): String =
    s"_sa += java.lang.Math.abs($x - $y);"
  protected def finish(ev: ExprCode, n: String): String =
    s"${ev.value} = 1.0 / (1.0 + _sa);"
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    ManhattanSim01.score(n, x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ManhattanSim01 {
  private[graft] def score(n: Int, x: Int => Double, y: Int => Double): java.lang.Double = {
    var sa = 0.0
    var i = 0
    while (i < n) { sa += math.abs(x(i) - y(i)); i += 1 }
    1.0 / (1.0 + sa)
  }
}

/** Reference Pearson: textbook correlation, range [-1,1] (NOT remapped);
  * zero denominator → 0; empty input → null (0/0 under Spark division).
  */
case class PearsonSim(left: Expression, right: Expression) extends SimilarityKernel {
  override def prettyName: String = "pearson"
  protected val accumulators = Seq("_s1", "_s2", "_q1", "_q2", "_p")
  protected def perElement(x: String, y: String): String =
    s"_s1 += $x; _s2 += $y; _q1 += $x * $x; _q2 += $y * $y; _p += $x * $y;"
  protected def finish(ev: ExprCode, n: String): String =
    s"""if ($n == 0) { ${ev.isNull} = true; }
       |else {
       |  final double _nd = (double) $n;
       |  final double _den = java.lang.Math.sqrt((_q1 - _s1 * _s1 / _nd) * (_q2 - _s2 * _s2 / _nd));
       |  ${ev.value} = (_den == 0.0) ? 0.0 : (_p - _s1 * _s2 / _nd) / _den;
       |}""".stripMargin
  protected def scalar(n: Int, x: Int => Double, y: Int => Double): java.lang.Double =
    PearsonSim.score(n, x, y)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PearsonSim {
  private[graft] def score(n: Int, x: Int => Double, y: Int => Double): java.lang.Double = {
    var s1, s2, q1, q2, p = 0.0
    var i = 0
    while (i < n) {
      val a = x(i); val b = y(i)
      s1 += a; s2 += b; q1 += a * a; q2 += b * b; p += a * b
      i += 1
    }
    if (n == 0) null
    else {
      val nd = n.toDouble
      val den = math.sqrt((q1 - s1 * s1 / nd) * (q2 - s2 * s2 / nd))
      if (den == 0.0) 0.0 else (p - s1 * s2 / nd) / den
    }
  }
}
