package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Similarity semantics vs the reference (`SimilarityMethods.cs:55-113`):
  * Cosine remapped to [0,1], Euclidian/Manhattan rational-remapped,
  * Pearson raw [-1,1] with den=0 -> 0.
  */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def sim(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                  a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(f(col("a"), col("b")).as("r")).collect()(0).getDouble(0)

  test("Cosine: identical -> 1, opposite -> 0, orthogonal -> 0.5 (remapped)") {
    assert(approx(sim(VF.cosine01, Seq(1, 2, 3), Seq(1, 2, 3)), 1.0))
    assert(approx(sim(VF.cosine01, Seq(1, 2, 3), Seq(-1, -2, -3)), 0.0))
    assert(approx(sim(VF.cosine01, Seq(1, 0), Seq(0, 1)), 0.5))
  }

  test("Euclidian: 1/(1+dist); identical -> 1") {
    assert(approx(sim(VF.euclidian01, Seq(1, 2), Seq(1, 2)), 1.0))
    assert(approx(sim(VF.euclidian01, Seq(0, 0), Seq(3, 4)), 1.0 / 6.0)) // dist 5
  }

  test("Manhattan: 1/(1+dist)") {
    assert(approx(sim(VF.manhattan01, Seq(0, 0), Seq(3, 4)), 1.0 / 8.0)) // dist 7
  }

  test("Pearson: raw range, NOT remapped; zero denominator -> 0") {
    assert(approx(sim(VF.pearson, Seq(1, 2, 3), Seq(2, 4, 6)), 1.0))
    assert(approx(sim(VF.pearson, Seq(1, 2, 3), Seq(6, 4, 2)), -1.0)) // negative reaches probmethods
    assert(sim(VF.pearson, Seq(1, 1, 1), Seq(1, 2, 3)) == 0.0) // constant -> den 0
  }

  test("bounds on pseudo-random vectors") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val a = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
      val b = Seq.fill(16)(rnd.nextDouble() * 2 - 1)
      val c = sim(VF.cosine01, a, b)
      assert(c >= 0.0 && c <= 1.0)
      val e = sim(VF.euclidian01, a, b)
      assert(e > 0.0 && e <= 1.0)
      val m = sim(VF.manhattan01, a, b)
      assert(m > 0.0 && m <= 1.0)
      val p = sim(VF.pearson, a, b)
      assert(p >= -1.0 - 1e-9 && p <= 1.0 + 1e-9)
    }
  }

  test("similarityCol dispatches per row; unknown method raises") {
    val df = Seq(
      ("Cosine", Seq(1.0, 2.0), Seq(1.0, 2.0)),
      ("Manhattan", Seq(0.0, 0.0), Seq(3.0, 4.0))).toDF("m", "a", "b")
    val got = df.select(VF.similarityCol(col("m"), col("a"), col("b")).as("r"))
      .collect().map(_.getDouble(0))
    assert(approx(got(0), 1.0) && approx(got(1), 1.0 / 8.0))
    intercept[Exception] {
      Seq(("Nope", Seq(1.0), Seq(1.0))).toDF("m", "a", "b")
        .select(VF.similarityCol(col("m"), col("a"), col("b"))).collect()
    }
  }

  test("literal dispatch: unknown similarity name throws at plan time") {
    intercept[IllegalArgumentException](VF.similarity("Bogus", lit(null), lit(null)))
  }

  test("codegen kernels are bit-identical to the HOF specification forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // double arrays AND float arrays (the parquet embedding element type)
    val rows = (1 to 50).map { _ =>
      (Seq.fill(33)(rnd.nextDouble() * 2 - 1), Seq.fill(33)(rnd.nextDouble() * 2 - 1))
    }
    val dd = rows.toDF("a", "b")
    val ff = rows.map { case (a, b) => (a.map(_.toFloat), b.map(_.toFloat)) }.toDF("a", "b")
    for (df <- Seq(dd, ff)) {
      val pairsDf = df.select(
        VF.cosine01(col("a"), col("b")).as("k_cos"),
        VF.hof.cosine01(col("a"), col("b")).as("h_cos"),
        VF.euclidian01(col("a"), col("b")).as("k_euc"),
        VF.hof.euclidian01(col("a"), col("b")).as("h_euc"),
        VF.manhattan01(col("a"), col("b")).as("k_man"),
        VF.hof.manhattan01(col("a"), col("b")).as("h_man"),
        VF.pearson(col("a"), col("b")).as("k_pea"),
        VF.hof.pearson(col("a"), col("b")).as("h_pea"),
        VF.l2sq(col("a"), col("b")).as("k_l2"),
        VF.hof.l2sq(col("a"), col("b")).as("h_l2")).collect()
      pairsDf.foreach { r =>
        for (i <- 0 until 10 by 2)
          assert(r.getDouble(i) == r.getDouble(i + 1), s"col $i bit-mismatch")
      }
    }
    // null/zero edge cases match Spark division semantics
    val edge = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),  // zero norm -> null cosine
      (Seq(1.0, 2.0), Seq(1.0))        // mismatched lengths -> null
    ).toDF("a", "b")
    val e = edge.select(
      VF.cosine01(col("a"), col("b")).as("k"),
      VF.hof.cosine01(col("a"), col("b")).as("h")).collect()
    assert(e(0).isNullAt(0) && e(0).isNullAt(1))
    assert(e(1).isNullAt(0) && e(1).isNullAt(1))
  }

  test("interpreted kernels (each companion's scalar score) are bit-identical to codegen") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 20).map(_ => (Seq.fill(17)(rnd.nextFloat() * 2 - 1), Seq.fill(17)(rnd.nextFloat() * 2 - 1))) ++
      Seq((Seq(0f, 0f), Seq(1f, 2f)), (Seq(1f, 2f), Seq(1f)), (Seq(0.5f, 0.5f), Seq(0.5f, 0.5f)))
    val kernels: Seq[(Expression, Expression) => Expression] = Seq(
      CosineSim01(_, _), EuclidianSim01(_, _), ManhattanSim01(_, _), PearsonSim(_, _), L2Sq(_, _))
    val generated = rows.toDF("a", "b").select(
      VF.cosine01(col("a"), col("b")), VF.euclidian01(col("a"), col("b")),
      VF.manhattan01(col("a"), col("b")), VF.pearson(col("a"), col("b")),
      VF.l2sq(col("a"), col("b"))).collect()
    def lit32(v: Seq[Float]) = Literal.create(v.toArray, ArrayType(FloatType, containsNull = false))
    rows.zip(generated).foreach { case ((a, b), g) =>
      kernels.zipWithIndex.foreach { case (k, i) =>
        val interpreted = k(lit32(a), lit32(b)).eval()
        assert(interpreted == (if (g.isNullAt(i)) null else g.getDouble(i)), s"kernel $i on $a, $b")
      }
    }
  }
}
