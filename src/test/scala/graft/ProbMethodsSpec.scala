package graft

import org.apache.spark.sql.functions._
import graft.functions.{GeometricMeanAgg, ProbMethods => PM}

/** Probmethod semantics vs a straight-line Scala re-derivation of the
  * reference (`Probmethods.cs:73-176`, formulas `docs/Indexer.md:112-189`;
  * code is the authority), including every edge case the C# guards encode.
  */
class ProbMethodsSpec extends SparkSpec {
  import spark.implicits._

  /** Straight-line oracle (double precision; engine tolerance 1e-9). */
  object Oracle {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def harmonic(xs: Seq[Double]): Double = {
      val nz = xs.filter(_ != 0.0)
      if (nz.isEmpty) 0.0
      else (nz.size / nz.map(1.0 / _).sum) * (nz.size.toDouble / xs.size)
    }
    def quadratic(xs: Seq[Double]): Double =
      math.sqrt(xs.map(x => x * x).sum / xs.size) // empty -> NaN (0/0)
    def geometric(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else math.pow(xs.product, 1.0 / xs.size)
    def evew(xs: Seq[Double]): Double =
      if (xs.contains(1.0)) 1.0
      else if (xs.contains(0.0)) 0.0
      else xs.map(x => x / (x * (1 - x))).sum / xs.map(x => 1.0 / (x * (1 - x))).sum
    def hvew(xs: Seq[Double]): Double =
      if (xs.contains(1.0)) 1.0
      else xs.map(x => x / (1 - x)).sum / xs.map(x => 1.0 / (1 - x)).sum
    def lvew(xs: Seq[Double]): Double =
      if (xs.contains(0.0)) 0.0 else xs.size / xs.map(1.0 / _).sum
    def dwa(kxs: Seq[(String, Double)], w: Map[String, Double]): Double = {
      val ws = kxs.map { case (k, _) => w.getOrElse(k, 1.0) }
      ws.zip(kxs.map(_._2)).map { case (a, b) => a * b }.sum / ws.sum
    }
  }

  private def agg(xs: Seq[Double], c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Double = {
    val df = if (xs.isEmpty) Seq.empty[Double].toDF("x") else xs.toDF("x")
    df.agg(c(col("x")).as("r")).collect()(0).getDouble(0)
  }

  val samples: Seq[Seq[Double]] = Seq(
    Seq(0.2, 0.4, 0.6),
    Seq(0.5),
    Seq(0.1, 0.1, 0.9, 0.33),
    Seq(0.005, 0.105, 0.07, 0.07, 0.0251),
    (1 to 50).map(i => (i * 37 % 97 + 1) / 100.0))

  test("Mean matches oracle; empty -> 0") {
    samples.foreach(xs => assert(approx(agg(xs, PM.mean), Oracle.mean(xs))))
    assert(agg(Nil, PM.mean) == 0.0)
  }

  test("HarmonicMean: non-zero penalty n_nz/n_T; all-zero -> 0") {
    val withZeros = Seq(Seq(0.0, 0.5, 0.25), Seq(0.0, 0.0), Seq(0.4, 0.0, 0.4, 0.2))
    (samples ++ withZeros).foreach(xs =>
      assert(approx(agg(xs, PM.harmonicMean), Oracle.harmonic(xs)), s"xs=$xs"))
  }

  test("QuadraticMean matches oracle; empty -> NaN (reference has no guard)") {
    samples.foreach(xs => assert(approx(agg(xs, PM.quadraticMean), Oracle.quadratic(xs))))
    assert(agg(Nil, PM.quadraticMean).isNaN)
  }

  test("GeometricMean: zero -> 0; odd negatives -> NaN; even negatives -> value") {
    samples.foreach(xs => assert(approx(agg(xs, PM.geometricMean), Oracle.geometric(xs), 1e-6)))
    assert(agg(Seq(0.5, 0.0, 0.9), PM.geometricMean) == 0.0)
    assert(agg(Seq(0.5, -0.5, 0.9), PM.geometricMean).isNaN) // odd # negatives
    assert(approx(agg(Seq(-0.5, -0.5), PM.geometricMean), 0.5, 1e-9)) // even # -> pow(0.25, 1/2)
  }

  test("EVEWAvg: 1-guard BEFORE 0-guard (list with both -> 1, like the reference)") {
    samples.foreach(xs => assert(approx(agg(xs, PM.evewAvg), Oracle.evew(xs))))
    assert(agg(Seq(1.0, 0.0, 0.5), PM.evewAvg) == 1.0) // 1 checked first
    assert(agg(Seq(0.0, 0.5), PM.evewAvg) == 0.0)
  }

  test("HVEWAvg: 1-guard; LVEWAvg: 0-guard") {
    samples.foreach { xs =>
      assert(approx(agg(xs, PM.hvewAvg), Oracle.hvew(xs)), s"hvew $xs")
      assert(approx(agg(xs, PM.lvewAvg), Oracle.lvew(xs)), s"lvew $xs")
    }
    assert(agg(Seq(1.0, 0.5), PM.hvewAvg) == 1.0)
    assert(agg(Seq(0.0, 0.5), PM.lvewAvg) == 0.0)
  }

  test("DictionaryWeightedAverage: missing key -> weight 1") {
    val kxs = Seq(("a", 0.2), ("b", 0.6), ("missing", 0.9))
    val w = Map("a" -> 2.0, "b" -> 0.5)
    val df = kxs.toDF("k", "x")
    val got = df.agg(PM.dictionaryWeightedAverage(col("k"), col("x"), w).as("r"))
      .collect()(0).getDouble(0)
    assert(approx(got, Oracle.dwa(kxs, w)))
    // empty weights map -> plain mean
    val got2 = df.agg(PM.dictionaryWeightedAverage(col("k"), col("x"), Map.empty).as("r"))
      .collect()(0).getDouble(0)
    assert(approx(got2, Oracle.mean(kxs.map(_._2))))
  }

  // The next three cases keep the names they had when the scalar parsers
  // forSpec/parseName/parseWeights existed; the engine's Column forms
  // (specNameCol/specParamCol, dwaWeightCol, forMethodCol) now carry them.
  test("parseName splits on FIRST colon only (model URIs contain colons)") {
    def split(spec: String): (String, String) = Seq(spec).toDF("s")
      .select(PM.specNameCol(col("s")), PM.specParamCol(col("s"))).as[(String, String)].head()
    assert(split("Mean") == (("Mean", null)))
    assert(split("DictionaryWeightedAverage:{\"a:b\": 2}") ==
      (("DictionaryWeightedAverage", "{\"a:b\": 2}")))
  }

  test("parseWeights handles colons in keys, escapes, scientific notation") {
    def weight(json: String, key: String): Double = Seq((json, key)).toDF("j", "k")
      .select(PM.dwaWeightCol(col("k"), col("j"))).as[Double].head()
    val json = """{"ollama:bge-m3": 2.5, "x": 1e-2, "he said \"hi\"": 3}"""
    assert(weight(json, "ollama:bge-m3") == 2.5)
    assert(weight(json, "x") == 0.01)
    assert(weight(json, "he said \"hi\"") == 3.0)
    assert(weight(json, "missing") == 1.0)
    assert(weight("{}", "x") == 1.0)
  }

  test("forSpec dispatches all 8 methods; unknown name throws") {
    val xs = Seq(0.2, 0.4, 0.8)
    val df = xs.map(x => ("k", x)).toDF("k", "x")
    // the engine's path: split the spec, weight per row, group by the method
    def run(spec: String): Double =
      df.select(col("x"), PM.specNameCol(lit(spec)).as("m"),
          PM.dwaWeightCol(col("k"), PM.specParamCol(lit(spec))).as("w"))
        .groupBy("m").agg(PM.forMethodCol(col("m"), col("x"), col("w")).as("r"))
        .collect()(0).getDouble(1)
    assert(approx(run("Mean"), Oracle.mean(xs)))
    assert(approx(run("HarmonicMean"), Oracle.harmonic(xs)))
    assert(approx(run("QuadraticMean"), Oracle.quadratic(xs)))
    assert(approx(run("GeometricMean"), Oracle.geometric(xs), 1e-6))
    assert(approx(run("EVEWAvg"), Oracle.evew(xs)))
    assert(approx(run("HVEWAvg"), Oracle.hvew(xs)))
    assert(approx(run("LVEWAvg"), Oracle.lvew(xs)))
    assert(approx(run("""DictionaryWeightedAverage:{"k": 2.0}"""), Oracle.mean(xs)))
    val e = intercept[Exception](run("Bogus"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Unknown probmethod: Bogus")))
  }

  test("forMethodCol: per-group data-driven dispatch; unknown name raises") {
    val df = Seq(
      ("g1", "Mean", 0.2), ("g1", "Mean", 0.4),
      ("g2", "LVEWAvg", 0.5), ("g2", "LVEWAvg", 0.25)).toDF("g", "m", "x")
    val rows = df.groupBy("g", "m")
      .agg(PM.forMethodCol(col("m"), col("x")).as("r"))
      .select("g", "r")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx(rows("g1"), 0.3))
    assert(approx(rows("g2"), Oracle.lvew(Seq(0.5, 0.25))))
    val bad = Seq(("g1", "Nope", 0.2)).toDF("g", "m", "x")
    intercept[Exception] {
      bad.groupBy("g", "m")
        .agg(PM.forMethodCol(col("m"), col("x")).as("r"))
        .collect()
    }
  }

  test("forMethod (scalar) == forMethodCol over random groups with 0, 1, negatives and nulls") {
    val rnd = new scala.util.Random(23)
    def value(): Option[Double] = rnd.nextInt(7) match {
      case 0 => None
      case 1 => Some(0.0)
      case 2 => Some(1.0)
      case 3 => Some(-rnd.nextDouble())
      case _ => Some(rnd.nextDouble())
    }
    def weight(): Double = if (rnd.nextInt(12) == 0) 0.0 else 0.25 + 2 * rnd.nextDouble()
    val groups = for (m <- PM.Names; g <- 0 until 60)
      yield (s"$m#$g", m, Seq.fill(1 + rnd.nextInt(6))((value(), weight())))
    val rows = for ((id, m, xs) <- groups; (x, w) <- xs) yield (id, m, x, w)
    // count(lit(1)) in the Column forms counts the null rows too
    val byColumn = rows.toDF("id", "m", "x", "w").groupBy("id", "m")
      .agg(PM.forMethodCol(col("m"), col("x"), col("w")).as("r"))
      .collect().map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    val scalar = groups.map { case (id, m, xs) =>
      id -> Option(PM.forMethod(m, PM.Group(xs.map(_._1.getOrElse(0.0)).toArray,
        xs.map(_._1.isEmpty).toArray, xs.map(_._2).toArray, 0, xs.size))).map(_.doubleValue)
    }.toMap
    assert(byColumn.keySet == scalar.keySet)
    scalar.foreach { case (id, want) =>
      val got = byColumn(id)
      assert(got.isDefined == want.isDefined && got.forall(g => approx(g, want.get, 1e-12)),
        s"$id: Column $got, scalar $want")
    }
    // the draw reaches the null, NaN and zero-guard results
    assert(scalar.values.exists(_.isEmpty) && scalar.values.exists(_.exists(_.isNaN)))
    assert(scalar.values.count(_.contains(0.0)) > 10)
    intercept[IllegalArgumentException](PM.forMethod("Nope",
      PM.Group(Array(0.5), Array(false), Array(1.0), 0, 1)))
  }

  test("GeometricMeanAgg is bit-faithful to the reference float product") {
    // reference: running float product, then Math.Pow(product, 1f/n)
    def ref(xs: Seq[Float]): Float = {
      if (xs.isEmpty) 0.0f
      else {
        var p = 1.0f
        xs.foreach(x => p *= x)
        math.pow(p.toDouble, (1.0f / xs.size).toDouble).toFloat
      }
    }
    // power-of-two values multiply exactly in float, so the product is
    // independent of partition merge order and the bit-compare is stable
    val cases = Seq(
      Seq(0.5f, 0.25f, 0.125f),
      Seq(0.5f, 0.25f, 0.5f, 0.125f, 0.0625f),
      (1 to 200).map(_ => 1e-30f), // underflows to 0f exactly as the reference does
      Seq(0.3f))
    cases.foreach { xs =>
      val got = xs.toDF("x").as[Float]
        .select(GeometricMeanAgg.toColumn).collect()(0)
      val want = ref(xs)
      assert(java.lang.Float.floatToIntBits(got) == java.lang.Float.floatToIntBits(want),
        s"xs.size=${xs.size} got=$got want=$want")
    }
  }
}
