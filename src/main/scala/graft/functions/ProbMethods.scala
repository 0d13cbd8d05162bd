package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, MapType, StringType}

/** The reference's eight "probmethods" — aggregations of `(key, value)` lists
  * into a single score — expressed as Spark aggregate `Column` combinators so
  * they run as one-pass partial+final HashAggregates (no UDAFs on the hot
  * path).
  *
  * Reference semantics (LD-Reborn/embeddingsearch `src/Server/Probmethods.cs:73-176`,
  * formula docs `docs/Indexer.md:112-189`; code is the authority):
  *
  *   Mean          : arithmetic mean; empty -> 0
  *   HarmonicMean  : over non-zero values, multiplied by penalty n_nz/n_total;
  *                   all-zero -> 0
  *   QuadraticMean : sqrt(sum(x^2)/n); empty -> NaN (reference has no guard)
  *   GeometricMean : (prod x)^(1/n); empty -> 0; any zero -> 0
  *   EVEWAvg       : any x==1 -> 1 (checked first); any x==0 -> 0;
  *                   else weighted avg with w = 1/(x(1-x))
  *   HVEWAvg       : any x==1 -> 1; else weighted avg with w = 1/(1-x)
  *   LVEWAvg       : any x==0 -> 0; else n / sum(1/x) (weighted harmonic mean)
  *   DictionaryWeightedAverage : sum(w_k * x)/sum(w_k), w_k from a JSON
  *                   parameter map keyed by `key`; missing key -> weight 1
  *
  * Parameterized methods are encoded in the method-name string as
  * `"Name:{json}"` — split on the FIRST colon only (`Probmethods.cs:55-59`).
  */
object ProbMethods {

  val Names: Seq[String] = Seq("Mean", "HarmonicMean", "QuadraticMean",
    "GeometricMean", "EVEWAvg", "HVEWAvg", "LVEWAvg", "DictionaryWeightedAverage")

  private def d(c: Column): Column = c.cast(DoubleType)

  /** Arithmetic mean. Empty group cannot occur under groupBy; the global-agg
    * empty case is handled with coalesce to match `empty -> 0`.
    */
  def mean(x: Column): Column = coalesce(avg(d(x)), lit(0.0))

  /** Harmonic mean over non-zero values × (n_nonzero / n_total); all-zero -> 0. */
  def harmonicMean(x: Column): Column = {
    val xd    = d(x)
    val nNz   = sum(when(xd =!= 0.0, 1.0).otherwise(0.0))
    val nzSum = sum(when(xd =!= 0.0, lit(1.0) / xd).otherwise(0.0))
    val nT    = count(lit(1)).cast(DoubleType)
    when(nNz === 0.0, 0.0).otherwise(nNz / nzSum * (nNz / nT))
  }

  /** Root mean square. Empty -> NaN preserved (the reference computes 0/0
    * in float with no guard — unlike Mean). */
  def quadraticMean(x: Column): Column = {
    val xd = d(x)
    when(count(lit(1)) === 0, Double.NaN)
      .otherwise(sqrt(coalesce(sum(xd * xd), lit(0.0)) / count(lit(1)).cast(DoubleType)))
  }

  /** Geometric mean via exp(mean(ln |x|)) with sign handling that mirrors
    * the reference's `pow(product, 1/n)` (`Probmethods.cs:105-114`): any
    * zero -> 0; an odd count of negatives makes the product negative and
    * `Math.Pow` returns NaN; an even count yields the positive product.
    * NOTE: for bit-faithful parity with the reference's running float
    * product (underflow included) use [[graft.functions.GeometricMeanAgg]];
    * this Column form is the SQL-expressible variant used by the
    * oracle-checked queries.
    */
  def geometricMean(x: Column): Column = {
    val xd = d(x)
    val negParity = pmod(sum(when(xd < 0.0, 1L).otherwise(0L)), lit(2L))
    when(count(lit(1)) === 0, 0.0)
      // n == 1: the reference computes Math.Pow(product, 1f/1) == product,
      // so a single negative value passes through unchanged (not NaN).
      .when(count(lit(1)) === 1, min(xd))
      .when(min(abs(xd)) === 0.0, 0.0)
      .when(negParity === 1L, Double.NaN)
      .otherwise(exp(avg(log(abs(xd)))))
  }

  /** Extreme-values-emphasis weighted average; w = 1/(x(1-x)). */
  def evewAvg(x: Column): Column = {
    val xd = d(x)
    when(max(xd) === 1.0, 1.0)
      .when(min(xd) === 0.0, 0.0)
      .otherwise(sum(xd / (xd * (lit(1.0) - xd))) / sum(lit(1.0) / (xd * (lit(1.0) - xd))))
  }

  /** High-value-emphasis weighted average; w = 1/(1-x). */
  def hvewAvg(x: Column): Column = {
    val xd = d(x)
    when(max(xd) === 1.0, 1.0)
      .otherwise(sum(xd / (lit(1.0) - xd)) / sum(lit(1.0) / (lit(1.0) - xd)))
  }

  /** Low-value-emphasis weighted average: n / sum(1/x); any zero -> 0. */
  def lvewAvg(x: Column): Column = {
    val xd = d(x)
    when(min(xd) === 0.0, 0.0)
      .otherwise(count(lit(1)).cast(DoubleType) / sum(lit(1.0) / xd))
  }

  /** Dictionary-weighted average with a static weights map (the common case:
    * the method parameter is a plan-time constant).
    */
  def dictionaryWeightedAverage(key: Column, x: Column, weights: Map[String, Double]): Column = {
    val w =
      if (weights.isEmpty) lit(1.0)
      else {
        val entries = weights.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq
        coalesce(element_at(map(entries: _*), key), lit(1.0))
      }
    sum(w * d(x)) / sum(w)
  }

  /** Per-row weight for a data-driven DictionaryWeightedAverage: parse the
    * JSON weights map ONCE per row, in a projection BEFORE the aggregate.
    * Parsing inside the aggregate would evaluate `from_json` once per sum
    * buffer (twice per row) with no guarantee of subexpression elimination
    * across aggregate functions — measured at ~2× on q59 (NOTES_r4).
    */
  def dwaWeightCol(key: Column, weightsJson: Column): Column =
    coalesce(
      element_at(from_json(weightsJson, MapType(StringType, DoubleType)), key),
      lit(1.0))

  /** Dictionary-weighted average over a pre-projected weight column (see
    * [[dwaWeightCol]]). */
  def dictionaryWeightedAverageW(w: Column, x: Column): Column =
    sum(w * d(x)) / sum(w)

  /** Parse each DISTINCT spec's parameter JSON once and broadcast-join the
    * parsed map back, instead of running `from_json` on every row: specs
    * are low-cardinality (a handful of configured methods) while the fact
    * side is the corpus, so at scale this removes O(rows) JSON parses for
    * O(rows) broadcast-hash probes. Adds `__w_map`; combine with
    * `coalesce(element_at(col("__w_map"), key), lit(1.0))` for the weight.
    */
  def withSpecWeights(df: org.apache.spark.sql.DataFrame, specCol: String)
      : org.apache.spark.sql.DataFrame = {
    val parsed = df.select(col(specCol)).distinct()
      .withColumn("__w_map",
        from_json(specParamCol(col(specCol)), MapType(StringType, DoubleType)))
    df.join(org.apache.spark.sql.functions.broadcast(parsed), Seq(specCol), "left")
  }

  /** Column form of the first-colon spec split, for specs carried in DATA
    * (each datapoint/entity row declares its own `"Name:{json}"` method
    * string — `Probmethods.cs:55-59`). Keys inside the JSON may contain
    * colons (model URIs do); only the first colon delimits.
    */
  def specNameCol(spec: Column): Column = {
    val i = instr(spec, ":")
    when(i === 0, spec).otherwise(spec.substr(lit(1), i - lit(1)))
  }

  def specParamCol(spec: Column): Column = {
    val i = instr(spec, ":")
    when(i === 0, lit(null).cast(StringType))
      .otherwise(spec.substr(i + lit(1), length(spec) - i))
  }

  /** Split `"Name:{json}"` on the FIRST colon (reference `Probmethods.cs:55-59`).
    * Returns (methodName, jsonParameter) — parameter is "" when absent.
    */
  def parseName(spec: String): (String, String) = {
    val i = spec.indexOf(':')
    if (i < 0) (spec, "") else (spec.substring(0, i), spec.substring(i + 1))
  }

  /** String-dispatched aggregation, mirroring the reference registry
    * (`Probmethods.cs:31-41,49-71`). `spec` may carry a `:{json}` parameter.
    * `key` is the level key (model URI at level 1, datapoint name at level 2).
    */
  def forSpec(spec: String, key: Column, x: Column): Column = {
    val (name, param) = parseName(spec)
    name match {
      case "Mean"          => mean(x)
      case "HarmonicMean"  => harmonicMean(x)
      case "QuadraticMean" => quadraticMean(x)
      case "GeometricMean" => geometricMean(x)
      case "EVEWAvg"       => evewAvg(x)
      case "HVEWAvg"       => hvewAvg(x)
      case "LVEWAvg"       => lvewAvg(x)
      case "DictionaryWeightedAverage" =>
        dictionaryWeightedAverage(key, x, parseWeights(param))
      case other => throw new IllegalArgumentException(s"Unknown probmethod: $other")
    }
  }

  /** Data-driven dispatch: the method name is a per-group COLUMN (each
    * datapoint/entity may declare its own probmethod —
    * `Searchdomain.cs:249-257`). All eight aggregate shapes are computed in
    * the same single pass (they are all sums/counts/mins/maxes) and the
    * method column selects among them. `methodCol` MUST be one of the
    * caller's grouping columns (the method is per-group constant in the
    * reference, so grouping by it never changes the groups). Grouping —
    * rather than `first(methodCol)` — is load-bearing for performance: a
    * `first()` over a string needs a string aggregation buffer, which
    * HashAggregate cannot hold, demoting the whole aggregate to
    * SortAggregate with a full sort of the fact side (measured 3-4× on
    * the dispatch queries). `dwaWeight` is the pre-projected per-row
    * weight ([[dwaWeightCol]] / [[withSpecWeights]]) consumed only by the
    * DictionaryWeightedAverage arm — callers without parameterized
    * methods pass the default constant 1.
    *
    * Design note (measured @ sf0.1, lineitem grouped by returnflag/
    * linestatus under three methods, this one-pass form against a
    * filter-per-method + single-agg + union twin): on a FLAT SCAN the
    * union plan is ~2.6× faster (0.55 s vs 1.45 s warm) because the
    * per-row cost of 18 agg buffers (ln/abs/divisions) dominates a cheap
    * re-scan. This one-pass form is still the right shape where it is
    * actually used — the search aggregation levels — because the input
    * there is the OUTPUT OF THE SCORING JOIN: a union plan would
    * re-execute the join (or persist it) once per method, and at 100 TB
    * re-reading the corpus loses by far more than the extra arithmetic
    * saves.
    */
  def forMethodCol(methodCol: Column, x: Column, dwaWeight: Column = lit(1.0)): Column = {
    val m = methodCol
    // Per-row gate: every arm's INPUT is nulled unless the row's own
    // method matches. Within a group the method is constant, so the
    // selected arm sees every row unchanged — but the seven unselected
    // arms now aggregate nulls, and their null-intolerant per-row math
    // (ln, abs, four divisions) short-circuits instead of being computed
    // 8× per row. Measured ~2× on the flat-scan dispatch queries; the
    // aggregate-buffer count is unchanged.
    def g(name: String) = when(methodCol === name, x)
    when(m === "Mean", mean(g("Mean")))
      .when(m === "HarmonicMean", harmonicMean(g("HarmonicMean")))
      .when(m === "QuadraticMean", quadraticMean(g("QuadraticMean")))
      .when(m === "GeometricMean", geometricMean(g("GeometricMean")))
      .when(m === "EVEWAvg", evewAvg(g("EVEWAvg")))
      .when(m === "HVEWAvg", hvewAvg(g("HVEWAvg")))
      .when(m === "LVEWAvg", lvewAvg(g("LVEWAvg")))
      .when(m === "DictionaryWeightedAverage",
        dictionaryWeightedAverageW(dwaWeight, g("DictionaryWeightedAverage")))
      .otherwise(raise_error(concat(lit("Unknown probmethod: "), m)).cast(DoubleType))
  }

  /** One group's rows, as the scalar forms below read them: rows `from`
    * until `until` of `x`, where `isNull(i)` marks a null value (counted by
    * `count(lit(1))`, skipped by every sum, min and max) and `w(i)` is the
    * row's DictionaryWeightedAverage weight ([[dwaWeightCol]]'s value).
    */
  private[graft] final case class Group(
      x: Array[Double], isNull: Array[Boolean], w: Array[Double], from: Int, until: Int) {
    def n: Int = until - from

    /** Spark's `sum(f(x))` and `avg(f(x))` over the non-null rows: rows
      * where `f` gives null are skipped too; null when no row is left. */
    def sum(f: Double => java.lang.Double): java.lang.Double = {
      val (acc, c) = fold(f)
      if (c == 0) null else acc
    }

    def avg(f: Double => java.lang.Double): java.lang.Double = {
      val (acc, c) = fold(f)
      if (c == 0) null else acc / c
    }

    private def fold(f: Double => java.lang.Double): (Double, Int) = {
      var acc = 0.0
      var c = 0
      var i = from
      while (i < until) {
        if (!isNull(i)) {
          val v = f(x(i))
          if (v != null) { acc += v; c += 1 }
        }
        i += 1
      }
      (acc, c)
    }

    /** Spark's `min(f(x))` (`sign` 1) or `max(f(x))` (`sign` -1) under
      * Spark's double order: NaN above every number, -0.0 equal to 0.0. */
    def extreme(sign: Int, f: Double => Double = identity): java.lang.Double = {
      var best: java.lang.Double = null
      var i = from
      while (i < until) {
        if (!isNull(i)) {
          val v = f(x(i))
          if (best == null || sign * Group.compare(v, best) < 0) best = v
        }
        i += 1
      }
      best
    }
  }

  private[graft] object Group {
    /** Spark's double order (`SQLOrderingUtil.compareDoubles`). */
    def compare(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)

    /** Spark's double `===`: NaN equals NaN, -0.0 equals 0.0. */
    def same(a: java.lang.Double, b: Double): Boolean =
      a != null && ((a.isNaN && b.isNaN) || a == b)

    /** Spark's non-ANSI division: null on a null operand or a zero divisor. */
    def div(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
      if (a == null || b == null || b.doubleValue == 0.0) null
      else a.doubleValue / b.doubleValue
  }

  /** Scalar twin of [[forMethodCol]]: the value its aggregate gives one
    * group, by the same arithmetic and with the same SQL nulls (null
    * result = `null`). The search's driver arm
    * ([[graft.core.DomainSnapshot]]) scores both levels with it;
    * ProbMethodsSpec pins it equal to the Column form.
    */
  private[graft] def forMethod(method: String, g: Group): java.lang.Double = {
    import Group.{div, same}
    val n = g.n.toDouble
    def boxed(x: Double): java.lang.Double = x
    method match {
      case "Mean" =>
        val a = g.avg(boxed)
        if (a == null) 0.0 else a
      case "HarmonicMean" =>
        var nNz, nzSum = 0.0
        var i = g.from
        while (i < g.until) {
          if (!g.isNull(i) && g.x(i) != 0.0) { nNz += 1.0; nzSum += 1.0 / g.x(i) }
          i += 1
        }
        if (nNz == 0.0) 0.0
        else {
          val q = div(nNz, nzSum)
          if (q == null) null else q * (nNz / n)
        }
      case "QuadraticMean" =>
        if (g.n == 0) Double.NaN
        else {
          val s = g.sum(x => x * x)
          math.sqrt((if (s == null) 0.0 else s.doubleValue) / n)
        }
      case "GeometricMean" =>
        if (g.n == 0) 0.0
        else if (g.n == 1) { if (g.isNull(g.from)) null else g.x(g.from) }
        else if (same(g.extreme(1, math.abs), 0.0)) 0.0
        else if ((g.from until g.until).count(i => !g.isNull(i) && g.x(i) < 0.0) % 2 == 1)
          Double.NaN
        else {
          // Spark's ln: null at or below 0; StrictMath like Spark's Log and Exp
          val m = g.avg(x => { val a = math.abs(x); if (a <= 0.0) null else StrictMath.log(a) })
          if (m == null) null else StrictMath.exp(m)
        }
      case "EVEWAvg" =>
        if (same(g.extreme(-1), 1.0)) 1.0
        else if (same(g.extreme(1), 0.0)) 0.0
        else div(g.sum(x => div(x, x * (1.0 - x))), g.sum(x => div(1.0, x * (1.0 - x))))
      case "HVEWAvg" =>
        if (same(g.extreme(-1), 1.0)) 1.0
        else div(g.sum(x => div(x, 1.0 - x)), g.sum(x => div(1.0, 1.0 - x)))
      case "LVEWAvg" =>
        if (same(g.extreme(1), 0.0)) 0.0
        else div(n, g.sum(x => div(1.0, x)))
      case "DictionaryWeightedAverage" =>
        var num, den = 0.0
        var any = false
        var i = g.from
        while (i < g.until) {
          if (!g.isNull(i)) { num += g.w(i) * g.x(i); any = true }
          den += g.w(i)
          i += 1
        }
        div(if (any) num else null, den)
      case other => throw new IllegalArgumentException(s"Unknown probmethod: $other")
    }
  }

  /** Minimal JSON object parser for `{"key": number, ...}` weight maps — the
    * only JSON shape the reference accepts here (`Probmethods.cs:161`).
    */
  def parseWeights(json: String): Map[String, Double] = {
    val t = json.trim
    if (t.isEmpty || t == "{}") Map.empty
    else {
      // "key"<ws>:<ws>number — keys may contain colons (model URIs do).
      val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)""".r
      entry.findAllMatchIn(t).map { m =>
        val k = m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
        k -> m.group(2).toDouble
      }.toMap
    }
  }
}
