package graft

/** Registry consistency: the driver contract depends on these invariants. */
class QueriesSpec extends SparkSpec {

  test("det3Sql/det4Sql generate exact integer determinants") {
    // the q384 Cramer solver embeds this generated SQL verbatim in BOTH
    // engines; pin it against a reference cofactor expansion
    import org.apache.spark.sql.functions.expr
    def ref(m: Array[Array[Long]]): Long = m.length match {
      case 1 => m(0)(0)
      case n =>
        (0 until n).map { c =>
          val minor = m.tail.map(row =>
            row.zipWithIndex.filter(_._2 != c).map(_._1))
          (if (c % 2 == 0) 1L else -1L) * m(0)(c) * ref(minor)
        }.sum
    }
    val m3 = Array(Array(3L, -1L, 2L), Array(0L, 4L, -5L),
      Array(7L, 1L, 1L))
    val m4 = Array(Array(2L, 0L, -1L, 3L), Array(1L, 5L, 4L, -2L),
      Array(0L, -3L, 1L, 1L), Array(6L, 2L, 0L, -4L))
    def eval(sql: String): Long =
      spark.range(1).select(expr(sql).cast("long")).head().getLong(0)
    val g3 = Queries.det3Sql(m3.toSeq.map(_.toSeq.map(_.toString)))
    val g4 = Queries.det4Sql(m4.toSeq.map(_.toSeq.map(_.toString)))
    assert(eval(g3) == ref(m3))
    assert(eval(g4) == ref(m4))
  }

  test("every oracleSql key has a matching query") {
    val missing = Queries.oracleSql.keySet -- Queries.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("registry names are unique and non-empty") {
    val names = Queries.all.map(_._1)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.nonEmpty))
  }

  test("every registered query executes at sf0.001") {
    val failures = Queries.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        Harness.released(spark)(fn(spark, "/root/testdata/sf0.001").collect()); None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage}")
      }
    }
    Queries.dropArtifacts()
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q111 span removal is consistent with q104's coverage metric") {
    // the two queries share the duplicated-window definition but compute
    // independent aggregates (interval-union fold vs survivor anti-join);
    // for every doc the removed-token count must equal the covered-token
    // count, and the rebuilt text's token count must equal kept_tok
    val dir = "/root/testdata/sf0.001"
    val cov = Queries.queries("q104_substr_spans")(spark, dir)
      .select("doc_id", "n_tok", "covered_tok").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rem = Queries.queries("q111_span_removal")(spark, dir).collect()
    assert(rem.nonEmpty)
    rem.foreach { r =>
      val (nTok, covered) = cov(r.getLong(0))
      assert(r.getLong(1) == nTok)
      assert(r.getLong(2) == nTok - covered,
        s"doc ${r.getLong(0)}: kept ${r.getLong(2)} != n_tok $nTok - covered $covered")
      val rebuiltToks = r.getString(3).split("\\s+").count(_.nonEmpty)
      assert(rebuiltToks.toLong == r.getLong(2),
        s"doc ${r.getLong(0)}: clean_text has $rebuiltToks tokens, kept_tok says ${r.getLong(2)}")
    }
    spark.catalog.clearCache()
  }

  test("core tier covers the pipeline story and stays inside the registry") {
    val names = Queries.queries.keySet
    val core = Queries.coreTier
    assert(core.subsetOf(names))
    // every §2 evidence / first-class LLM-pipeline id is core
    names.filter(n => Queries.queryId(n) <= 148)
      .foreach(n => assert(core.contains(n), s"$n should be core"))
    // the pipeline-story consumers and the TPC-H canon are core
    Seq("q155_cluster_maintenance", "q235_postings_artifact",
      "q237_learning_curve", "q241_pagerank", "q309_delay_blame",
      "q442_min_cost_supplier", "q446_surplus_suppliers",
      "q447_large_volume_customers", "q448_order_count_distribution")
      .foreach(n => assert(core.contains(n), s"$n should be core"))
    // the analytics long tail is NOT core (the tier is a real subset)
    Seq("q239_cohort_retention", "q300_schema_merge", "q441_late_wald")
      .foreach { n =>
        assert(names.contains(n), s"$n missing from registry")
        assert(!core.contains(n), s"$n should be extended")
      }
    assert(core.size >= 150 && core.size <= names.size / 2,
      s"core tier drifted: ${core.size} of ${names.size}")
    // freeze: the registry ends at q448 (q447/q448 admitted in round 13
    // under the relational-canon clause, SURVEY §2.13)
    assert(names.map(Queries.queryId).max == 448)
  }

  test("every oracle with a shared recipe's marker splices that recipe's helper") {
    // A recipe shared by several oracles is written once, beside its Spark
    // builder; an oracle that inlines its own variant would drift from the
    // Spark side unseen until an oracle mismatch. Each helper's output is
    // turned into a pattern (its string arguments, rendered as sentinels,
    // match any one-line text; its integer argument any digits); every
    // oracle that names the marker must no longer name it once every
    // helper match is cut out.
    import scala.util.matching.Regex
    val anyText = "\u0001"
    val anyInt = 987654321
    def helper(out: String): Regex = Regex.quote(out)
      .replace(anyText, "\\E[^\\n]*?\\Q")
      .replace(anyInt.toString, "\\E\\d+\\Q").r
    val families: Seq[(String, String, Seq[Regex])] = Seq(
      ("connected components", "reach(id, lab)",
        Seq(helper(Queries.sqlReach(anyText)))),
      ("co-purchase pairs", "l_partkey AS pk FROM lineitem",
        Seq(helper(Queries.sqlCoPairCtes(anyInt)))),
      ("sqrt(n) IVF seeds", "CAST(ceil(sqrt(count(*))) AS BIGINT)) AS st",
        Seq(helper(Queries.sqlSqrtCentroidCtes))),
      ("sign-bit words", "THEN CAST(2**(i-1) AS BIGINT)",
        Seq(helper(Queries.sqlSignWordCte))),
      ("brute-force top-10", "brute AS (",
        Seq(helper(Queries.sqlBruteCte(anyText)))),
      ("IVF assignment", "CROSS JOIN cent c) WHERE rn = 1",
        Seq(helper(Queries.sqlIvfAssignCte(anyText, anyText, anyText)))),
      ("BM25 scaffold", "avg(CAST(len(toks) AS DOUBLE)) AS avgdl",
        Seq(helper(Queries.sqlBm25Ctes()),
          helper(Queries.sqlBm25Ctes(anyText -> anyText)))))
    val problems = families.flatMap { case (family, marker, helpers) =>
      val users = Queries.oracleSql.filter(_._2.contains(marker))
      val inlined = users.collect { case (name, sql)
        if helpers.foldLeft(sql)((rest, h) => h.replaceAllIn(rest, ""))
          .contains(marker) => name }.toSeq.sorted
      if (users.isEmpty) Seq(s"$family: no oracle names '$marker'")
      else if (inlined.nonEmpty)
        Seq(s"$family: ${inlined.mkString(", ")} inline the recipe")
      else Nil
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("flagship entry() runs and returns rows with (name, score) schema") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length == 10)
    assert(df.columns.toSeq == Seq("name", "score"))
    // scores sorted descending
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores == scores.sortBy(-_))
  }
}
