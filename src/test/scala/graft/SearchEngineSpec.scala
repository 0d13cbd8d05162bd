package graft

import org.apache.spark.sql.functions._
import graft.core.StubEmbedder
import graft.search.SearchEngine

/** Golden end-to-end test: the distributed search pipeline must produce the
  * same ranking and scores as a single-threaded straight-line re-derivation
  * of the reference semantics (`Searchdomain.cs:183-258`).
  */
class SearchEngineSpec extends SparkSpec {
  import spark.implicits._
  import SearchEngineSpec.{bruteTopK, cos01}

  val models = Seq("stub:alpha", "stub:beta")
  val dim = 16
  val docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s0"),
    (1L, "query engines score documents with vector similarity and rank them", "en", "s1"),
    (2L, "unrelated text about cooking pasta with tomato sauce tonight", "en", "s2"),
    (3L, "vector similarity search over document embeddings at scale", "en", "s3"),
    (4L, "the rank of a document depends on similarity to the query text", "en", "s4"))
    .toDF("doc_id", "text", "lang", "source")

  // ---- straight-line oracle ----
  private val embedder = new StubEmbedder(dim)
  private def euclid01(a: Array[Float], b: Array[Float]): Double = {
    val s = a.indices.foldLeft(0.0) { (acc, i) =>
      val d = a(i).toDouble - b(i).toDouble; acc + d * d
    }
    1.0 / (1.0 + math.sqrt(s))
  }
  private def manhattan01(a: Array[Float], b: Array[Float]): Double =
    1.0 / (1.0 + a.indices.foldLeft(0.0)((acc, i) => acc + math.abs(a(i).toDouble - b(i).toDouble)))
  private def simFor(datapointId: Long): (Array[Float], Array[Float]) => Double =
    Seq(cos01 _, euclid01 _, manhattan01 _, cos01 _)((datapointId % 4).toInt)

  private def oracleSearch(query: String, topN: Int): Seq[(String, Double)] = {
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val qv = models.map(m => m -> embedder.embed(m, query)).toMap
    rows.map { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val dps = Seq(toks.take(8).mkString(" "), text) // title, body
      val dpScores = dps.zipWithIndex.map { case (dpText, dpIdx) =>
        val sim = simFor(id * 2 + dpIdx) // per-DATAPOINT method dispatch
        val perModel = models.map(m => sim(embedder.embed(m, dpText), qv(m)))
        perModel.sum / perModel.size // datapoint probmethod = Mean
      }
      (s"doc_$id", dpScores.sum / dpScores.size) // entity probmethod = Mean
    }.sortBy { case (n, s) => (-s, n) }.take(topN).toSeq
  }

  test("distributed search == single-threaded oracle (scores and ranking)") {
    val domain = SearchEngine.buildDomain(spark, docs, models, dim)
    val q = "vector similarity ranking"
    val got = SearchEngine.search(domain,
      SearchEngine.queryEmbeddings(spark, domain, q, dim), 3)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = oracleSearch(q, 3)
    assert(got.map(_._1).toSeq == want.map(_._1), s"ranking: got=${got.toSeq} want=$want")
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(approx(g, w, 1e-9)) }
  }

  test("domain build: 2 datapoints per doc, embeddings = datapoints x models") {
    val domain = SearchEngine.buildDomain(spark, docs, models, dim)
    assert(domain.entities.count() == 5)
    assert(domain.datapoints.count() == 10)
    assert(domain.embeddings.count() == 20)
    // distinct-text dedup before embed must not lose any (dp, model) pair
    assert(domain.embeddings.select("datapoint_id", "model").distinct().count() == 20)
  }

  test("driver arm == distributed arm: every method, DWA specs, nulls, NaN, ties, two domains") {
    import graft.core.{Domain, DomainSchemas}
    import org.apache.spark.sql.Row
    val q = "two arms one gate"
    val qv = models.map(m => m -> embedder.embed(m, q)).toMap
    val rnd = new scala.util.Random(5)
    val entMethods = graft.functions.ProbMethods.Names.init :+
      """DictionaryWeightedAverage:{"title": 3.0, "body": 0.5}"""
    val dpMethods = graft.functions.ProbMethods.Names.init :+
      """DictionaryWeightedAverage:{"stub:alpha": 2.5}"""
    val sims = Seq("Cosine", "Euclidian", "Manhattan", "Pearson")
    // (entity name, entity method, datapoints: (name, method, similarity, model -> vector))
    type Dp = (String, String, String, Map[String, Array[Float]])
    def vector(kind: Int, m: String): Array[Float] = kind match {
      case 0 => qv(m).clone() // Euclidian/Manhattan sim exactly 1
      case 1 => qv(m).map(-_) // Pearson -1
      case 2 => Array.fill(dim)(0.25f) // Pearson exactly 0
      case 3 => null
      case _ => Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val random: Seq[(String, String, Seq[Dp])] = (0 until 32).map { e =>
      (f"ent_$e%02d", entMethods(e % 8), Seq("title", "body", "extra").zipWithIndex.map {
        case (dn, k) => (dn, dpMethods((e / 8 + 3 * k + e) % 8), sims((e + k) % 4),
          models.zipWithIndex.map { case (m, mi) =>
            m -> vector(if (rnd.nextInt(3) == 0) (e + k + mi) % 4 else 4, m) }.toMap)
      })
    }
    // GeometricMean over one positive and one negative Pearson sim -> NaN
    val nan = ("geo_nan", "Mean", Seq[Dp](("title", "GeometricMean", "Pearson",
      Map("stub:alpha" -> qv("stub:alpha"), "stub:beta" -> qv("stub:beta").map(-_)))))
    val ties = Seq("tie_a", "tie_b").map(n => (n, random(3)._2, random(3)._3))
    val ents = random ++ Seq(nan) ++ ties

    def domainOf(sds: Seq[String], es: Seq[(String, String, Seq[Dp])]): Domain = {
      val rows = for (sd <- sds; ((name, em, dps), e) <- es.zipWithIndex) yield (sd, e.toLong, name, em, dps)
      def frame(rs: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
      Domain(
        frame(rows.map { case (sd, e, name, em, _) => Row(sd, e, name, em, Map("k" -> name)) },
          DomainSchemas.entities),
        frame(for ((sd, e, _, _, dps) <- rows; ((dn, dm, sm, _), k) <- dps.zipWithIndex)
          yield Row(sd, e, e * 10 + k, dn, dm, sm, "h"), DomainSchemas.datapoints),
        frame(for ((sd, e, _, _, dps) <- rows; ((_, _, _, vs), k) <- dps.zipWithIndex;
            (m, v) <- vs.toSeq) yield Row(sd, e, e * 10 + k, m, Option(v).map(_.toSeq).orNull),
          DomainSchemas.embeddings))
    }
    type Hit = (String, String, Option[Double])
    def serve(d: Domain, topN: Int): Seq[Hit] =
      SearchEngine.serveQuery(spark, d, q, topN, embedder).collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    def distributed(d: => Domain, topN: Int): Seq[Hit] =
      graft.ops.Arms.forcing("domainSnapshot")(serve(d, topN))
    def close(a: Option[Double], b: Option[Double]) =
      a.isDefined == b.isDefined && a.forall(x => approx(x, b.get, 1e-12))
    // equal scores in order; names in order except within a 1e-12 tie
    def sameRanking(got: Seq[Hit], want: Seq[Hit]): Unit = {
      assert(got.size == want.size)
      assert(got.zip(want).forall { case (g, w) => close(g._3, w._3) }, s"$got\n$want")
      def blocks(hs: Seq[Hit]) = hs.foldLeft(List.empty[List[Hit]]) {
        case (b :: bs, h) if close(b.head._3, h._3) => (h :: b) :: bs
        case (bs, h) => List(h) :: bs
      }.map(_.map(h => (h._1, h._2)).sorted)
      assert(blocks(got) == blocks(want))
    }

    val two = () => domainOf(Seq("A", "B"), ents)
    val d = two()
    val (driver, _) = jobsDuring(serve(d, 1000))
    assert(d.snapshot(embedder.dim).exists(_.rows > 0), "the driver arm did not run")
    val (again, warmJobs) = jobsDuring(serve(d, 1000))
    assert(warmJobs == 0, "a search from the built snapshot ran a Spark job")
    sameRanking(again, driver)
    sameRanking(driver, distributed(two(), 1000))
    assert(driver.size == 2 * ents.size)
    assert(driver.exists(h => h._2 == "geo_nan" && h._3.exists(_.isNaN)))
    assert(driver.head._3.exists(_.isNaN), "NaN ranks first under score desc")
    assert(driver.filter(h => h._1 == "A" && h._2.startsWith("tie_")).map(_._3).distinct.size == 1)
    assert(ents.exists(_._3.exists(_._4.values.exists(_ == null))), "no null embedding")
    sameRanking(serve(two(), 7), distributed(two(), 7))
    // a negative topN is rejected by both arms, and 0 returns nothing from both
    intercept[IllegalArgumentException](serve(two(), -1))
    intercept[IllegalArgumentException](distributed(two(), -1))
    assert(serve(d, 0).isEmpty && distributed(two(), 0).isEmpty)

    // one searchdomain whose ids and names the other reuses, with other vectors
    val (a, b) = (domainOf(Seq("A"), ents), domainOf(Seq("B"), ents.reverse))
    val other = Domain(a.entities.unionByName(b.entities),
      a.datapoints.unionByName(b.datapoints), a.embeddings.unionByName(b.embeddings))
    sameRanking(serve(other, 1000), distributed(other.copy(), 1000))

    val empty = DomainSchemas.emptyDomain(spark)
    assert(serve(empty, 10).isEmpty && distributed(DomainSchemas.emptyDomain(spark), 10).isEmpty)

    for (bad <- Seq(
        domainOf(Seq("A"), ents.take(2) :+ ("bad", "Median", ents.head._3)),
        domainOf(Seq("A"), ents.take(2) :+ ("bad", "Mean",
          Seq[Dp](("title", "Mean", "Jaccard", Map("stub:alpha" -> qv("stub:alpha")))))))) {
      intercept[Exception](serve(bad.copy(), 10))
      intercept[Exception](distributed(bad.copy(), 10))
    }
  }

  test("topKJoin matches brute-force per-query ranking") {
    val e = (0L to 19L).map { i =>
      (i, (0 until 8).map(j => math.sin(i * 31 + j * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val got = SearchEngine.topKJoin(e.filter(col("vec_id") < 3), e, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val vecs = (0L to 19L).map { i =>
      i -> (0 until 8).map(j => math.sin(i * 31 + j * 7).toFloat).toArray
    }.toMap
    assert(got == bruteTopK(0L until 3L, vecs, 4))
  }

  test("mmrSelect: mu=0 reduces to pure top-k; heavy mu excludes the exact clone") {
    // pool: vec 2 is an exact-direction clone of vec 1 (cosine 1, so
    // cos01 redundancy 1.0 once vec 1 is selected); vecs 3/4 are
    // orthogonal axes (cos01 0.5 to everything else — the cos01 floor).
    val base = Array(1f, 0f, 0f, 0f)
    val dup = Array(0.5f, 0f, 0f, 0f) // same direction, cos01(base,dup)=1
    val ortho = Array(0f, 1f, 0f, 0f)
    val far = Array(0f, 0f, 1f, 0f)
    val q = Array(1f, 0.2f, 0.3f, 0f)
    def sim6(v: Array[Float]) =
      BigDecimal(cos01(v, q)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pool = Seq(
      (1L, sim6(base), base.toSeq),
      (2L, sim6(dup), dup.toSeq),
      (3L, sim6(ortho), ortho.toSeq),
      (4L, sim6(far), far.toSeq)).toDF("vec_id", "sim", "embedding")
    // mu=0: ignores redundancy entirely — selection IS the relevance
    // ranking (base/dup tie at the top, vec_id breaks it; far beats ortho)
    val pure = SearchEngine.mmrSelect(pool, k = 3, lam = 0.7, mu = 0.0)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(pure == Seq(1L, 2L, 4L), s"mu=0 must equal pure top-k: $pure")
    // heavy mu: the exact clone's redundancy 1.0 overwhelms its relevance
    // — selection picks the two orthogonal axes instead
    val div = SearchEngine.mmrSelect(pool, k = 3, lam = 0.5, mu = 2.0)
      .orderBy("rnk").collect()
    val divIds = div.map(_.getLong(1)).toSeq
    assert(divIds == Seq(1L, 4L, 3L), s"heavy-mu selection wrong: $divIds")
    assert(div(0).getDouble(3) == 0.0, "first pick must carry redundancy 0")
    assert(div.drop(1).forall(_.getDouble(3) == 0.5),
      "orthogonal picks must carry the cos01 floor 0.5 redundancy")
  }
}

object SearchEngineSpec {
  private def dot(a: Array[Float], b: Array[Float]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
  def cos01(a: Array[Float], b: Array[Float]): Double =
    (dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) + 1.0) / 2.0

  /** The exact per-query top-k in plain Scala: each query (a vec_id of
    * `vecs`) ranks every vector by cos01 rounded half-up to 6 decimals,
    * descending, ties to the lower vec_id. Returns (query_id, vec_id, rnk).
    */
  def bruteTopK(queries: Seq[Long], vecs: Map[Long, Array[Float]],
      k: Int): Set[(Long, Long, Long)] =
    queries.flatMap { qid =>
      vecs.toSeq.map { case (vid, v) =>
        val s = BigDecimal(cos01(v, vecs(qid))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (vid, s)
      }.sortBy { case (vid, s) => (-s, vid) }.take(k).zipWithIndex
        .map { case ((vid, _), rank) => (qid, vid, rank + 1L) }
    }.toSet
}
