package graft

import org.apache.spark.sql.functions._

import graft.api.EngineApi
import graft.search.SearchEngine

/** The §2.12 API facade end-to-end on a tiny in-memory corpus: query with
  * attributes, 3-level listing, diff-driven upsert (only changed texts
  * re-embed), cascade delete, session finalize, stats.
  */
class ApiSpec extends SparkSpec {

  private val dim = 16
  private val models = Seq("stub:alpha")

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "spark shuffles data between stages", "en", "web"),
      (2L, "cats sleep through the afternoon", "en", "web"),
      (3L, "broadcast joins avoid the shuffle entirely", "en", "news"))
      .toDF("doc_id", "text", "lang", "source")
  }

  private lazy val domain = SearchEngine.buildDomain(spark, docs, models, dim).persisted()

  /** Domain whose stored vectors are all overwritten with a sentinel the
    * embedder can never produce: any datapoint still carrying it after an
    * upsert was demonstrably NOT re-embedded. (The stub embedder is
    * deterministic, so comparing stored vs fresh vectors alone would pass
    * even if everything re-embedded — the round-3 vacuous assertion.)
    */
  private def sentinelDomain: graft.core.Domain = domain.copy(
    embeddings = domain.embeddings.withColumn("embedding",
      transform(col("embedding"), _ => lit(-99f))))

  private val sentinelVec = Seq.fill(dim)(-99f)

  private def vecOf(d: graft.core.Domain, dpId: Long): Seq[Float] = {
    import spark.implicits._
    d.embeddings.filter(col("datapoint_id") === dpId)
      .select("embedding").as[Seq[Float]].head()
  }

  test("query returns topN with optional attributes attached after the cut") {
    val r = EngineApi.query(spark, domain, "spark shuffle", topN = 2, dim = dim,
      returnAttributes = true).collect()
    assert(r.length == 2)
    assert(r.map(_.getString(0)).forall(_.startsWith("doc_")))
    // attributes map rode along
    assert(r.forall(row => row.getMap[String, String](2).contains("lang")))
  }

  test("listEntities: three verbosity levels") {
    val plain = EngineApi.listEntities(domain)
    assert(plain.columns.toSeq == Seq("entity_id", "name", "attributes"))

    val withModels = EngineApi.listEntities(domain, returnModels = true).collect()
    val modelsCol = withModels.head.getSeq[org.apache.spark.sql.Row](3)
    assert(modelsCol.nonEmpty && modelsCol.head.getSeq[Float](1).isEmpty) // empty vectors

    val full = EngineApi.listEntities(domain, returnModels = true, returnEmbeddings = true)
      .collect()
    assert(full.head.getSeq[org.apache.spark.sql.Row](3).head.getSeq[Float](1).size == dim)
  }

  test("upsert re-embeds only created/changed datapoints; absent entities untouched") {
    import spark.implicits._
    // INCREMENTAL batch: doc 2 changes its body text, doc 4 is new —
    // docs 1/3 are NOT in the payload and must survive untouched
    // (reference PUT semantics: the diff runs per uploaded entity only).
    val batch = docs.filter(col("doc_id") === 1).unionByName(Seq(
      (2L, "dogs bark at the postman", "en", "web"),
      (4L, "watermarks bound streaming state", "en", "docs"))
      .toDF("doc_id", "text", "lang", "source"))

    val merged = EngineApi.upsertEntities(spark, sentinelDomain,
      SearchEngine.docEntities(batch),
      SearchEngine.docDatapoints(batch),
      models, dim)

    // 4 entities, 8 datapoints (title+body each), one embedding per dp
    assert(merged.entities.count() == 4)
    assert(merged.datapoints.count() == 8)
    assert(merged.embeddings.count() == 8)

    // the sentinel survives exactly where no re-embed may happen
    assert(vecOf(merged, 6L) == sentinelVec) // doc3 (absent) untouched
    assert(vecOf(merged, 2L) == sentinelVec) // doc1 uploaded, text unchanged
    assert(vecOf(merged, 5L) != sentinelVec) // doc2 body re-embedded
    assert(vecOf(merged, 9L) != sentinelVec) // doc4 (new, dp = 4*2+1) embedded
  }

  test("ParallelEmbeddingsPrefetch toggles batch placement, not values") {
    import spark.implicits._
    // Same incremental batch under both settings arms: the sequential arm
    // (reference default) routes each model's prefetch batches into one
    // task (repartition by model), the parallel arm spreads them — the
    // embedded VALUES and diff semantics must be identical either way.
    val batch = Seq((4L, "watermarks bound streaming state", "en", "docs"))
      .toDF("doc_id", "text", "lang", "source")
    def run(parallel: Boolean) = EngineApi.upsertEntities(spark, sentinelDomain,
      SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch),
      models, dim,
      settings = graft.core.DomainSettings(parallelEmbeddingsPrefetch = parallel))
    val seqArm = run(parallel = false)
    val parArm = run(parallel = true)
    assert(seqArm.embeddings.count() == parArm.embeddings.count())
    assert(vecOf(seqArm, 9L) == vecOf(parArm, 9L)) // new dp embedded identically
    assert(vecOf(seqArm, 2L) == sentinelVec) // untouched rows keep vectors
    // the sequential arm's embed stage hash-partitions on model — one
    // model cannot fan out across tasks (the reference's one-in-flight-
    // call-per-model contract)
    val pairs = Seq(("m1", "a"), ("m1", "b"), ("m2", "c")).toDF("model", "text")
    val parts = graft.core.StubEmbedder
      .embedBatched(spark, pairs, new graft.core.StubEmbedder(dim), parallelPrefetch = false)
      .select(col("model"), spark_partition_id().as("pid"))
      .distinct().groupBy("model").count().collect()
    assert(parts.forall(_.getLong(1) == 1L))
  }

  test("upsert into the empty domain plans only the model cross join and the text join-back") {
    // a first index is this upsert: over empty tables both content-hash
    // anti-joins collapse to their input, so no diff join is left. The
    // batch is local, so the distributed plan runs only when forced.
    val merged = graft.ops.Arms.forcing("lastPerKey")(EngineApi.upsertEntities(spark,
      graft.core.DomainSchemas.emptyDomain(spark),
      SearchEngine.docEntities(docs), SearchEngine.docDatapoints(docs), models, dim))
    val plan = merged.embeddings.queryExecution.optimizedPlan
    val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 2, s"\n$plan")
    assert(merged.embeddings.count() == 6)
  }

  test("upsert applies incoming metadata to hash-unchanged datapoints, keeps vectors") {
    import spark.implicits._
    // Same text (hash unchanged) but new probmethod/similaritymethod: the
    // reference's `updatedDatapointsNonText` path applies the metadata
    // update WITHOUT re-embedding.
    val batch = docs.filter(col("doc_id") === 1)
    val incoming = SearchEngine.docDatapoints(batch)
      .withColumn("probmethod", lit("HarmonicMean"))
      .withColumn("similaritymethod", lit("Pearson"))
    val merged = EngineApi.upsertEntities(spark, sentinelDomain,
      SearchEngine.docEntities(batch), incoming, models, dim)

    val dp1 = merged.datapoints.filter(col("entity_id") === 1)
    assert(dp1.select("probmethod").as[String].collect().forall(_ == "HarmonicMean"))
    assert(dp1.select("similaritymethod").as[String].collect().forall(_ == "Pearson"))
    assert(vecOf(merged, 2L) == sentinelVec) // metadata-only update: no re-embed
    // entities outside the payload keep their stored metadata
    assert(merged.datapoints.filter(col("entity_id") === 2)
      .select("probmethod").as[String].collect().forall(_ == "Mean"))
  }

  test("upsert of a batch naming one entity twice stores its last occurrence once") {
    import spark.implicits._
    // doc 3 twice: first edited, then as stored; doc 9 twice, both new
    val batch = Seq((3L, "an edit that a later row overrides", "en", "web"),
      (9L, "first text of a new doc", "en", "web"),
      (3L, "broadcast joins avoid the shuffle entirely", "en", "news"),
      (9L, "second text of a new doc, longer than its eight token title", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    domain.embeddings.count() // the counter sees only this upsert's embeds
    val acc = graft.core.StubEmbedder.installCounter(spark)
    val merged = EngineApi.upsertEntities(spark, domain,
      SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch), models, dim)
    val vecs = merged.embeddings.select("datapoint_id", "embedding").as[(Long, Seq[Float])]
      .collect().toMap
    assert(acc.value == 2L, "only doc 9's last title and body embed")
    assert(merged.entities.count() == 4 && merged.datapoints.count() == 8 && vecs.size == 8)
    assert(merged.entities.filter(col("entity_id") === 3)
      .select(col("attributes")("source")).as[String].collect().toSeq == Seq("news"))
    // doc 3's last row is its stored text: its vectors are kept
    assert(vecs(7L) == vecOf(domain, 7L))
    assert(vecs(19L) == new graft.core.StubEmbedder(dim).embed(models.head,
      "second text of a new doc, longer than its eight token title").toSeq)
  }

  test("lastPerKey: the driver cut and the window cut keep the same rows") {
    import spark.implicits._
    val batch = Seq((Some("a"), 1L, "x1"), (Some("a"), 2L, "y"), (Some("a"), 1L, "x2"),
      (None, 1L, "n1"), (None, 1L, "n2"), (Some("b"), 1L, "z"))
      .toDF("searchdomain", "entity_id", "text")
    val key = Seq("searchdomain", "entity_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val local = EngineApi.lastPerKey(batch, key)
    assert(local.isLeft, "a request-sized batch is cut on the driver")
    val kept = local.swap.toOption.get.map(_.toSeq).toSet
    assert(kept == Set(Seq("a", 2L, "y"), Seq("a", 1L, "x2"),
      Seq(null, 1L, "n2"), Seq("b", 1L, "z")))
    val windowed = graft.ops.Arms.forcing("lastPerKey")(EngineApi.lastPerKey(batch, key))
    assert(windowed.isRight, "a forced batch is cut by the window")
    assert(rows(windowed.toOption.get) == kept)
  }

  /** Each table's rows (columns by name), as a sorted list. */
  private def tablesOf(d: graft.core.Domain): Seq[Seq[Seq[Any]]] =
    Seq(d.entities, d.datapoints, d.embeddings).map { t =>
      t.select(t.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSeq
        .sortBy(_.toString)
    }

  private def joins(d: graft.core.Domain): Int =
    Seq(d.entities, d.datapoints, d.embeddings).map(_.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size).sum

  /** Two domains reusing every id, two models, doc 5 with a null body
    * text (so a null hash), and in `docs` one entity with a null entity_id
    * (with a datapoint and a vector), which no key matches. The commit is
    * an upsert of unchanged (1), edited (2), twice-named (3, its last row
    * its stored text), null-text (5) and new (6) docs into `docs`, then
    * deletes of doc_4 from `docs` and doc_2 from `other`. */
  private lazy val commitFixture = {
    import spark.implicits._
    def docsOf(rows: Seq[(Long, Option[String])]) =
      rows.map { case (i, t) => (i, t, "en", "web") }.toDF("doc_id", "text", "lang", "source")
    val texts = Seq(1L -> Some("spark shuffles data between stages"),
      2L -> Some("cats sleep through the afternoon"),
      3L -> Some("broadcast joins avoid the shuffle entirely"),
      4L -> Some("a doc that the commit deletes"), 5L -> None)
    val two = Seq("stub:alpha", "stub:beta")
    val (a, b) = (SearchEngine.buildDomain(spark, docsOf(texts), two, dim, "docs"),
      SearchEngine.buildDomain(spark, docsOf(texts), two, dim, "other"))
    def one(row: org.apache.spark.sql.Row, schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(java.util.Arrays.asList(row), schema)
    import graft.core.DomainSchemas
    val stored = graft.core.Domain(
      a.entities.unionByName(b.entities).unionByName(one(org.apache.spark.sql.Row(
        "docs", null, "doc_null", "Mean", Map.empty[String, String]), DomainSchemas.entities)),
      a.datapoints.unionByName(b.datapoints).unionByName(one(org.apache.spark.sql.Row(
        "docs", null, 99L, "body", "Mean", "Cosine", "h"), DomainSchemas.datapoints)),
      a.embeddings.unionByName(b.embeddings).unionByName(one(org.apache.spark.sql.Row(
        "docs", null, 99L, "stub:alpha", Seq.fill(dim)(0.5f)), DomainSchemas.embeddings)))
      .persisted()
    val batch = docsOf(Seq(texts(0), 2L -> Some("dogs bark at the postman"),
      3L -> Some("an edit that a later row overrides"), 5L -> None,
      6L -> Some("watermarks bound streaming state"), texts(2)))
    (stored, batch, two)
  }

  /** The fixture's commit, its tables' rows and the embed counter's delta
    * over both. */
  private def commit(): (graft.core.Domain, Seq[Seq[Seq[Any]]], Long) = {
    val (stored, batch, two) = commitFixture
    stored.embeddings.count()
    val acc = graft.core.StubEmbedder.installCounter(spark)
    val merged = Seq("docs" -> "doc_4", "other" -> "doc_2").foldLeft(
      EngineApi.upsertEntities(spark, stored, SearchEngine.docEntities(batch),
        SearchEngine.docDatapoints(batch), two, dim)) { case (d, (sd, name)) =>
      EngineApi.deleteEntity(d, sd, name)
    }
    val rows = tablesOf(merged) // materializes every table, so every embed is counted
    (merged, rows, acc.value)
  }

  test("a driver-arm commit equals the forced distributed arm row for row") {
    val (driver, driverRows, driverEmbeds) = commit()
    val (distributed, distributedRows, distributedEmbeds) =
      graft.ops.Arms.forcing("lastPerKey", "upsertDiff", "deleteEntity")(commit())
    assert(joins(driver) == 0, "the driver arm planned a join")
    assert(joins(distributed) > 0, "the forced arm planned no join")
    assert(Seq(driver, distributed).map(d =>
      Seq(d.entities, d.datapoints, d.embeddings).map(_.columns.toSeq)).distinct.size == 1)
    assert(driverRows == distributedRows)
    // doc 2's and doc 6's one text each (title = body), under two models
    assert(driverEmbeds == 4 && distributedEmbeds == driverEmbeds)
    val names = driver.entities.select("searchdomain", "name").collect()
      .map(r => s"${r.getString(0)}/${r.getString(1)}").sorted.toSeq
    assert(names == Seq("docs/doc_1", "docs/doc_2", "docs/doc_3", "docs/doc_5", "docs/doc_6",
      "docs/doc_null", "other/doc_1", "other/doc_3", "other/doc_4", "other/doc_5"))
    assert(Seq(driver.datapoints, driver.embeddings)
      .map(_.filter(col("entity_id").isNull).count()) == Seq(1L, 1L))
    // doc 5's null-hash body kept no vector and got none; its title kept both
    assert(driver.datapoints.filter(col("hash").isNull).count() == 2)
    assert(driver.embeddings.filter(col("datapoint_id") === 11L).count() == 0)
    assert(driver.embeddings.filter(col("datapoint_id") === 10L).count() == 4)
  }

  test("a driver-arm commit writes one job per table; readDomain reads what an inferred read does") {
    val (merged, rows, _) = commit()
    val dir = tempDir("commit-")
    val (_, writeJobs) = jobsDuring(graft.core.Tables.writeDomain(merged, dir))
    assert(writeJobs == 3, s"$writeJobs jobs wrote three tables")
    val back = graft.core.Tables.readDomain(spark, dir)
    Seq("entities" -> back.entities, "datapoints" -> back.datapoints,
        "embeddings" -> back.embeddings).foreach { case (name, declared) =>
      val inferred = spark.read.parquet(s"$dir/$name")
      assert(declared.schema == inferred.schema, name)
      assert(declared.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
        inferred.collect().map(_.toSeq).toSeq.sortBy(_.toString), name)
    }
    assert(tablesOf(back) == rows)
  }

  test("writeDomain rethrows a failed table write and leaves no writer thread") {
    import scala.jdk.CollectionConverters._
    val failing = domain.copy(datapoints = domain.datapoints
      .withColumn("name", raise_error(lit("planted write failure")).cast("string")))
    val e = intercept[Exception](graft.core.Tables.writeDomain(failing, tempDir("failing-")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted write failure")), e)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-write-")))
  }

  test("Domain.snapshot answers None under forcing on every call and memoizes no None") {
    val d = SearchEngine.buildDomain(spark, docs, models, dim)
    def forced = graft.ops.Arms.forcing("domainSnapshot")(d.snapshot(dim))
    assert(forced.isEmpty, "a forced first call built a snapshot")
    assert(d.snapshot(dim).exists(_.rows == 6), "the forced None outlived its scope")
    assert(forced.isEmpty, "an instance holding a snapshot ignored the forcing")
    assert(d.snapshot(dim).exists(_.rows == 6))
  }

  test("deleteEntity cascades across all three tables") {
    val after = EngineApi.deleteEntity(domain, "docs", "doc_2")
    assert(after.entities.count() == 2)
    assert(after.datapoints.filter(col("entity_id") === 2).count() == 0)
    assert(after.embeddings.filter(col("entity_id") === 2).count() == 0)
  }

  /** `SubqueryAlias` nodes named `alias` in `df`'s logical plan — one per
    * read of the input table wrapped under that alias.
    */
  private def reads(df: org.apache.spark.sql.DataFrame, alias: String): Int =
    df.queryExecution.logical.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
          if a.alias == alias => a
    }.size

  test("entity mutations read each input table once per output table") {
    import spark.implicits._
    // the returned Domain is the next call's input: a second read of a
    // table doubles its lineage on every chained mutation
    val in = graft.core.Domain(domain.entities.as("in_entities"),
      domain.datapoints.as("in_datapoints"), domain.embeddings.as("in_embeddings"))
    def singleRead(op: String, out: graft.core.Domain): Unit =
      Seq("entities" -> out.entities, "datapoints" -> out.datapoints,
          "embeddings" -> out.embeddings).foreach { case (t, df) =>
        val n = reads(df, s"in_$t")
        assert(n == 1, s"$op: $t reads its input ${n}x")
      }
    singleRead("deleteEntity", EngineApi.deleteEntity(in, "docs", "doc_2"))
    singleRead("sessionFinalize",
      EngineApi.sessionFinalize(in, Seq("doc_1").toDF("name"), "docs"))
    val batch = Seq((2L, "dogs bark at the postman", "en", "web"),
      (4L, "watermarks bound streaming state", "en", "docs"))
      .toDF("doc_id", "text", "lang", "source")
    singleRead("upsertEntities", EngineApi.upsertEntities(spark, in,
      SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch), models, dim))
  }

  test("eight chained deletes: counts follow, entities plan keeps its input's size") {
    import spark.implicits._
    val ten = (1L to 10L).map(i => (i, s"document $i on topic ${i % 3}", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val base = SearchEngine.buildDomain(spark, ten, models, dim)
    val chained = (1 to 8).foldLeft(base)((d, i) => EngineApi.deleteEntity(d, "docs", s"doc_$i"))
    def leaves(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collectLeaves().size
    assert(leaves(chained.entities) == leaves(base.entities))
    assert(chained.entities.select("name").as[String].collect().sorted.toSeq
      == Seq("doc_10", "doc_9"))
    assert(chained.datapoints.count() == 4 && chained.embeddings.count() == 4)
    assert(chained.datapoints.filter(col("entity_id") <= 8).isEmpty)
  }

  test("sessionFinalize keeps only accumulated names") {
    import spark.implicits._
    val acc = Seq("doc_1", "doc_3").toDF("name")
    val after = EngineApi.sessionFinalize(domain, acc, "docs")
    assert(after.entities.select("name").as[String].collect().sorted.toSeq
      == Seq("doc_1", "doc_3"))
  }

  test("queryCached: miss computes and stores truncated, hit returns stored list as-is") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, String, Double)]
      .toDF("query", "rank", "name", "score")
    // miss: search runs, cache gains the truncated list
    val (r1, c1) = EngineApi.queryCached(spark, domain, empty, "spark shuffle", 2, dim)
    assert(r1.count() == 2)
    assert(c1.filter(col("query") === "spark shuffle").count() == 2)

    // hit: the STORED list comes back — prove the cache (not a recompute)
    // served it by poisoning the stored rows with a sentinel name first
    val poisoned = EngineApi.patchQueryCache(c1, "spark shuffle",
      Seq((1L, "sentinel_doc", 0.42)).toDF("rank", "name", "score"))
    val (r2, c2) = EngineApi.queryCached(spark, domain, poisoned, "spark shuffle", 5, dim)
    assert(r2.select("name").as[String].collect().toSeq == Seq("sentinel_doc"))
    // C1 quirk: topN=5 request still got the stored 1-row list; cache unchanged
    assert(c2.filter(col("query") === "spark shuffle").count() == 1)

    // PATCH stores caller rows verbatim, so a null or duplicated rank can
    // reach a hit: it answers in `orderBy("rank")` order, nulls first
    val patched = EngineApi.patchQueryCache(c2, "spark shuffle", Seq(
      (Some(2L), "doc_b", 0.5), (None, "doc_n", 0.1),
      (Some(1L), "doc_a", 0.9), (Some(2L), "doc_c", 0.4))
      .toDF("rank", "name", "score"))
    val expected = patched.filter(col("query") === "spark shuffle")
      .orderBy("rank").select("name", "score").collect().toSeq
    val (r3, c3) = EngineApi.queryCached(spark, domain, patched, "spark shuffle", 5, dim)
    assert(expected.map(_.getString(0)) == Seq("doc_n", "doc_a", "doc_b", "doc_c"))
    assert(r3.collect().toSeq == expected)
    assert(c3 eq patched)
  }

  test("queryCached: a hit runs no Spark job; a miss ranks rows in the search's order") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, String, Double)]
      .toDF("query", "rank", "name", "score")
    def pairs(rs: Array[org.apache.spark.sql.Row]) =
      rs.toSeq.map(r => (r.getAs[String]("name"), r.getAs[Double]("score")))
    def cached(q: String, cache: org.apache.spark.sql.DataFrame, d: graft.core.Domain = domain) =
      jobsDuring {
        val (res, next) = EngineApi.queryCached(spark, d, cache, q, 2, dim)
        (pairs(res.collect()), next)
      }

    // two misses on a new Domain instance: the first builds its snapshot
    // (jobs), the second scores from it (none); the cache becomes a union
    // of two local frames
    val fresh = domain.copy()
    val ((m1, c1), firstJobs) = cached("spark shuffle", empty, fresh)
    val ((m2, c2), missJobs) = cached("cats sleep", c1, fresh)
    assert(firstJobs > 0, "the first search of a Domain instance ran no job")
    assert(missJobs == 0, "a miss scored from the snapshot ran a Spark job")
    val searched = Seq("spark shuffle", "cats sleep").map(q =>
      q -> pairs(EngineApi.query(spark, domain, q, 2, dim).collect())).toMap
    assert(m1 == searched("spark shuffle") && m2 == searched("cats sleep"))
    // with the snapshot gate forced the miss runs the distributed plan:
    // jobs, and the same rows
    val ((capped, _), cappedJobs) = graft.ops.Arms.forcing("domainSnapshot")(
      cached("cats sleep", empty, fresh))
    assert(cappedJobs > 0, "the distributed arm ran no job")
    assert(capped.map(_._1) == m2.map(_._1) &&
      capped.zip(m2).forall { case ((_, a), (_, b)) => approx(a, b, 1e-12) })
    Seq("spark shuffle", "cats sleep").foreach { q =>
      val stored = c2.filter(col("query") === q).orderBy("rank")
        .select("rank", "name", "score").as[(Long, String, Double)].collect().toSeq
      assert(stored == searched(q).zipWithIndex.map { case ((n, s), i) => (i + 1L, n, s) })
    }

    val ((hit, c3), hitJobs) = cached("spark shuffle", c2)
    assert(hitJobs == 0)
    assert(c3 eq c2)
    assert(hit == searched("spark shuffle"))
  }

  test("patchQueryCache replaces one query's stored list wholesale") {
    import spark.implicits._
    val cache = Seq(
      ("q1", 1L, "doc_1", 0.9), ("q1", 2L, "doc_2", 0.8),
      ("q2", 1L, "doc_3", 0.7)).toDF("query", "rank", "name", "score")
    val replacement = Seq((1L, "doc_9", 1.0)).toDF("rank", "name", "score")
    val patched = EngineApi.patchQueryCache(cache, "q1", replacement)
    assert(patched.filter(col("query") === "q1").collect().map(_.getString(2)).toSeq
      == Seq("doc_9"))
    assert(patched.filter(col("query") === "q2").count() == 1)
  }

  test("models: distinct in-use set with allow/deny regex") {
    val two = graft.search.SearchEngine.buildDomain(
      spark, docs, Seq("stub:alpha", "stub:beta"), dim)
    assert(EngineApi.models(two).count() == 2)
    assert(EngineApi.models(two, allow = ".*alpha.*").collect()
      .map(_.getString(0)).toSeq == Seq("stub:alpha"))
    assert(EngineApi.models(two, deny = ".*beta.*").collect()
      .map(_.getString(0)).toSeq == Seq("stub:alpha"))
  }

  /** `domain` duplicated under a second searchdomain name — both domains
    * deliberately REUSE the same entity/datapoint ids, so any merge key
    * missing `searchdomain` cross-contaminates and fails the isolation
    * test below.
    */
  private def twoDomains: graft.core.Domain = graft.core.Domain(
    domain.entities.unionByName(
      domain.entities.withColumn("searchdomain", lit("other"))),
    domain.datapoints.unionByName(
      domain.datapoints.withColumn("searchdomain", lit("other"))),
    domain.embeddings.unionByName(
      domain.embeddings.withColumn("searchdomain", lit("other"))))

  test("multi-domain isolation: upsert/delete/finalize touch only the named domain") {
    import spark.implicits._
    val two = twoDomains
    def other(d: graft.core.Domain) = (
      d.entities.filter(col("searchdomain") === "other").count(),
      d.datapoints.filter(col("searchdomain") === "other").count(),
      d.embeddings.filter(col("searchdomain") === "other").count())

    // delete doc_2 from 'docs' only — 'other' keeps its doc_2
    val afterDel = EngineApi.deleteEntity(two, "docs", "doc_2")
    assert(afterDel.entities.filter(col("searchdomain") === "docs").count() == 2)
    assert(other(afterDel) == ((3L, 6L, 6L)))

    // upsert doc 2 into 'docs' (docEntities/docDatapoints default domain)
    // — 'other' reuses the same ids but must stay byte-identical
    val batch = Seq((2L, "dogs bark at the postman", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val merged = EngineApi.upsertEntities(spark, two,
      SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch),
      models, dim)
    assert(other(merged) == ((3L, 6L, 6L)))
    assert(merged.datapoints
      .filter(col("searchdomain") === "other" && col("entity_id") === 2)
      .join(two.datapoints.filter(col("searchdomain") === "other"),
        Seq("searchdomain", "datapoint_id", "hash"), "left_semi")
      .count() == 2) // other/doc_2 rows untouched, original hashes

    // null-safe delete: a null-named entity in each domain survives the
    // delete of another name, as does the sibling domain's doc_2
    val nullNamed = spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row("docs", 99L, null, "Mean", Map.empty[String, String]),
        org.apache.spark.sql.Row("other", 99L, null, "Mean", Map.empty[String, String])),
      graft.core.DomainSchemas.entities)
    val withNull = two.copy(entities = two.entities.unionByName(nullNamed))
    val afterNullDel = EngineApi.deleteEntity(withNull, "docs", "doc_2")
    assert(afterNullDel.entities.filter(col("name").isNull).count() == 2)
    assert(afterNullDel.entities
      .filter(col("searchdomain") === "other" && col("name") === "doc_2").count() == 1)
    def counts(d: graft.core.Domain) =
      (d.entities.count(), d.datapoints.count(), d.embeddings.count())
    assert(counts(EngineApi.deleteEntity(two, "docs", "doc_404")) == counts(two))

    // finalize a session in 'docs' — 'other' not in scope
    val fin = EngineApi.sessionFinalize(two, Seq("doc_1").toDF("name"), "docs")
    assert(fin.entities.filter(col("searchdomain") === "docs").count() == 1)
    assert(other(fin) == ((3L, 6L, 6L)))

    // READ path too: scoring joins keyed by (searchdomain, id) — the two
    // identical domains score independently (6 rows, equal per-name score
    // pairs); a cross-domain fan-out would double every level-1 group
    val res = EngineApi.query(spark, two, "spark shuffle", topN = 10, dim = dim)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(res.length == 6)
    assert(res.groupBy(_._1).forall { case (_, ss) =>
      ss.length == 2 && ss.map(_._2).distinct.length == 1 })
  }

  test("domain catalog: list/create/drop/rename as table transforms") {
    import spark.implicits._
    // two domains side by side in one set of tables
    val two = twoDomains

    val listed = EngineApi.listDomains(two.entities)
      .as[(String, Long)].collect().toSeq
    assert(listed == Seq(("docs", 3L), ("other", 3L)))

    val (fresh, settings) = EngineApi.createDomain(spark,
      graft.core.DomainSettings(queryCacheSize = 0))
    assert(fresh.entities.isEmpty && fresh.datapoints.isEmpty && fresh.embeddings.isEmpty)
    assert(fresh.entities.schema == graft.core.DomainSchemas.entities)
    assert(settings.queryCacheSize == 1_000_000) // reference default kicks in

    val dropped = EngineApi.dropDomain(two, "other")
    assert(EngineApi.listDomains(dropped.entities).count() == 1)
    assert(dropped.embeddings.filter(col("searchdomain") === "other").isEmpty)

    val renamed = EngineApi.renameDomain(two, "other", "archive")
    assert(EngineApi.listDomains(renamed.entities)
      .as[(String, Long)].collect().map(_._1).toSeq == Seq("archive", "docs"))
  }

  test("query-cache entry delete and size introspection") {
    import spark.implicits._
    val cache = Seq(
      ("q1", 1L, "doc_1", 0.9), ("q1", 2L, "doc_2", 0.8),
      ("q2", 1L, "doc_3", 0.7)).toDF("query", "rank", "name", "score")
    val after = EngineApi.deleteQueryCacheEntry(cache, "q1")
    assert(after.select("query").distinct().as[String].collect().toSeq == Seq("q2"))

    val size = EngineApi.queryCacheSize(cache, graft.core.DomainSettings()).collect()(0)
    assert(size.getLong(0) == 2)        // distinct cached queries
    assert(size.getLong(1) > 0)         // byte estimate
    assert(size.getLong(2) == 1_000_000)
    val empty = EngineApi.queryCacheSize(cache.limit(0), graft.core.DomainSettings())
      .collect()(0)
    assert(empty.getLong(0) == 0 && empty.getLong(1) == 0)
  }

  test("stats reports rows and byte estimates per table") {
    val s = EngineApi.stats(domain).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s("entities")._1 == 3 && s("datapoints")._1 == 6 && s("embeddings")._1 == 6)
    assert(s.values.forall(_._2 > 0))
  }

  test("a pipeline query cycle leaves no orphan cached blocks after releaseCaches") {
    // VERDICT r7 #6: the pipelines' persist-without-unpersist contract is
    // fine for the batch harness (clearCache between queries) but leaked
    // in a long-lived serving session. q139 exercises BOTH scratch kinds:
    // tracked Dataset persists (the phash band index) AND the
    // connected-components localCheckpoint blocks, which clearCache does
    // NOT cover (the catalog only tracks Dataset-level caches). (Through
    // r10 this test drove q78, but since the round-11 materialize-once
    // change q78 READS the persisted cluster artifact — a plain parquet
    // scan with no scratch once built — so the media-keeper pipeline is
    // now the checkpoint-backed CC path computed fresh on every call.)
    val sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    graft.ops.Caches.release() // drain scratch left by earlier suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Queries.queries("q139_media_keeper")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    assert(graft.ops.Caches.trackedCount > 0, "pipeline registered no scratch")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "expected the pipeline to persist scratch blocks")
    EngineApi.releaseCaches()
    val orphans = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(orphans.isEmpty, s"orphan cached blocks after release: $orphans")
    assert(graft.ops.Caches.trackedCount == 0)
  }

  test("scoped cycles release independently: one cycle's release leaves " +
      "another in-flight cycle's scratch and checkpoint blocks intact") {
    // ADVICE r8: the global releaseCaches() drains EVERY pipeline's
    // scratch — in a concurrent serving session one request's hygiene
    // nuked another's in-flight connectedComponents checkpoint blocks
    // (missing-block failures, not recompute). scopedCycle captures each
    // cycle's registrations into a private handle.
    val sf = "/root/testdata/sf0.001"
    spark.catalog.clearCache()
    graft.ops.Caches.release()
    // cycle A: the checkpoint-backed media-keeper pipeline (q78 reads the
    // persisted cluster artifact since round 11, so it no longer carries
    // scratch), NOT yet materialized — its result must survive cycle B's
    // release
    val (dfA, scopeA) = EngineApi.scopedCycle {
      Queries.queries("q139_media_keeper")(spark, sf)
    }
    assert(scopeA.size > 0, "cycle A registered no scratch")
    // cycle B: same pipeline, materialized, then released via ITS handle
    val (dfB, scopeB) = EngineApi.scopedCycle {
      Queries.queries("q139_media_keeper")(spark, sf)
    }
    dfB.write.format("noop").mode("overwrite").save()
    scopeB.release()
    assert(scopeB.size == 0)
    assert(scopeA.size > 0, "cycle B's release drained cycle A's scope")
    // cycle A's checkpoint-backed result still materializes (the blocks
    // its lineage-truncated plan reads were not freed by B's release)
    assert(dfA.count() > 0)
    scopeA.release()
    assert(graft.ops.Caches.trackedCount == 0)
  }
}
