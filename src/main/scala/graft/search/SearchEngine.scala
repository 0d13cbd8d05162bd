package graft.search

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.api.EngineApi
import graft.core.{Domain, DomainSchemas, DomainSettings, StubEmbedder}
import graft.functions.{ProbMethods, TextFunctions, VectorFunctions}

/** The core semantic-search engine re-expressed Spark-first.
  *
  * Reference shape (LD-Reborn/embeddingsearch `src/Server/Searchdomain.cs:183-258`):
  * a query is scored against every entity — per-model similarity (level 0),
  * per-datapoint aggregation across models (level 1, method chosen by the
  * DATAPOINT), per-entity aggregation across datapoints (level 2, method
  * chosen by the ENTITY), global sort desc, top-N.
  *
  * The serving path ([[serveQuery]], behind [[graft.api.EngineApi.query]])
  * has two arms and one gate, a fixed size cap:
  *
  *   - Driver arm, at or below [[graft.core.DomainSnapshot.cap]] scored
  *     embeddings (16M floats / dim, about 64 MB of vectors): scores from
  *     the domain's columnar [[graft.core.DomainSnapshot]], built by one
  *     collect the first time a `Domain` instance (a version) is searched
  *     and held by that instance. A later search embeds the query on the
  *     driver and runs no Spark job. It scores with the kernels' scalar
  *     forms (`SimilarityExprs.scala`) and [[ProbMethods.forMethod]], the
  *     arithmetic of the Column forms below, as the reference scores in
  *     process over its in-memory domain (`Searchdomain.cs:23`).
  *   - Distributed arm, above the cap: [[searchWithDomain]]. Broadcast the
  *     (model, query_vec) rows (M rows — always tiny), BroadcastHashJoin
  *     against the embeddings table, two data-driven HashAggregates, then
  *     `orderBy(desc).limit(n)` which Spark plans as TakeOrderedAndProject
  *     (no global sort shuffle). The only wide exchange is the level-1
  *     groupBy keyed by (entity_id, datapoint name); level 2 groups by a
  *     prefix of the same key, so with partial aggregation the second
  *     shuffle moves one row per (entity, datapoint) — negligible.
  *
  * Both arms rank `score desc, name asc` and are value-equal
  * (SearchEngineSpec). Registry entries and benches that call [[search]]
  * directly always take the distributed arm.
  */
object SearchEngine {

  /** Entity rows for a document corpus (one entity per doc). */
  def docEntities(docs: DataFrame, domainName: String = "docs"): DataFrame =
    docs.select(
      lit(domainName).as("searchdomain"),
      col("doc_id").as("entity_id"),
      concat(lit("doc_"), col("doc_id")).as("name"),
      lit("Mean").as("probmethod"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("attributes"))

  /** Datapoint rows (title + body per doc), WITH the text column — the
    * upsert ([[graft.api.EngineApi.upsertEntities]], which [[buildDomain]]
    * runs) embeds created or changed texts and drops the column.
    */
  def docDatapoints(docs: DataFrame, domainName: String = "docs"): DataFrame = {
    val title = concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 8))
    docs.select(
      col("doc_id").as("entity_id"),
      explode(array(
        struct(lit("title").as("name"), title.as("text")),
        struct(lit("body").as("name"), col("text").as("text")))).as("dp"))
      .select(
        lit(domainName).as("searchdomain"),
        col("entity_id"),
        (col("entity_id") * 2 + when(col("dp.name") === "title", 0).otherwise(1))
          .cast("long").as("datapoint_id"),
        col("dp.name").as("name"),
        lit("Mean").as("probmethod"),
        // vary the similarity method per DATAPOINT (keyed on datapoint_id,
        // so title and body of one entity can carry different methods —
        // the within-entity dispatch the reference allows)
        element_at(
          array(lit("Cosine"), lit("Euclidian"), lit("Manhattan"), lit("Cosine")),
          (pmod(col("entity_id") * 2 +
            when(col("dp.name") === "title", 0).otherwise(1), lit(4)) + 1).cast("int"))
          .as("similaritymethod"),
        TextFunctions.contentHash(col("dp.text")).as("hash"),
        col("dp.text").as("text"))
  }

  /** Index a document corpus into the §1.3 domain tables (S1/S3 analogue of
    * the reference Indexer's file-corpus script,
    * `src/Indexer/Scripts/example.py:52-66`): each document becomes an
    * entity with a `title` datapoint (first 8 tokens) and a `body`
    * datapoint (full text). A first index is the upsert
    * ([[graft.api.EngineApi.upsertEntities]]) into the empty domain, as
    * in the reference: texts are deduplicated before the embed stage
    * (P7/U2, `SearchdomainHelper.cs:88-94`) so inference cost is
    * O(distinct texts), not O(datapoints). Embeds with the deterministic
    * stub, every model's batches concurrent.
    */
  def buildDomain(
      spark: SparkSession,
      docs: DataFrame,
      models: Seq[String],
      dim: Int,
      domainName: String = "docs"): Domain =
    buildDomain(spark, docs, models, dim, domainName,
      new StubEmbedder(dim), parallelPrefetch = true)

  /** [[buildDomain]] with an explicit provider: the stub and the real HTTP
    * [[graft.core.HttpEmbedder]] flow through the identical batched
    * mapPartitions source (HttpEmbedderSpec pins value-identical domains).
    * `parallelPrefetch` is the `ParallelEmbeddingsPrefetch` placement
    * toggle (`SearchdomainHelper.cs:61-93`). A corpus holds one row per
    * `doc_id`, so the upsert skips its last-row-per-key cut.
    */
  def buildDomain(
      spark: SparkSession,
      docs: DataFrame,
      models: Seq[String],
      dim: Int,
      domainName: String,
      embedder: graft.core.Embedder,
      parallelPrefetch: Boolean): Domain =
    EngineApi.upsert(spark, DomainSchemas.emptyDomain(spark),
      docEntities(docs, domainName), docDatapoints(docs, domainName), models, embedder,
      DomainSettings(parallelEmbeddingsPrefetch = parallelPrefetch), keysDistinct = true)

  /** Embed a query string under every model in use (U1 distinct models —
    * `Searchdomain.cs:260-282`) and return the broadcastable
    * (model, query_vec) frame (`GetQueryEmbeddings`, `Searchdomain.cs:212-235`).
    */
  def queryEmbeddings(spark: SparkSession, domain: Domain, query: String, dim: Int): DataFrame =
    queryEmbeddings(spark, domain, query, new StubEmbedder(dim))

  /** [[queryEmbeddings]] through any [[graft.core.Embedder]]: the SAME
    * provider that indexed the domain embeds the query string. The
    * models-in-use list (U1, `Domain.models`, collected once per domain
    * version) is tiny and bounded, so the provider call is one driver-side
    * round-trip per model — exactly the reference server's query-time
    * shape — and the resulting (model, query_vec) frame is the broadcast
    * side of the scoring join, never a per-row UDF.
    */
  def queryEmbeddings(spark: SparkSession, domain: Domain, query: String,
      embedder: graft.core.Embedder): DataFrame = {
    import spark.implicits._
    domain.models.map(m => (m, embedder.embed(m, query).toSeq))
      .toDF("model", "query_vec")
  }

  /** The serving search: the top-N (searchdomain, name, score) of
    * `queryText`, embedded through `embedder`, from the driver arm when
    * the domain has a snapshot for `embedder.dim` and from
    * [[searchWithDomain]] otherwise (see the object doc). The driver arm
    * answers with a local frame.
    */
  def serveQuery(spark: SparkSession, domain: Domain, queryText: String, topN: Int,
      embedder: graft.core.Embedder): DataFrame =
    domain.snapshot(embedder.dim) match {
      case Some(snap) =>
        val rows = snap.top(snap.models.map(embedder.embed(_, queryText)), topN)
          .map { case (sd, name, score) => Row(sd, name, score) }
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), ServedSchema)
      case None =>
        searchWithDomain(domain, queryEmbeddings(spark, domain, queryText, embedder), topN)
    }

  private val ServedSchema = StructType(Seq(StructField("searchdomain", StringType),
    StructField("name", StringType), StructField("score", DoubleType)))

  /** The search pipeline. `qEmb` has (model, query_vec) — always broadcast.
    * Returns (searchdomain, name, score) top-N descending; [[search]] is
    * the endpoint-shaped (name, score) projection, and the retained
    * searchdomain lets callers join per-domain data back onto the top-N
    * (the attributes projection) without a name-only join fanning out
    * across domains that reuse entity names.
    */
  // bcast-ok-param: qEmb — the per-request query-embedding batch (M query
  // rows, API contract): request-sized, never corpus-grained
  def searchWithDomain(domain: Domain, qEmb: DataFrame, topN: Int): DataFrame = {
    // All intra-domain joins and groupings are keyed by (searchdomain, id):
    // a Domain may hold several searchdomains side by side (the catalog
    // operators build that shape), and two domains reusing ids must not
    // fan out against each other's rows.
    // entity_id rides in the join key redundantly (datapoint_id already
    // implies it): under the entity_id-bucketed layout this makes both
    // sides' HashPartitioning(entity_id) satisfy the join distribution,
    // so at 100 TB — where the datapoints table is itself too large to
    // broadcast — the scored join is co-located instead of shuffled.
    val scored = domain.embeddings
      .join(broadcast(qEmb), "model") // J1: BroadcastHashJoin, M query rows
      .join(domain.datapoints.select(
        col("searchdomain"), col("entity_id"), col("datapoint_id"),
        col("name").as("dp_name"),
        col("probmethod").as("dp_probmethod"),
        col("similaritymethod")), Seq("searchdomain", "entity_id", "datapoint_id"))
      .withColumn("sim",
        VectorFunctions.similarityCol(col("similaritymethod"), col("embedding"), col("query_vec")))

    // Level 1: across models, method chosen by the datapoint. Grouped by
    // datapoint_id (NOT dp_name): the reference aggregates per datapoint
    // OBJECT (`Searchdomain.cs:242-258`), so two same-named datapoints on
    // one entity must stay two level-1 groups. The probmethod column may
    // carry a `"Name:{json}"` spec (`Probmethods.cs:55-59`); the name
    // split and the DWA weight (keyed by model at this level) are
    // projected per ROW before the aggregate. dp_m and dp_name are
    // functionally dependent on datapoint_id, so grouping by them adds no
    // groups — and keeps every aggregation buffer primitive (a first()
    // over either string would demote the aggregate to SortAggregate;
    // see ProbMethods.forMethodCol).
    val dpScores = scored
      .withColumn("dp_m", ProbMethods.specNameCol(col("dp_probmethod")))
      .withColumn("dp_w", ProbMethods.dwaWeightCol(
        col("model"), ProbMethods.specParamCol(col("dp_probmethod"))))
      .groupBy(col("searchdomain"), col("entity_id"), col("datapoint_id"),
        col("dp_m"), col("dp_name"))
      .agg(
        ProbMethods.forMethodCol(col("dp_m"), col("sim"), col("dp_w"))
          .as("dp_score"))

    // Level 2: across datapoints, method chosen by the entity (weight
    // keyed by datapoint name).
    val entScores = dpScores
      .join(domain.entities.select(
        col("searchdomain"), col("entity_id"), col("name"),
        col("probmethod").as("ent_probmethod")), Seq("searchdomain", "entity_id"))
      .withColumn("ent_m", ProbMethods.specNameCol(col("ent_probmethod")))
      .withColumn("ent_w", ProbMethods.dwaWeightCol(
        col("dp_name"), ProbMethods.specParamCol(col("ent_probmethod"))))
      .groupBy(col("searchdomain"), col("entity_id"), col("name"), col("ent_m"))
      .agg(
        ProbMethods.forMethodCol(col("ent_m"), col("dp_score"), col("ent_w"))
          .as("score"))

    // O1/O2: TakeOrderedAndProject, never a global sort.
    entScores
      .select(col("searchdomain"), col("name"), col("score"))
      .orderBy(desc("score"), asc("name"))
      .limit(topN)
  }

  /** The search pipeline, endpoint shape: (name, score) top-N descending. */
  def search(domain: Domain, qEmb: DataFrame, topN: Int): DataFrame =
    searchWithDomain(domain, qEmb, topN).select(col("name"), col("score"))

  /** Maximal-marginal-relevance diversity re-rank (Carbonell & Goldstein
    * 1998): greedily select `k` results from a relevance-ranked candidate
    * pool, each step picking argmax of `lam·relevance − mu·redundancy`,
    * where redundancy is the max cosine to anything already selected.
    * `pool` carries (vec_id, sim, embedding) with `sim` already rounded to
    * 6 dp; `lam`/`mu` are taken as SEPARATE literals (not lam/1−lam) so the
    * DuckDB oracle's decimal literals produce bit-identical doubles.
    *
    * Scale shape: selection is inherently sequential in k, so this runs k
    * tiny jobs — each scores the remaining pool against the ≤k selected
    * vectors (broadcast) and takes ONE row. The pool is the output of a
    * top-`pool` retrieval stage (bounded — the driver holds k rows total,
    * the k×pool work is distributed); the corpus itself is never touched
    * here. All scores are rounded to 6 dp BEFORE comparison so ranking is
    * reproducible across engines.
    */
  def mmrSelect(pool: DataFrame, k: Int, lam: Double, mu: Double): DataFrame = {
    val spark = pool.sparkSession
    val p = pool.select(col("vec_id"), col("sim"), col("embedding"))
    var selIds = List.empty[Long]
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double, Double, Double)]
    for (step <- 1 to k) {
      val remaining = p.filter(!col("vec_id").isin(selIds: _*))
      val scored =
        if (selIds.isEmpty)
          remaining.select(col("vec_id"), col("sim"), lit(0.0).as("red"))
        else {
          val selVecs = broadcast(p.filter(col("vec_id").isin(selIds: _*))
            .select(col("vec_id").as("sid"), col("embedding").as("se")))
          remaining.crossJoin(selVecs)
            .withColumn("ps", round(VectorFunctions.cosine01(col("embedding"), col("se")), 6))
            .groupBy("vec_id").agg(max("ps").as("red"))
            .join(p.select(col("vec_id"), col("sim")), "vec_id")
        }
      val pick = scored
        .withColumn("mmr", round(lit(lam) * col("sim") - lit(mu) * col("red"), 6))
        .orderBy(desc("mmr"), asc("vec_id"))
        .limit(1)
        .select("vec_id", "sim", "red", "mmr")
        .collect()(0) // ONE row per step; k rows total on the driver
      selIds = selIds :+ pick.getLong(0)
      out += ((step.toLong, pick.getLong(0), pick.getDouble(1), pick.getDouble(2), pick.getDouble(3)))
    }
    import spark.implicits._
    out.toSeq.toDF("rnk", "vec_id", "relevance", "redundancy", "mmr")
  }

  /** Batch top-k similarity join — the beyond-reference capability: MANY
    * queries × corpus in one job (the reference only does 1×N,
    * `Searchdomain.cs:193-197`). `queries` and `corpus` both carry
    * (vec_id, embedding); a query's vec_id becomes its query_id. Queries
    * are broadcast and ranked by [[Ann.exactTopK]] (the per-query window),
    * so the corpus is scanned once total, not once per query. Returns
    * (query_id, vec_id, rnk, sim).
    */
  // bcast-ok-param: queries — caller probe batch (API contract); for
  // corpus-scale query sets gate through Ann.ivfSearch/lshSearch instead
  def topKJoin(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    Ann.exactTopK(corpus.crossJoin(broadcast(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))), k)
}
