package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructType}

import graft.core.{Domain, DomainSettings, Embedder, StubEmbedder}
import graft.functions.TextFunctions
import graft.search.SearchEngine

/** Batch equivalents of the reference's REST surface (SURVEY.md §2.12;
  * controllers at `src/Server/Controllers/`) — the library face a user of
  * the reference would call. Every method is a DataFrame transform over
  * [[graft.core.Domain]] tables. Request-sized payloads collect to the
  * driver: a query-cache probe's rows and a search's top-N
  * ([[queryCached]]), an upsert batch of at most [[LocalBatchRows]]
  * rows ([[lastPerKey]]), then the at most [[LocalBatchRows]] stored
  * datapoint keys and hashes that batch shares an entity or a datapoint
  * key with (the `upsertDiff` gate: the diff and the embedding run on the
  * driver), and a delete's victim keys (the `deleteEntity` gate). A
  * request-sized commit therefore reaches its table writes as local key
  * sets and local rows, and each write is one scan of its stored table.
  * One corpus-sized collect exists, capped: the first
  * [[query]] of a `Domain` instance collects its scoring rows into a
  * columnar [[graft.core.DomainSnapshot]] when they hold at most 16M
  * vector floats (about 64 MB; `DomainSnapshot.FloatBudget`), and that
  * instance holds it until it is itself unreachable. A larger domain is
  * never collected: it is searched by the distributed plan. Every capped
  * collect goes through [[graft.ops.Arms.gate]], the one bounded collect
  * of every driver arm, and `Arms.forcing` is their one override.
  *
  * | reference endpoint                           | here                 |
  * |----------------------------------------------|----------------------|
  * | `POST /Searchdomain/Query`                   | [[query]]            |
  * | `GET /Entities` (3 verbosity levels)         | [[listEntities]]     |
  * | `PUT /Entities` (upsert, diff-driven embed)  | [[upsertEntities]]   |
  * | `PUT /Entities?sessionComplete=true` finalize| [[sessionFinalize]]  |
  * | `DELETE /Entity`                             | [[deleteEntity]]     |
  * | `PATCH /Searchdomain/Query` (result override)| [[patchQueryCache]]  |
  * | `GET /Server/Stats`, `Database/Size`         | [[stats]]            |
  */
object EngineApi {

  private val entKey = Seq("searchdomain", "entity_id")

  /** Release ALL pipeline-scratch caches accumulated by query/dedup/
    * curation dataflows since the last release (VERDICT r7 #6) — the
    * serving-session cache-hygiene hook. Scoped to pipeline scratch:
    * domain-level caches (`Domain.cache()`) and user caching are
    * untouched, unlike `spark.catalog.clearCache()`. Call after each
    * query cycle's results are materialized; ApiSpec pins that a cycle
    * leaves no orphan blocks behind it.
    *
    * CONCURRENCY CONTRACT (ADVICE r8): this is the global drain — it
    * frees EVERY in-flight pipeline's scratch, including results backed
    * by connectedComponents checkpoint blocks, whose later actions would
    * then fail with missing-checkpoint-block errors (not just recompute).
    * Do NOT call it while any other query cycle is in flight. Concurrent
    * sessions should wrap each cycle in [[scopedCycle]] and release that
    * cycle's handle instead.
    */
  def releaseCaches(): Unit = graft.ops.Caches.release()

  /** Run one query cycle with its pipeline scratch captured into a
    * private scope; returns (result, handle). `handle.release()` frees
    * exactly this cycle's persists and checkpoint blocks — safe while
    * other cycles are in flight (ApiSpec pins the isolation).
    */
  def scopedCycle[T](body: => T): (T, graft.ops.Caches.Scope) =
    graft.ops.Caches.scoped(body)

  /** `POST /Searchdomain/Query?searchdomain&query&topN&returnAttributes`
    * (`SearchdomainController.cs:158-171`): embed the query under every
    * model in use, run the two-level scored search
    * ([[SearchEngine.serveQuery]]: on the driver from the domain's
    * snapshot at or below the size cap, else the distributed plan),
    * optionally attach the entity attribute map (P3, applied AFTER the
    * top-k cut so the join touches topN rows, not the corpus).
    *
    * Like the endpoint, a query is normally per searchdomain: scope a
    * shared table set first with `Tables.readDomain(spark, dir, name)`
    * (partition-pruned). Every scoring join/grouping is keyed by
    * (searchdomain, id), so on a multi-domain Domain the domains score
    * independently (no cross-domain fan-out) and the top-N is taken
    * across them.
    *
    * The query string is embedded through `embedder`, which must be the
    * provider that indexed the domain (the stub or the real HTTP provider).
    */
  def query(
      spark: SparkSession,
      domain: Domain,
      queryText: String,
      topN: Int,
      embedder: Embedder,
      returnAttributes: Boolean): DataFrame = {
    val top = SearchEngine.serveQuery(spark, domain, queryText, topN, embedder)
    if (!returnAttributes) top.select(col("name"), col("score"))
    else
      // joined on (searchdomain, name), not name alone: domains may reuse
      // entity names, and a name-only join would fan the top-N out
      // against every same-named entity of every domain
      top
        .join(domain.entities.select(
          col("searchdomain"), col("name"), col("attributes")),
          Seq("searchdomain", "name"), "left_outer")
        .select(col("name"), col("score"), col("attributes"))
        .orderBy(desc("score"), asc("name"))
  }

  /** [[query]] embedding with the deterministic stub of width `dim`. */
  def query(
      spark: SparkSession,
      domain: Domain,
      queryText: String,
      topN: Int,
      dim: Int,
      returnAttributes: Boolean = false): DataFrame =
    query(spark, domain, queryText, topN, new StubEmbedder(dim), returnAttributes)

  /** The endpoint's full cache flow (`Searchdomain.cs:183-208` + C1):
    * probe the query cache by the query STRING alone (not topN — the
    * reference quirk), return the stored already-truncated list on a hit;
    * on a miss run the search and store the fresh list truncated to topN.
    * Returns (response, updated cache); the response is a local relation.
    *
    * A hit is one `collect()` of the probed query's (rank, name, score)
    * rows, ordered by rank on the driver (nulls first, as
    * `orderBy("rank")` orders). It runs zero Spark jobs while the cache is
    * local rows, as it is when the caller holds it between requests (the
    * reference's in-memory QueryCache). A hit adds nothing, so the input
    * cache object itself comes back: the caller tells a hit from a miss by
    * reference equality. A miss runs that probe, the search and one
    * collect of its top-N, whose rows arrive in `score desc, name asc`
    * order: each row's position is its rank, so no window or sort job
    * runs. On a domain within the snapshot cap the search is a local
    * frame, so a miss runs no Spark job after the first search of the
    * `Domain` instance (which builds the snapshot); above the cap it runs
    * the distributed plan's jobs. A miss embeds the query through
    * `embedder`, as [[query]] does. A miss on a local cache returns a
    * local cache ([[appended]]).
    */
  def queryCached(
      spark: SparkSession,
      domain: Domain,
      cache: DataFrame,
      queryText: String,
      topN: Int,
      embedder: Embedder): (DataFrame, DataFrame) = {
    val probe = cache.filter(col("query") === queryText)
      .select(col("rank").cast("long"), col("name"), col("score"))
    val stored = probe.collect()
    if (stored.nonEmpty) {
      val byRank = stored.sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      (spark.createDataFrame(rowList(byRank.map(r => Row(r.get(1), r.get(2)))),
        StructType(probe.schema.drop(1))), cache)
    } else {
      val top = query(spark, domain, queryText, topN, embedder, returnAttributes = false)
      val found = top.collect()
      val ranked = found.zipWithIndex.map { case (r, i) => Row(r.get(0), r.get(1), i + 1L, queryText) }
      (spark.createDataFrame(rowList(found), top.schema), appended(spark, cache, ranked,
        top.schema.add("rank", LongType).add("query", StringType)))
    }
  }

  private def rowList(rs: Seq[Row]): java.util.List[Row] = java.util.Arrays.asList(rs: _*)

  /** `cache` with `rows` (of `schema`) appended. A local cache with the
    * same column names and types stays ONE local relation (its rows are
    * collected without a job), so a later probe plans one filter over it,
    * not a union that grows by one child per miss. Any other cache gets a
    * union.
    */
  private def appended(spark: SparkSession, cache: DataFrame, rows: Seq[Row],
      schema: StructType): DataFrame = {
    def types(s: StructType) = s.map(f => f.name -> f.dataType).toMap
    if (cache.isLocal && types(cache.schema) == types(schema)) {
      val at = cache.columns.map(schema.fieldIndex)
      spark.createDataFrame(rowList(cache.collect() ++ rows.map(r => Row.fromSeq(at.map(r.get)))),
        StructType(cache.schema.map(_.copy(nullable = true))))
    } else
      cache.unionByName(spark.createDataFrame(rowList(rows), schema)
        .select(cache.columns.map(col).toIndexedSeq: _*))
  }

  /** [[queryCached]] embedding a miss with the deterministic stub of width `dim`. */
  def queryCached(
      spark: SparkSession,
      domain: Domain,
      cache: DataFrame,
      queryText: String,
      topN: Int,
      dim: Int): (DataFrame, DataFrame) =
    queryCached(spark, domain, cache, queryText, topN, new StubEmbedder(dim))

  /** `GET /Entities?searchdomain&returnModels&returnEmbeddings`
    * (`EntityController.cs:42-86`): the three verbosity levels — names
    * only / models with empty vectors / full vectors. The heavy embedding
    * column is never scanned unless asked for (column pruning reaches the
    * parquet reader).
    */
  def listEntities(
      domain: Domain,
      returnModels: Boolean = false,
      returnEmbeddings: Boolean = false): DataFrame = {
    // joined/grouped by (searchdomain, entity_id) so multi-domain Domains
    // with reused ids don't cross-attach models; output schema unchanged
    val base = domain.entities.select(
      col("searchdomain"), col("entity_id"), col("name"), col("attributes"))
    if (!returnModels) base.drop("searchdomain")
    else {
      val embs =
        if (returnEmbeddings)
          domain.embeddings.select(
            col("searchdomain"), col("entity_id"), col("model"), col("embedding"))
        else
          domain.embeddings.select(col("searchdomain"), col("entity_id"), col("model"),
            array().cast("array<float>").as("embedding"))
      base.join(
        embs.groupBy("searchdomain", "entity_id")
          .agg(collect_list(struct(col("model"), col("embedding"))).as("models")),
        Seq("searchdomain", "entity_id"), "left_outer")
        .drop("searchdomain")
    }
  }

  /** [[upsertEntities]] embedding with the deterministic stub of width `dim`. */
  def upsertEntities(
      spark: SparkSession,
      domain: Domain,
      entities: DataFrame,
      incoming: DataFrame,
      models: Seq[String],
      dim: Int,
      settings: DomainSettings = DomainSettings()): Domain =
    upsertEntities(spark, domain, entities, incoming, models, new StubEmbedder(dim), settings)

  /** `PUT /Entities` (`EntityController.cs:105-161` →
    * `SearchdomainHelper.cs:208-343`): diff-driven incremental index, and
    * the only indexing body — a first index ([[SearchEngine.buildDomain]],
    * [[graft.streaming.IndexPipeline]]'s first batch) is this upsert into
    * the empty domain. ONLY created or text-changed datapoints are
    * embedded, through `embedder` (the stub or the real HTTP provider),
    * with dedup-before-embed (P7) and `settings`' batch placement;
    * everything unchanged keeps its stored vectors. Returns the merged
    * Domain.
    *
    * `incoming` carries (entity_id, datapoint_id, name, probmethod,
    * similaritymethod, text); `entities` the matching entity rows. Each
    * keeps its last row per key ([[lastPerKey]]): an entity named twice in
    * one batch is stored once, as its later occurrence.
    *
    * The content-hash diff matches on (searchdomain, datapoint_id, hash),
    * null-safe on the hash: incoming rows without a stored twin need
    * embedding; stored rows of touched entities without an incoming twin
    * are stale. A batch cut on the driver diffs on the driver too, over
    * the stored rows it touches (the `upsertDiff` gate of
    * [[upsertOnDriver]]). Otherwise the diff is two anti-joins: over an
    * empty store both collapse to their input, so a first index plans
    * only the embed joins. A full-outer diff joined back onto the batch
    * would still semi-join the batch with itself there: two extra joins
    * on every first index.
    *
    * Single-read rule (shared by every entity mutation here): each output
    * table reads its same-named input table exactly once. The returned
    * Domain is the next call's input, so a table read twice per call
    * doubles its lineage with every chained mutation (1,164 leaf scans in
    * the embeddings plan after six chained upserts). Stored embeddings
    * are therefore cut ONCE by the stale keys, not dropped for every
    * touched entity and re-added by a second scan.
    */
  def upsertEntities(
      spark: SparkSession,
      domain: Domain,
      entities: DataFrame,
      incoming: DataFrame,
      models: Seq[String],
      embedder: Embedder,
      settings: DomainSettings): Domain =
    upsert(spark, domain, entities, incoming, models, embedder, settings, keysDistinct = false)

  /** [[upsertEntities]]. `keysDistinct` says the caller's batch names each
    * entity and datapoint once, so the last-row-per-key cut
    * ([[lastPerKey]]) is skipped: it collects a batch of up to
    * [[LocalBatchRows]] rows to the driver, and costs a shuffle in every
    * table write above that. A first index written to parquet took +30%
    * with the cut at 5,000 documents (10,000 datapoint rows, driver cut;
    * median 1.15 → 1.49 s) and +41% at 10,000 (20,000 rows, window cut;
    * 1.58 → 2.22 s): 8 alternating reps each in one `local[4]` JVM, 4-core VM.
    */
  private[graft] def upsert(
      spark: SparkSession,
      domain: Domain,
      entities: DataFrame,
      incoming: DataFrame,
      models: Seq[String],
      embedder: Embedder,
      settings: DomainSettings,
      keysDistinct: Boolean): Domain = {
    // Every merge key includes `searchdomain`: a Domain may legitimately
    // hold several domains side by side (the catalog operators below work
    // on that shape), and two domains reusing entity_id/datapoint_id
    // values must never cross-contaminate.
    val inc = if (keysDistinct) Right(incoming) else lastPerKey(incoming, dpKey)
    val ents = if (keysDistinct) Right(entities) else lastPerKey(entities, entKey)
    val hashed = inc.fold(localFrame(spark, incoming.schema, _), identity)
      .withColumn("hash", TextFunctions.contentHash(col("text")))
    val newEntities = ents.fold(localFrame(spark, entities.schema, _), identity)
    val onDriver = for {
      kept <- ents.swap.toOption if inc.isLeft
      merged <- upsertOnDriver(spark, domain, hashed, kept, newEntities, models, embedder)
    } yield merged
    onDriver.getOrElse {
      // rows of `left` with no (searchdomain, datapoint_id, hash) twin in `right`
      def withoutTwin(left: DataFrame, right: DataFrame): DataFrame = {
        val r = right.select(col("searchdomain").as("__sd"),
          col("datapoint_id").as("__dp"), col("hash").as("__hash"))
        left.join(r, col("searchdomain") === col("__sd") &&
          col("datapoint_id") === col("__dp") && (col("hash") <=> col("__hash")), "left_anti")
      }
      val needEmbed = withoutTwin(hashed, domain.datapoints)

      // P7/U2 + S4: embed each distinct changed text once per model,
      // batched. A null text joins no vector back, so it is not embedded.
      // ParallelEmbeddingsPrefetch routes the batch placement
      // (`SearchdomainHelper.cs:61-93`): per-model-sequential when off,
      // every model's batches concurrent when on.
      val pairs = needEmbed.select(col("text")).where(col("text").isNotNull).distinct()
        .crossJoin(spark.createDataFrame(models.map(Tuple1(_))).toDF("model"))
      val fresh = needEmbed
        .join(StubEmbedder.embedBatched(spark, pairs, embedder,
          parallelPrefetch = settings.parallelEmbeddingsPrefetch), "text")
        .select(col("searchdomain"), col("entity_id"), col("datapoint_id"),
          col("model"), col("embedding"))
      // semi/anti joins only: duplicate keys cannot change their result, so
      // no distinct (each one is a shuffle in every table's write)
      val touched = entities.select(entKey.map(col): _*)
      val stale = withoutTwin(domain.datapoints.join(touched, entKey, "left_semi"), hashed)
      merge(domain, touched, stale, hashed, fresh, newEntities)
    }
  }

  private val dpKey = Seq("searchdomain", "datapoint_id")
  private val embKey = entKey :+ "datapoint_id"

  /** PUT semantics per UPLOADED entity only (reference
    * `SearchdomainHelper.cs:208-343` diffs the datapoints of each entity
    * in the payload), the merge both diff arms of [[upsert]] end in.
    * Entities absent from the batch keep everything: entities and
    * datapoints drop the rows of the `touched` (searchdomain, entity_id)
    * keys, embeddings the rows of the `stale` (searchdomain, entity_id,
    * datapoint_id) keys, and each table gains its new rows. ALL incoming
    * datapoint rows of touched entities land as-is, so hash-unchanged
    * ones take the INCOMING metadata (probmethod/similaritymethod/name,
    * the reference's `updatedDatapointsNonText` path) while keeping their
    * stored embeddings. Keys that are local rows filter their table with
    * no join ([[without]]); new rows that are local rows come as one
    * partition, so each table write adds one file per domain for them.
    */
  private def merge(domain: Domain, touched: DataFrame, stale: DataFrame,
      datapoints: DataFrame, embeddings: DataFrame, entities: DataFrame): Domain = {
    def plus(table: DataFrame, rows: DataFrame): DataFrame =
      table.unionByName((if (rows.isLocal) rows.coalesce(1) else rows)
        .select(table.columns.map(col).toIndexedSeq: _*))
    Domain(
      plus(without(domain.entities, touched, entKey), entities),
      plus(without(domain.datapoints, touched, entKey), datapoints),
      plus(without(domain.embeddings, stale, embKey), embeddings))
  }

  /** `table` without the rows whose `key` columns equal those of a row of
    * `keys`, as a left anti-join on `key` leaves it: a key with a null
    * column matches nothing, so such a row of `table` stays. When `keys`
    * is a local relation the join is a filter on its key set (no
    * broadcast job in the plan); otherwise it is the anti-join.
    */
  private def without(table: DataFrame, keys: DataFrame, key: Seq[String]): DataFrame =
    if (!keys.isLocal) table.join(keys.select(key.map(col): _*), key, "left_anti")
    else {
      val at = key.map(keys.schema.fieldIndex)
      table.filter(!keyIn(key, keys.collect().map(r => at.map(r.get)).toSet))
    }

  /** Whether a row's `key` columns equal one of `keys`, a driver-side key
    * set: never null, and false when a key column is null. An empty set is
    * the literal false.
    */
  private def keyIn(key: Seq[String], keys: Set[Seq[Any]]): Column = {
    val set = keys.filterNot(_.contains(null))
    if (set.isEmpty) lit(false)
    else udf((r: Row) => set.contains(r.toSeq)).apply(struct(key.map(col): _*))
  }

  /** The upsert's driver arm, for a batch the [[lastPerKey]] gate cut on
    * the driver. The stored (searchdomain, entity_id, datapoint_id, hash)
    * rows that share an entity key or a datapoint key with the batch are
    * collected by the `upsertDiff` gate of [[graft.ops.Arms.gate]] (at
    * most [[LocalBatchRows]]), and the content-hash diff runs over them
    * with the distributed arm's rules: an incoming row needs embedding
    * without a stored (searchdomain, datapoint_id, hash) twin, a stored
    * row of a touched entity is stale without an incoming twin, the hash
    * compared null-safe. Changed texts are embedded here too, through
    * [[StubEmbedder.embedLocal]]. So the merge gets local keys and rows
    * only, and each table write scans its stored table once. None (the
    * caller runs the distributed diff) when more stored rows match, or
    * under `Arms.forcing("upsertDiff")`.
    */
  private def upsertOnDriver(spark: SparkSession, domain: Domain, hashed: DataFrame, kept: Seq[Row],
      newEntities: DataFrame, models: Seq[String], embedder: Embedder): Option[Domain] = {
    val rows = hashed.collect() // a projection of local rows: no job
    val Seq(sd, eid, dp, hash, text) =
      Seq("searchdomain", "entity_id", "datapoint_id", "hash", "text").map(hashed.schema.fieldIndex)
    val entAt = entKey.map(newEntities.schema.fieldIndex)
    val touched = kept.map(r => entAt.map(r.get)).toSet
    val dpKeys = rows.map(r => Seq(r.get(sd), r.get(dp))).toSet
    val stored = domain.datapoints
      .select((embKey :+ "hash").map(col): _*)
      .where(keyIn(entKey, touched) || keyIn(dpKey, dpKeys))
    graft.ops.Arms.gate[Row, Option[Domain]]("upsertDiff", oneTask(stored), LocalBatchRows) { found =>
      // (searchdomain, datapoint_id, hash) twins, as the anti-joins match
      def twins(rs: Seq[Row], s: Int, d: Int, h: Int) =
        rs.filterNot(r => r.isNullAt(s) || r.isNullAt(d)).map(r => (r.get(s), r.get(d), r.get(h))).toSet
      val storedTwins = twins(found.toSeq, 0, 2, 3)
      val incomingTwins = twins(rows.toSeq, sd, dp, hash)
      val stale = found.toSeq.filter(r =>
        touched(Seq(r.get(0), r.get(1))) && !incomingTwins((r.get(0), r.get(2), r.get(3))))
      val needEmbed = rows.toSeq.filterNot(r => storedTwins((r.get(sd), r.get(dp), r.get(hash))))
        .filterNot(_.isNullAt(text))
      val vectors = StubEmbedder.embedLocal(needEmbed.map(_.getString(text)).distinct, models, embedder)
      val fresh = for (r <- needEmbed; m <- models)
        yield Row(r.get(sd), r.get(eid), r.get(dp), m, vectors((m, r.getString(text))))
      val ids = StructType(Seq(sd, eid, dp).map(hashed.schema(_)))
      Some(merge(domain,
        localFrame(spark, StructType(entAt.map(newEntities.schema(_))), touched.toSeq.map(Row.fromSeq)),
        localFrame(spark, stored.schema, stale),
        localFrame(spark, hashed.schema, rows.toSeq),
        localFrame(spark, ids.add("model", StringType).add("embedding", ArrayType(FloatType)), fresh),
        newEntities))
    }(None)
  }

  private def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rowList(rows), schema)

  /** `df` as one partition, without a shuffle, for a gate's bounded
    * collect: a `limit` collect of a frame of several partitions runs a
    * job over its first partition, then another over the rest when those
    * rows fall short of the limit, as a request's few rows do. One task
    * runs it in one job, in `df`'s row order. Local rows stay as they
    * are: their collect runs no job. */
  private def oneTask(df: DataFrame): DataFrame =
    if (graft.ops.Arms.localRelation(df).isDefined) df else df.coalesce(1)

  /** Batches of at most this many rows, request-sized payloads, are cut
    * on the driver by [[lastPerKey]]. */
  private[graft] val LocalBatchRows: Int = 1 << 14

  /** The last row of `df` per `key`, in `df`'s row order. A batch that
    * names one entity (or datapoint) twice keeps its later row, as the
    * reference applies a PUT list in order; without the cut both rows
    * would land, and the entity would be stored twice. A batch without
    * repeated keys passes through whole. "Last" is the batch's own row
    * order, so a batch with repeated keys must have a stable one (a local
    * or file-read batch does).
    *
    * The `lastPerKey` gate of [[graft.ops.Arms.gate]]: a batch of at most
    * [[LocalBatchRows]] rows is collected once (one small job) and cut on
    * the driver, Left(the kept rows), so the upsert goes on with local
    * rows rather than each table write re-running a window shuffle over
    * them (a 200-document commit with three deletes took 6.7–7.0 s with
    * the window and 5.0–5.7 s with the driver cut, on a 4-core VM). A
    * larger batch, or any batch under `Arms.forcing("lastPerKey")`, is
    * cut by the window, never collected: Right(the cut frame).
    */
  private[graft] def lastPerKey(df: DataFrame, key: Seq[String]): Either[Seq[Row], DataFrame] =
    graft.ops.Arms.gate[Row, Either[Seq[Row], DataFrame]]("lastPerKey", oneTask(df),
        LocalBatchRows) { head =>
      val at = key.map(df.schema.fieldIndex)
      def keyOf(r: Row): Seq[Any] = at.map(r.get)
      val last = head.indices.map(i => keyOf(head(i)) -> i).toMap
      Left(head.indices.collect { case i if last(keyOf(head(i))) == i => head(i) })
    } {
      Right(df.withColumn("__ord", monotonically_increasing_id())
        .withColumn("__last", max(col("__ord")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(key.map(col): _*)))
        .where(col("__ord") === col("__last"))
        .drop("__ord", "__last"))
    }

  /** Session finalize (`PUT /Entities?sessionComplete=true` — the call is
    * per searchdomain, `EntityController.cs:163-199`): delete every entity
    * of THAT domain not in the accumulated session set; sibling domains
    * are untouched.
    *
    * Single-read rule (see [[upsertEntities]]): the entities table is
    * marked by one left-outer join against the distinct accumulated names
    * and split on that mark. Anti-joining it with doomed rows read from
    * itself would double the entities lineage on every chained finalize.
    */
  def sessionFinalize(domain: Domain, accumulatedNames: DataFrame,
      searchdomain: String): Domain = {
    val marked = domain.entities.join(
      accumulatedNames.select(col("name").as("__kept")).distinct(),
      col("name") === col("__kept"), "left_outer")
    val doomed = col("searchdomain") <=> lit(searchdomain) && col("__kept").isNull
    val (datapoints, embeddings) = cascade(domain, marked.filter(doomed))
    Domain(marked.filter(!doomed).drop("__kept"), datapoints, embeddings)
  }

  /** `DELETE /Entity?searchdomain&entityName` (`EntityController.cs:206-229`):
    * FK-cascade rewrite of all three tables (J9/S7), scoped to the named
    * domain exactly as the endpoint is.
    *
    * Single-read rule (see [[upsertEntities]]): the entities table is one
    * filter on a null-safe (searchdomain, name) predicate — `<=>` never
    * yields null, so a null-named row is kept rather than silently
    * dropped — and the victims' child rows go through [[cascade]].
    * Anti-joining the table with victims read from itself would double
    * the entities lineage per chained delete (256 leaf scans after eight).
    */
  def deleteEntity(domain: Domain, searchdomain: String, entityName: String): Domain = {
    val victim = col("searchdomain") <=> lit(searchdomain) && col("name") <=> lit(entityName)
    val victims = domain.entities.filter(victim).select(entKey.map(col): _*)
    // the `deleteEntity` gate: up to LocalBatchRows victim keys become a
    // local key set, so each child table is one filter
    val keys = graft.ops.Arms.gate("deleteEntity", oneTask(victims), LocalBatchRows)(
      rows => localFrame(victims.sparkSession, victims.schema, rows.toSeq))(victims)
    val (datapoints, embeddings) = cascade(domain, keys)
    Domain(domain.entities.filter(!victim), datapoints, embeddings)
  }

  /** J9 FK cascade: the datapoints and embeddings of `victims` (entity
    * rows), each child table cut once on (searchdomain, entity_id)
    * ([[without]]) so a sibling domain reusing an entity_id is never
    * touched. No distinct on the keys: neither cut depends on duplicates.
    */
  private def cascade(domain: Domain, victims: DataFrame): (DataFrame, DataFrame) =
    (without(domain.datapoints, victims, entKey), without(domain.embeddings, victims, entKey))

  /** `PATCH /Searchdomain/Query` (`SearchdomainController.cs:141-214`):
    * manual override of one cached result list — the stored rows for that
    * query are replaced wholesale by the supplied (rank, name, score) rows.
    */
  def patchQueryCache(cache: DataFrame, queryText: String, replacement: DataFrame): DataFrame =
    cache.filter(col("query") =!= queryText)
      .unionByName(replacement.withColumn("query", lit(queryText))
        .select(cache.columns.map(col).toIndexedSeq: _*))

  /** `GET /Searchdomains` (`SearchdomainController.cs:31-46`): the domain
    * catalog — distinct names with entity counts (partition-pruned read
    * of one column under the partitioned layout).
    */
  def listDomains(entities: DataFrame): DataFrame =
    entities.groupBy("searchdomain")
      .agg(count(lit(1)).as("n_entities"))
      .orderBy("searchdomain")

  /** `POST /Searchdomain` (`SearchdomainController.cs:53-69`): a fresh
    * domain is three empty, correctly-typed tables plus normalized
    * settings (QueryCacheSize <= 0 -> the reference's 1M default).
    */
  def createDomain(spark: SparkSession,
      settings: graft.core.DomainSettings = graft.core.DomainSettings())
      : (Domain, graft.core.DomainSettings) =
    (graft.core.DomainSchemas.emptyDomain(spark), settings.normalized)

  /** `DELETE /Searchdomain` (`SearchdomainController.cs:75-104`): drop a
    * whole domain from all three tables — pure partition pruning under
    * the partitioned layout (nothing else is rewritten).
    */
  def dropDomain(domain: Domain, name: String): Domain = Domain(
    domain.entities.filter(col("searchdomain") =!= name),
    domain.datapoints.filter(col("searchdomain") =!= name),
    domain.embeddings.filter(col("searchdomain") =!= name))

  /** `PUT /Searchdomain` rename (`SearchdomainController.cs:111-140`). */
  def renameDomain(domain: Domain, from: String, to: String): Domain = {
    def r(df: DataFrame) = df.withColumn("searchdomain",
      when(col("searchdomain") === from, to).otherwise(col("searchdomain")))
    Domain(r(domain.entities), r(domain.datapoints), r(domain.embeddings))
  }

  /** `DELETE /Searchdomain/Query` (`SearchdomainController.cs:178-197`):
    * drop ONE query's cached result rows.
    */
  def deleteQueryCacheEntry(cache: DataFrame, queryText: String): DataFrame =
    cache.filter(col("query") =!= queryText)

  /** `GET /Searchdomain/QueryCache/Size` (`SearchdomainController.cs:254-270`):
    * cached-query count, byte estimate of the stored rows, configured max.
    */
  def queryCacheSize(cache: DataFrame, settings: graft.core.DomainSettings): DataFrame =
    cache.agg(
      countDistinct(col("query")).as("element_count"),
      coalesce(sum((length(col("name")) + length(col("query")) + lit(16)).cast("long")),
        lit(0L)).as("size_bytes"))
      .withColumn("element_max_count", lit(settings.normalized.queryCacheSize.toLong))

  /** `GET /Searchdomain/Queries` (`SearchdomainController.cs:141-157`):
    * introspection listing of the query cache — one row per cached query
    * with its stored-result count, best score and best name. The counts
    * are a primitive-buffer HashAggregate; the best NAME comes from a
    * join with the rank-1 rows rather than `min_by(name, rank)` — any
    * string-valued aggregate needs a string buffer, which demotes the
    * whole aggregate to SortAggregate over the full cache table.
    */
  def listQueryCache(cache: DataFrame): DataFrame = {
    // best name = the MIN-rank row per query (PATCH stores caller rows
    // verbatim, so rank 1 may be absent or duplicated); ties broken by
    // name via a window over the LISTING-sized candidate set (≈ one row
    // per query), never the cache table
    // bcast-ok: one row per cached query — the query cache is LRU-capped
    // (C1), never corpus-grained
    val minRank = cache.groupBy(col("query")).agg(min(col("rank")).as("__top_rank"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query")).orderBy(col("name"))
    val top = cache.join(broadcast(minRank), Seq("query"))
      .filter(col("rank") === col("__top_rank"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(col("query"), col("name").as("top_name"))
    cache.groupBy(col("query"))
      .agg(
        count(lit(1)).as("n_results"),
        max(col("score")).as("top_score"))
      .join(top, Seq("query"), "left_outer")
  }

  /** `GET /Server/Models` with the allow/deny filter (P5,
    * `ServerController.cs:36-57`, `AIProvider.cs:196-216`): distinct
    * models in use (U1), regex allowlist ∧ ¬denylist.
    */
  def models(domain: Domain, allow: String = ".*", deny: String = "^$"): DataFrame =
    domain.embeddings.select(col("model")).distinct()
      .filter(regexp_like(col("model"), lit(allow)) &&
        !regexp_like(col("model"), lit(deny)))

  /** `GET /Server/Stats` + `Database/Size` (`ServerController.cs:36-119`,
    * `DatabaseHelper.cs:291-397`): row counts and byte-size estimates per
    * table (C5) — one aggregate per table, unioned.
    */
  def stats(domain: Domain): DataFrame = {
    def one(name: String, df: DataFrame, sizeExpr: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("rows"), coalesce(sum(sizeExpr), lit(0L)).as("approx_bytes"))
        .withColumn("table_name", lit(name))
    one("entities", domain.entities,
      (length(col("name")) + aggregate(map_values(col("attributes")),
        lit(0), (a, v) => a + length(v))).cast("long"))
      .unionByName(one("datapoints", domain.datapoints,
        (length(col("name")) + length(col("hash"))).cast("long")))
      .unionByName(one("embeddings", domain.embeddings,
        (size(col("embedding")) * 4 + length(col("model"))).cast("long")))
      .select("table_name", "rows", "approx_bytes")
  }
}
