package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.Arms

/** Engine storage model (SURVEY.md §1.3): the reference's 5 MySQL tables
  * re-expressed as Parquet-backed DataFrames partitioned by `searchdomain`
  * (replacing the `id_searchdomain` covering indexes with partition pruning —
  * `src/Server/Migrations/DatabaseMigrations.cs:83-155`).
  *
  * entities:    searchdomain, entity_id, name, probmethod, attributes map<string,string>
  * datapoints:  searchdomain, entity_id, datapoint_id, name, probmethod,
  *              similaritymethod, hash (base64 SHA-256 of text, 44 chars)
  * embeddings:  searchdomain, entity_id, datapoint_id, model, embedding array<float>
  *
  * Two caches sit beside the three tables. The query cache is flat rows
  * (name, score double, rank bigint, query): one row per cached result,
  * ranked 1..n within its query, as [[graft.api.EngineApi.queryCached]],
  * `patchQueryCache` and `listQueryCache` read and write it. The
  * embedding cache is (key, model, value) rows, the shape
  * [[graft.ops.Upsert.storeSyncDiff]] diffs against its store.
  */
final case class Domain(
    entities: DataFrame,
    datapoints: DataFrame,
    embeddings: DataFrame) {

  def persisted(): Domain =
    Domain(entities.cache(), datapoints.cache(), embeddings.cache())

  /** The models in use (U1), sorted: one distinct collect per instance,
    * i.e. per version, on first use (not at load, so a commit runs no
    * extra job). */
  @transient private[graft] lazy val models: Seq[String] =
    embeddings.select(col("model")).where(col("model").isNotNull).distinct()
      .collect().map(_.getString(0)).toSeq.sorted

  @transient private lazy val snapshots =
    new java.util.concurrent.ConcurrentHashMap[Int, Option[DomainSnapshot]]()

  /** The search's driver-arm [[DomainSnapshot]] for query vectors of
    * width `dim`, or None above [[DomainSnapshot.cap]]`(dim)` embeddings:
    * built by one collect the first time it is asked for, then held by
    * this instance, so it lives and dies with this version of the domain.
    * Under `Arms.forcing("domainSnapshot")` every call answers None,
    * whether or not this instance holds a snapshot, and nothing is
    * memoized, so the forcing ends with its scope.
    * Every caller embeds with the provider that indexed the domain, so one
    * width, and one snapshot, is the rule.
    */
  private[graft] def snapshot(dim: Int): Option[DomainSnapshot] =
    if (Arms.isForced("domainSnapshot")) None
    else snapshots.computeIfAbsent(dim, d => DomainSnapshot.build(this, DomainSnapshot.cap(d)))
}

/** Per-domain settings (`SearchdomainController.cs:53-62`, `Searchdomain.cs:345-348`,
  * `SearchdomainModels.cs:98-107`): the query-cache capacity (reference
  * default 1,000,000 when unset/<=0), the reconcile-vs-invalidate
  * maintenance toggle, and the embeddings-prefetch parallelism toggle
  * (`SearchdomainHelper.cs:61-93`: per-model prefetch batches run
  * concurrently when set — mapped to the partitioning of the embed stage
  * inside [[graft.api.EngineApi.upsertEntities]]).
  */
final case class DomainSettings(
    queryCacheSize: Int = 1_000_000,
    cacheReconciliation: Boolean = true,
    parallelEmbeddingsPrefetch: Boolean = false) {
  def normalized: DomainSettings =
    if (queryCacheSize <= 0) copy(queryCacheSize = 1_000_000) else this
}

/** Canonical §1.3 table schemas — the contract every source/sink and the
  * empty-domain constructor share.
  */
object DomainSchemas {
  import org.apache.spark.sql.types._

  val entities: StructType = StructType(Seq(
    StructField("searchdomain", StringType),
    StructField("entity_id", LongType),
    StructField("name", StringType),
    StructField("probmethod", StringType),
    StructField("attributes", MapType(StringType, StringType))))

  val datapoints: StructType = StructType(Seq(
    StructField("searchdomain", StringType),
    StructField("entity_id", LongType),
    StructField("datapoint_id", LongType),
    StructField("name", StringType),
    StructField("probmethod", StringType),
    StructField("similaritymethod", StringType),
    StructField("hash", StringType)))

  val embeddings: StructType = StructType(Seq(
    StructField("searchdomain", StringType),
    StructField("entity_id", LongType),
    StructField("datapoint_id", LongType),
    StructField("model", StringType),
    StructField("embedding", ArrayType(FloatType))))

  /** `POST /Searchdomain` batch analogue: a new domain is three empty,
    * correctly-typed tables (the reference creates empty MySQL tables).
    */
  def emptyDomain(spark: SparkSession): Domain = {
    def empty(s: StructType) =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
    Domain(empty(entities), empty(datapoints), empty(embeddings))
  }
}

object Tables {
  /** Load one driver-generated testdata table. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Writes the three tables under `baseDir`, partitioned by
    * `searchdomain`. The writes run concurrently, one per thread of a pool
    * made for this call, each with the caller's thread-local Spark state
    * (job group, local properties, active session). The call returns when
    * all three have ended, and rethrows the first failure in table order
    * (entities, datapoints, embeddings); the pool's threads end with it.
    */
  def writeDomain(domain: Domain, baseDir: String): Unit = {
    val tables = Seq("entities" -> domain.entities, "datapoints" -> domain.datapoints,
      "embeddings" -> domain.embeddings)
    val spark = domain.entities.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size, r => {
      val t = new Thread(r, s"graft-write-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val writes = tables.map { case (name, df) =>
        org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(spark, pool) {
          df.write.mode("overwrite").partitionBy("searchdomain").parquet(s"$baseDir/$name")
        }
      }
      val failures = writes.flatMap(w => scala.util.Try(w.join()).failed.toOption)
      failures.headOption.foreach {
        case e: java.util.concurrent.CompletionException if e.getCause != null => throw e.getCause
        case e => throw e
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** The three tables under `baseDir`, read with the [[DomainSchemas]]
    * schemas rather than inferred from the files (an inference is a Spark
    * job per table). Each keeps the column order of an inferred read:
    * the data columns, then the partition column `searchdomain`.
    */
  def readDomain(spark: SparkSession, baseDir: String): Domain = {
    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(org.apache.spark.sql.types.StructType(
        schema.filterNot(_.name == "searchdomain") :+ schema("searchdomain")))
        .parquet(s"$baseDir/$name")
    Domain(read("entities", DomainSchemas.entities),
      read("datapoints", DomainSchemas.datapoints),
      read("embeddings", DomainSchemas.embeddings))
  }

  /** Domain-scoped load: the reference addresses every call by
    * searchdomain name; under the `partitionBy("searchdomain")` layout
    * this filter is partition PRUNING — only the named domain's
    * directories are listed and read, other domains cost nothing
    * (SourcesSpec pins PartitionFilters on the plan).
    */
  def readDomain(spark: SparkSession, baseDir: String, domainName: String): Domain = {
    val d = readDomain(spark, baseDir)
    Domain(
      d.entities.filter(col("searchdomain") === domainName),
      d.datapoints.filter(col("searchdomain") === domainName),
      d.embeddings.filter(col("searchdomain") === domainName))
  }

  /** Bucketed layout for the 100 TB case: all three tables bucketed (and
    * sorted) by `entity_id`, registered as catalog tables `<prefix>_*`.
    * A bucketed scan reports `HashPartitioning(entity_id)`, which
    * satisfies the clustered distribution of BOTH search aggregation
    * levels (level 1 groups by (entity_id, datapoint_id) — a superset of
    * the bucket key — and level 2 by entity_id) and of every
    * entity-keyed join, so the whole scoring pipeline after the
    * broadcast J1 join runs WITHOUT a single shuffle exchange
    * (BucketedDomainSpec pins this on the physical plan).
    */
  def writeDomainBucketed(
      domain: Domain,
      baseDir: String,
      tablePrefix: String,
      buckets: Int = 32): Unit = {
    def one(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite")
        .bucketBy(buckets, "entity_id")
        .sortBy("entity_id")
        .option("path", s"$baseDir/$name")
        .format("parquet")
        .saveAsTable(s"${tablePrefix}_$name")
    one(domain.entities, "entities")
    one(domain.datapoints, "datapoints")
    one(domain.embeddings, "embeddings")
  }

  def readDomainBucketed(spark: SparkSession, tablePrefix: String): Domain = Domain(
    spark.table(s"${tablePrefix}_entities"),
    spark.table(s"${tablePrefix}_datapoints"),
    spark.table(s"${tablePrefix}_embeddings"))
}
