package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.EngineApi
import graft.core.{Domain, DomainSchemas, Tables}
import graft.search.SearchEngine

/** Continuous indexing: the reference Indexer's main loop (watch a
  * directory, re-index what changed — `src/Indexer/Calls.cs:313-435` +
  * `Scripts/example.py`) as ONE streaming pipeline: file-corpus stream →
  * per-micro-batch diff-driven upsert ([[EngineApi.upsertEntities]]: only
  * created/changed texts re-embed) → versioned domain snapshot.
  *
  * Snapshots: each micro-batch writes `v<batchId>` under the domain root
  * and then atomically flips the `_CURRENT` pointer file — readers always
  * see a complete snapshot (poor-man's snapshot isolation; a table format
  * with transactional commit would replace this wholesale).
  *
  * Caveat carried over from Spark's file source: it tracks files by PATH —
  * new files stream in, but in-place MODIFICATIONS are not replayed and
  * deletions are not observed. Same as the reference's Created event;
  * Changed/Deleted need the periodic reconcile pass (session anti-join,
  * `EngineApi.sessionFinalize`) the reference also runs.
  */
object IndexPipeline {

  def currentVersion(domainDir: String): Option[String] = {
    val p = Paths.get(domainDir, "_CURRENT")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  def readCurrentDomain(spark: SparkSession, domainDir: String): Option[Domain] =
    currentVersion(domainDir).map(v => Tables.readDomain(spark, s"$domainDir/$v"))

  /** Turn a (filename, title, text) corpus batch into document rows. */
  private def asDocs(batch: DataFrame): DataFrame =
    batch.select(
      xxhash64(col("filename")).as("doc_id"),
      when(length(col("text")) > 0, concat_ws("\n", col("title"), col("text")))
        .otherwise(col("title")).as("text"),
      lit("und").as("lang"),
      col("filename").as("source"))

  /** Every micro-batch is one upsert into the current snapshot — the
    * empty domain before the first — so the first index and each
    * incremental one share a single body.
    * `settings.parallelEmbeddingsPrefetch` routes the S4 batch placement
    * inside that upsert's embed stage (`SearchdomainHelper.cs:61-93`:
    * sequential per-model prefetch vs Parallel.ForEach). StreamingSpec
    * pins that both arms produce identical snapshots across incremental
    * rounds.
    */
  def start(
      spark: SparkSession,
      srcDir: String,
      domainDir: String,
      checkpoint: String,
      models: Seq[String],
      dim: Int,
      triggerSpec: String = "fileupdate",
      settings: graft.core.DomainSettings = graft.core.DomainSettings()): StreamingQuery = {
    Triggers.fileCorpusStream(spark, srcDir).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Triggers.forSpec(triggerSpec))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val docs = asDocs(batch)
          val current = readCurrentDomain(spark, domainDir)
            .getOrElse(DomainSchemas.emptyDomain(spark))
          val merged = EngineApi.upsertEntities(spark, current,
            SearchEngine.docEntities(docs), SearchEngine.docDatapoints(docs),
            models, dim, settings)
          val version = s"v$batchId"
          Tables.writeDomain(merged, s"$domainDir/$version")
          Files.createDirectories(Paths.get(domainDir))
          // write-to-temp + ATOMIC_MOVE: truncate-then-write would expose
          // an empty/partial pointer to a concurrent reader
          val tmp = Paths.get(domainDir, s"_CURRENT.tmp$batchId")
          Files.writeString(tmp, version,
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
            StandardOpenOption.WRITE)
          Files.move(tmp, Paths.get(domainDir, "_CURRENT"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        () // foreachBatch requires (Dataset[Row], Long) => Unit
      }
      .start()
  }
}
