package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's three-tier cache machinery re-expressed as table
  * transforms (caches are Parquet tables with ordering columns, not process
  * state — SURVEY.md §2.8).
  *
  * Reference (LD-Reborn/embeddingsearch):
  *   - QueryCache with the truncated-result quirk: `src/Server/Searchdomain.cs:22,185-208`
  *     (the cache key is the query string ONLY — not topN — and a hit returns
  *     the stored, already-truncated list as-is)
  *   - LRU move-to-front / capacity trim: `src/Shared/LRUCache.cs:82-141,231-239`
  *   - reconciliation (incremental view maintenance of cached results):
  *     `src/Server/Searchdomain.cs:298-348`
  *   - sorted-insert into a cached result list: `src/Server/Searchdomain.cs:312-319`
  */
object CacheOps {

  /** O4: LRU capacity trim — keep the `capacity` most-recent rows per
    * partition key (`LRUCache.cs:231-239`). The recency column plays the
    * role of the linked-list position; ties broken by `tieBreak` for
    * determinism.
    */
  def lruTrim(cache: DataFrame, partitionCols: Seq[String], recency: Column,
      tieBreak: Column, capacity: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(recency.desc, tieBreak.asc)
    cache.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= capacity)
      .drop("__rn")
  }

  /** C1: query-cache probe. `requests` carries (queryCol, topN); `cache`
    * carries (queryCol, rank, name, score) — the STORED, already-truncated
    * result rows. A hit returns the cached rows as-is — even when the
    * request's topN exceeds the stored length (the reference quirk: the
    * cache is keyed by query string only, `Searchdomain.cs:185-189`).
    * Misses come back with null result columns so the caller can route them
    * to the engine.
    */
  def probe(requests: DataFrame, cache: DataFrame, queryCol: String): DataFrame =
    requests.join(cache, Seq(queryCol), "left_outer")

  /** O3: sorted-insert of new (score, name) rows into cached descending
    * result lists, as one re-rank over the union (`Searchdomain.cs:312-319`'s
    * binary insert, set-at-a-time). `cached` and `inserts` both carry
    * (groupCols..., name, score); output adds `rank` (1-based, score desc,
    * name asc on ties).
    */
  def sortedInsert(cached: DataFrame, inserts: DataFrame, groupCols: Seq[String]): DataFrame = {
    val all = cached.select((groupCols :+ "name" :+ "score").map(col): _*)
      .unionByName(inserts.select((groupCols :+ "name" :+ "score").map(col): _*))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(desc("score"), asc("name"))
    all.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** C2's settings toggle, CacheReconciliation = false
    * (`Searchdomain.cs:345-348`): instead of reconciling each cached list,
    * ANY entity change drops the domain's ENTIRE query cache. Set-at-a-time
    * form: keep a cached row only when its domain has no pending change —
    * an anti-join on the (tiny, broadcast) distinct changed-domain set, so
    * the cache table itself never shuffles.
    */
  def invalidate(cache: DataFrame, changes: DataFrame, domainCol: String): DataFrame =
    // bcast-ok: distinct searchdomain ids — the domain catalog is config-sized
    cache.join(broadcast(changes.select(col(domainCol)).distinct()),
      Seq(domainCol), "left_anti")

  /** The settings branch itself (`Searchdomain.cs:345-348`): reconcile
    * each cached list when CacheReconciliation is on, drop the whole
    * cache otherwise. `changes` carries (queryCol, name, score) fresh
    * scores for the reconcile arm; the invalidate arm only asks whether
    * `changes` or `deletes` holds a row. When both are local rows (their
    * optimized plans are local relations, as a request's batch is) it
    * answers on the driver with no Spark job: `cache` itself when neither
    * holds a row, else `cache` with no rows.
    */
  def maintain(
      cache: DataFrame,
      changes: DataFrame,
      deletes: DataFrame,
      queryCol: String,
      cacheReconciliation: Boolean): DataFrame =
    if (cacheReconciliation) reconcile(cache, changes, deletes, queryCol)
    else (Arms.localRelation(changes), Arms.localRelation(deletes)) match {
      case (Some(c), Some(d)) => if (c.data.isEmpty && d.data.isEmpty) cache else cache.limit(0)
      case _ =>
        // whole-cache drop: ANY change or delete empties this domain's
        // cache (the reference clears QueryCache wholesale) — expressed
        // as invalidate on a constant key so the empty-change case keeps
        // everything
        val touched = changes.select(lit(1).as("__dom"))
          .unionByName(deletes.select(lit(1).as("__dom")))
        invalidate(cache.withColumn("__dom", lit(1)), touched, "__dom")
          .drop("__dom")
    }

  /** C2: cache reconciliation for upserted entities
    * (`Searchdomain.cs:298-326`): for every cached query list, each changed
    * entity is REMOVED (old entry, any position) and its fresh score is
    * SORTED-INSERTED. Deleted entities are removed without re-insert
    * (`Searchdomain.cs:328-343`).
    *
    * `cache`:   (queryId, name, score) — exploded cached result rows
    * `changes`: (queryId, name, score) — fresh per-query scores for upserted
    *            entities (cross-scored against every cached query, exactly
    *            the reference's loop over `QueryCache`)
    * `deletes`: (name) — entities removed from the domain
    *
    * Returns (queryId, name, score, rank) — the reconciled lists. Note the
    * list may GROW past the original topN truncation (the reference
    * binary-inserts into the truncated list without re-trimming).
    */
  def reconcile(cache: DataFrame, changes: DataFrame, deletes: DataFrame,
      queryCol: String): DataFrame = {
    val survivors = cache
      .join(changes.select(col("name")).distinct(), Seq("name"), "left_anti")
      .join(deletes.select(col("name")).distinct(), Seq("name"), "left_anti")
    sortedInsert(survivors, changes, Seq(queryCol))
      .select(col(queryCol), col("name"), col("score"), col("rank"))
  }
}
