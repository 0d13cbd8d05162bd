package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-indexing diff/merge operators — the reference's upsert path
  * re-expressed as set-at-a-time DataFrame transforms.
  *
  * Reference (LD-Reborn/embeddingsearch):
  *   - entity/datapoint diff by name + SHA-256 content hash:
  *     `src/Server/Helper/SearchdomainHelper.cs:208-343`
  *   - attribute diff (updated/deleted/added):
  *     `src/Server/Helper/SearchdomainHelper.cs:148-175`
  *   - store sync MERGE buckets: `src/Server/Helper/CacheHelper.cs:44-137`
  *   - session anti-join finalize: `src/Server/Controllers/EntityController.cs:163-199`
  *   - delete-by-entity cascades: `src/Server/Helper/DatabaseHelper.cs:196-237`
  *
  * Scale shape: every operator is a single hash-partitioned join keyed by the
  * natural merge key — full-outer for diffs, left-anti for deletes. No
  * driver-side iteration, no per-row statements; at 100 TB each diff is one
  * shuffle (or zero, if both sides are bucketed by the key).
  */
object Upsert {

  /** J5: CDC-style diff of two snapshots keyed by `keyCols`, change detection
    * on `hashCol` (the reference compares base64(SHA-256(text)) —
    * `SearchdomainHelper.cs:229-245`). Adds a `bucket` column:
    * created / deleted / changed / unchanged. All non-key columns are kept
    * with `old_` / `new_` prefixes.
    */
  def diff(existing: DataFrame, incoming: DataFrame, keyCols: Seq[String], hashCol: String): DataFrame = {
    // explicit presence markers: classifying on hash nullness would
    // misread a legitimately-NULL hash on a present row as row absence
    val oldSide = existing.select(
      keyCols.map(col) :+ col(hashCol).as("old_hash"): _*)
      .withColumn("__old_present", lit(true))
    val newSide = incoming.select(
      keyCols.map(col) :+ col(hashCol).as("new_hash"): _*)
      .withColumn("__new_present", lit(true))
    oldSide.join(newSide, keyCols, "full_outer")
      .withColumn("bucket",
        when(col("__old_present").isNull, "created")
          .when(col("__new_present").isNull, "deleted")
          .when(!(col("old_hash") <=> col("new_hash")), "changed")
          .otherwise("unchanged"))
      .drop("__old_present", "__new_present")
  }

  /** J6: attribute diff over `map<string,string>` columns. Both sides are
    * exploded to (id, key, value) rows and full-outer joined on (id, key);
    * the bucket mirrors `SearchdomainHelper.cs:148-175`:
    * added / deleted / updated / unchanged.
    */
  def attributeDiff(oldAttrs: DataFrame, newAttrs: DataFrame, idCol: String, attrsCol: String): DataFrame = {
    def exploded(df: DataFrame, valName: String, marker: String): DataFrame =
      df.select(col(idCol), explode(col(attrsCol)).as(Seq("attr_key", valName)))
        .withColumn(marker, lit(true))
    exploded(oldAttrs, "old_value", "__old_present")
      .join(exploded(newAttrs, "new_value", "__new_present"),
        Seq(idCol, "attr_key"), "full_outer")
      .withColumn("bucket",
        when(col("__old_present").isNull, "added")
          .when(col("__new_present").isNull, "deleted")
          .when(!(col("old_value") <=> col("new_value")), "updated")
          .otherwise("unchanged"))
      .drop("__old_present", "__new_present")
  }

  /** S6/J8: cache↔store sync diff on a two-part key (content key + model
    * key), with the reference's five MERGE buckets
    * (`CacheHelper.cs:62-126`): entry created / entry deleted /
    * value (position) changed / unchanged. Model-set add/remove both
    * directions (U3, `CacheHelper.cs:109-125`) fall out of the same join:
    * a (key, model) present on only one side IS the set difference.
    */
  def storeSyncDiff(
      cache: DataFrame,
      store: DataFrame,
      keyCol: String,
      modelCol: String,
      valueCol: String): DataFrame = {
    // explicit presence markers (same invariant as [[diff]]): bucketing on
    // value nullness would misread a present row with a NULL value as an
    // absent row
    val c = cache.select(col(keyCol).as("cache_key"), col(modelCol).as("model_key"),
      col(valueCol).as("cache_value"))
      .withColumn("__cache_present", lit(true))
    val s = store.select(col(keyCol).as("cache_key"), col(modelCol).as("model_key"),
      col(valueCol).as("store_value"))
      .withColumn("__store_present", lit(true))
    c.join(s, Seq("cache_key", "model_key"), "full_outer")
      .withColumn("bucket",
        when(col("__store_present").isNull, "model_added")   // in cache, not yet stored
          .when(col("__cache_present").isNull, "model_removed") // stored, evicted from cache
          .when(!(col("cache_value") <=> col("store_value")), "changed")
          .otherwise("unchanged"))
      .drop("__cache_present", "__store_present")
  }

  /** J7/U4/P6: session finalize — rows of `existing` whose key is absent from
    * `accumulated` (the union of all session chunks) are the deletions
    * (`EntityController.cs:163-199`). Returns the doomed rows.
    */
  def sessionFinalize(existing: DataFrame, accumulated: DataFrame, keyCols: Seq[String]): DataFrame =
    existing.join(accumulated.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")

  /** J9: delete-by-entity cascade — rewrite each dependent table without the
    * victims' rows, FK order preserved by construction (each table is
    * anti-joined independently; `DatabaseHelper.cs:196-237`'s chunked DELETE
    * loop becomes one anti-join per table).
    */
  def deleteCascade(
      tables: Seq[(String, DataFrame, String)], // (name, table, fk column)
      victims: DataFrame,
      victimKey: String): Seq[(String, DataFrame)] = {
    val keys = victims.select(col(victimKey).as("__victim_key")).distinct()
    tables.map { case (name, df, fk) =>
      name -> df.join(keys, df(fk) === col("__victim_key"), "left_anti")
    }
  }
}
