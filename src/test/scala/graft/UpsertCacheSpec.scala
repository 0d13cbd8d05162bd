package graft

import org.apache.spark.sql.functions._

import graft.ops.{CacheOps, Upsert}

/** Pins the diff/merge and cache-table semantics against tiny hand-checked
  * fixtures (reference behavior: SearchdomainHelper.cs:148-343,
  * CacheHelper.cs:44-137, EntityController.cs:163-199, Searchdomain.cs:185-348).
  */
class UpsertCacheSpec extends SparkSpec {
  import spark.implicits._

  test("diff buckets rows by key presence and hash change") {
    val existing = Seq(("a", "h1"), ("b", "h2"), ("c", "h3")).toDF("name", "hash")
    val incoming = Seq(("b", "h2"), ("c", "hX"), ("d", "h4")).toDF("name", "hash")
    val got = Upsert.diff(existing, incoming, Seq("name"), "hash")
      .select("name", "bucket").as[(String, String)].collect().toMap
    assert(got === Map("a" -> "deleted", "b" -> "unchanged", "c" -> "changed", "d" -> "created"))
  }

  test("attributeDiff buckets map entries added/deleted/updated/unchanged") {
    val oldA = Seq((1L, Map("k1" -> "v1", "k2" -> "v2"))).toDF("id", "attrs")
    val newA = Seq((1L, Map("k2" -> "vX", "k3" -> "v3"))).toDF("id", "attrs")
    val got = Upsert.attributeDiff(oldA, newA, "id", "attrs")
      .select("attr_key", "bucket").as[(String, String)].collect().toMap
    assert(got === Map("k1" -> "deleted", "k2" -> "updated", "k3" -> "added"))
  }

  test("storeSyncDiff yields the reference MERGE buckets") {
    val cache = Seq(("c1", "m1", 10L), ("c1", "m2", 20L), ("c2", "m1", 30L))
      .toDF("key", "model", "v")
    val store = Seq(("c1", "m1", 10L), ("c1", "m3", 5L), ("c2", "m1", 31L))
      .toDF("key", "model", "v")
    val got = Upsert.storeSyncDiff(cache, store, "key", "model", "v")
      .select(concat_ws("/", col("cache_key"), col("model_key")), col("bucket"))
      .as[(String, String)].collect().toMap
    assert(got === Map("c1/m1" -> "unchanged", "c1/m2" -> "model_added",
      "c1/m3" -> "model_removed", "c2/m1" -> "changed"))
  }

  test("sessionFinalize deletes exactly the non-accumulated keys") {
    val existing = Seq("a", "b", "c", "d").toDF("name")
    val acc = Seq("b", "d", "b").toDF("name") // duplicates across chunks are fine
    val doomed = Upsert.sessionFinalize(existing, acc, Seq("name"))
      .as[String].collect().sorted
    assert(doomed === Array("a", "c"))
  }

  test("deleteCascade anti-joins every dependent table") {
    val parent = Seq((1L, "x"), (2L, "y")).toDF("id", "p")
    val child = Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("cid", "fk")
    val victims = Seq(1L).toDF("id")
    val out = Upsert.deleteCascade(
      Seq(("parent", parent, "id"), ("child", child, "fk")), victims, "id").toMap
    assert(out("parent").count() === 1L && out("child").count() === 1L)
  }

  test("lruTrim keeps the newest rows per key, deterministic on ties") {
    val cache = Seq(("q", 1L, 100L), ("q", 2L, 300L), ("q", 3L, 200L), ("q", 4L, 300L))
      .toDF("key", "id", "last_access")
    val kept = CacheOps.lruTrim(cache, Seq("key"), col("last_access"), col("id"), 2)
      .select("id").as[Long].collect().sorted
    assert(kept === Array(2L, 4L)) // both at 300; id asc tie-break
  }

  test("query-cache probe returns the stored truncated list regardless of topN") {
    val cache = Seq(("q1", 1L, "a"), ("q1", 2L, "b")).toDF("query", "rank", "name")
    val requests = Seq(("q1", 50), ("q2", 50)).toDF("query", "topn")
    val probed = CacheOps.probe(requests, cache, "query")
    assert(probed.filter(col("query") === "q1").count() === 2L) // NOT 50
    assert(probed.filter(col("query") === "q2" && col("rank").isNull).count() === 1L)
  }

  test("sortedInsert ranks the union by score desc then name") {
    val cached = Seq(("q", "a", 0.9), ("q", "b", 0.5)).toDF("query", "name", "score")
    val ins = Seq(("q", "c", 0.7)).toDF("query", "name", "score")
    val got = CacheOps.sortedInsert(cached, ins, Seq("query"))
      .orderBy("rank").select("name").as[String].collect()
    assert(got === Array("a", "c", "b"))
  }

  test("reconcile removes changed+deleted entries then reinserts fresh scores") {
    val cache = Seq(("q", "a", 0.9), ("q", "b", 0.5), ("q", "gone", 0.8))
      .toDF("query", "name", "score")
    val changes = Seq(("q", "b", 0.95)).toDF("query", "name", "score")
    val deletes = Seq("gone").toDF("name")
    val got = CacheOps.reconcile(cache, changes, deletes, "query")
      .orderBy("rank").select("name", "score").as[(String, Double)].collect()
    assert(got === Array(("b", 0.95), ("a", 0.9)))
  }

  test("invalidate drops exactly the changed domains' caches") {
    val cache = Seq(("d1", "q1", "a"), ("d1", "q2", "b"), ("d2", "q1", "c"))
      .toDF("searchdomain", "query", "name")
    val changes = Seq("d1").toDF("searchdomain")
    val kept = CacheOps.invalidate(cache, changes, "searchdomain")
      .select("name").as[String].collect().toSeq
    assert(kept == Seq("c"))
  }

  test("maintain: reconcile arm vs whole-cache invalidate arm") {
    val cache = Seq(("q", "a", 0.9), ("q", "b", 0.5)).toDF("query", "name", "score")
    val changes = Seq(("q", "b", 0.95)).toDF("query", "name", "score")
    val deletes = spark.emptyDataset[String].toDF("name")
      .withColumn("query", lit("q")).select("query", "name")
    val rec = CacheOps.maintain(cache, changes, deletes, "query", cacheReconciliation = true)
    assert(rec.count() == 2) // reconciled list survives
    val inv = CacheOps.maintain(cache, changes, deletes, "query", cacheReconciliation = false)
    assert(inv.count() == 0) // any change -> whole cache dropped
    val noop = CacheOps.maintain(cache, changes.limit(0), deletes.limit(0),
      "query", cacheReconciliation = false)
    assert(noop.count() == 2) // no changes -> cache intact
  }

  test("maintain's invalidate arm decides local changes and deletes with no job") {
    val cache = Seq(("q", "a", 0.9), ("q", "b", 0.5)).toDF("query", "name", "score")
    val changes = Seq(("q", 1L)).toDF("query", "doc").select(col("doc").cast("string").as("name"))
    val none = Seq.empty[String].toDF("name")
    def run(c: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      jobsDuring(CacheOps.maintain(cache, c, d, "query", cacheReconciliation = false).collect())
    val (dropped, j1) = run(changes, none)
    val (deleted, j2) = run(none, changes)
    val (kept, j3) = run(none, none)
    assert(dropped.isEmpty && deleted.isEmpty && kept.length == 2)
    assert(Seq(j1, j2, j3) == Seq(0, 0, 0))
  }
}
