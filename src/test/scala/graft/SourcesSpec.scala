package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.search.SearchEngine
import graft.sources.{FileCorpus, JsonlCorpus}

/** Batch sources and the P1 searchdomain predicate: the file-corpus
  * directory read, and partition pruning on the domain tables' partition
  * column (the reference's `id_searchdomain` covering indexes become
  * directory pruning at the parquet reader).
  */
class SourcesSpec extends SparkSpec {

  test("FileCorpus.read: first line = title, rest = text, name from path") {
    val dir = java.nio.file.Paths.get(tempDir("corpus-"))
    Files.writeString(dir.resolve("one.txt"), "Title One\nbody a\nbody b")
    Files.writeString(dir.resolve("two.txt"), "Only title, no body")
    val rows = FileCorpus.read(spark, dir.toString).orderBy("filename")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("one.txt", "Title One", "body a\nbody b"),
      ("two.txt", "Only title, no body", "")))
  }

  test("JsonlCorpus: schema-enforced read, malformed lines quarantined not fatal") {
    import spark.implicits._
    val dir = tempDir("jsonl-")
    Files.writeString(java.nio.file.Paths.get(dir, "shard-0.jsonl"),
      """{"doc_id": 1, "text": "alpha doc", "lang": "en", "source": "web"}
        |{"doc_id": 2, "text": "beta doc", "lang": "de", "source": "web"}
        |{not json at all
        |{"doc_id": 3, "text": "gamma", "lang": "en", "source": "news"}
        |""".stripMargin)
    // no persist required on either path — the quarantine side must not
    // trip Spark's corrupt-record-column-only restriction
    val docs = JsonlCorpus.read(spark, dir)
    assert(docs.columns.toSeq == Seq("doc_id", "text", "lang", "source"))
    assert(docs.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val bad = JsonlCorpus.quarantine(spark, dir).as[String].collect()
    assert(bad.toSeq == Seq("{not json at all"))
  }

  test("JsonlCorpus: read/quarantine partition every line; count() works") {
    import spark.implicits._
    val dir = tempDir("jsonl-")
    Files.writeString(java.nio.file.Paths.get(dir, "shard-0.jsonl"),
      """{"doc_id": 1, "text": "good", "lang": "en", "source": "web"}
        |{"doc_id": "abc", "text": "valid json, fails schema", "lang": "en", "source": "web"}
        |garbage line
        |[]
        |
        |{"doc_id": 2, "text": "also good", "lang": "de", "source": "web"}
        |""".stripMargin)
    // regression (ADVICE r4): count() prunes the required schema down to
    // the filter column — the json-datasource shape threw
    // QUERY_ONLY_CORRUPT_RECORD_COLUMN here
    assert(JsonlCorpus.read(spark, dir).count() == 2)
    assert(JsonlCorpus.quarantine(spark, dir).count() == 3)
    // regression (ADVICE r4): the schema-coercion failure must land in
    // quarantine, not silently vanish from both views
    val bad = JsonlCorpus.quarantine(spark, dir).as[String].collect().toSet
    assert(bad.contains("""{"doc_id": "abc", "text": "valid json, fails schema", "lang": "en", "source": "web"}"""))
    assert(bad.contains("garbage line"))
    assert(bad.contains("[]")) // non-object JSON: rejected, not dropped
    // exact partition of the 5 non-blank lines
    val good = JsonlCorpus.read(spark, dir).select("doc_id").as[Long].collect().sorted
    assert(good.toSeq == Seq(1L, 2L) && bad.size == 3)
  }

  test("P1: searchdomain filter prunes partitions at the parquet reader") {
    import spark.implicits._
    val mk = (name: String, ids: Range) => SearchEngine.buildDomain(spark,
      ids.map(i => (i.toLong, s"text of doc $i in $name", "en", "src"))
        .toDF("doc_id", "text", "lang", "source"),
      Seq("stub:alpha"), dim = 4, domainName = name)
    val a = mk("domain_a", 0 until 5)
    val b = mk("domain_b", 100 until 110)
    val dir = tempDir("domains-")
    Tables.writeDomain(graft.core.Domain(
      a.entities.unionByName(b.entities),
      a.datapoints.unionByName(b.datapoints),
      a.embeddings.unionByName(b.embeddings)), dir)

    val pruned = Tables.readDomain(spark, dir).embeddings
      .filter(col("searchdomain") === "domain_a")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("(searchdomain = domain_a)") ||
      scan.contains("searchdomain#") && scan.contains("= domain_a"), scan)
    // only domain_a rows survive without any text-side filtering
    assert(pruned.count() == 10) // 5 docs x 2 datapoints x 1 model

    // the domain-scoped load isolates search end-to-end: searching
    // domain_a over the shared table set must neither see nor score
    // domain_b's entities (the reference addresses every call by name)
    val domA = Tables.readDomain(spark, dir, "domain_a")
    val hits = SearchEngine.search(domA,
      SearchEngine.queryEmbeddings(spark, domA, "text of doc", 4), 100)
      .select("name").as[String].collect()
    assert(hits.length == 5 && hits.forall(n => (0 until 5).map(i => s"doc_$i").contains(n)),
      hits.mkString(","))
  }
}
