package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.storage.StorageLevel

/** The registry harness every runner shares: the SPARK_GRAFT_ONLY /
  * SPARK_GRAFT_TIER selection over Bench's and Verify's name lists, the
  * per-entry release, the JSON escaper and the end-of-run memo drop. */
class HarnessSpec extends SparkSpec {

  private val benchNames = Harness.entries.keySet ++ Bench.layoutProbes
  private val verifyNames = SparkEntry.queries.keySet

  test("selection: unset or blank values select everything") {
    for (names <- Seq(benchNames, verifyNames)) {
      assert(Harness.selection(None, None, names).isEmpty)
      assert(Harness.selection(Some(" , "), Some(""), names).isEmpty)
    }
  }

  test("selection: an ONLY subset selects exactly the named entries") {
    val only = Some("q41_text_stats, q47_ngram_jaccard,")
    val want = Some(Set("q41_text_stats", "q47_ngram_jaccard"))
    assert(Harness.selection(only, None, benchNames) == want)
    assert(Harness.selection(only, None, verifyNames) == want)
    assert(Harness.selection(Some("b70_search_parquet"), None, benchNames) ==
      Some(Set("b70_search_parquet")))
    // ONLY and TIER together select the names both admit
    val core = Queries.coreTier.min
    assert(Harness.selection(Some(s"$core,q41_text_stats"), Some("core"), verifyNames) ==
      Some(Set(core, "q41_text_stats").filter(Queries.coreTier)))
  }

  test("selection: TIER=core is the core tier plus the bench-only names with a core id") {
    val coreIds = Queries.coreTier.map(Queries.queryId)
    val benchOnly = (Queries.benchOnly.map(_._1) ++ Bench.layoutProbes)
      .filter(n => Queries.queryIdOpt(n).exists(coreIds.contains))
    assert(benchOnly.nonEmpty)
    assert(Harness.selection(None, Some("core"), benchNames) ==
      Some(Queries.coreTier ++ benchOnly))
    assert(Harness.selection(None, Some("core"), verifyNames) == Some(Queries.coreTier))
  }

  test("selection: an unknown name or tier fails instead of running nothing") {
    val e = intercept[IllegalArgumentException](
      Harness.selection(Some("q41_text_stats,zz_typo,b70_search_parquet"), None, verifyNames))
    assert(e.getMessage.contains(
      "SPARK_GRAFT_ONLY names unregistered queries: b70_search_parquet,zz_typo"))
    val t = intercept[RuntimeException](Harness.selection(None, Some("full"), benchNames))
    assert(t.getMessage == "unknown SPARK_GRAFT_TIER 'full' (known: core)")
  }

  test("released: persisted frames and release hooks are gone afterwards, also on failure") {
    def run(fail: Boolean): (StorageLevel, Boolean) = {
      val df = spark.range(100).toDF("id").persist()
      var hookRan = false
      val outcome = scala.util.Try(Harness.released(spark) {
        df.count()
        graft.ops.Caches.onRelease(() => hookRan = true)
        if (fail) sys.error("entry failed")
      })
      assert(outcome.isFailure == fail)
      (df.storageLevel, hookRan)
    }
    assert(run(fail = false) == ((StorageLevel.NONE, true)))
    assert(run(fail = true) == ((StorageLevel.NONE, true)))
  }

  test("json: every ASCII char round-trips through Jackson") {
    val mapper = new ObjectMapper
    val all = (0 to 0x7f).map(_.toChar).mkString + "\"\\"
    (all +: all.map(_.toString)).foreach { s =>
      assert(mapper.readValue(Harness.json(s), classOf[String]) == s)
    }
  }

  test("dropArtifacts deletes the cluster memo directory, the next use rebuilds it, " +
      "and a failed build leaves none") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def memoDirs: Set[Path] = {
      val ds = Files.list(tmp)
      try ds.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-clusters-")).toSet
      finally ds.close()
    }
    def q78(): Seq[org.apache.spark.sql.Row] = Harness.released(spark)(
      Harness.entries("q78_dup_clusters")(spark, "/root/testdata/sf0.001").collect().toSeq)
    Queries.dropArtifacts() // a memo built by an earlier suite would be reused
    val before = memoDirs
    val first = q78()
    val built = memoDirs -- before
    assert(built.size == 1 && first.nonEmpty)
    Queries.dropArtifacts()
    assert(built.forall(d => !Files.exists(d)))
    assert(q78() == first)
    val rebuilt = memoDirs -- before
    assert(rebuilt.size == 1 && rebuilt != built)
    Queries.dropArtifacts()
    assert(rebuilt.forall(d => !Files.exists(d)))
    intercept[org.apache.spark.sql.AnalysisException](
      Harness.entries("q78_dup_clusters")(spark, "target/no-such-sf"))
    assert(memoDirs == before)
  }
}
