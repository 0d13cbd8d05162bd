package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._

import graft.core.{HttpEmbedder, ProviderConfig, StubEmbedder}
import graft.api.EngineApi
import graft.search.SearchEngine

/** The real HTTP provider driven end-to-end against an IN-PROCESS fixture
  * server (JDK com.sun.net.httpserver — zero egress, zero new deps). The
  * fixture computes the SAME deterministic stub vectors server-side, so
  * "HTTP path == stub path" is an exact value equality over the whole
  * domain build, not a shape check. Both published wire shapes are
  * served: ollama /api/embed ($.embeddings[*]) and OpenAI /v1/embeddings
  * ($.data[*].embedding) — the two JSONPaths of AIProvider.cs:110-126.
  */
class HttpEmbedderSpec extends SparkSpec {

  /** Start a provider fixture; hands the base endpoint to `f`. The
    * fixture re-prefixes the scheme onto the model name it receives —
    * the full model URI is the stub's seed, and a real provider likewise
    * knows its own identity. `seen` collects every text it embedded.
    */
  private def withServer(dim: Int, seen: java.util.Queue[String] =
      new java.util.concurrent.ConcurrentLinkedQueue[String])(f: String => Unit): Unit = {
    val mapper = new ObjectMapper
    val stub = new StubEmbedder(dim)
    def handler(scheme: String)(wrap: (Seq[Array[Float]], ObjectMapper) => String): HttpHandler =
      new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          val body = mapper.readTree(new String(
            ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
          val model = scheme + ":" + body.get("model").asText()
          val texts = body.get("input").elements().asScala.toSeq.map(_.asText())
          texts.foreach(seen.add)
          val vecs = texts.map(stub.embed(model, _))
          val resp = wrap(vecs, mapper).getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, resp.length)
          val os = ex.getResponseBody
          try os.write(resp) finally os.close()
        }
      }
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)
    server.createContext("/api/embed", handler("ollama") { (vecs, m) =>
      val root = m.createObjectNode()
      val arr = root.putArray("embeddings")
      vecs.foreach { v => val a = arr.addArray(); v.foreach(a.add) }
      m.writeValueAsString(root)
    })
    server.createContext("/v1/embeddings", handler("openai") { (vecs, m) =>
      val root = m.createObjectNode()
      val arr = root.putArray("data")
      vecs.foreach { v =>
        val a = arr.addObject().putArray("embedding"); v.foreach(a.add)
      }
      m.writeValueAsString(root)
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally {
      server.stop(0)
      // stop(0) leaves the executor's threads running
      pool.shutdownNow()
    }
  }

  test("ollama wire shape: HTTP vectors == stub vectors, batched POST") {
    withServer(16) { base =>
      val http = new HttpEmbedder(ProviderConfig(base, dim = 16, batchSize = 4))
      val stub = new StubEmbedder(16)
      val texts = (1 to 10).map(i => s"text number $i") :+ "δ unicode ♜"
      val got = http.embedBatch("ollama:bge-m3", texts)
      assert(got.size == texts.size)
      texts.lazyZip(got).foreach { (t, v) =>
        assert(v.toSeq == stub.embed("ollama:bge-m3", t).toSeq)
      }
    }
  }

  test("openai wire shape: $.data[*].embedding extraction matches the stub") {
    withServer(12) { base =>
      val http = new HttpEmbedder(ProviderConfig(base, dim = 12))
      val stub = new StubEmbedder(12)
      val v = http.embed("openai:text-embedding-3-small", "hello world")
      assert(v.toSeq == stub.embed("openai:text-embedding-3-small", "hello world").toSeq)
    }
  }

  test("unknown scheme and bare model names fail loudly") {
    val http = new HttpEmbedder(ProviderConfig("http://127.0.0.1:1", dim = 4))
    intercept[IllegalArgumentException](http.embed("mystery:model", "x"))
    intercept[IllegalArgumentException](http.embed("no-colon-model", "x"))
  }

  test("wrong vector dimension from the provider is rejected") {
    withServer(8) { base =>
      // client configured for dim 6, fixture serves dim 8
      val http = new HttpEmbedder(ProviderConfig(base, dim = 6))
      intercept[IllegalArgumentException](http.embed("ollama:bge-m3", "x"))
    }
  }

  test("batched mapPartitions source over HTTP equals the stub source, and buildDomain is value-identical") {
    withServer(8) { base =>
      val cfg = ProviderConfig(base, dim = 8, batchSize = 16)
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(30)
      val models = Seq("ollama:bge-m3", "openai:text-embedding-3-small")

      val pairs = docs.select(col("text")).distinct()
        .crossJoin(spark.createDataFrame(models.map(Tuple1(_))).toDF("model"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("model"), col("text"), col("embedding").cast("array<float>"))
          .orderBy("model", "text").collect().map(_.toSeq).toSeq
      assert(rows(StubEmbedder.embedBatched(spark, pairs, new HttpEmbedder(cfg))) ==
        rows(StubEmbedder.embedBatched(spark, pairs, new StubEmbedder(8))))

      // whole-domain assembly: identical entities/datapoints/embeddings
      val viaHttp = SearchEngine.buildDomain(spark, docs, models, 8, "docs",
        new HttpEmbedder(cfg), parallelPrefetch = true)
      val viaStub = SearchEngine.buildDomain(spark, docs, models, 8)
      def embRows(d: graft.core.Domain) = d.embeddings
        .orderBy("entity_id", "datapoint_id", "model")
        .collect().map(_.toSeq).toSeq
      assert(embRows(viaHttp) == embRows(viaStub))
      assert(viaHttp.datapoints.count() == viaStub.datapoints.count())
    }
  }

  test("index→search end-to-end through the HTTP provider equals the stub path") {
    import spark.implicits._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    withServer(8, seen) { base =>
      val cfg = ProviderConfig(base, dim = 8, batchSize = 16)
      val http = new HttpEmbedder(cfg)
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(40)
      val models = Seq("ollama:bge-m3", "openai:text-embedding-3-small")
      val empty = Seq.empty[(String, Long, String, Double)]
        .toDF("query", "rank", "name", "score")
      val q = "what is a graft query"

      // the full production composition: buildDomain AND the query-time
      // embedding behind the cached query endpoint both flow through the
      // HTTP provider — no stub anywhere in the pipeline under test
      val domain = SearchEngine.buildDomain(spark, docs, models, 8, "docs",
        http, parallelPrefetch = true)
      val got = EngineApi.queryCached(spark, domain, empty, q, 10, http)._1
        .collect().map(_.toSeq).toSeq
      assert(seen.contains(q), "the query text never reached the provider")

      // reference arm: the same pipeline entirely on the stub
      val sDomain = SearchEngine.buildDomain(spark, docs, models, 8)
      val want = EngineApi.queryCached(spark, sDomain, empty, q, 10, 8)._1
        .collect().map(_.toSeq).toSeq

      assert(got.size == 10)
      assert(got == want)
    }
  }

  test("incremental upsert through the HTTP provider equals the stub path row for row") {
    import spark.implicits._
    // texts longer than the 8-token title, so title and body differ
    def docsOf(ids: Seq[Long], version: String) = ids.map(i =>
      (i, s"document $i $version about topic ${i % 3} with several more words after it",
        "en", "web")).toDF("doc_id", "text", "lang", "source")
    val models = Seq("ollama:bge-m3", "openai:text-embedding-3-small")
    val stored = SearchEngine.buildDomain(spark, docsOf(1L to 20L, "first"), models, 8)
      .persisted()
    // docs 1-5 edited, doc 6 re-sent unchanged, docs 21-25 new
    val batch = docsOf(1L to 5L, "edited")
      .unionByName(docsOf(Seq(6L), "first"))
      .unionByName(docsOf(21L to 25L, "first"))
    def tables(d: graft.core.Domain) = Seq(
      d.entities.orderBy("entity_id"),
      d.datapoints.orderBy("datapoint_id"),
      d.embeddings.orderBy("datapoint_id", "model"))
      .map(_.collect().map(_.toSeq).toSeq)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    withServer(8, seen) { base =>
      val http = new HttpEmbedder(ProviderConfig(base, dim = 8, batchSize = 16))
      val viaHttp = EngineApi.upsertEntities(spark, stored,
        SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch),
        models, http, graft.core.DomainSettings())
      val viaStub = EngineApi.upsertEntities(spark, stored,
        SearchEngine.docEntities(batch), SearchEngine.docDatapoints(batch), models, 8)
      val embeddings = viaHttp.embeddings.collect()
      // only the 20 created/changed texts reached the provider, per model
      assert(seen.size == 20 * models.size)
      assert(embeddings.length == 25 * 2 * models.size)
      assert(tables(viaHttp) == tables(viaStub))
    }
  }

  test("JSONPath interpreter covers both provider grammars") {
    val m = new ObjectMapper
    val body = m.readTree(
      """{"embeddings":[[1.0,2.0],[3.0,4.0]],
         |"data":[{"embedding":[5.0]},{"embedding":[6.0]}]}""".stripMargin)
    val e = HttpEmbedder.extractVectors(body, "$.embeddings[*]")
    assert(e.map(_.get(0).doubleValue()) == Seq(1.0, 3.0))
    val d = HttpEmbedder.extractVectors(body, "$.data[*].embedding")
    assert(d.map(_.get(0).doubleValue()) == Seq(5.0, 6.0))
    intercept[IllegalArgumentException](
      HttpEmbedder.extractVectors(body, "$.missing[*]"))
  }
}
