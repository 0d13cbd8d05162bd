package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.EngineApi
import graft.core.{Domain, StubEmbedder, Tables}
import graft.ops.CacheOps
import graft.search.SearchEngine
import perfbench.Inputs.{Doc, Read, Write}

/** serve_mixed: one client in a closed loop (the next request is sent when
  * the previous one has returned) against a K=1 domain, driving the engine
  * only through its public functions. Requests come in epochs of cached
  * reads followed by one upsert batch; each batch is committed as a new
  * version directory, read back, the previous version dropped, and the
  * query cache maintained.
  */
object ServeMixed {
  val Models = Seq("stub:alpha", "stub:beta")
  val Dim = 32
  val TopN = 10
  val SetupReps = 5
  val WarmUpQueries = 8
  val WarmUpHits = 40

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType)))
  private val cacheSchema = StructType(Seq(StructField("name", StringType),
    StructField("score", DoubleType), StructField("rank", LongType),
    StructField("query", StringType)))

  private def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.lang, d.source)): _*),
      docSchema)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  private def load(spark: SparkSession, dir: Path): Domain = {
    val d = Tables.readDomain(spark, dir.toString).persisted()
    d.entities.count(); d.datapoints.count(); d.embeddings.count()
    d
  }

  private def release(d: Domain): Unit = {
    d.entities.unpersist(); d.datapoints.unpersist(); d.embeddings.unpersist()
  }

  /** Indexes `docs` into a domain, writes it, reads it back and holds it in
    * memory, `SetupReps` times anew; keeps the last. */
  private def setUp(spark: SparkSession, docs: DataFrame, work: Path,
      out: Report): (Domain, Path) = {
    var kept: Option[(Domain, Path)] = None
    val times = (1 to SetupReps).map { r =>
      kept.foreach { case (d, p) => release(d); deleteTree(p) }
      val dir = work.resolve(s"domain-$r")
      val t0 = System.nanoTime()
      Tables.writeDomain(SearchEngine.buildDomain(spark, docs, Models, Dim), dir.toString)
      kept = Some((load(spark, dir), dir))
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s", Stats.median(times))
    out.note(f"set-up times: ${times.map(t => f"$t%.2f").mkString(" ")} s")
    kept.get
  }

  private def rows(rs: Array[Row]): Vector[(String, Double)] =
    rs.toVector.map(r => (r.getAs[String]("name"), r.getAs[Double]("score")))

  private def titleOf(text: String): String =
    text.split("\\s+").filter(_.nonEmpty).take(8).mkString(" ")

  def run(spark: SparkSession, tr: Tracer, a: Main.Args, out: Report): Unit = {
    val base = Inputs.baseDocs(Inputs.serveDocs(a.toy))
    val docs = docsFrame(spark, base).cache()
    docs.count()
    var (domain, dir) = setUp(spark, docs, a.work, out)
    val embedded = if (tr.enabled) Some(StubEmbedder.installCounter(spark)) else None
    val stub = new StubEmbedder(Dim)
    val texts = mutable.Map[Long, String]() ++= base.map(d => d.id -> d.text)
    var cache = spark.createDataFrame(new java.util.ArrayList[Row](), cacheSchema)
    val firstRef = Reference.collect(domain)

    // Unmeasured reads (WarmUpQueries misses, then WarmUpHits hits over
    // them) compile the search and cache paths first. In a fresh JVM hit
    // latency falls by about a quarter over the first 40 hits, and miss
    // latency keeps falling for the first several searches.
    locally {
      var c = cache
      val qs = Inputs.uniqueQueries(-1L, WarmUpQueries, Inputs.Vocab)
      val lat = (qs ++ Vector.tabulate(WarmUpHits)(i => qs(i % qs.size))).map { q =>
        val t0 = System.nanoTime()
        val (res, next) = EngineApi.queryCached(spark, domain, c, q, TopN, Dim)
        res.collect()
        c = next
        (System.nanoTime() - t0) / 1e6
      }
      out.note("warm-up latencies (ms): " + lat.map(x => f"$x%.0f").mkString(" "))
    }

    var epoch = 0
    // (epoch, query) -> rows of the miss that filled the cache entry
    val filled = mutable.Map[(Int, String), Vector[(String, Double)]]()
    val misses = mutable.Map[Int, mutable.ArrayBuffer[(String, Vector[(String, Double)])]]()
    val readLat, hitLat, missLat, upsertS = mutable.ArrayBuffer[Double]()
    val readLog = mutable.ArrayBuffer[String]()
    var loopMs = 0.0
    var dpSent, textBytes, bytesWritten = 0L
    var diffUnchanged, diffIncoming, embRows, embUseful = 0L
    val stream = Inputs.serveStream(a.seed, base, Inputs.serveShape(a.toy))
    var req = 0L
    // whole epochs, so every run measures the same mix of hits, misses
    // and commits
    var inEpoch = true
    while (loopMs < a.seconds * 1000 || inEpoch) {
      req += 1
      out.attempted += 1
      val op = stream.next()
      inEpoch = !op.isInstanceOf[Write]
      op match {
        case Read(q) =>
          val t0 = System.nanoTime()
          val (got, hit) = tr.span("api.query_cached", req) {
            val (res, next) = EngineApi.queryCached(spark, domain, cache, q, TopN, Dim)
            val hit = next eq cache
            cache = next
            (rows(res.collect()), hit)
          }
          val ms = (System.nanoTime() - t0) / 1e6
          loopMs += ms
          readLat += ms
          (if (hit) hitLat else missLat) += ms
          readLog += f"${if (hit) "h" else ""}$ms%.0f"
          if (tr.enabled) {
            tr.relabelLast(if (hit) "api.query_cached.hit" else "api.query_cached.miss")
            if (!hit) tr.span("core.embed_query", req) {
              SearchEngine.queryEmbeddings(spark, domain, q, Dim).collect()
            }
          }
          if (!hit) {
            filled((epoch, q)) = got
            misses.getOrElseUpdate(epoch, mutable.ArrayBuffer()) += ((q, got))
          } else filled.get((epoch, q)) match {
            case Some(stored) =>
              out.check(stored == got, s"cache hit for '$q' differs from the search that filled it")
            case None =>
              // a hit no miss of this epoch filled: the last commit kept it
              val fresh = rows(EngineApi.query(spark, domain, q, TopN, Dim).collect())
              out.check(fresh == got, s"stale cache hit for '$q' after a commit")
          }

        case w: Write =>
          val batch = docsFrame(spark, w.docs)
          val incoming = SearchEngine.docDatapoints(batch)
          if (tr.enabled) tr.span("ops.diff", req) {
            val key = Seq("searchdomain", "datapoint_id")
            val buckets = graft.ops.Upsert.diff(domain.datapoints.select("searchdomain", "datapoint_id", "hash"),
              incoming.select("searchdomain", "datapoint_id", "hash"), key, "hash")
              .groupBy("bucket").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            diffUnchanged += buckets.getOrElse("unchanged", 0L)
            diffIncoming += buckets.filter(_._1 != "deleted").values.sum
          }
          val acc0 = embedded.map(_.value.longValue).getOrElse(0L)
          val next = a.work.resolve(s"v${epoch + 1}")
          val t0 = System.nanoTime()
          val committed = tr.span("api.upsert", req) {
            val merged = tr.span("api.upsert_plan", req) {
              w.deletes.foldLeft(EngineApi.upsertEntities(spark, domain,
                SearchEngine.docEntities(batch), incoming, Models, Dim)) { (d, id) =>
                EngineApi.deleteEntity(d, "docs", s"doc_$id")
              }
            }
            tr.span("core.store_write", req) { Tables.writeDomain(merged, next.toString) }
            val loaded = tr.span("core.store_load", req) { load(spark, next) }
            release(domain)
            deleteTree(dir)
            cache = tr.span("ops.cache_maintain", req) {
              val touched = batch.select(col("doc_id").cast("string").as("name"))
              val gone = spark.createDataFrame(w.deletes.map(id => Tuple1(s"doc_$id"))).toDF("name")
              val kept = CacheOps.maintain(cache, touched, gone, "query", cacheReconciliation = false)
              // the serving loop owns the cache between requests
              spark.createDataFrame(java.util.Arrays.asList(kept.collect(): _*), cacheSchema)
            }
            loaded
          }
          val s = (System.nanoTime() - t0) / 1e9
          loopMs += s * 1000
          upsertS += s
          domain = committed
          dir = next
          epoch += 1
          val written = dirBytes(next)
          bytesWritten += written
          dpSent += 2L * w.docs.size
          textBytes += w.docs.map(d =>
            d.text.getBytes("UTF-8").length + titleOf(d.text).getBytes("UTF-8").length).sum
          embedded.foreach { acc =>
            embRows += acc.value.longValue - acc0
            embUseful += (w.edited + 2L * w.added) * Models.size
          }
          w.docs.foreach(d => texts(d.id) = d.text)
          w.deletes.foreach(texts.remove)
          checkCommit(domain, w, texts, stub, out)
      }
    }
    out.loopS = loopMs / 1000
    val (tail, label) = Stats.tail(readLat.toSeq)
    out.e2e("query_p50_ms", Stats.median(readLat.toSeq))
    out.e2e("query_tail_ms", tail)
    out.e2e("queries_per_s", readLat.size / out.loopS)
    val hitRatio = hitLat.size.toDouble / math.max(readLat.size, 1)
    out.note("read latencies (ms, h = hit): " + readLog.mkString(" "))
    out.note(f"reads=${readLat.size} p50=${Stats.median(readLat.toSeq)}%.1f ms " +
      f"tail($label)=$tail%.1f ms hit_ratio=$hitRatio%.3f " +
      f"hit_p50=${Stats.median(hitLat.toSeq)}%.1f ms miss_p50=${Stats.median(missLat.toSeq)}%.1f ms")
    out.note(f"commits=${upsertS.size} upsert_p50=${Stats.median(upsertS.toSeq)}%.2f s " +
      f"index_rows_per_s=${dpSent / upsertS.sum}%.1f " +
      f"write_amp=${bytesWritten.toDouble / textBytes}%.1f")

    def med(span: String) = Stats.median(tr.named(span).map(_.ms))
    out.layer("upsert_p50_s", Stats.median(upsertS.toSeq))
    out.layer("index_rows_per_s", dpSent / math.max(upsertS.sum, 1e-9))
    out.layer("write_amp", bytesWritten.toDouble / math.max(textBytes, 1L))
    out.layer("ops.cache_hit_ratio", hitRatio)
    out.layer("core.store_bytes_written", bytesWritten.toDouble / math.max(upsertS.size, 1))
    if (tr.enabled) {
      val searches = tr.named("api.query_cached.miss")
      def perMiss(f: Span => Double) = Stats.median(searches.map(f))
      out.layer("search.plan_ms", perMiss(_("plan_ms").toDouble))
      out.layer("search.exec_ms", perMiss(s => s.ms - s("plan_ms")))
      out.layer("search.jobs", perMiss(_("jobs").toDouble))
      out.layer("search.tasks", perMiss(_("tasks").toDouble))
      out.layer("search.shuffle_b", perMiss(s => (s("shuffle_read_b") + s("shuffle_write_b")).toDouble))
      out.layer("search.rows_scored_per_result", perMiss(_("rows_scored").toDouble / TopN))
      out.layer("core.embed_query_ms", med("core.embed_query"))
      out.layer("api.cache_hit_ms", med("api.query_cached.hit"))
      out.layer("api.cache_miss_ms", med("api.query_cached.miss"))
      out.layer("api.upsert_plan_ms", med("api.upsert_plan"))
      out.layer("core.store_write_ms", med("core.store_write"))
      out.layer("core.store_load_ms", med("core.store_load"))
      out.layer("ops.cache_maintain_ms", med("ops.cache_maintain"))
      out.layer("ops.diff_ms", med("ops.diff"))
      out.layer("ops.diff_unchanged_ratio", diffUnchanged.toDouble / math.max(diffIncoming, 1L))
      out.layer("core.embed_rows", embRows.toDouble / math.max(upsertS.size, 1))
      out.layer("core.embed_useful_ratio", embUseful.toDouble / math.max(embRows, 1L))
    }

    // misses of the first and the last epoch against the plain-Scala scorer
    val refs = Seq(0 -> firstRef) ++
      (if (epoch > 0 && misses.contains(epoch)) Seq(epoch -> Reference.collect(domain)) else Nil)
    for ((ep, ref) <- refs; (q, got) <- misses.getOrElse(ep, Nil).take(3))
      checkTopN(ref, q, got, out)
  }

  /** A top-N result is right when every returned entity carries its true
    * score and the scores are the true N best, in order. Names may differ
    * from the reference only among tied scores. */
  private def checkTopN(ref: Reference, q: String, got: Vector[(String, Double)],
      out: Report): Unit = {
    val all = ref.scores(q)
    val best = all.values.toVector.sorted(Ordering[Double].reverse).take(TopN)
    val ok = got.size == best.size &&
      got.forall { case (n, s) => all.get(n).exists(t => math.abs(t - s) <= 1e-9) } &&
      got.map(_._2).zip(best).forall { case (g, b) => math.abs(g - b) <= 1e-9 } &&
      got.map(_._1).distinct.size == got.size
    out.check(ok, s"top-$TopN of '$q' differs from the plain-Scala scorer: got " +
      got.take(3).mkString(", ") + s"; expected scores ${best.take(3).mkString(", ")}")
  }

  /** A committed version, re-read from disk, holds one entity per live
    * document, two datapoints per entity and one vector per datapoint and
    * model; every vector the batch changed equals the stub embedding of the
    * new text. */
  private def checkCommit(d: Domain, w: Write, texts: mutable.Map[Long, String],
      stub: StubEmbedder, out: Report): Unit = {
    val n = texts.size.toLong
    val counts = Seq(d.entities.count(), d.datapoints.count(), d.embeddings.count())
    out.check(counts == Seq(n, 2 * n, 2 * n * Models.size),
      s"committed version holds $counts rows, expected ${Seq(n, 2 * n, 2 * n * Models.size)}")
    val edited = w.docs.take(w.edited).map(doc => (doc.id * 2 + 1) -> doc.text)
    val added = w.docs.takeRight(w.added).flatMap(doc =>
      Seq(doc.id * 2 -> titleOf(doc.text), (doc.id * 2 + 1) -> doc.text))
    val want = (edited ++ added).toMap
    val stored = d.embeddings.filter(col("datapoint_id").isin(want.keys.toSeq: _*))
      .select("datapoint_id", "model", "embedding").collect()
    val wrong = stored.filterNot(r => java.util.Arrays.equals(
      r.getSeq[Float](2).toArray, stub.embed(r.getString(1), want(r.getLong(0)))))
    out.check(stored.length == want.size * Models.size && wrong.isEmpty,
      s"${stored.length} changed vectors stored (expected ${want.size * Models.size}), " +
        s"${wrong.length} not the embedding of their new text")
  }
}

/** Plain-Scala recomputation of the two-level Mean scoring over a domain
  * collected to the driver: per datapoint the mean over models of the
  * datapoint's similarity, per entity the mean over its datapoints. The
  * similarities are the reference remaps of `VectorFunctions.hof`.
  */
final class Reference(names: Map[Long, String], dpEntity: Map[Long, Long],
    dpMethod: Map[Long, String], vectors: Seq[(Long, String, Array[Float])]) {
  private val stub = new StubEmbedder(ServeMixed.Dim)

  def scores(query: String): Map[String, Double] = {
    val qv = ServeMixed.Models.map(m => m -> stub.embed(m, query)).toMap
    val perDp = vectors.groupBy(_._1).map { case (dp, vs) =>
      dp -> vs.map { case (_, m, v) => Reference.sim(dpMethod(dp), v, qv(m)) }.sum / vs.size
    }
    perDp.groupBy { case (dp, _) => dpEntity(dp) }.map { case (e, ds) =>
      names(e) -> ds.values.sum / ds.size
    }
  }
}

object Reference {
  def collect(d: Domain): Reference = {
    val dps = d.datapoints.select("datapoint_id", "entity_id", "similaritymethod").collect()
    new Reference(
      d.entities.select("entity_id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap,
      dps.map(r => r.getLong(0) -> r.getLong(1)).toMap,
      dps.map(r => r.getLong(0) -> r.getString(2)).toMap,
      d.embeddings.select("datapoint_id", "model", "embedding").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray)).toSeq)
  }

  def sim(method: String, a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb, l2, l1 = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      l2 += (x - y) * (x - y); l1 += math.abs(x - y)
      i += 1
    }
    method match {
      case "Cosine" => (dot / (math.sqrt(na) * math.sqrt(nb)) + 1.0) / 2.0
      case "Euclidian" => 1.0 / (1.0 + math.sqrt(l2))
      case "Manhattan" => 1.0 / (1.0 + l1)
      case other => sys.error(s"the benchmark's domain has no '$other' datapoints")
    }
  }
}
