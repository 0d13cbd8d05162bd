package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Sessions, Triggers, Windowed}

/** Structured-Streaming behavior pinned with MemoryStream micro-batches:
  * trigger parsing, file-corpus streaming ingestion, stateful chunked
  * sessions (accumulate → complete → emit; reference
  * `EntityController.cs:94-199`), watermarked windowed stats, and
  * streaming dedup-before-embed.
  */
class StreamingSpec extends SparkSpec {

  test("trigger specs map to the reference's four call types") {
    assert(Triggers.forSpec("runonce") == Trigger.AvailableNow())
    assert(Triggers.forSpec("schedule:0 0 * * *") == Trigger.AvailableNow())
    assert(Triggers.forSpec("interval:5000") == Trigger.ProcessingTime(5000L))
    assert(Triggers.forSpec("fileupdate") == Trigger.ProcessingTime(0L))
    intercept[IllegalArgumentException](Triggers.forSpec("cron"))
  }

  test("fileupdate stream ingests new files as (filename, title, text) rows") {
    val src = tempDir("stream-src-")
    val out = tempDir("stream-out-")
    val ckpt = tempDir("stream-ckpt-")
    Files.writeString(java.nio.file.Paths.get(src, "a.txt"), "Title A\nbody line 1\nbody line 2")
    Files.writeString(java.nio.file.Paths.get(src, "b.txt"), "Title B only")

    val q = Triggers.indexSink(
      Triggers.fileCorpusStream(spark, src), out, ckpt, "runonce").start()
    q.awaitTermination(60000)

    val rows = spark.read.parquet(out)
      .orderBy("filename")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("a.txt", "Title A", "body line 1\nbody line 2"),
      ("b.txt", "Title B only", "")))
  }

  test("chunked sessions accumulate across micro-batches and emit on complete") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Sessions.Chunk]
    val result = Sessions.accumulate(spark, input.toDS(), withExpiry = false)
    val q = result.writeStream.format("memory").queryName("sess").outputMode("append").start()

    // batch 1: two sessions upload partial chunks — nothing emitted
    input.addData(
      Sessions.Chunk("s1", "e1", complete = false),
      Sessions.Chunk("s1", "e2", complete = false),
      Sessions.Chunk("s2", "x1", complete = false))
    q.processAllAvailable()
    assert(spark.table("sess").count() == 0)

    // batch 2: s1 completes (with one more entity); s2 still open
    input.addData(
      Sessions.Chunk("s1", "e3", complete = false),
      Sessions.Chunk("s1", "", complete = true))
    q.processAllAvailable()
    val emitted = spark.table("sess").as[Sessions.SessionSet].collect()
    assert(emitted.toSeq == Seq(Sessions.SessionSet("s1", Seq("e1", "e2", "e3"))))

    // batch 3: s2 completes alone
    input.addData(Sessions.Chunk("s2", "x2", complete = true))
    q.processAllAvailable()
    val all = spark.table("sess").as[Sessions.SessionSet].collect().sortBy(_.sessionId)
    assert(all.toSeq == Seq(
      Sessions.SessionSet("s1", Seq("e1", "e2", "e3")),
      Sessions.SessionSet("s2", Seq("x1", "x2"))))
    q.stop()
  }

  test("session 60-min expiry drops half-built state (timeout branch)") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val timedOut = TestGroupState.create[Set[String]](
      Optional.of(Set("e1", "e2")), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    val out = Sessions.updateSession(withExpiry = true)(
      "s1", Iterator.empty, timedOut)
    assert(out.isEmpty && timedOut.isRemoved)

    // normal accumulate path arms the timeout clock
    val live = TestGroupState.create[Set[String]](
      Optional.empty[Set[String]], GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = false)
    val out2 = Sessions.updateSession(withExpiry = true)(
      "s1", Iterator(Sessions.Chunk("s1", "e9", complete = false)), live)
    assert(out2.isEmpty && live.get == Set("e9"))
    assert(live.getTimeoutTimestampMs.isPresent)
  }

  test("continuous index pipeline: file stream -> diff upsert -> versioned snapshots") {
    import graft.streaming.IndexPipeline
    val src = tempDir("idx-src-")
    val dom = tempDir("idx-dom-")
    val ckpt = tempDir("idx-ckpt-")
    val models = Seq("stub:alpha")

    // round 1: two files arrive
    Files.writeString(java.nio.file.Paths.get(src, "a.txt"), "Alpha doc\nabout spark shuffles")
    Files.writeString(java.nio.file.Paths.get(src, "b.txt"), "Beta doc\nabout broadcast joins")
    IndexPipeline.start(spark, src, dom, ckpt, models, dim = 8, triggerSpec = "runonce")
      .awaitTermination(120000)
    val d1 = IndexPipeline.readCurrentDomain(spark, dom).get
    assert(d1.entities.count() == 2)
    val vecsBefore = d1.embeddings.select("datapoint_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

    // round 2: one NEW file arrives; checkpoint makes the old files no-ops
    val embedded = graft.core.StubEmbedder.installCounter(spark)
    Files.writeString(java.nio.file.Paths.get(src, "c.txt"), "Gamma doc\nabout watermarks")
    IndexPipeline.start(spark, src, dom, ckpt, models, dim = 8, triggerSpec = "runonce")
      .awaitTermination(120000)
    val d2 = IndexPipeline.readCurrentDomain(spark, dom).get
    assert(d2.entities.count() == 3)
    // previously indexed datapoints kept their stored vectors
    val vecsAfter = d2.embeddings.select("datapoint_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    vecsBefore.foreach { case (dp, v) => assert(vecsAfter(dp) == v) }
    assert(vecsAfter.size == 6) // 3 docs x (title, body)
    // ...and demonstrably did NOT re-embed: only the new doc's two texts
    // (title, body) went through inference, counted AT THE EXECUTOR —
    // value comparison alone is vacuous with a deterministic embedder.
    // (Accumulators in a transformation count once per task EXECUTION;
    // exact equality holds here because local mode runs each task once —
    // no speculation, no retries, single action over the subplan.)
    assert(embedded.value == 2)
  }

  test("index pipeline routes ParallelEmbeddingsPrefetch into every micro-batch") {
    import graft.streaming.IndexPipeline
    // Both settings arms through BOTH pipeline stages (initial build +
    // incremental upsert): the sequential arm repartitions the embed
    // stage by model, the parallel arm spreads batches — placement must
    // be invisible in the snapshots (identical vectors, entities).
    def run(parallel: Boolean): graft.core.Domain = {
      val src = tempDir(s"idxp$parallel-src-")
      val dom = tempDir(s"idxp$parallel-dom-")
      val ckpt = tempDir(s"idxp$parallel-ckpt-")
      val settings = graft.core.DomainSettings(parallelEmbeddingsPrefetch = parallel)
      Files.writeString(java.nio.file.Paths.get(src, "a.txt"), "Alpha doc\nabout spark shuffles")
      Files.writeString(java.nio.file.Paths.get(src, "b.txt"), "Beta doc\nabout broadcast joins")
      IndexPipeline.start(spark, src, dom, ckpt, Seq("stub:alpha", "stub:beta"),
        dim = 8, triggerSpec = "runonce", settings = settings)
        .awaitTermination(120000)
      Files.writeString(java.nio.file.Paths.get(src, "c.txt"), "Gamma doc\nabout watermarks")
      IndexPipeline.start(spark, src, dom, ckpt, Seq("stub:alpha", "stub:beta"),
        dim = 8, triggerSpec = "runonce", settings = settings)
        .awaitTermination(120000)
      IndexPipeline.readCurrentDomain(spark, dom).get
    }
    val seqArm = run(parallel = false)
    val parArm = run(parallel = true)
    def vecs(d: graft.core.Domain) = d.embeddings
      .select("datapoint_id", "model", "embedding").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getSeq[Float](2)).toMap
    val (sv, pv) = (vecs(seqArm), vecs(parArm))
    assert(sv.nonEmpty && sv == pv)
    assert(seqArm.entities.count() == 3 && parArm.entities.count() == 3)
  }

  test("watermarked tumbling window aggregates finalize when the watermark passes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val stats = Windowed.windowedStats(
      input.toDF().toDF("ts", "kind", "value"),
      "ts", "kind", "value", "10 minutes", "5 minutes")
    val q = stats.writeStream.format("memory").queryName("winstats").outputMode("append").start()

    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    input.addData((ts(1), "a", 1.0), (ts(4), "a", 2.0), (ts(12), "b", 5.0))
    q.processAllAvailable()
    // advance event time far enough to close the 10:00-10:10 window
    input.addData((ts(30), "c", 0.0))
    q.processAllAvailable()

    val rows = spark.table("winstats")
      .select(col("window_start").cast("string"), col("kind"), col("n"), col("total"))
      .as[(String, String, Long, Double)].collect().sorted
    assert(rows.contains(("2026-01-01 10:00:00", "a", 2L, 3.0)))
    q.stop()
  }

  test("gap sessions: watermark-closed stream sessions equal the q178 batch rule") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def ts(h: Int, min: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")
    // user 7: two sessions (10:00-10:05, 11:00); user 8: one (10:02);
    // batch 2's 11:00 breaks user 7's first session (gap > 30 min);
    // the 15:00 sentinel (user 99) advances the watermark far enough for
    // the EVENT-TIME timeout to close every remaining real session
    val b1 = Seq((ts(10, 0), 7L), (ts(10, 5), 7L), (ts(10, 2), 8L))
    val b2 = Seq((ts(11, 0), 7L))
    val sentinel = Seq((ts(15, 0), 99L))

    val input = MemoryStream[(Timestamp, Long)]
    val out = Sessions.gapSessions(
      input.toDF().toDF("ts", "user_id"), "ts", "user_id",
      gapNs = 30L * 60 * 1000000000L, lateness = "1 minute")
    val q = out.writeStream.format("memory").queryName("gapsess")
      .outputMode("append").start()
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    input.addData(sentinel); q.processAllAvailable()
    // one more empty-ish batch so the advanced watermark fires timeouts
    input.addData((ts(15, 1), 99L)); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("gapsess")
      .select("userId", "startNs", "nEvents", "durNs")
      .as[(Long, Long, Long, Long)].collect().toSet

    // batch twin: the exact q178 rule over the same real events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val run = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)
    val batch = (b1 ++ b2).toDF("t", "user_id")
      .withColumn("ts", unix_micros(col("t")) * 1000L)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts") - col("prev") > 1800000000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(run))
      .groupBy("user_id", "sid")
      .agg(min(col("ts")).as("start"), count(lit(1)).as("n"),
        (max(col("ts")) - min(col("ts"))).as("dur"))
      .select("user_id", "start", "n", "dur")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("trending tokens: MG stream state is bounded, exact at large k, " +
      "and carries the heavy-hitter guarantee at small k") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    def ts(min: Int) = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // one 10-min window; "alpha" dominates (9), "beta" 5, singletons pad
    val batch1 = Seq(
      (ts(1), "alpha beta alpha gamma alpha"),
      (ts(2), "alpha beta alpha delta alpha"))
    val batch2 = Seq(
      (ts(3), "alpha beta alpha epsilon alpha beta zeta beta eta"))
    val allToks = (batch1 ++ batch2).flatMap(_._2.split(" "))
    val exact = allToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = allToks.size.toLong

    def run(k: Int, name: String): Map[String, Long] = {
      val input = MemoryStream[(Timestamp, String)]
      val out = Windowed.trendingTokens(
        input.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", k)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      q.stop()
      // final summary = rows at the window's last processed watermark
      spark.sql(
        s"""SELECT tok, est FROM $name
            WHERE processed = (SELECT max(processed) FROM $name)""")
        .as[(String, Long)].collect().toMap
    }

    val big = run(100, "trend_big") // no evictions -> exact counts
    assert(big == exact, s"large-k stream $big != exact $exact")

    val k = 3
    val small = run(k, "trend_small")
    assert(small.size <= k, s"state exceeded capacity: $small")
    val bound = n / (k + 1)
    exact.collect { case (t, c) if c > bound => t }.foreach { hh =>
      assert(small.contains(hh), s"heavy hitter $hh missing from $small")
    }
    small.foreach { case (t, est) =>
      val truth = exact(t)
      assert(est <= truth && est >= truth - bound,
        s"estimate for $t out of MG band: $est vs $truth (bound $bound)")
    }
  }

  test("streaming dedup collapses same-content docs across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = Windowed.streamingDedup(
      input.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "1 minute")
    val q = deduped.writeStream.format("memory").queryName("dedup").outputMode("append").start()

    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    input.addData((t0, 1L, "hello world"), (t0, 2L, "hello world"), (t0, 3L, "other"))
    q.processAllAvailable()
    input.addData((t0, 4L, "hello world")) // dup in a later batch, same horizon
    q.processAllAvailable()

    val kept = spark.table("dedup").select("doc_id").as[Long].collect().sorted
    assert(kept.length == 2 && kept.contains(3L))
    assert(!kept.contains(4L))

    // health rule (Calls.cs:179-187): healthy right after a batch,
    // unhealthy once "now" is beyond 2x the interval since last progress
    val lastMs = java.time.Instant.parse(q.lastProgress.timestamp).toEpochMilli
    assert(Triggers.isHealthy(q, 60000L, lastMs + 1000L))
    assert(!Triggers.isHealthy(q, 1000L, lastMs + 5000L))
    q.stop()
  }

  test("streaming as-of enriches probes across micro-batches, matching the batch operator") {
    import graft.streaming.AsOfStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ticks = MemoryStream[AsOfStream.Tick]
    val probes = MemoryStream[AsOfStream.Probe]
    val out = AsOfStream.enrich(spark, ticks.toDS(), probes.toDS(), horizon = 100L)
    val q = out.writeStream.format("memory").queryName("asof").outputMode("append").start()

    // batch 1: a reference then a probe after it, one before any reference
    ticks.addData(AsOfStream.Tick("a", 10L, 1.0))
    probes.addData(AsOfStream.Probe("a", 15L, 1L), AsOfStream.Probe("a", 5L, 2L))
    q.processAllAvailable()
    // batch 2: newer reference; probe after it, out-of-order probe between
    // the two references (answered from retained history), equal-ts probe
    ticks.addData(AsOfStream.Tick("a", 20L, 2.0))
    probes.addData(AsOfStream.Probe("a", 25L, 3L), AsOfStream.Probe("a", 12L, 4L),
      AsOfStream.Probe("a", 20L, 5L))
    q.processAllAvailable()

    val got = spark.table("asof").as[AsOfStream.Enriched].collect()
      .map(e => e.id -> e.refValue).toMap
    assert(got == Map(1L -> Some(1.0), 2L -> None, 3L -> Some(2.0),
      4L -> Some(1.0), 5L -> Some(2.0)))

    // the batch operator gives the same answers on the same data
    val bl = Seq((1L, "a", 15L), (2L, "a", 5L), (3L, "a", 25L), (4L, "a", 12L),
      (5L, "a", 20L)).toDF("id", "k", "t")
    val br = Seq(("a", 10L, 1.0), ("a", 20L, 2.0)).toDF("k", "t", "v")
    val batch = graft.ops.TemporalJoin.asOf(bl, br, "k", "t", Seq("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(batch == got)
    q.stop()
  }

  test("as-of state evicts beyond the horizon but retains the floor reference") {
    import graft.streaming.AsOfStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val st = TestGroupState.create[Vector[(Long, Double)]](
      Optional.empty[Vector[(Long, Double)]], GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    // horizon 50: refs at 10/30/100 -> cut = 50; ts=10 evicted, ts=30 kept
    // as the floor even though it is below the cut, ts=100 kept
    val out = AsOfStream.update(horizon = 50L)("k", Iterator(
      AsOfStream.Event("k", 10L, isRef = true, -1L, 1.0),
      AsOfStream.Event("k", 30L, isRef = true, -1L, 2.0),
      AsOfStream.Event("k", 100L, isRef = true, -1L, 3.0)), st)
    assert(out.isEmpty)
    assert(st.get == Vector(30L -> 2.0, 100L -> 3.0))
    // a probe older than every retained ref answers None, not a wrong value
    val st2 = TestGroupState.create[Vector[(Long, Double)]](
      Optional.of(st.get), GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    val probed = AsOfStream.update(horizon = 50L)("k", Iterator(
      AsOfStream.Event("k", 20L, isRef = false, 7L, 0.0)), st2).toSeq
    assert(probed == Seq(AsOfStream.Enriched(7L, "k", 20L, None, None)))
  }

  test("windowed near-dup: within-window == unwindowed; eviction drops the straddling pair; reconciliation batch recovers it") {
    // driven through TestGroupState, not a live query: ProcessingTimeTimeout
    // under the default Trigger(0) busy-loops no-data batches and
    // processAllAvailable never settles (observed live; the operator's
    // scaladoc mandates a paced trigger in deployment)
    import graft.streaming.DedupStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((1L, base), (2L, s"$base zzz"), (10L, base),
      (3L, "completely different content about database query optimization topics"))
    val bandedRows = DedupStream.banded(
        corpus.toDF("doc_id", "text"), shingleK = 3, numHashes = 12, bands = 4)
      .collect().groupBy(_.band)

    def fresh(timeout: GroupStateTimeout) =
      TestGroupState.create[DedupStream.BandState](
        Optional.empty[DedupStream.BandState], timeout,
        1000L, Optional.empty[Long], hasTimedOut = false)

    // (a) within one window the windowed fold IS the unwindowed fold:
    // identical hits per band on identical inputs — and both equal the
    // batch LSH pair set when unioned across bands
    val plainHits = bandedRows.values.flatMap { rows =>
      DedupStream.update(0.5, 64)("b", rows.sortBy(_.docId).iterator,
        fresh(GroupStateTimeout.NoTimeout))
    }.map(h => (h.docA, h.docB)).toSet
    val windowedHits = bandedRows.values.flatMap { rows =>
      DedupStream.updateWindowed(0.5, 64, "10 minutes")("b",
        rows.sortBy(_.docId).iterator,
        fresh(GroupStateTimeout.ProcessingTimeTimeout))
    }.map(h => (h.docA, h.docB)).toSet
    assert(windowedHits == plainHits, s"$windowedHits != $plainHits")
    val batchPairs = graft.ops.Dedup.minhashLsh(
        corpus.toDF("doc_id", "text"),
        "doc_id", "text", shingleK = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(windowedHits == batchPairs, s"stream $windowedHits != batch $batchPairs")
    // the window is armed: the same fold under NoTimeout throws on
    // setTimeoutDuration, proving updateWindowed really arms it
    intercept[UnsupportedOperationException] {
      DedupStream.updateWindowed(0.5, 64, "10 minutes")("b",
        bandedRows.values.head.iterator, fresh(GroupStateTimeout.NoTimeout)).toList
    }

    // (b) the reconciliation boundary: a band key idle for one window
    // times out -> state REMOVED, nothing emitted
    val expired = TestGroupState.create[DedupStream.BandState](
      Optional.of(DedupStream.BandState(
        Vector(1L -> Vector.fill(12)(42L)), 0L)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    val onTimeout = DedupStream.updateWindowed(0.5, 64, "10 minutes")("b",
      Iterator.empty, expired).toList
    assert(onTimeout.isEmpty && expired.isRemoved,
      "timeout must drop the band state and emit nothing")

    // (c) the straddling duplicate arriving AFTER eviction sees empty
    // band state -> no stream hit BY CONTRACT...
    val postEvict = bandedRows.values.flatMap { rows =>
      DedupStream.updateWindowed(0.5, 64, "10 minutes")("b",
        rows.filter(_.docId == 10L).iterator,
        fresh(GroupStateTimeout.ProcessingTimeTimeout))
    }
    assert(postEvict.isEmpty, s"evicted band must not flag: $postEvict")
    // ...and the batch minhashIncremental run against the pre-boundary
    // corpus recovers exactly that pair — the reconciliation contract
    val reconciled = graft.ops.Dedup.minhashIncremental(
        Seq((1L, base), (2L, s"$base zzz")).toDF("doc_id", "text"),
        Seq((10L, base)).toDF("doc_id", "text"),
        "doc_id", "text", shingleK = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reconciled.contains((1L, 10L)) && reconciled.contains((2L, 10L)),
      s"reconciliation batch must recover the straddling pairs: $reconciled")
  }

  test("streaming near-dup flags arrivals against prior batches, same buckets as batch LSH") {
    import graft.streaming.DedupStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[(Long, String)]
    val out = DedupStream.detect(input.toDF().toDF("doc_id", "text"), threshold = 0.5)
    val q = out.writeStream.format("memory").queryName("neardup").outputMode("append").start()

    // batch 1: two near-identical docs + one distinct
    input.addData((1L, base), (2L, s"$base zzz"),
      (3L, "completely different content about database query optimization topics"))
    q.processAllAvailable()
    // batch 2: a copy arriving later must match BOTH batch-1 copies via
    // retained band state; the fresh doc must match nothing
    input.addData((10L, base), (11L, "entirely fresh material matching nothing prior at all"))
    q.processAllAvailable()

    val pairs = spark.table("neardup").as[DedupStream.DupHit].collect()
      .map(h => (h.docA, h.docB)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)),
      s"cross-batch pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 11L || p._2 == 11L))
    q.stop()

    // the stream's candidate buckets are the batch operator's buckets:
    // every streamed pair appears in the batch LSH run on the same corpus
    val batchPairs = graft.ops.Dedup.minhashLsh(
        Seq((1L, base), (2L, s"$base zzz"), (10L, base)).toDF("doc_id", "text"),
        "doc_id", "text", shingleK = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == batchPairs)
  }

  test("streaming perceptual near-dup flags arrivals across batches, equals batch pairs") {
    import graft.streaming.DedupStream
    import graft.multimodal.Multimodal
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = (0L until 12L).map(i =>
      (i, s"media doc $i " + (s"payload block $i " * 30)))
    val mediaOf = (rows: Seq[(Long, String)]) =>
      Multimodal.attachMedia(rows.toDF("doc_id", "text"), "doc_id", "text")
    val variants = Multimodal.reencodeVariant(mediaOf(docs), everyN = 4, idOffset = 1000L)
      .select(col("doc_id"), col("content"))

    val input = MemoryStream[(Long, Array[Byte])]
    val out = DedupStream.phashDetect(
      input.toDF().toDF("doc_id", "content"), maxHamming = 3, bands = 4)
    val q = out.writeStream.format("memory").queryName("phashdup")
      .outputMode("append").start()
    // batch 1: the originals — no pairs expected among distinct docs
    val orig = mediaOf(docs).select(col("doc_id"), col("content")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    input.addData(orig.toSeq)
    q.processAllAvailable()
    // batch 2: the re-encoded variants must each match their original
    val vs = variants.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    input.addData(vs.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("phashdup").as[DedupStream.PHit].collect()
      .map(h => (h.docA, h.docB)).toSet
    q.stop()

    val batch = Multimodal.phashPairs(
        mediaOf(docs).unionByName(
          Multimodal.reencodeVariant(mediaOf(docs), everyN = 4, idOffset = 1000L)),
        maxHamming = 3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // every planted (original, variant) pair present
    assert((0L until 12L by 4L).forall(i => streamed.contains((i, i + 1000L))))
    spark.catalog.clearCache()
  }

  test("phash stream: band state caps at maxPerBand, oldest evicted first") {
    import graft.streaming.DedupStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // identical payloads -> identical fingerprints -> same bands; cap 2
    val payload = ("same bytes " * 40).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val input = MemoryStream[(Long, Array[Byte])]
    val out = DedupStream.phashDetect(
      input.toDF().toDF("doc_id", "content"),
      maxHamming = 3, bands = 4, maxPerBand = 2)
    val q = out.writeStream.format("memory").queryName("phashevict")
      .outputMode("append").start()
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      input.addData((id, payload)); q.processAllAvailable()
    }
    val pairs = spark.table("phashevict").as[DedupStream.PHit].collect()
      .map(h => (h.docA, h.docB)).toSet
    q.stop()
    // arrival 2 saw 1; arrival 3 saw {1,2}; arrival 4 saw {2,3} — doc 1
    // evicted by then (cap 2), so (1,4) must be MISSING and (2,4) present
    assert(pairs((1L, 2L)) && pairs((1L, 3L)) && pairs((2L, 3L)))
    assert(pairs((2L, 4L)) && pairs((3L, 4L)))
    assert(!pairs((1L, 4L)), s"evicted entry still matched: $pairs")
  }

  test("gopher rule battery on a stream equals the batch battery on the same docs") {
    // the q103 battery is stateless per-row expressions — it must ride a
    // streaming ingest unchanged (the curation-at-ingest story). Pin
    // stream output == batch output row-for-row on identical docs,
    // including the rule edge cases (empty text, bullets, ellipses).
    import spark.implicits._
    val docs = Seq(
      (1L, "the a quick brown fox jumps over the lazy dog " * 6),
      (2L, ""),
      (3L, "- bullet one\n- bullet two\n- bullet three"),
      (4L, "trailing thought...\nanother line...\nplain line"),
      (5L, "### #### ##### hash heavy"),
      (6L, ("the a " + Seq.fill(60)("word").mkString(" "))))
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Queries.gopherFlags(mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("gopher")
      .outputMode("append").start()
    mem.addData(docs.take(3))
    q.processAllAvailable()
    mem.addData(docs.drop(3))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT * FROM gopher").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val batch = Queries.gopherFlags(docs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming CDC chunk dedup flags cross-batch shared chunks, chunker equals batch op") {
    import graft.streaming.DedupStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // doc 1 and the late-arriving doc 10 share their full text; doc 2
    // shares a long middle run with doc 1; docs 3/11 are noise
    val shared = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared),
      (2L, s"prefix_a $shared suffix_b"),
      (3L, "completely different content about database query planning"))
    val late = Seq(
      (10L, shared),
      (11L, "entirely fresh material matching nothing prior at all"))

    // the row-local streaming chunker must equal the batch window form
    val batchChunks = graft.ops.Dedup.cdcChunks(
        (docs ++ late).toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "chunk_hash").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val localChunks = DedupStream.cdcChunked((docs ++ late).toDF("doc_id", "text"))
      .collect().map(c => (c.docId, c.chunkHash)).sorted.toSeq
    assert(localChunks == batchChunks)

    val input = MemoryStream[(Long, String)]
    val out = DedupStream.cdcDetect(input.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("cdcdup")
      .outputMode("append").start()
    input.addData(docs)
    q.processAllAvailable()
    input.addData(late)
    q.processAllAvailable()
    val pairs = spark.table("cdcdup").as[DedupStream.ChunkHit].collect()
      .map(h => (h.docA, h.docB)).toSet
    q.stop()
    assert(pairs.contains((1L, 2L)))  // intra-batch shared run
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)),
      s"cross-batch chunk match missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 11L || p._2 == 11L))

    // stream pair set == batch detector's doc-pair expansion on the
    // same corpus (the rollup's n_docs >= 2 hashes, paired)
    val batchPairs = graft.ops.Dedup.cdcChunks(
        (docs ++ late).toDF("doc_id", "text"), "doc_id", "text")
      .as("a").join(graft.ops.Dedup.cdcChunks(
        (docs ++ late).toDF("doc_id", "text"), "doc_id", "text").as("b"),
        $"a.chunk_hash" === $"b.chunk_hash" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == batchPairs, s"stream $pairs != batch $batchPairs")
  }

  test("streaming drift monitor: drained running histogram equals the batch drift report") {
    import graft.streaming.Windowed
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // standing corpus: 40 docs across 2 sources with varied lengths;
    // arriving shard (streamed in two micro-batches): src_a unchanged,
    // src_b systematically longer (+16 tokens -> +2 buckets of drift)
    def doc(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val standing = (0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) "src_a" else "src_b", doc(8 + (i % 5) * 8))
    }.toDF("doc_id", "source", "text")
    val shard = (100 until 120).map { i =>
      val src = if (i % 2 == 0) "src_a" else "src_b"
      val len = 8 + (i % 5) * 8 + (if (src == "src_b") 16 else 0)
      (i.toLong, src, doc(len))
    }
    val ref = Windowed.referenceHistogram(standing)

    val input = MemoryStream[(Long, String, String)]
    val out = Windowed.driftMonitor(
      input.toDF().toDF("doc_id", "source", "text"), ref)
    val q = out.writeStream.format("memory").queryName("drift")
      .outputMode("update").start()
    input.addData(shard.take(10))
    q.processAllAvailable()
    input.addData(shard.drop(10))
    q.processAllAvailable()
    q.stop()

    // latest counter per (source, bucket) -> shares -> L1 vs reference
    val last = spark.sql(
      """SELECT source, bucket, max(n) AS n, max(ppm_ref) AS ppm_ref
         FROM drift GROUP BY source, bucket""")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val streamL1 = last
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("ppm", expr("CAST((n * 1000000) div tot AS BIGINT)"))
      .groupBy("source")
      .agg(sum(abs(col("ppm") - col("ppm_ref"))).as("l1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // batch form of the q160 comparison on the same standing/shard pair
    val newHist = Windowed.referenceHistogram(shard.toDF("doc_id", "source", "text"))
    val batchL1 = ref.withColumnRenamed("ppm", "ppm_old")
      .join(newHist.withColumnRenamed("ppm", "ppm_new"),
        Seq("source", "bucket"), "full_outer")
      .groupBy("source")
      .agg(sum(abs(coalesce(col("ppm_new"), lit(0L)) -
        coalesce(col("ppm_old"), lit(0L)))).as("l1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the stream never saw buckets the shard lacks but the standing
    // corpus has — add their reference mass exactly as the batch
    // full-outer does before comparing
    val missing = ref.join(newHist.select("source", "bucket"),
        Seq("source", "bucket"), "left_anti")
      .groupBy("source").agg(sum(col("ppm")).as("miss"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val adjusted = streamL1.map { case (s, v) =>
      s -> (v + missing.getOrElse(s, 0L))
    }
    assert(adjusted == batchL1, s"stream $adjusted != batch $batchL1")
    assert(batchL1("src_b") > batchL1("src_a"),
      "planted drift in src_b must exceed src_a's")
  }

  test("repetition-char battery on a stream equals the batch battery on the same docs") {
    // q112's char-weighted repetition metrics are per-row sorted folds —
    // stateless like the gopher battery, so they ride a streaming ingest
    // unchanged (the streaming form skips only the batch entry's persist).
    // Docs cover the fold edge cases: repeated lines (incl. repeated
    // EMPTY lines — the null-init <=> guard), a dominant bigram, repeated
    // 5-grams, and texts too short for any gram.
    import spark.implicits._
    val docs = Seq(
      (1L, "same line\nsame line\nsame line\nother"),
      (2L, ""),
      (3L, "a\n\n\nb"),
      (4L, "spark shuffle " * 12),
      (5L, "one two three four five one two three four five six"),
      (6L, "short"))
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Queries.repetitionMetrics(
      Queries.repetitionStats(mem.toDF().toDF("doc_id", "text")))
    val q = out.writeStream.format("memory").queryName("repchars")
      .outputMode("append").start()
    mem.addData(docs.take(3))
    q.processAllAvailable()
    mem.addData(docs.drop(3))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT * FROM repchars").orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val batch = Queries.repetitionMetrics(
      Queries.repetitionStats(docs.toDF("doc_id", "text")))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // hand-check the headline metric on doc 1: 3 of 4 lines are the value
    // "same line" -> dup_line_frac = 1 - 2/4; repeats beyond first carry
    // 2*9 of the 9*3+5=32 line chars
    val d1 = streamed.find(_.head == 1L).get
    assert(d1(2) == 0.5, s"dup_line_frac: ${d1(2)}")
    assert(d1(3) == 0.5625, s"dup_line_char_frac: ${d1(3)}")
  }

  test("epoch upsampling on a stream equals the batch expansion on the same docs") {
    // q113's fractional-epoch explode is per-row + stateless, so the
    // multiplicity recipe applies AT INGEST (each arriving doc emits its
    // copies immediately). Docs cover >1-epoch, <1-epoch (copies may be
    // zero), and default-epoch languages.
    import spark.implicits._
    val docs = Seq(
      (1L, "en"), (2L, "de"), (3L, "es"), (4L, "es"), (5L, "fr"),
      (6L, "zh"), (7L, "xx"), (8L, "en"), (9L, "de"), (10L, "es"))
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = Queries.epochUpsample(mem.toDF().toDF("doc_id", "lang"))
    val q = out.writeStream.format("memory").queryName("epochs")
      .outputMode("append").start()
    mem.addData(docs.take(5))
    q.processAllAvailable()
    mem.addData(docs.drop(5))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT * FROM epochs").orderBy("doc_id", "copy")
      .collect().map(_.toSeq).toSeq
    val batch = Queries.epochUpsample(docs.toDF("doc_id", "lang"))
      .orderBy("doc_id", "copy").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // structural floor: every de doc contributes >= 2 copies (2300pm),
    // every en doc >= 1 (1700pm)
    val byDoc = streamed.groupBy(_.head.asInstanceOf[Long]).view.mapValues(_.size)
    assert(byDoc(2L) >= 2 && byDoc(9L) >= 2)
    assert(byDoc(1L) >= 1 && byDoc(8L) >= 1)
  }

  test("streaming language token counts equal batch with one state row per language") {
    // q126's alpha mixture reads per-language token counts; maintained at
    // ingest they are a plain streaming aggregation whose state is exactly
    // one row per language — the mixture arithmetic then runs over the
    // complete-mode output at planning time. Pin stream == batch across
    // micro-batches, and the bounded state-row count.
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text").limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    def counts(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang").agg(sum(col("n_tok")).as("n_tokens"))
    val q = counts(mem.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("langtok")
      .outputMode("complete").start()
    mem.addData(docs.take(60))
    q.processAllAvailable()
    mem.addData(docs.drop(60))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()

    val streamed = spark.sql("SELECT * FROM langtok").orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = counts(docs.toDF("doc_id", "lang", "text")).orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream counts diverged from batch:\n stream=$streamed\n batch=$batch")
    val nLangs = docs.map(_._2).distinct.size
    assert(stateRows == nLangs,
      s"state should hold exactly one row per language: $stateRows vs $nLangs")
  }

  test("streaming source sketch equals the batch sketch with one state row per source") {
    // q108's governance sketch maintained at ingest: component-min is a
    // plain streaming aggregation, so state is exactly one row per source
    // regardless of document volume. Pin stream(complete) == batch on the
    // same docs across micro-batches, and the state-operator row count.
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "doc_id", "text").limit(120)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = graft.streaming.DedupStream.sourceSketchStream(
      mem.toDF().toDF("source", "doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("srcsketch")
      .outputMode("complete").start()
    mem.addData(docs.take(50))
    q.processAllAvailable()
    mem.addData(docs.drop(50))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()

    val streamed = spark.sql("SELECT * FROM srcsketch").orderBy("source")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    val batchDf = docs.toDF("source", "doc_id", "text")
    val batch = graft.ops.Dedup.sourceSketch(batchDf, "source", "doc_id", "text")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream sketch diverged from batch:\n stream=$streamed\n batch=$batch")

    val nSources = batchDf.select("source").distinct().count()
    assert(stateRows == nSources,
      s"state should hold exactly one row per source: $stateRows vs $nSources")
  }

  test("near-dup band state caps at maxPerBand and counts evictions") {
    import graft.streaming.DedupStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val sig = Seq(1L, 2L, 3L)
    val st = TestGroupState.create[DedupStream.BandState](
      Optional.empty[DedupStream.BandState], GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    val hits = DedupStream.update(threshold = 0.5, maxPerBand = 2)("b", Iterator(
      DedupStream.Banded("b", 1L, sig),
      DedupStream.Banded("b", 2L, sig),
      DedupStream.Banded("b", 3L, sig)), st).toSeq
    // 1-2, 1-3, 2-3 all agree fully within the batch
    assert(hits.map(h => (h.docA, h.docB)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val s = st.get
    assert(s.entries.map(_._1) == Vector(2L, 3L)) // oldest evicted
    assert(s.dropped == 1L) // saturation is counted, never silent
  }

  test("streaming search: stream-static top-k equals the batch topKJoin bit-for-bit") {
    import graft.streaming.SearchStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qsrc = MemoryStream[SearchStream.QueryVec]
    val out = SearchStream.topK(qsrc.toDF(), embs, k = 5)
    val q = out.writeStream.format("memory").queryName("sstream")
      .outputMode("append").start()
    val qvecs = embs.filter(col("vec_id") < 3).orderBy("vec_id").collect()
      .map(r => SearchStream.QueryVec(r.getLong(0), r.getSeq[Float](1).toArray))
    // one query alone, then two in the same micro-batch
    qsrc.addData(qvecs(0))
    q.processAllAvailable()
    qsrc.addData(qvecs(1), qvecs(2))
    q.processAllAvailable()
    val got = spark.table("sstream").as[SearchStream.Hit].collect()
      .map(h => (h.query_id, h.rnk, h.vec_id, h.sim)).toSet
    val batch = graft.search.SearchEngine
      .topKJoin(embs.filter(col("vec_id") < 3), embs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3))).toSet
    assert(got == batch, s"stream hits != batch topKJoin\n got=$got\nwant=$batch")
    assert(got.count(_._2 == 1L) == 3) // every query answered
    q.stop()
  }

  test("streaming retry dedup: flags equal the batch lag computation across micro-batches") {
    import graft.streaming.EventDedupStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sec = 1000000000L
    // key A: burst (retries at +10 s, +30 s), a clean gap (+200 s), then a
    // cross-batch retry; key B: same value, always outside the window;
    // key C differs from A only in value — never a dup of A
    val batch1 = Seq(
      EventDedupStream.Ev(1L, 0L, 1L, "click", 1.0),
      EventDedupStream.Ev(2L, 10L * sec, 1L, "click", 1.0),
      EventDedupStream.Ev(3L, 30L * sec, 1L, "click", 1.0),
      EventDedupStream.Ev(4L, 230L * sec, 1L, "click", 1.0),
      EventDedupStream.Ev(5L, 0L, 2L, "click", 1.0),
      EventDedupStream.Ev(6L, 100L * sec, 2L, "click", 1.0),
      EventDedupStream.Ev(7L, 1L * sec, 1L, "click", 2.0))
    val batch2 = Seq( // arrives later; key A's last ts is 230 s (state)
      EventDedupStream.Ev(8L, 280L * sec, 1L, "click", 1.0),
      EventDedupStream.Ev(9L, 400L * sec, 2L, "click", 1.0))
    val input = MemoryStream[EventDedupStream.Ev]
    val out = EventDedupStream.detect(
      input.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val q = out.writeStream.format("memory").queryName("retrydedup")
      .outputMode("append").start()
    input.addData(batch1)
    q.processAllAvailable()
    input.addData(batch2)
    q.processAllAvailable()
    val got = spark.table("retrydedup").as[EventDedupStream.Flagged]
      .collect().map(f => (f.eventId, f.dup)).toMap
    // batch twin: one lag over the key-partitioned window (q204's shape)
    val all = (batch1 ++ batch2).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("userId", "eventType", "value").orderBy("ts", "eventId")
    val want = all.withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("dup", col("prev").isNotNull &&
        col("ts") - col("prev") <= lit(60L * sec))
      .select("eventId", "dup").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(got == want, s"stream flags != batch lag\n got=$got\nwant=$want")
    assert(got(2L) && got(3L) && got(8L) && !got(4L) && !got(6L) && !got(7L))
    q.stop()
  }

  test("evicting retry dedup: parity with the unevicted fold; timeout drops the key; re-arrival flags fresh") {
    // TestGroupState-driven (the detectWindowed precedent: processing-
    // time timeouts busy-loop under Trigger(0), so live-stream drains
    // don't settle in a spec)
    import graft.streaming.EventDedupStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val sec = 1000000000L
    val key = (1L, "click", 1.0)
    val evs = Seq(
      EventDedupStream.Ev(1L, 0L, 1L, "click", 1.0),
      EventDedupStream.Ev(2L, 10L * sec, 1L, "click", 1.0),
      EventDedupStream.Ev(3L, 230L * sec, 1L, "click", 1.0))

    def fresh(t: GroupStateTimeout) =
      TestGroupState.create[EventDedupStream.KeyState](
        Optional.empty[EventDedupStream.KeyState], t,
        1000L, Optional.empty[Long], hasTimedOut = false)

    // (a) non-timed-out parity: identical flags to the unevicted fold,
    // and the eviction horizon is really armed (NoTimeout state throws)
    val plain = EventDedupStream.update(60L * sec)(
      key, evs.iterator, fresh(GroupStateTimeout.NoTimeout)).toSeq
    val evicting = EventDedupStream.updateEvicting(60L * sec, "10 minutes")(
      key, evs.iterator, fresh(GroupStateTimeout.ProcessingTimeTimeout)).toSeq
    assert(evicting == plain)
    assert(plain.map(f => f.eventId -> f.dup) ==
      Seq(1L -> false, 2L -> true, 3L -> false))
    intercept[UnsupportedOperationException] {
      EventDedupStream.updateEvicting(60L * sec, "10 minutes")(
        key, evs.iterator, fresh(GroupStateTimeout.NoTimeout)).toList
    }

    // (b) an idle key times out: state removed, nothing emitted
    val expired = TestGroupState.create[EventDedupStream.KeyState](
      Optional.of(EventDedupStream.KeyState(230L * sec)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    assert(EventDedupStream.updateEvicting(60L * sec, "10 minutes")(
      key, Iterator.empty, expired).isEmpty && expired.isRemoved)

    // (c) a post-eviction arrival sees empty state -> flagged FRESH even
    // if its ts sits within windowNs of the evicted last-seen: the
    // idle >> windowNs contract is exactly what makes that impossible in
    // a correctly configured deployment (wall-clock idle implies the
    // event-time gap), and the fresh flag is the safe direction
    val after = EventDedupStream.updateEvicting(60L * sec, "10 minutes")(
      key, Iterator(EventDedupStream.Ev(9L, 250L * sec, 1L, "click", 1.0)),
      fresh(GroupStateTimeout.ProcessingTimeTimeout)).toSeq
    assert(after.map(f => f.eventId -> f.dup) == Seq(9L -> false))
  }

  test("native dropDuplicatesWithinWatermark equals batch first-occurrence " +
      "dedup on the retry key") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the declarative sibling of EventDedupStream: Spark's built-in
    // watermark-bounded dedup keeps the FIRST row per key and drops
    // later arrivals while the key is inside the watermark window —
    // with all retries inside the delay, the drained stream equals the
    // batch distinct-first per (user, type, value)
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val batch1 = Seq(
      (1L, "click", 1.0, at(0), 1L),
      (1L, "click", 1.0, at(10), 2L),  // retry — dropped
      (2L, "click", 1.0, at(5), 3L),
      (1L, "click", 2.0, at(7), 4L))   // different value — kept
    val batch2 = Seq(
      (1L, "click", 1.0, at(40), 5L),  // retry across batches — dropped
      (3L, "view", 1.0, at(50), 6L))
    val input = MemoryStream[(Long, String, Double, java.sql.Timestamp, Long)]
    val out = input.toDF()
      .toDF("user_id", "event_type", "value", "ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")
    val q = out.writeStream.format("memory").queryName("natdedup")
      .outputMode("append").start()
    input.addData(batch1)
    q.processAllAvailable()
    input.addData(batch2)
    q.processAllAvailable()
    val got = spark.table("natdedup").select("event_id").as[Long]
      .collect().toSet
    // batch twin: first (ts, event_id) row per key
    val want = (batch1 ++ batch2)
      .toDF("user_id", "event_type", "value", "ts", "event_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type", "value")
          .orderBy("ts", "event_id")))
      .filter(col("rn") === 1).select("event_id").as[Long].collect().toSet
    assert(got == want, s"native dedup != batch first-occurrence\n got=$got\nwant=$want")
    assert(got == Set(1L, 3L, 4L, 6L))
    q.stop()
  }

  test("streaming pit features: label emissions equal the q272 batch window, " +
      "counter carried across batches, same-ts click excluded") {
    import graft.streaming.PitCountStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sec = 1000000000L
    // user 1: two clicks, a label, a SAME-TS (label, click) tie, then a
    // cross-batch label that must see batch-1 clicks in its count;
    // user 2: label before any click (count 0)
    val batch1 = Seq(
      PitCountStream.Ev(1L, 10L * sec, isLabel = false, 101L),
      PitCountStream.Ev(1L, 20L * sec, isLabel = false, 102L),
      PitCountStream.Ev(1L, 30L * sec, isLabel = true, 103L),
      PitCountStream.Ev(1L, 40L * sec, isLabel = true, 104L), // ties with
      PitCountStream.Ev(1L, 40L * sec, isLabel = false, 105L), // this click
      PitCountStream.Ev(2L, 5L * sec, isLabel = true, 201L))
    val batch2 = Seq( // user 1's counter is 3 in state (clicks 101/102/105)
      PitCountStream.Ev(1L, 50L * sec, isLabel = true, 106L),
      PitCountStream.Ev(2L, 60L * sec, isLabel = false, 202L),
      PitCountStream.Ev(2L, 70L * sec, isLabel = true, 203L))
    val input = MemoryStream[PitCountStream.Ev]
    val out = PitCountStream.features(
      input.toDF().toDF("user_id", "ts", "is_label", "id"))
    val q = out.writeStream.format("memory").queryName("pitfeat")
      .outputMode("append").start()
    input.addData(batch1)
    q.processAllAvailable()
    input.addData(batch2)
    q.processAllAvailable()
    val got = spark.table("pitfeat").as[PitCountStream.Feat]
      .collect().map(f => (f.id, f.pitCount)).toMap
    // batch twin: q272's union + (ts, side) running-sum window
    val all = (batch1 ++ batch2).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("userId")
      .orderBy(col("ts"), when(col("isLabel"), 0L).otherwise(1L), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val want = all
      .withColumn("pit",
        sum(when(col("isLabel"), 0L).otherwise(1L)).over(w))
      .filter(col("isLabel"))
      .select("id", "pit").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"stream pit != batch window\n got=$got\nwant=$want")
    // the tie label (104) must NOT count its same-ts click (105)
    assert(got(103L) == 2L && got(104L) == 2L && got(106L) == 3L &&
      got(201L) == 0L && got(203L) == 1L)
    q.stop()
  }

  test("streaming IVF routing: Ann.ivfAssignDist runs unchanged on a vector stream, " +
      "equals the batch assignment") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the assignment kernel is windowless (per-row fold over broadcast
    // packed centroids), so the SAME code routes a continuous ingest
    // stream — no streaming-specific operator needed
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = graft.search.Ann.sampleCentroids(embs, 25)
    val rows = embs.limit(12).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val input = MemoryStream[(Long, Array[Float])]
    val out = graft.search.Ann.ivfAssignDist(
      input.toDF().toDF("vec_id", "embedding"), cents)
    val q = out.writeStream.format("memory").queryName("ivfroute")
      .outputMode("append").start()
    input.addData(rows.take(5).toSeq)
    q.processAllAvailable()
    input.addData(rows.drop(5).toSeq)
    q.processAllAvailable()
    val got = spark.table("ivfroute")
      .select("vec_id", "centroid_id", "dist2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.search.Ann.ivfAssignDist(
        embs.limit(12).select(col("vec_id"), col("embedding")), cents)
      .select("vec_id", "centroid_id", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"stream routing != batch assignment\n got=$got\nwant=$want")
    assert(got.size == 12)
    q.stop()
  }

  test("streaming SCD2: closed intervals equal the batch build across micro-batches") {
    import graft.streaming.ScdStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val sec = 1000000000L
    // user 1: view view click view (3 runs, 2 closed); user 2: one long
    // click run crossing the batch boundary, closed by a view in batch 2
    val batch1 = Seq(
      ScdStream.Ev(1L, 10L * sec, 1L, "view"),
      ScdStream.Ev(1L, 20L * sec, 2L, "view"),
      ScdStream.Ev(1L, 30L * sec, 3L, "click"),
      ScdStream.Ev(2L, 5L * sec, 4L, "click"))
    val batch2 = Seq(
      ScdStream.Ev(1L, 40L * sec, 5L, "view"),
      ScdStream.Ev(2L, 50L * sec, 6L, "click"),
      ScdStream.Ev(2L, 60L * sec, 7L, "view"))
    val input = MemoryStream[ScdStream.Ev]
    val out = ScdStream.intervals(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
    val q = out.writeStream.format("memory").queryName("scd")
      .outputMode("append").start()
    input.addData(batch1); q.processAllAvailable()
    input.addData(batch2); q.processAllAvailable()
    val got = spark.table("scd").as[ScdStream.Interval].collect()
      .map(i => (i.userId, i.status, i.validFrom, i.validTo, i.nEvents)).toSet
    // batch twin: q229's run construction, closed rows only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("userId").orderBy("ts", "eventId")
    val runs = (batch1 ++ batch2).toDF()
      .withColumn("chg", when(lag(col("eventType"), 1).over(w).isNull ||
        lag(col("eventType"), 1).over(w) =!= col("eventType"), 1L)
        .otherwise(0L))
      .withColumn("runId", sum(col("chg")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("userId", "runId")
      .agg(min(col("ts")).as("validFrom"), first(col("eventType")).as("status"),
        count(lit(1)).as("nEvents"))
    val lw = org.apache.spark.sql.expressions.Window
      .partitionBy("userId").orderBy("runId")
    val want = runs.withColumn("validTo", lead(col("validFrom"), 1).over(lw))
      .filter(col("validTo").isNotNull)
      .select("userId", "status", "validFrom", "validTo", "nEvents")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want, s"stream intervals != batch closed runs\n got=$got\nwant=$want")
    // the cross-batch click run closed with BOTH its events counted
    assert(got.contains((2L, "click", 5L * sec, 60L * sec, 2L)))
    q.stop()
  }

  test("streaming burst detector: closed-hour flags equal the batch integer z-test") {
    import graft.streaming.BurstStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val hr = 3600000000000L
    // 30 hours of background (3 events each) + one fat hour (hour 25, 40
    // events) + a final sentinel hour that closes hour 30
    def eventsFor(h: Long, n: Int): Seq[BurstStream.Ev] =
      (0 until n).map(i => BurstStream.Ev("click", h * hr + i * 1000000L))
    val all = (0L until 25L).flatMap(eventsFor(_, 3)) ++
      eventsFor(25L, 40) ++ (26L until 31L).flatMap(eventsFor(_, 3))
    val (batch1, batch2) = all.splitAt(all.length / 2)
    val input = MemoryStream[BurstStream.Ev]
    val out = BurstStream.detect(input.toDF().toDF("event_type", "ts"))
    val q = out.writeStream.format("memory").queryName("burst")
      .outputMode("append").start()
    input.addData(batch1); q.processAllAvailable()
    input.addData(batch2); q.processAllAvailable()
    val got = spark.table("burst").as[BurstStream.Flag].collect()
      .map(f => (f.hour, f.c, f.burst)).toSet
    // batch twin: the q223 RANGE-window integer rule on closed hours
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("eventType").orderBy("hour").rangeBetween(-24, -1)
    val want = all.toDF()
      .groupBy(col("eventType"), expr("ts div 3600000000000L").as("hour"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nw", count(col("c")).over(w))
      .withColumn("sw", sum(col("c")).over(w))
      .withColumn("s2w", sum(col("c") * col("c")).over(w))
      .withColumn("burst", col("nw") >= 12L &&
        (col("nw") * col("c") - col("sw")) > 0L &&
        (col("nw") * col("s2w") - col("sw") * col("sw") === 0L ||
          (col("nw") * col("c") - col("sw")) *
            (col("nw") * col("c") - col("sw")) >
            lit(9L) * (col("nw") * col("s2w") - col("sw") * col("sw"))))
      .filter(col("hour") < 30L) // hour 30 is still open in the stream
      .select("hour", "c", "burst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want, s"stream flags != batch rule\n got=$got\nwant=$want")
    assert(got.contains((25L, 40L, true)), "the fat hour must flag")
    assert(got.count(_._3) == 1, "only the fat hour flags on this fixture")
    q.stop()
  }

  test("stream-stream attribution join: pair set equals batch rangeJoin, " +
      "including a cross-batch pair") {
    import graft.streaming.AttributionStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // base offset keeps every event time well above epoch 0 — the
    // join's derived state watermark clamps at 0 and a t=0 row sits
    // exactly on the eviction boundary
    val base = 86400L
    def ts(sec: Long) = new Timestamp((base + sec) * 1000L)
    // clicks: (user, sec, channel); purchases: (user, sec, cents).
    // Fixture is WATERMARK-SAFE: within each processAllAvailable no row's
    // event time exceeds any pending row's time by more than the horizon,
    // and each side is drained before the other side's later-timed data
    // arrives — otherwise the join's event-time watermark (max seen −
    // horizon) legitimately drops the older row as late, which is
    // stream-stream semantics, not a bug to pin around.
    val clicks1 = Seq((1L, 0L, 1L), (1L, 1800L, 2L), (2L, 100L, 4L))
    val clicks2 = Seq((1L, 7200L, 3L))
    val purchases1 = Seq((1L, 1800L, 500L)) // simultaneous click excluded
    val purchases2 = Seq((1L, 2000L, 800L), // matches batch-1 clicks @0,@1800
      (1L, 7300L, 700L), // matches the batch-2 click@7200
      (2L, 5000L, 900L), // only click 4900 s earlier — outside 1 h horizon
      (3L, 50L, 300L)) // no clicks at all
    val cIn = MemoryStream[(Long, Timestamp, Long)]
    val pIn = MemoryStream[(Long, Timestamp, Long)]
    val out = AttributionStream.pairs(
      cIn.toDF().toDF("user_id", "c_ts", "channel"),
      pIn.toDF().toDF("user_id", "p_ts", "cents"), horizonSec = 3600L)
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    cIn.addData(clicks1.map(c => (c._1, ts(c._2), c._3)))
    pIn.addData(purchases1.map(p => (p._1, ts(p._2), p._3)))
    q.processAllAvailable()
    // purchases (low event times) drain into join state BEFORE the
    // high-timed click@7200 can advance the watermark past them
    pIn.addData(purchases2.map(p => (p._1, ts(p._2), p._3)))
    q.processAllAvailable()
    cIn.addData(clicks2.map(c => (c._1, ts(c._2), c._3)))
    q.processAllAvailable()
    val got = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L - base,
        r.getLong(2), r.getTimestamp(3).getTime / 1000L - base, r.getLong(4)))
      .toSet
    // batch twin: TemporalJoin.rangeJoin over the same data on epoch-ns
    val ns = 1000000000L
    val bp = (purchases1 ++ purchases2)
      .toDF("user_id", "sec", "cents")
      .select(col("user_id"), ((col("sec") + base) * ns).as("ts"), col("cents"))
    val bc = (clicks1 ++ clicks2).toDF("user_id", "sec", "channel")
      .select(col("user_id"), ((col("sec") + base) * ns).as("ts"), col("channel"))
    val want = graft.ops.TemporalJoin.rangeJoin(
        bp, bc, "user_id", "ts", 3600L * ns, Seq("channel"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts") / ns - base,
        r.getAs[Long]("cents"), r.getAs[Long]("r_ts") / ns - base,
        r.getAs[Long]("r_channel")))
      .toSet
    assert(got == want, s"stream pairs != batch rangeJoin\n got=$got\nwant=$want")
    // cross-batch pairs present; simultaneous and out-of-horizon excluded
    assert(got == Set(
      (1L, 1800L, 500L, 0L, 1L),
      (1L, 2000L, 800L, 0L, 1L), (1L, 2000L, 800L, 1800L, 2L),
      (1L, 7300L, 700L, 7200L, 3L)))
    q.stop()
  }

  test("streaming Misra-Gries top-k equals a sequential fold over the " +
      "concatenated batches, with visible eviction") {
    import graft.streaming.TopKStream
    import graft.functions.MisraGries
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // k=2 counters; group g: a dominant token, a medium one, and noise
    // tokens that force the decrement-all eviction path; group h checks
    // state isolation
    val b1 = Seq("a", "a", "b", "a", "c", "a", "b").zipWithIndex
      .map { case (t, i) => TopKStream.Tok("g", i.toLong, t) } ++
      Seq(TopKStream.Tok("h", 0L, "z"))
    val b2 = Seq("d", "a", "b", "e", "a").zipWithIndex
      .map { case (t, i) => TopKStream.Tok("g", 100L + i, t) } ++
      Seq(TopKStream.Tok("h", 1L, "z"))
    val input = MemoryStream[TopKStream.Tok]
    val out = TopKStream.topK(spark, input.toDS(), k = 2)
    val q = out.writeStream.format("memory").queryName("mgtopk")
      .outputMode("update").start()
    input.addData(b1)
    q.processAllAvailable()
    // update mode re-emits each group's whole summary every batch and the
    // memory sink only APPENDS — isolate the final batch's rows by count
    val n1 = spark.table("mgtopk").count().toInt
    input.addData(b2)
    q.processAllAvailable()
    val got = spark.table("mgtopk").as[TopKStream.Hit].collect()
      .drop(n1)
      .groupBy(_.group)
      .map { case (g, hits) =>
        g -> hits.map(h => h.token -> h.count).toMap }
    // reference: ONE sequential fold over all tokens in seq order
    val mg = new MisraGries(2)
    def fold(toks: Seq[TopKStream.Tok]): Map[String, Long] =
      toks.sortBy(_.seq).foldLeft(Map.empty[String, Long]) {
        (buf, t) => mg.reduce(buf, t.token)
      }
    val wantG = fold((b1 ++ b2).filter(_.group == "g"))
    val wantH = fold((b1 ++ b2).filter(_.group == "h"))
    assert(got("g") == wantG, s"group g: ${got("g")} != $wantG")
    assert(got("h") == wantH)
    // the MG guarantee on this stream: "a" (true freq 7 of 12 > 12/3)
    // must be present, and its count understates by <= n/(k+1) = 4
    assert(wantG.contains("a") && wantG("a") >= 7L - 4L && wantG("a") <= 7L)
    assert(wantH == Map("z" -> 2L))
    q.stop()
  }

  test("native session_window streaming aggregation equals the batch " +
      "gap-chain sessionization") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = 86400L // stay off epoch 0 (watermark clamp boundary)
    def ts(sec: Long) = new Timestamp((base + sec) * 1000L)
    // user 1: two sessions (gap 45 min between them); user 2: one session
    // spanning both batches (event at +29 min keeps it alive)
    val b1 = Seq((1L, 0L), (1L, 600L), (1L, 1200L), (2L, 100L))
    val b2 = Seq((1L, 1200L + 2700L), (2L, 100L + 1740L))
    // sentinels (user 99) push the watermark so append mode flushes the
    // real sessions; their own sessions never flush and are excluded
    val s1 = Seq((99L, 50000L))
    val s2 = Seq((99L, 100000L))
    val input = MemoryStream[(Long, Timestamp)]
    val out = input.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"), col("n"))
    val q = out.writeStream.format("memory").queryName("sesswin")
      .outputMode("append").start()
    input.addData(b1.map { case (u, t) => (u, ts(t)) })
    q.processAllAvailable()
    input.addData(b2.map { case (u, t) => (u, ts(t)) })
    q.processAllAvailable()
    input.addData(s1.map { case (u, t) => (u, ts(t)) })
    q.processAllAvailable()
    input.addData(s2.map { case (u, t) => (u, ts(t)) })
    q.processAllAvailable()
    val got = spark.table("sesswin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L - base,
        r.getTimestamp(2).getTime / 1000L - base, r.getLong(3)))
      .filter(_._1 != 99L).toSet
    // batch twin: the q178 gap chain (lag + running sum) over epoch secs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("sec")
    val want = (b1 ++ b2).toDF("user_id", "sec")
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull ||
        col("sec") - col("prev") > 1800L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(w))
      .groupBy("user_id", "sess_id")
      .agg(min(col("sec")).as("w_start"),
        (max(col("sec")) + 1800L).as("w_end"), count(lit(1)).as("n"))
      .select("user_id", "w_start", "w_end", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want, s"session_window != gap chain\n got=$got\nwant=$want")
    // user 2's session MERGED across the two micro-batches
    assert(got.contains((2L, 100L, 100L + 1740L + 1800L, 2L)))
    assert(got.size == 3)
    q.stop()
  }
}
