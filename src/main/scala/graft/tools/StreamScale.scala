package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming state-bound soak (VERDICT r13 #3): every streaming twin
  * claims bounded state (counted eviction, one-row-per-key, fixed
  * per-key payloads), but until round 14 those claims were spec-pinned
  * at toy fixture sizes only. This harness drives the heaviest stateful
  * operators over the SAME K-copy scaled corpus the batch soak uses
  * ([[Scale.materialize]]), replayed as a file-source stream in
  * micro-batches, and records the state-store totals the claims are
  * about — rows, bytes, updated/removed per batch — straight from each
  * micro-batch's StreamingQueryProgress (the numbers the Spark UI's
  * streaming tab shows).
  *
  * What "bounded" means per operator (the contract under test):
  *  - `DedupStream.detect` — state is one row per POPULATED BAND KEY,
  *    each capped at maxPerBand signatures with counted eviction: total
  *    rows grow ~linearly with distinct content (keys), BYTES PER KEY
  *    stay fixed. The soak shows rows/input tracking ~K while
  *    bytes-per-row stays flat.
  *  - `Sessions.gapSessions` — one OpenSession row per user INSIDE the
  *    watermark horizon; the event-time timeout evicts closed sessions,
  *    so rows track active users, not the stream.
  *  - `Windowed.driftMonitor` — a streaming agg keyed by (source,
  *    bucket): |sources| × 10 rows, growing only with the source
  *    catalog (horizontal K scaling grows sources K×, so rows ≈ K × 10
  *    × |base sources| — still never the document count).
  *  - `AsOfStream.enrich` (round 15, VERDICT r14 #6) — one state row
  *    per KEY holding a ts-sorted reference vector trimmed to the
  *    event-time `horizon`: rows track user cardinality (K× under
  *    horizontal scaling), bytes-per-key bounded by horizon density —
  *    never the stream length (the per-batch trace shows bytes/key
  *    plateau as the replay advances past one horizon).
  *  - `Windowed.trendingTokens` (round 15) — one state row per WINDOW
  *    holding a k-bounded Misra-Gries counter: a K× deeper stream
  *    (same time range, K× docs per window) must leave state rows AND
  *    bytes FLAT — the strongest bound of the family (constant, not
  *    corpus-tracking).
  *  - `EventDedupStream.detect` (round 15) — one long per (user, type,
  *    value) key. The CLAIMED bound is O(|active keys|); this soak
  *    measures what "active keys" means on a real feed: the synthetic
  *    events' `value` is high-cardinality, so keys ≈ distinct triples
  *    track the stream — the honest trade the scaladoc's
  *    processing-time-timeout deployment note exists for, now priced
  *    like DedupStream's band table (flat bytes/key, corpus-linear
  *    rows).
  *  - `BurstStream.detect` (round 15) — trailing ≤24 closed hours + one
  *    open hour per EVENT-TYPE key: |types| state rows at any volume.
  *    event_type is a 6-value enum that horizontal K-scaling does NOT
  *    grow, so rows must read 6 at every K — constant, like
  *    trendingTokens.
  *  - `ScdStream.intervals` / `PitCountStream.features` (round 15) —
  *    one open run / one counter long per user: rows must track user
  *    cardinality (K×), bytes/key flat and tiny.
  *  - `AttributionStream.pairs` (round 15) — the one NATIVE
  *    stream-stream interval join of the tier: state is Spark's
  *    watermark-bounded symmetric join buffers, so rows must track the
  *    in-horizon tail of both feeds (evicted as the watermark advances
  *    — rows_removed > 0 is the evidence), never the replayed total.
  *  - `SearchStream.topK` (round 15) — the strongest claim of all:
  *    NO retained state by construction (the group fold never calls
  *    state.update); the trace must show state_rows = 0 at every K
  *    while queries stream against the static corpus.
  *  - `dedup_detect_rocksdb` (round 15, VERDICT r14 #4) — the SAME
  *    DedupStream.detect soak with the RocksDB state-store provider:
  *    the band-key state table (the documented corpus-linear honest
  *    trade, 478–619 B/key in-heap) moves to on-disk SST files with a
  *    bounded block cache, which is the named mitigation at 100 TB.
  *    The progress line carries the provider's own memory/disk split
  *    (rocksdb custom metrics) so heap-vs-disk is measured, not argued.
  *
  * Usage: sbt 'runMain graft.tools.StreamScale <K> [ops...]'
  * Default ops = ALL ELEVEN stateful twins ([[DefaultOps]] — the one
  * authoritative list; search_topk adds embeddings to the materialized
  * set). Opt-in by explicit name: dedup_detect_rocksdb /
  * event_dedup_rocksdb / gap_sessions_rocksdb (reconfigure the
  * session's state-store provider
  * for their block) and dedup_detect_windowed / event_dedup_evicting
  * (wall-clock-paced — mostly waiting, not a data-rate measurement;
  * knob via SPARK_GRAFT_STREAM_WINDOW_SEC / SPARK_GRAFT_STREAM_IDLE_SEC
  * for the state-law arms). Emits one `[stream-scale]` JSON line per
  * micro-batch and one `[stream-total]` summary per (op, K).
  */
object StreamScale {
  private def jmap(m: Seq[(String, Any)]): String =
    m.map {
      case (k, v: String) => s""""$k":${graft.Harness.json(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  /** Drain a streaming query over a finite file source, then report one
    * line per micro-batch from recentProgress. */
  private def drain(name: String, k: Int, q: StreamingQuery,
      inputRows: Long): Unit = {
    q.processAllAvailable()
    q.stop()
    report(name, k, q, inputRows)
  }

  /** Drain for PROCESSING-TIME-TIMEOUT queries: `processAllAvailable`
    * starves under timeout-scheduled no-data batches (the detectWindowed
    * scaladoc finding), so poll progress until the full input is
    * consumed, then let `settleMs` of paced empty batches fire the
    * remaining expirations before stopping. Input accounting accumulates
    * per batchId (the recentProgress ring could otherwise rotate data
    * batches out under a long settle).
    */
  private def drainPaced(name: String, k: Int, q: StreamingQuery,
      inputRows: Long, settleMs: Long): Unit = {
    val seen = scala.collection.mutable.Map[Long, Long]()
    def consumed: Long = {
      q.recentProgress.foreach(p => seen(p.batchId) = p.numInputRows)
      seen.values.sum
    }
    val deadline = System.nanoTime() + 30L * 60 * 1000000000L
    while (consumed < inputRows && q.isActive && System.nanoTime() < deadline)
      Thread.sleep(300)
    // a dead query must FAIL the soak, not produce a vacuously passing
    // report (review r15 — drain's processAllAvailable rethrows, this
    // poll loop has to do it explicitly); same for a deadline overrun
    q.exception.foreach(e => throw e)
    require(consumed >= inputRows,
      s"$name: query went inactive/deadline after $consumed of $inputRows rows")
    Thread.sleep(settleMs)
    // a query dying DURING the settle (while timeout expirations fire)
    // must also fail the soak, not report with missing eviction batches
    // (ADVICE r15) — re-check after the settle and after the stop-gap wait
    q.exception.foreach(e => throw e)
    // stop in the idle gap right after a batch commits (a stop landing
    // mid-commit logs a spurious CANNOT_COMMIT from the stream thread)
    val lastId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val stopBy = System.nanoTime() + 5L * 1000000000L
    while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) == lastId &&
        q.isActive && System.nanoTime() < stopBy)
      Thread.sleep(50)
    q.exception.foreach(e => throw e)
    q.stop()
    report(name, k, q, inputRows)
  }

  private def report(name: String, k: Int, q: StreamingQuery,
      inputRows: Long): Unit = {
    // keep zero-input batches whose state operator still did work: the
    // event-time-timeout eviction the gap-session contract names can
    // fire on a no-data micro-batch, and dropping it would hide the
    // rows_removed evidence (review r14)
    val progs = q.recentProgress.toSeq.filter(p =>
      p.numInputRows > 0 || p.stateOperators.exists(so =>
        so.numRowsRemoved > 0 || so.numRowsUpdated > 0))
    var maxRows = 0L
    var maxBytes = 0L
    var maxSst = -1L
    var maxRocksMem = -1L
    progs.foreach { p =>
      val so = p.stateOperators.headOption
      val rows = so.map(_.numRowsTotal).getOrElse(-1L)
      val bytes = so.map(_.memoryUsedBytes).getOrElse(-1L)
      maxRows = math.max(maxRows, rows)
      maxBytes = math.max(maxBytes, bytes)
      // RocksDB provider: memoryUsedBytes is the BLOCK-CACHE share; the
      // on-disk SST footprint (where the corpus-linear band table
      // actually lives under the mitigation) is a custom metric
      val rocks = so.map(_.customMetrics).map { cm =>
        Seq("rocksdbSstFileSize", "rocksdbPinnedBlocksMemoryUsage")
          .flatMap(k0 => Option(cm.get(k0)).map(v => k0 -> (v: Any)))
      }.getOrElse(Nil)
      // match any boxed numeric, not java.lang.Long specifically: a
      // provider reporting these as a different Number subtype would
      // otherwise leave the summary peaks at -1 while the per-batch line
      // still printed raw values — an inconsistent report (ADVICE r15)
      rocks.foreach {
        case ("rocksdbSstFileSize", v: java.lang.Number) =>
          maxSst = math.max(maxSst, v.longValue())
        case ("rocksdbPinnedBlocksMemoryUsage", v: java.lang.Number) =>
          maxRocksMem = math.max(maxRocksMem, v.longValue())
        case _ => ()
      }
      println("[stream-scale] " + jmap(Seq(
        "op" -> name, "k" -> k, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "state_rows" -> rows,
        "state_bytes" -> bytes,
        "rows_updated" -> so.map(_.numRowsUpdated).getOrElse(-1L),
        "rows_removed" -> so.map(_.numRowsRemoved).getOrElse(-1L)) ++ rocks))
    }
    println("[stream-total] " + jmap(Seq(
      "op" -> name, "k" -> k, "batches" -> progs.size,
      "input_rows" -> inputRows,
      "peak_state_rows" -> maxRows,
      "peak_state_bytes" -> maxBytes,
      "bytes_per_row" -> (if (maxRows > 0) maxBytes / maxRows else -1L)) ++
      (if (maxSst >= 0 || maxRocksMem >= 0)
        Seq("peak_sst_bytes" -> maxSst, "peak_rocksdb_pinned_mem_bytes" -> maxRocksMem)
      else Nil)))
  }

  private val DefaultOps = Set("dedup_detect", "gap_sessions",
    "drift_monitor", "asof_enrich", "trending_tokens", "event_dedup",
    "burst_detect", "scd_intervals", "pit_count", "attribution",
    "search_topk")
  // opt-in ops: the *_rocksdb twins reconfigure the session's
  // state-store provider (run alone or last by explicit request); the
  // *_evicting/*_windowed mitigation soaks run wall-clock paced (~1 min
  // of mostly waiting, not a data-rate measurement). The mitigation
  // knobs are env-tunable so the state-law arms (VERDICT r15 #2: state
  // ∝ window × rate needs the WINDOW axis varied too) are one command:
  // SPARK_GRAFT_STREAM_WINDOW_SEC (detectWindowed's reconciliation
  // window) and SPARK_GRAFT_STREAM_IDLE_SEC (detectEvicting's idle
  // horizon), both default 8.
  private val KnownOps = DefaultOps + "dedup_detect_rocksdb" +
    "event_dedup_rocksdb" + "gap_sessions_rocksdb" +
    "dedup_detect_windowed" + "event_dedup_evicting"

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val ops = if (args.length > 1) args.drop(1).toSet else DefaultOps
    // a typo'd op name must fail loudly, not produce a vacuously
    // "passing" soak that ran nothing (review r14; the Bench tier
    // handling precedent)
    require((ops -- KnownOps).isEmpty,
      s"unknown ops: ${(ops -- KnownOps).toSeq.sorted.mkString(",")} " +
        s"(known: ${KnownOps.toSeq.sorted.mkString(",")})")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(32)
    spark.sparkContext.setLogLevel("WARN")

    // the soak only streams documents + events (+ embeddings when the
    // query-serving op asks); skip the relational tables
    val dir = Scale.materialize(spark, sfDir, copies,
      only = Set("documents", "events") ++
        (if (ops("search_topk")) Set("embeddings") else Set.empty))
    def ck(op: String): String = {
      val p = java.nio.file.Paths.get(s"target/stream-scale$copies/ck-$op")
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
      p.toString
    }
    // replay each table as a finite stream: 32 writer partitions → 32
    // files → `files/trigger` micro-batches, so the per-batch progress
    // rows trace state growth ACROSS the replay, not one giant batch
    def stream(table: String, filesPerTrigger: Int): DataFrame = {
      val sch = spark.read.parquet(s"$dir/$table.parquet").schema
      spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$dir/$table.parquet")
    }

    if (ops("dedup_detect")) {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val q = graft.streaming.DedupStream.detect(
          stream("documents", 4), shingleK = 3, numHashes = 12, bands = 4)
        .writeStream.format("noop")
        .option("checkpointLocation", ck("dedup"))
        .start()
      drain("dedup_detect", copies, q, nDocs)
    }

    // replay in EVENT-TIME order (range-repartition by ts, one ascending
    // time slice per file): an unordered replay advances the watermark
    // past most of the corpus after the first batches and the soak
    // would measure late-drop filtering, not session-state tracking —
    // ordered arrival is also what a real ingest feed looks like.
    // FileStreamSource orders files by MODIFICATION TIME, which for a
    // parallel write is task-finish order, uncorrelated with the ts
    // range (review r14) — so after writing, stamp ascending mtimes in
    // part-file order (range partition i = the i-th ts slice, and part
    // file names are partition-ordered), making source order = event
    // time order deterministically. Shared by the gap_sessions and
    // asof_enrich soaks; built once per run.
    lazy val orderedEvents: String = {
      val ordered = s"$dir/events-ordered.parquet"
      spark.read.parquet(s"$dir/events.parquet")
        .repartitionByRange(32, col("ts"))
        .write.mode("overwrite").parquet(ordered)
      val listing = java.nio.file.Files.list(java.nio.file.Paths.get(ordered))
      val sortedParts = try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally listing.close()
      sortedParts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      ordered
    }
    // shared by every ordered-events consumer (review r15: seven blocks
    // each re-read the count/schema and rebuilt the same readStream)
    lazy val orderedSchema: org.apache.spark.sql.types.StructType =
      spark.read.parquet(orderedEvents).schema
    lazy val nOrderedEvents: Long = spark.read.parquet(orderedEvents).count()
    def orderedStream: DataFrame = spark.readStream.schema(orderedSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(orderedEvents)
    // the driver has shipped events.ts both as TIMESTAMP(MICROS)
    // (reads as a timestamp type) and TIMESTAMP(NANOS) (reads as an
    // epoch-ns LONG under the nanosAsLong flag this session sets);
    // cast(long -> timestamp) would interpret ns as SECONDS, so branch
    // on the physical schema like Queries.eventsNs does (review r14)
    def tsAsTimestamp =
      orderedSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (col("ts") / lit(1000000000L)).cast("timestamp")
        case _ => col("ts").cast("timestamp")
      }
    def tsAsNanos =
      orderedSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        // TIMESTAMP_NTZ needs the tz-cast first (identity under the UTC
        // session timezone this harness sets); unix_micros is TZ-only
        case _ => unix_micros(col("ts").cast("timestamp")) * lit(1000L)
      }
    // shared by the three event_dedup* arms: ONE projection, so the arms
    // stay comparable if the operator's input contract changes (review
    // r16 — the r15 orderedSchema consolidation, finished)
    def eventCols: DataFrame = orderedStream
      .select(col("event_id"), tsAsNanos.as("ts"),
        col("user_id"), col("event_type"), col("value"))

    if (ops("gap_sessions")) {
      val ev = orderedStream
        .select(tsAsTimestamp.as("ts"), col("user_id"))
      val q = graft.streaming.Sessions.gapSessions(
          ev, "ts", "user_id", gapNs = 3600L * 1000000000L,
          lateness = "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation", ck("gap"))
        .start()
      drain("gap_sessions", copies, q, nOrderedEvents)
    }

    if (ops("asof_enrich")) {
      // references = "purchase" events (value-bearing ticks), probes =
      // everything else, both keyed by user — the per-key state contract
      // under test (VERDICT r14 #6): state rows = user cardinality (K×
      // under horizontal scaling), bytes/key bounded by the reference
      // density inside the 6h horizon, NOT by how much stream has been
      // replayed (the per-batch trace must plateau once the replay
      // advances past one horizon)
      import spark.implicits._
      def evStream = orderedStream
        .select(col("user_id").cast("string").as("key"),
          tsAsNanos.as("ts"), col("event_type"),
          col("value"), col("event_id"))
      val ticks = evStream.filter(col("event_type") === "purchase")
        .select(col("key"), col("ts"), col("value"))
        .as[graft.streaming.AsOfStream.Tick]
      val probes = evStream.filter(col("event_type") =!= "purchase")
        .select(col("key"), col("ts"), col("event_id").as("id"))
        .as[graft.streaming.AsOfStream.Probe]
      val q = graft.streaming.AsOfStream.enrich(spark, ticks, probes,
          horizon = 6L * 3600L * 1000000000L)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("asof"))
        .start()
      drain("asof_enrich", copies, q, nOrderedEvents)
    }

    if (ops("trending_tokens")) {
      // documents carry no event time; synthesize a 64-window schedule
      // from doc_id (modulo survives the per-copy id shift) so K-scaling
      // grows docs PER WINDOW K× while the window count stays 64 — the
      // claimed bound is per-window k-counter state, so state rows AND
      // bytes must stay FLAT across K (constant, not corpus-tracking)
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val docs = stream("documents", 4)
        .select(timestamp_seconds(lit(1700000000L) +
            pmod(col("doc_id"), lit(64L)) * lit(600L)).as("ts"),
          col("text"))
      val q = graft.streaming.Windowed.trendingTokens(
          docs, "ts", "text", "10 minutes", k = 8)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ck("trend"))
        .start()
      drain("trending_tokens", copies, q, nDocs)
    }

    if (ops("event_dedup")) {
      val q = graft.streaming.EventDedupStream.detect(eventCols)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("evdedup"))
        .start()
      drain("event_dedup", copies, q, nOrderedEvents)
    }

    if (ops("burst_detect")) {
      val ev = orderedStream
        .select(col("event_type"), tsAsNanos.as("ts"))
      val q = graft.streaming.BurstStream.detect(ev)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("burst"))
        .start()
      drain("burst_detect", copies, q, nOrderedEvents)
    }

    if (ops("scd_intervals")) {
      val ev = orderedStream
        .select(col("user_id"), tsAsNanos.as("ts"),
          col("event_id"), col("event_type"))
      val q = graft.streaming.ScdStream.intervals(ev)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("scd"))
        .start()
      drain("scd_intervals", copies, q, nOrderedEvents)
    }

    if (ops("pit_count")) {
      val ev = orderedStream
        .select(col("user_id"), tsAsNanos.as("ts"),
          (col("event_type") === "purchase").as("is_label"),
          col("event_id").as("id"))
      val q = graft.streaming.PitCountStream.features(ev)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("pit"))
        .start()
      drain("pit_count", copies, q, nOrderedEvents)
    }

    if (ops("attribution")) {
      // two live feeds from the same ordered replay: the watermark-bounded
      // symmetric join state must hold only each side's in-horizon tail
      val clicks = orderedStream.filter(col("event_type") === "click")
        .select(col("user_id"), tsAsTimestamp.as("c_ts"),
          col("event_type").as("channel"))
      val purchases = orderedStream.filter(col("event_type") === "purchase")
        .select(col("user_id"), tsAsTimestamp.as("p_ts"),
          (col("value") * 100).cast("long").as("cents"))
      val q = graft.streaming.AttributionStream.pairs(
          clicks, purchases, horizonSec = 3600L)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("attr"))
        .start()
      drain("attribution", copies, q, nOrderedEvents)
    }

    if (ops("search_topk")) {
      // query stream = the K-scaled embeddings; corpus = the UNSCALED
      // base table (the static side of the stream-static join) — the
      // claim under test is zero retained state however many queries flow
      val nQ = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val qsch = spark.read.parquet(s"$dir/embeddings.parquet").schema
      val queries = spark.readStream.schema(qsch)
        .option("maxFilesPerTrigger", 4)
        .parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val q = graft.streaming.SearchStream.topK(queries, corpus, k = 10)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("searchtopk"))
        .start()
      drain("search_topk", copies, q, nQ)
    }

    // mitigation-knob arms (VERDICT r15 #2): the settle must outlast the
    // knob so the terminal drain is observed — 1.5× the horizon + 4 s.
    // A nonpositive/garbage knob fails loudly (review r16: silently
    // falling back to 8 would duplicate an arm of the state-law sweep
    // while claiming to measure a different one)
    def knobSec(env: String): Long =
      sys.env.get(env).map { v =>
        val n = v.toLongOption.getOrElse(
          sys.error(s"$env must be a positive integer of seconds, got '$v'"))
        require(n > 0, s"$env must be positive, got $n")
        n
      }.getOrElse(8L)

    if (ops("dedup_detect_windowed")) {
      // the reconciliation-window mitigation under a PACED trigger (the
      // operator's deployment contract): the same corpus that drives the
      // unwindowed detect's corpus-linear state must PLATEAU at
      // keys-active-per-window and visibly evict (rows_removed > 0 on
      // the settle batches after input exhausts)
      val winSec = knobSec("SPARK_GRAFT_STREAM_WINDOW_SEC")
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val q = graft.streaming.DedupStream.detectWindowed(
          stream("documents", 2), shingleK = 3, numHashes = 12, bands = 4,
          window = s"$winSec seconds")
        .writeStream.format("noop")
        .option("checkpointLocation", ck("dedup-win"))
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      drainPaced(s"dedup_detect_windowed_w$winSec", copies, q, nDocs,
        settleMs = winSec * 1500L + 4000L)
    }

    if (ops("event_dedup_evicting")) {
      // the retry-key honest trade's STRUCTURAL mitigation under a paced
      // trigger: the unevicted twin's state is exactly corpus-linear
      // (9.99M keys at K=100); with an idle horizon the state must
      // PLATEAU at keys-active-per-horizon and drain to 0 on the settle
      val idleSec = knobSec("SPARK_GRAFT_STREAM_IDLE_SEC")
      val q = graft.streaming.EventDedupStream.detectEvicting(
          eventCols, idle = s"$idleSec seconds")
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("evdedup-evict"))
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      drainPaced(s"event_dedup_evicting_i$idleSec", copies, q, nOrderedEvents,
        settleMs = idleSec * 1500L + 4000L)
    }

    // RocksDB-provider arms: the provider is a session conf read at
    // query START, so it is set for exactly the given block and RESTORED
    // in a finally (review r15: `ops` is a Set — source order, not arg
    // order, decides which block runs first, and a later op would
    // silently inherit the provider, making its memory numbers
    // incomparable to the HDFS-backed baselines the soaks document).
    def withRocksDb(body: => Unit): Unit = {
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = spark.conf.getOption(provKey)
      spark.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try body
      finally {
        // quiesce BEFORE leaving the block (review r16, SCALE.md §r16's
        // "cosmetic" post-stop IO-error lines): q.stop() returns once the
        // stream thread dies, but the loaded RocksDB providers keep a
        // background maintenance task (snapshot upload + native
        // compaction) that races the working-dir cleanup at session
        // shutdown and logs IO errors AFTER the soak report. Order is
        // stop (done inside body's drain) → await no active streams →
        // StateStore.stop() (synchronously halts the maintenance task and
        // closes every loaded provider, deleting its working dir on the
        // caller's thread) → restore the provider conf.
        val waitBy = System.nanoTime() + 30L * 1000000000L
        while (spark.streams.active.nonEmpty && System.nanoTime() < waitBy)
          Thread.sleep(100)
        // a timed-out drain must not silently convert into cascading
        // provider-closed errors under a live stream (ADVICE r17): name
        // the hung streams so the log points at the drain, not the stop
        if (spark.streams.active.nonEmpty)
          System.err.println(
            "WARNING: quiesce wait (30 s) timed out with " +
              s"${spark.streams.active.length} stream(s) still active " +
              s"(${spark.streams.active.map(_.name).mkString(", ")}); " +
              "StateStore.stop() will close providers under a live stream")
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        prevProv match {
          case Some(v) => spark.conf.set(provKey, v)
          case None => spark.conf.unset(provKey)
        }
      }
    }

    if (ops("dedup_detect_rocksdb")) withRocksDb {
      // the named 100 TB mitigation for the band table's corpus-linear
      // state (VERDICT r14 #4): same detect soak, state in RocksDB —
      // on-disk SST files + bounded block cache instead of an in-heap map
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val q = graft.streaming.DedupStream.detect(
          stream("documents", 4), shingleK = 3, numHashes = 12, bands = 4)
        .writeStream.format("noop")
        .option("checkpointLocation", ck("dedup-rocks"))
        .start()
      drain("dedup_detect_rocksdb", copies, q, nDocs)
    }

    if (ops("gap_sessions_rocksdb")) withRocksDb {
      // the THIRD stateful family's RocksDB arm (VERDICT r17 #6): gap
      // sessions hold one OpenSession row per user inside the watermark
      // horizon — user-cardinality state, the smallest of the three
      // families but the only one soaked exclusively in-heap through
      // r17. Same op as the gap_sessions baseline so the keys/SST/
      // pinned-bytes table lands beside the r15 band-table and r16
      // retry-key rows in SCALE.md.
      val ev = orderedStream
        .select(tsAsTimestamp.as("ts"), col("user_id"))
      val q = graft.streaming.Sessions.gapSessions(
          ev, "ts", "user_id", gapNs = 3600L * 1000000000L,
          lateness = "1 hour")
        .writeStream.format("noop")
        .option("checkpointLocation", ck("gap-rocks"))
        .start()
      drain("gap_sessions_rocksdb", copies, q, nOrderedEvents)
    }

    if (ops("event_dedup_rocksdb")) withRocksDb {
      // the retry-key trade's RocksDB arm (VERDICT r15 #3): event_dedup's
      // key set is exactly corpus-linear (9.99M keys / 2.92 GB in-heap at
      // K=100 — SCALE.md), the regime the band-table soak demonstrated
      // the provider for; this arm measures the same SST/pinned split on
      // the retry-key table instead of asserting it transfers
      val q = graft.streaming.EventDedupStream.detect(eventCols)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ck("evdedup-rocks"))
        .start()
      drain("event_dedup_rocksdb", copies, q, nOrderedEvents)
    }

    if (ops("drift_monitor")) {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      // reference histogram from the UNSCALED base corpus — the standing
      // catalog a drift monitor compares against in deployment
      val ref = graft.streaming.Windowed.referenceHistogram(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      val q = graft.streaming.Windowed.driftMonitor(
          stream("documents", 4), ref)
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ck("drift"))
        .start()
      drain("drift_monitor", copies, q, nDocs)
    }

    spark.stop()
  }
}
