package graft.tools

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Aggregates executor task metrics across a measured run — the numbers a
  * 100 TB capacity plan actually needs (shuffle volume, spill, peak
  * per-task execution memory), read from the same TaskMetrics the Spark UI
  * shows. Snapshot-and-diff around each run; `peak` is reset per run.
  */
final class TaskMetricsListener extends SparkListener {
  val shuffleRead = new LongAdder
  val shuffleWrite = new LongAdder
  val memSpill = new LongAdder
  val diskSpill = new LongAdder
  val input = new LongAdder
  val tasks = new LongAdder
  val peakTaskMem = new AtomicLong(0L)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      memSpill.add(m.memoryBytesSpilled)
      diskSpill.add(m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      tasks.increment()
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  def snapshot(): Map[String, Long] = Map(
    "shuffle_read_b" -> shuffleRead.sum(),
    "shuffle_write_b" -> shuffleWrite.sum(),
    "mem_spill_b" -> memSpill.sum(),
    "disk_spill_b" -> diskSpill.sum(),
    "input_b" -> input.sum(),
    "tasks" -> tasks.sum())
}

/** Scale-stress harness (VERDICT r6 #3): materialize a K× corpus from the
  * sf0.1 tables and time registered queries against it, so scale claims get
  * a measured 1×/10× datapoint instead of resting on sf0.1 alone (where the
  * ~0.4 s scheduling floor dominates everything).
  *
  * Corpus construction: K shifted copies of `documents` / `embeddings`.
  * Copy 0 is verbatim (so K=1 reproduces the sf dir exactly); copies ≥ 1
  * SUFFIX every token with a per-copy marker, which keeps each copy's
  * shingle structure identical to the base corpus (same token and shingle
  * counts, same within-copy cross-doc commonality) while making copies
  * mutually shingle-disjoint — near-dup candidate pairs then scale
  * LINEARLY with K, matching a real corpus growing by new content rather
  * than by K-way duplication of one document set. (A first cut interleaved
  * a marker BETWEEN words; that silently degraded 3-shingles to
  * bigram-level commonality and inflated band collisions — see NOTES_r7.)
  *
  * Usage: Scale <copies> <reps> <query...>   (writes target/scale<K>/)
  */
object Scale {
  /** Materialize the K-copy scaled corpus under target/scale<K> and
    * return its path. Extracted (round 14) so the streaming state-bound
    * soak ([[StreamScale]]) shares the EXACT corpus construction the
    * batch soak documents — shifted copies, horizontal key scaling,
    * shingle-disjoint suffixing. `only` restricts the tables written
    * (empty = all); headroom assertions still run for whatever is
    * written.
    */
  def materialize(spark: SparkSession, sfDir: String, copies: Int,
      only: Set[String] = Set.empty): String = {
    import spark.implicits._
    val outDir = s"target/scale$copies"
    def wanted(t: String): Boolean = only.isEmpty || only.contains(t)

    // ADVICE r7: the per-copy id shifts silently collide (corrupting the
    // scaling measurement with no error) if the base dir — which is
    // user-overridable via SPARK_GRAFT_SF_DIR — exceeds the shift
    // cardinalities. Assert the headroom before writing anything.
    def assertIdHeadroom(table: String, idCol: String, bound: Long): Unit = {
      val m = spark.read.parquet(s"$sfDir/$table.parquet")
        .agg(max(col(idCol).cast("long"))).first()
      if (!m.isNullAt(0)) {
        val v = m.getLong(0)
        require(v < bound,
          s"$sfDir/$table.parquet: max($idCol) = $v >= copy shift $bound — " +
            "shifted copies would collide; use a smaller base or raise the shifts")
      }
    }
    if (wanted("documents")) assertIdHeadroom("documents", "doc_id", 100000L)
    if (wanted("embeddings")) {
      // vec_id needs no headroom: copies shift by the exact base count
      // (density-preserving, asserted at the write below)
      assertIdHeadroom("embeddings", "label", 1000L)
    }
    if (wanted("events")) {
      assertIdHeadroom("events", "event_id", 10000000L)
      assertIdHeadroom("events", "user_id", 100000L)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    if (wanted("documents")) (0 until copies).map { i =>
      val text = if (i == 0) col("text")
        else regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1‿cp$i"))
      // source scales HORIZONTALLY like events' user_id: each copy brings
      // NEW sources (suffix marker), so per-source doc density — and with
      // it every per-source window/cap — stays constant while source
      // cardinality grows K×, matching a web corpus growing by new
      // domains rather than by existing domains deepening
      val source = if (i == 0) col("source")
        else concat(col("source"), lit(s"-cp$i"))
      // n_chars rides along (q121's input): verbatim on copy 0, recomputed
      // on suffixed copies so the length column stays true to the text
      val nChars = if (i == 0) col("n_chars")
        else length(text).cast("long")
      docs.select((col("doc_id") + lit(i * 100000L)).as("doc_id"),
        text.as("text"), col("lang"), source.as("source"),
        nChars.as("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    if (wanted("embeddings")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      // vec_id shifts by the EXACT base count, not a fixed stride: the
      // ANN quantizer contract (Ann.sqrtCentroids, ENFORCED since r15)
      // requires dense 0-based ids, and a strided shift would make every
      // K>1 soak corpus non-dense and throw — review r15; density of the
      // base itself is asserted below (headroom asserts don't cover it)
      val nBase = emb.count()
      val idr = emb.agg(min(col("vec_id").cast("long")),
        max(col("vec_id").cast("long"))).first()
      require(nBase == 0L ||
        (idr.getLong(0) == 0L && idr.getLong(1) == nBase - 1L),
        s"$sfDir/embeddings.parquet: vec_id not dense 0-based " +
          s"(n=$nBase span [${idr.get(0)},${idr.get(1)}]) — dense shifts " +
          "would collide")
      (0 until copies).map { i =>
        emb.select((col("vec_id") + lit(i * nBase)).as("vec_id"),
          col("embedding"), (col("label") + lit(i * 1000)).as("label"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    // events scale HORIZONTALLY: copies shift user_id (and event_id), so
    // key cardinality grows K× while per-user event density — and with it
    // every as-of window and range-join candidate set — stays constant.
    // That matches a real event stream growing by new users; shifting ts
    // instead would grow per-key history and measure a different thing.
    if (wanted("events")) {
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      (0 until copies).map { i =>
        ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(i * 100000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    }

    // relational star-schema tables scale horizontally too: each copy
    // shifts its PKs AND the matching FKs by the same amount, so every
    // copy is a self-consistent sub-schema (an FK audit sees K× the
    // children and the same orphan structure). nation/region are
    // enumeration tables — verbatim, FKs to them unshifted.
    def scaleRel(table: String, shifts: Map[String, Long]): Unit =
      if (wanted(table)) {
        // assert EVERY shifted column's headroom, not just the PK: with a
        // table subset (`only`) the cross-table PK assert that used to
        // stand in for an FK's domain may be skipped, and an over-range
        // FK collides silently — the exact ADVICE-r7 failure class the
        // assertions exist to prevent (review r14)
        shifts.foreach { case (c, m) => assertIdHeadroom(table, c, m) }
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        (0 until copies).map { i =>
          shifts.foldLeft(base) { case (df, (c, m)) =>
            df.withColumn(c, col(c) + lit(i * m))
          }
        }.reduce(_ unionByName _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      }
    scaleRel("orders", Map("o_orderkey" -> 1000000L, "o_custkey" -> 1000000L))
    scaleRel("customer", Map("c_custkey" -> 1000000L))
    scaleRel("supplier", Map("s_suppkey" -> 1000000L))
    scaleRel("part", Map("p_partkey" -> 1000000L))
    scaleRel("lineitem", Map("l_orderkey" -> 1000000L,
      "l_partkey" -> 1000000L, "l_suppkey" -> 1000000L))
    Seq("nation", "region").foreach { tb =>
      if (wanted(tb))
        spark.read.parquet(s"$sfDir/$tb.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$tb.parquet")
    }
    outDir
  }

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val reps = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q45_dedup_minhash", "q78_dup_clusters", "q63_pack_sequences",
        "q65_search_flagship")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(32)
    spark.sparkContext.setLogLevel("WARN")

    val outDir = materialize(spark, sfDir, copies)

    // hash-stage microbenchmarks: the tokenize→shingle→hash map stage of
    // the minhash pipeline in isolation (no banding/join/verify), so the
    // md5↔xxhash64 swap is measured without downstream noise
    // NOTE: toks/sh staged as separate projections (withColumn), as Dedup
    // does. Historical: nesting shingles(tokens(text), k) in ONE
    // expression once inlined the tokens() regex split into the shingle
    // lambda, where element_at(toks, …) re-evaluated it per element — a
    // ~30× blowup this probe measured by accident (NOTES_r7). Round 9
    // removed that failure mode at the root (shingles is now a zip of
    // shifted slices — bounded toks references in any evaluation mode,
    // NOTES_r9); the staging is kept as plain good hygiene.
    def shingled(sp: SparkSession, dir: String) = {
      import graft.functions.TextFunctions._
      graft.ops.Par.ensure(
        sp.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .withColumn("toks", tokens(col("text")))
        .withColumn("sh", shingles(col("toks"), 3))
        .select(col("doc_id"), col("sh"))
    }
    def hashStage(fast: Boolean): (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (sp, dir) => {
        import graft.functions.TextFunctions._
        shingled(sp, dir).select(col("doc_id"),
          array_distinct(shingleHashes(col("sh"), fast)).as("hashes"))
      }
    val extra = Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame](
      "shingle_only" -> ((sp, dir) => shingled(sp, dir)),
      "hash_md5" -> hashStage(false), "hash_xxh64" -> hashStage(true),
      "tok_only" -> ((sp, dir) => {
        import graft.functions.TextFunctions._
        graft.ops.Par.ensure(
          sp.read.parquet(s"$dir/documents.parquet"), "doc_id")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
      }),
      "pagerank_dist" -> ((sp, dir) => {
        // q241's co-occurrence graph with the local arm forced off: the
        // DISTRIBUTED pagerank arm measured on the scaled corpus. At 10×
        // the graph itself is still catalog-sized (below the 200k cap —
        // the designed shape), so without the override the soak could
        // only ever observe the driver arm; GraphSpec pins the arms
        // value-equal, this entry prices the distributed one.
        val li = sp.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
          .agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 2)
        val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
          .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        graft.ops.Arms.forcing("pagerankInt")(graft.ops.Graph.pagerankInt(edges, iters = 8))
          .orderBy(desc("pr"), asc("node")).limit(15)
      }),
      "q45_pair_count" -> ((sp, dir) => {
        // q45's exact corpus recipe (Queries.nearDupCorpus: every doc +
        // a near-copy at id+10M / text+" zzz") through lshTuning at q45's
        // (bands=4, rows=3) config: ONE row carrying the measured LSH
        // candidate-pair count + verified-pair count, so SCALE.md's
        // "shuffle tracks candidates, linear by construction" claim is a
        // measured curve across K, not an inference from bytes (VERDICT
        // r13 #6)
        val docs = sp.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val corpus = docs.unionByName(docs
          .withColumn("doc_id", col("doc_id") + 10000000L)
          .withColumn("text", concat(col("text"), lit(" zzz"))))
        val rep = graft.ops.Dedup.lshTuning(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 12, threshold = 0.5,
          configs = Seq((4, 3)))
        val r = rep.collect()(0)
        // the measured counts ARE the datapoint — print them (the timed
        // noop write re-reads the persisted candidate stage)
        println(s"""[pairs] {"k":$copies,"n_candidates":${
          r.getAs[Long]("n_candidates")},"n_true":${
          r.getAs[Long]("n_true")},"precision_permille":${
          r.getAs[Long]("precision_permille")}}""")
        rep
      }),
      "shingle_size" -> ((sp, dir) => {
        // same compute, scalar output: separates the shingle COMPUTE cost
        // from the cost of serializing the array<string> result
        import graft.functions.TextFunctions._
        graft.ops.Par.ensure(
          sp.read.parquet(s"$dir/documents.parquet"), "doc_id")
          .select(col("doc_id"), size(shingles(tokens(col("text")), 3)).as("n"))
      }))

    // Per-run task-metrics + hybrid-arm accounting (round 12, VERDICT r11
    // #4): every run prints one JSON line with wall seconds, aggregate
    // shuffle read/write, spill, input bytes, task count, peak per-task
    // execution memory, and which arm each cap-gated graph operator took —
    // the measured numbers SCALE.md pins its 100 TB claims to.
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def fmtJson(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    names.foreach { name =>
      val fn = (graft.Harness.entries ++ extra)
        .getOrElse(name, sys.error(s"unknown query $name"))
      (1 to reps).foreach { i =>
        graft.Harness.released(spark) {
          val before = metrics.snapshot()
          metrics.peakTaskMem.set(0L)
          val armsBefore = graft.ops.Graph.armSnapshot()
          val t0 = System.nanoTime()
          fn(spark, outDir).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          // listener events are delivered asynchronously; drain the bus
          // deterministically before the post-run snapshot (a fixed sleep
          // attributed late TaskEnd events to the next run on loaded hosts)
          org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 30000L)
          val after = metrics.snapshot()
          val delta = after.map { case (k, v) => k -> (v - before(k)) }
          val arms = graft.ops.Graph.armSnapshot()
            .map { case (k, v) => k -> (v - armsBefore.getOrElse(k, 0L)) }
            .filter(_._2 > 0)
          println(f"""[scale] {"k":$copies,"query":"$name","run":$i,""" +
            f""""sec":$secs%.3f,"peak_task_mem_b":${metrics.peakTaskMem.get},""" +
            s""""metrics":${fmtJson(delta)},"arms":${
              arms.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
                .mkString("{", ",", "}")}}""")
        }
        System.gc()
      }
    }
    graft.Queries.dropArtifacts()
    spark.stop()
  }
}
