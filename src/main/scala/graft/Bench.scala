package graft

/** Per-round benchmark harness. Each registered query is materialized with a
  * noop-format write (forces full evaluation of every column — `count()`
  * would let Catalyst prune unevaluated projections and report fiction).
  * Failures are reported per-query instead of masquerading as timings.
  */
object Bench {
  /** Round-stamp write-once policy (VERDICT r17 #3): the r14 write-once
    * rule permitted delete-and-rewrite, which NOTES_r17 §1 had to use —
    * a convention, not a mechanism. Now an existing `bench_rNN.json` is
    * only overwritten when `SPARK_GRAFT_RESTAMP=<reason>` is set, and
    * the reason is recorded in the artifact's env block, so every
    * re-stamp carries its own audit trail. Pure so BenchSpec can pin all
    * four cells without a full suite run. Returns (write?, message).
    */
  def stampPolicy(exists: Boolean, restamp: Option[String],
      path: String): (Boolean, String) =
    (exists, restamp) match {
      case (false, _) => (true, s"bench: $path stamped")
      case (true, Some(r)) => (true,
        s"bench: $path RE-STAMPED under SPARK_GRAFT_RESTAMP " +
          s"(reason recorded in artifact env block: $r)")
      case (true, None) => (false,
        s"bench: $path exists; round artifact is write-once - set " +
          "SPARK_GRAFT_RESTAMP=<reason> to overwrite (the reason is " +
          "recorded in the artifact)")
    }

  /** The storage-layout probes timed after the registry entries. */
  private[graft] val layoutProbes = Set("b70_search_parquet", "b71_search_bucketed")

  def main(args: Array[String]): Unit = {
    import Harness.json
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // optional subset for local iteration (Harness.selection): a
    // comma-separated SPARK_GRAFT_ONLY, e.g. q41_text_stats,q47_ngram_jaccard,
    // and/or SPARK_GRAFT_TIER=core (SURVEY §2.13's fast subset; bench-only
    // twins of core queries ride along). With neither set, BENCH_r{N}
    // is the full suite. The layout-probe entries below are
    // gated on SPARK_GRAFT_ONLY alone.
    val names = Harness.entries.keySet ++ layoutProbes
    val selected = Harness.selection(
      sys.env.get("SPARK_GRAFT_ONLY"), sys.env.get("SPARK_GRAFT_TIER"), names)
    val onlySelected = Harness.selection(sys.env.get("SPARK_GRAFT_ONLY"), None, names)
    // Untimed warmup: JVM/codegen/parquet-reader startup otherwise lands
    // on whichever query happens to run first (alphabetically q01 — which
    // then reads ~3 s slower than the identical query later in the run).
    // Exercise each engine path the suite leans on — hash aggregate,
    // window rank, broadcast join, parquet write+read — over SYNTHETIC
    // rows only, so no bench table is touched before its timing.
    try {
      import org.apache.spark.sql.functions._
      val w = spark.range(1L << 18).select(col("id"), (col("id") % 97).as("k"))
      w.groupBy("k").agg(sum("id"), avg("id"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      w.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
        .filter(col("rn") <= 3)
        .join(broadcast(w.select(col("k")).distinct()), "k")
        .write.format("noop").mode("overwrite").save()
      val warmPq = "target/bench-warmup.parquet"
      w.limit(1000).write.mode("overwrite").parquet(warmPq)
      spark.read.parquet(warmPq).agg(count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val diag = scala.collection.mutable.LinkedHashMap[String, String]()

    // Host-noise calibration (round 14): every round's total has shifted
    // a few percent on "the documented noisy-neighbor host", asserted
    // from per-query wobble patterns. Measure it instead: a fixed
    // deterministic CPU spin (single-thread, and one spin per core) at
    // suite start AND end. Round-over-round, a total shift that tracks
    // the calibration ratio is host-state; one that doesn't is a real
    // change. The spin is pure register arithmetic — no allocation, no
    // JIT-dependent calls — so it prices CPU availability/frequency, not
    // the JVM.
    @volatile var blackhole = 0L
    def spin(iters: Long): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < iters) {
        x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
        i += 1
      }
      blackhole ^= x
      (System.nanoTime() - t0) / 1e9
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    // (single_s, all_cores_wall_s, slowest_core_s): the per-core max
    // prices the worst neighbor-induced skew a task would see, beyond
    // what the wall span alone shows
    def calibrate(): (Double, Double, Double) = {
      spin(50000000L) // JIT warm
      val single = spin(500000000L)
      val n = Runtime.getRuntime.availableProcessors()
      val times = new Array[Double](n)
      val threads = (0 until n).map { i =>
        new Thread(() => { times(i) = spin(500000000L) })
      }
      val t0 = System.nanoTime()
      threads.foreach(_.start()); threads.foreach(_.join())
      val allCores = (System.nanoTime() - t0) / 1e9
      (r3(single), r3(allCores), r3(times.max))
    }
    // total stop-the-world GC time across all collectors — the delta over a
    // timed rep tells suite-state debt (a predecessor's garbage collected
    // inside MY window) apart from the query's own cost
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // calibration only matters for the full-suite artifacts the rounds
    // compare; don't tax SPARK_GRAFT_ONLY / tier dev iterations with
    // ~4 s of fixed spin (review r14)
    val calibrated = selected.isEmpty
    val (calibSingle0, calibMt0, calibMax0) =
      if (calibrated) calibrate() else (0.0, 0.0, 0.0)
    // Load PROFILE (round 16): the start/end spins bracket the suite but
    // cannot see a mid-run load burst — r16's full run ended with the
    // end spin 20% above the start one and every mid-run query slightly
    // inflated, re-opening the same "noise or regression?" triage the
    // calibration exists to close. So sample the SAME all-cores spin
    // kernel (1/5 length, ~0.2 s idle) whenever ≥30 s of suite time has
    // passed since the last sample, and record each query's start offset
    // — bench_compare normalizes per-query by the nearest profile
    // samples of the two runs instead of one global ratio. ~35 samples /
    // ~10 s per full suite (suite WALL time exceeds the summed timings —
    // reps + cleanup — so more samples land than total/30 suggests);
    // subset runs skip it like the calibration.
    val suiteT0 = System.nanoTime()
    val loadProfile = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    val queryOffsets = scala.collection.mutable.LinkedHashMap[String, Double]()
    def quickAllCores(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      val threads = (0 until n).map(_ => new Thread(() => { spin(100000000L); () }))
      val t0 = System.nanoTime()
      threads.foreach(_.start()); threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    Harness.entries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected.forall(_(name)) }
      .foreach { case (name, fn) =>
      locally {
        val elapsed = (System.nanoTime() - suiteT0) / 1e9
        queryOffsets(name) = r3(elapsed)
        if (calibrated &&
            (loadProfile.isEmpty || elapsed - loadProfile.last._1 >= 30.0))
          loadProfile += ((r3(elapsed), r3(quickAllCores())))
      }
      // One timed rep. Cleanup runs INSIDE the rep boundary (but outside
      // the timed region) so every rep starts from the same state:
      // pipelines persist() shared intermediates; drop them so later
      // reps/queries are measured cold, and collect the garbage NOW so
      // heavy queries don't tax their successor's measurement with GC debt.
      def rep(): Either[String, (Double, Long)] =
        try Harness.released(spark) {
          val g0 = gcMs(); val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right(((System.nanoTime() - t0) / 1e9, gcMs() - g0))
        } catch {
          case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        } finally System.gc()
      rep() match {
        case Left(err) => errors(name) = err
        case Right(first) =>
          // Suite-robust timing (VERDICT r8 #1): four rounds of full-suite
          // numbers 2-3x above the same query's isolated steady band (q81,
          // q83, r7's q87) traced to suite state the cleanup can't fully
          // undo (GC debt surfacing mid-window, JIT/codegen cache churn).
          // Report min-of-reps for non-floor entries: rep 2 for anything
          // >= 1 s, rep 3 when the first two disagree by > 1.5x (the
          // bimodal signature). Sub-second entries sit at the scheduling
          // floor and stay single-rep; > 60 s entries are not doubled.
          val reps = scala.collection.mutable.ArrayBuffer(first)
          if (first._1 >= 1.0 && first._1 <= 60.0) {
            rep().foreach(reps += _)
            val ts = reps.map(_._1)
            if (ts.size == 2 && ts.min >= 2.0 && ts.max / ts.min > 1.5)
              rep().foreach(reps += _)
          }
          timings(name) = reps.map(_._1).min
          diag(name) = reps.map { case (t, g) => f"$t%.3fs/gc${g}ms" }.mkString(" ")
      }
    }
    // per-rep diagnostics (times + GC-time deltas) to stderr + a file — the
    // stdout contract stays ONE JSON line
    val diagTxt = diag.map { case (k, v) => s"$k: $v" }.mkString("\n")
    System.err.println(s"[bench-diag]\n$diagTxt")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench_diag.txt"), diagTxt)
    catch { case _: Throwable => () }
    // 100 TB-layout probe (bench-only entries, not in the oracle registry
    // — they measure a STORAGE LAYOUT, not new semantics): the flagship
    // search over (a) the plain parquet domain and (b) the entity_id-
    // bucketed layout whose scan partitioning satisfies both aggregation
    // levels, so the bucketed plan runs with NO shuffle exchange after
    // the broadcast scoring join (BucketedDomainSpec pins the plan shape;
    // these entries carry the measured number into BENCH). Setup (domain
    // build + both writes) is untimed — at scale it's a one-off index
    // build amortized over every query.
    val runLayoutProbe = layoutProbes.exists(n => onlySelected.forall(_(n)))
    if (runLayoutProbe) {
      import graft.core.Tables
      import graft.search.SearchEngine
      try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val domain = SearchEngine.buildDomain(
          spark, docs, Seq("stub:alpha", "stub:beta"), dim = 32)
        val base = "target/bench-domain"
        Tables.writeDomain(domain, base)
        Tables.writeDomainBucketed(domain, s"$base-bucketed", "bench", buckets = cpus.toInt)
        def timeSearch(name: String, d: => graft.core.Domain): Unit =
          if (onlySelected.forall(_(name))) {
            try {
              val dd = d
              def once(): Double = {
                val t0 = System.nanoTime()
                val q = SearchEngine.queryEmbeddings(spark, dd, "spark shuffle join window", 32)
                SearchEngine.search(dd, q, 10).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              }
              // this probe compares two STORAGE LAYOUTS of the same query,
              // so per-plan first-use costs (codegen, parquet footers,
              // broadcast build) and the host's documented ±2x noise must
              // not decide the comparison: warm each layout's plan once
              // untimed, then record the best of two timed runs
              once()
              timings(name) = math.min(once(), once())
            } catch {
              case e: Throwable =>
                errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            }
          }
        timeSearch("b70_search_parquet", Tables.readDomain(spark, base))
        timeSearch("b71_search_bucketed", Tables.readDomainBucketed(spark, "bench"))
      } catch {
        case e: Throwable =>
          errors("b7x_layout_setup") =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }

    val calibField =
      if (calibrated) {
        val (calibSingle1, calibMt1, calibMax1) = calibrate()
        val lp = loadProfile.map { case (t, s) => s"[$t,$s]" }
          .mkString("[", ",", "]")
        val qo = queryOffsets.map { case (k, v) => s"${json(k)}:$v" }
          .mkString("{", ",", "}")
        s""""calibration":{"single_s":[$calibSingle0,$calibSingle1],""" +
          s""""all_cores_s":[$calibMt0,$calibMt1],""" +
          s""""slowest_core_s":[$calibMax0,$calibMax1]},""" +
          s""""load_profile":$lp,"query_offsets":$qo,"""
      } else ""
    val qs = timings.map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,$calibField"sf":${json(sfDir)}}"""
    // Complete machine-readable artifact (VERDICT r10 #2): the driver's
    // BENCH_r{N}.json has truncated the stdout tail (60 of 153 entries at
    // r10), so the harness itself writes every entry — plus run metadata
    // — to the repo root, making round-over-round comparison cover 100%
    // of entries regardless of how much of stdout survives.
    // re-stamp audit trail (VERDICT r17 #3): when the write-once override
    // is used, the operator's stated reason travels IN the artifact
    val restamp = sys.env.get("SPARK_GRAFT_RESTAMP").map(_.trim).filter(_.nonEmpty)
    val restampField = restamp.map(r => s""","restamp_reason":${json(r)}""").getOrElse("")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","n_entries":${timings.size},""" +
      s""""env":{"cpus":${json(cpus)},"sf_dir":${json(sfDir)},"reps":"min-of-reps; per-rep detail in target/bench_diag.txt"$restampField},""" +
      calibField +
      s""""queries":$qs,"errors":$es,"sf":${json(sfDir)}}"""
    // Subset runs (SPARK_GRAFT_ONLY) are local iteration — don't clobber
    // the complete record with a 1-entry file.
    if (selected.isEmpty) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_full.json"), full)
      catch { case _: Throwable => () }
      // Round-stamped twin (VERDICT r13 #5): bench_full.json is clobbered
      // by every full run — the driver re-benches after the round's last
      // commit, so history never held the exact artifact the gates cite.
      // The stamp is EXPLICIT-ONLY (SPARK_GRAFT_ROUND; review r15): any
      // derive-the-round heuristic mislabels a post-commit re-run as the
      // NEXT round (ADVICE r14) and, combined with write-once, would
      // pre-claim that round's artifact with the wrong code — so an
      // env-less full run only refreshes bench_full.json and says how to
      // stamp. WRITE-ONCE, MECHANIZED (VERDICT r14 #2, r17 #3): an
      // existing stamped artifact is only overwritten under
      // SPARK_GRAFT_RESTAMP=<reason>, and the reason is recorded in the
      // artifact itself (stampPolicy — spec-pinned).
      try {
        sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption) match {
          case Some(n) =>
            val p = java.nio.file.Paths.get(f"bench_r$n%02d.json")
            val (write, msg) = stampPolicy(
              java.nio.file.Files.exists(p), restamp, p.toString)
            if (write) java.nio.file.Files.writeString(p, full)
            println(msg)
          case None =>
            println("bench: SPARK_GRAFT_ROUND unset - bench_full.json " +
              "refreshed, no round artifact stamped (set the env to freeze one)")
        }
      } catch { case e: Throwable =>
        // an IO failure here means the round closes WITHOUT its canonical
        // artifact — say so instead of silently discarding (ADVICE r15)
        println(s"bench: WARNING round artifact write failed: $e")
      }
    }
    println(line)
    Queries.dropArtifacts()
    spark.stop()
  }
}
