package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, measure, check, report.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--toy]
  *        Main --print-inputs --workload W --seed N [--toy]
  *
  * Writes DIR/result.json (metrics, counts, failures, configuration) and,
  * traced, DIR/spans.json. `perfbench/run.py` builds this program, runs it
  * and prints the contract line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, toy: Boolean, printInputs: Boolean)

  val Workloads = Seq("serve_mixed", "registry_sample")

  /** End-to-end metrics, reported by every untraced run of every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "query_p50_ms" -> "ms", "query_tail_ms" -> "ms",
    "queries_per_s" -> "1/s", "heap_retained_mb" -> "MB")

  val GraphArms: Seq[String] = for {
    op <- Seq("ccIncremental", "pagerankInt", "pagerankIntBcast", "kcoreTrace",
      "bfsHops", "bfsHopsBcast", "hitsAuthPpm")
    arm <- Seq("local", "distributed")
  } yield s"$op:$arm"

  /** Per-layer metrics, reported by every traced run; a metric of a layer
    * the workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "search.plan_ms" -> "ms", "search.jobs" -> "count", "search.exec_ms" -> "ms",
    "search.tasks" -> "count", "search.shuffle_b" -> "B",
    "search.rows_scored_per_result" -> "count", "core.embed_query_ms" -> "ms",
    "api.cache_hit_ms" -> "ms", "api.cache_miss_ms" -> "ms",
    "ops.cache_hit_ratio" -> "ratio", "api.upsert_plan_ms" -> "ms",
    "ops.diff_ms" -> "ms", "ops.diff_unchanged_ratio" -> "ratio",
    "core.embed_rows" -> "count", "core.embed_useful_ratio" -> "ratio",
    "core.store_write_ms" -> "ms", "core.store_bytes_written" -> "B",
    "core.store_load_ms" -> "ms", "ops.cache_maintain_ms" -> "ms",
    "upsert_p50_s" -> "s", "index_rows_per_s" -> "1/s", "write_amp" -> "ratio",
    "registry_total_s" -> "s", "registry_geomean_s" -> "s") ++
    Inputs.RegistryEntries.flatMap(e => Seq(
      s"registry.$e.build_ms" -> "ms", s"registry.$e.eager_jobs" -> "count",
      s"registry.$e.exec_ms" -> "ms", s"registry.$e.tasks" -> "count",
      s"registry.$e.shuffle_b" -> "B")) ++
    GraphArms.map(a => s"ops.graph_arms.${a.replace(':', '.')}" -> "count") ++
    Seq("registry.plan_ms" -> "ms", "registry.spill_b" -> "B",
      "jvm.gc_ms" -> "ms", "failed_frac" -> "ratio",
      "trace.overhead_ms" -> "ms", "trace.overhead_frac" -> "ratio")

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case f @ ("--toy" | "--print-inputs") => flags += f; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k) = argv(i + 1); i += 2
        case other => sys.error(s"unexpected argument '$other'")
      }
    }
    val w = kv.getOrElse("--workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, kv.getOrElse("--seed", "1").toLong, kv.getOrElse("--seconds", "10").toDouble,
      kv.getOrElse("--trace", "0") == "1", Paths.get(kv.getOrElse("--work", ".")).toAbsolutePath,
      flags("--toy"), flags("--print-inputs"))
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `s` as a JSON string literal. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Heap in use after forced collections. Spark's ContextCleaner frees
    * shuffle and broadcast state only after a collection has cleared the
    * weak references to it, so collect until the figure stops falling. */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (Double.MaxValue, used(), 0)
    while (prev - cur > 1.0 && rounds < 20) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.printInputs) { println(Inputs.digest(a.workload, a.seed, a.toy)); return }
    Files.createDirectories(a.work)
    val out = new Report
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, a.trace)
    val gc0 = gcMs()
    try {
      a.workload match {
        case "serve_mixed" => ServeMixed.run(spark, tracer, a, out)
        case "registry_sample" => Registry.run(spark, tracer, a, out)
      }
    } catch {
      case e: Throwable =>
        out.fail(s"${a.workload} aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    out.layer("jvm.gc_ms", (gcMs() - gc0).toDouble)
    out.e2e("heap_retained_mb", retainedHeapMb())
    out.layer("trace.overhead_ms", tracer.overheadNs / 1e6)
    out.layer("trace.overhead_frac", tracer.overheadNs / 1e9 / math.max(out.loopS, 1e-9))
    val conf = spark.conf
    out.config ++= Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> (if (a.trace) "1" else "0"), "toy" -> a.toy.toString,
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark.version" -> spark.version,
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "java.version" -> System.getProperty("java.version"),
      "session_start_s" -> f"$sessionS%.3f")
    if (a.trace) Files.writeString(a.work.resolve("spans.json"), tracer.json)
    Files.writeString(a.work.resolve("result.json"), out.json)
    spark.stop()
  }
}

/** What one run found: metric values, operation counts, failures, notes. */
final class Report {
  import Main.jstr

  private val e2eVals = mutable.LinkedHashMap[String, Double]()
  private val layerVals = mutable.LinkedHashMap[String, Double]()
  val config = mutable.LinkedHashMap[String, String]()
  val notes = mutable.ArrayBuffer[String]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  /** Measured-loop wall time, the base of the tracer's overhead share. */
  var loopS = 0.0

  def e2e(k: String, v: Double): Unit = e2eVals(k) = v
  def layer(k: String, v: Double): Unit = layerVals(k) = v
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
  def fail(s: String): Unit = { failures += s; System.err.println(s"[perfbench] FAIL $s") }
  /** A false check is a failure of the operation it checks. */
  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  private def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString

  def json: String = {
    layer("failed_frac", failures.size.toDouble / math.max(attempted, 1L))
    def block(spec: Seq[(String, String)], vals: mutable.Map[String, Double], dflt: Boolean) =
      spec.flatMap { case (k, unit) =>
        vals.get(k).orElse(if (dflt) Some(0.0) else None)
          .map(v => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(unit)}}")
      }.mkString("{", ",", "}")
    s"""{"attempted":${math.max(attempted, 1L)},"failed":${failures.size},""" +
      s""""failures":${failures.map(jstr).mkString("[", ",", "]")},""" +
      s""""notes":${notes.map(jstr).mkString("[", ",", "]")},""" +
      s""""config":${config.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")},""" +
      s""""end_to_end":${block(Main.EndToEnd, e2eVals, dflt = false)},""" +
      s""""per_layer":${block(Main.PerLayer, layerVals, dflt = true)}}"""
  }
}

/** Robust summaries used by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and its
    * label. Below 20 samples no percentile above the median qualifies, so
    * the maximum is reported and labelled p100. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.isEmpty) (Double.NaN, "none")
    else if (s.size < 20) (s.last, "p100")
    else (s(s.size - 11), s"p${100 * (s.size - 10) / s.size}")
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
