package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry harness every runner shares (Bench, Verify and the
  * `graft.tools` mains; the specs' session too): one session contract,
  * one entry set, one SPARK_GRAFT_ONLY/SPARK_GRAFT_TIER rule, one
  * per-entry cleanup and one JSON string escaper. A runner keeps only
  * what is its own: its `cpus` default, its log level and what it does
  * with each entry.
  */
object Harness {
  /** The one local session: `local[cpus]` with `cpus` shuffle partitions,
    * UTC, classic (non-ANSI) eval — div-by-zero/log(0) give null inside
    * guarded when-branches, matching the oracles' IEEE float semantics —
    * `nanosAsLong` (events.parquet written as TIMESTAMP(NANOS) reads as
    * epoch-ns long; harmless on micros) and no UI.
    */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The oracled registry plus the bench-only production-hash twins and
    * arm probes ([[Queries.benchOnly]]), by name. */
  lazy val entries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.queries ++ Queries.benchOnly

  /** The subset of `names` a run covers, from the raw SPARK_GRAFT_ONLY
    * (comma-separated names) and SPARK_GRAFT_TIER values; None = all of
    * them. A blank value counts as unset, not as "run nothing". A name
    * outside `names` and a tier other than `core` fail, so a typo cannot
    * pass as an empty run. `core` admits [[Queries.coreTier]] plus the
    * bench-only names (outside the registry) whose numeric id is a core
    * id — matched by parsed id, so a name without one is simply not
    * admitted.
    */
  def selection(only: Option[String], tier: Option[String],
      names: Set[String]): Option[Set[String]] = {
    val onlySet = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    onlySet.foreach { o =>
      val unknown = o -- names
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unregistered queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val tierSet = tier.map(_.trim).filter(_.nonEmpty).map {
      case "core" =>
        val coreIds = Queries.coreTier.map(Queries.queryId)
        names.filter(n => Queries.coreTier(n) || (!Queries.queries.contains(n) &&
          Queries.queryIdOpt(n).exists(coreIds.contains)))
      case other => sys.error(s"unknown SPARK_GRAFT_TIER '$other' (known: core)")
    }
    if (onlySet.isEmpty && tierSet.isEmpty) None
    else Some(names.filter(n => onlySet.forall(_(n)) && tierSet.forall(_(n))))
  }

  /** Runs `body`, then drops every cached frame and every tracked
    * persist and release hook ([[graft.ops.Caches.release]] also frees
    * the checkpoint blocks `clearCache()` does not cover), so the next
    * entry starts from the same state however `body` ended.
    */
  def released[T](spark: SparkSession)(body: => T): T =
    try body
    finally {
      spark.catalog.clearCache()
      graft.ops.Caches.release()
    }

  /** `s` as a JSON string literal: quote, backslash and every control
    * char (< 0x20) escaped — a tab or CR left raw in oracle SQL would make
    * a strict parser reject the whole file. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
