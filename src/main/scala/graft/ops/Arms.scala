package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.broadcast

/** The one gate of every cap-gated hybrid operator: an input of at most
  * `cap` rows runs a driver arm over its collected rows, a larger one
  * runs the distributed arm (choosing the arm from the observed input
  * size, as *Continuously Adaptive Similarity Search*, SIGMOD 2020,
  * chooses its scan). Its users:
  *  - the four edge gates of [[Graph]] (through [[Graph.gated]]);
  *  - `domainSnapshot`, the search's driver-resident domain
  *    ([[graft.core.DomainSnapshot.build]]);
  *  - `lastPerKey`, the upsert's batch cut ([[graft.api.EngineApi.lastPerKey]]);
  *  - `upsertDiff`, the upsert's content-hash diff on the driver, and
  *    `deleteEntity`, the delete's victim keys (both in
  *    [[graft.api.EngineApi]]);
  *  - the broadcast gates `pagerankIntBcast`, `bfsHopsBcast` and
  *    `hitsAuthPpm` ([[broadcastBelow]]), where `local` means the
  *    broadcast arm.
  */
private[graft] object Arms {

  /** Which arm each invocation took, keyed `op:local` / `op:distributed`:
    * the 10× scale soak (`tools/Scale`) reads it to show that above the cap
    * the distributed arm runs, and perfbench reports the graph keys. The
    * map is process-global, so specs pin the selection rule directly
    * instead of reading deltas here.
    */
  val armCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def countArm(op: String, local: Boolean): Unit =
    armCounts
      .computeIfAbsent(s"$op:${if (local) "local" else "distributed"}",
        _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()

  private val forced = new scala.util.DynamicVariable[Set[String]](Set.empty)

  /** Run `body` with the named ops taking their non-local arm on this
    * thread: a forced [[gate]] runs `distributed` without collecting, a
    * forced [[broadcastBelow]] shuffles without measuring. The one
    * override of every cap; specs and `tools/Scale` use it to run an arm
    * the default caps would not choose on their input.
    */
  def forcing[T](ops: String*)(body: => T): T =
    forced.withValue(forced.value ++ ops)(body)

  /** Whether `op` is forced to its non-local arm on this thread. */
  def isForced(op: String): Boolean = forced.value(op)

  /** Collects `limit(cap + 1)` of `rows` once and runs `driver` over them
    * when at most `cap` came back; otherwise runs `distributed`. No count
    * precedes the collect and no arm collects again, so `cap` bounds the
    * driver memory.
    */
  def gate[T, R](op: String, rows: Dataset[T], cap: Long)(driver: Array[T] => R)(
      distributed: => R): R = {
    require(cap < Int.MaxValue,
      s"$op: cap $cap overflows limit(cap + 1); need cap < ${Int.MaxValue}")
    val head =
      if (isForced(op)) None
      else Some(rows.limit(math.max(cap + 1, 0L).toInt).collect())
    val local = head.exists(_.length <= cap)
    countArm(op, local)
    if (local) driver(head.get) else distributed
  }

  /** `df`'s optimized plan when it is a local relation: rows already on
    * the driver, read from the plan with no job. */
  def localRelation(df: DataFrame): Option[LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case _ => None
    }

  /** The broadcast gate: the returned side function broadcasts a
    * node-sized frame only when the caller's MEASURED node count `fits`
    * its cap (a forced hint would pin it at ANY size); above the cap, or
    * when `op` is forced, the join shuffles and `fits` is not evaluated.
    */
  def broadcastBelow(op: String, fits: => Boolean): DataFrame => DataFrame = {
    val local = !isForced(op) && fits
    countArm(op, local)
    // bcast-ok: cap-gated — broadcast only below the caller's measured node cap
    df => if (local) broadcast(df) else df
  }
}
