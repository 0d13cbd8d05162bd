package graft.core

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ProbMethods, VectorFunctions}

/** One scored row as the snapshot's collect decodes it: an embedding with
  * its datapoint's and entity's scoring columns. `ent_row` tells apart
  * entity rows that share (searchdomain, entity_id); `dp_w` and `ent_w`
  * are the level-1 and level-2 DictionaryWeightedAverage weights.
  */
private[graft] final case class SnapshotRow(
    searchdomain: String, entity_id: Long, ent_row: Long, datapoint_id: Long,
    dp_name: String, dp_m: String, similaritymethod: String, model: String,
    embedding: Array[Float], dp_w: Double, ent_name: String, ent_m: String, ent_w: Double)

/** A driver-resident, columnar copy of a [[Domain]]'s scoring inputs: the
  * search's driver arm ([[graft.search.SearchEngine.serveQuery]]) scores a
  * query from it with no Spark job, by the arithmetic of the distributed
  * arm ([[graft.search.SearchEngine.searchWithDomain]]).
  *
  * Layout (primitive arrays, strings interned):
  *   - row i (one embedding): its vector is `vec(off(i) until off(i) +
  *     len(i))`, `len(i) = -1` for a null embedding; its model is
  *     `models(rowModel(i))`, its similarity method `simMethods(rowSim(i))`,
  *     its level-1 weight `rowW(i)`;
  *   - level-1 group j (one datapoint of one entity row) holds rows
  *     `dpStart(j) until dpStart(j + 1)`, aggregated by `dpMethod(j)`; its
  *     level-2 weight is `dpW(j)`;
  *   - level-2 group e (one (searchdomain, entity_id, name, probmethod))
  *     holds level-1 groups `entStart(e) until entStart(e + 1)`, aggregated
  *     by `entMethod(e)`; `entNameRank(e)` orders its name as Spark orders
  *     strings (UTF-8 bytes, null first).
  */
final class DomainSnapshot private (
    val models: Array[String],
    vec: Array[Float], off: Array[Int], len: Array[Int],
    rowModel: Array[Int], rowSim: Array[Int], simMethods: Array[String], rowW: Array[Double],
    dpStart: Array[Int], dpMethod: Array[String], dpW: Array[Double],
    entStart: Array[Int], entMethod: Array[String], entDomain: Array[String],
    entName: Array[String], entNameRank: Array[Int]) {

  def rows: Int = len.length

  /** The top `n` (searchdomain, name, score) for one query, `queryVectors(k)`
    * being the query's embedding under `models(k)`: `score desc` (NaN
    * first, null last, as Spark orders doubles), then `name asc`. Throws
    * on an unknown similarity method or probmethod, as the distributed
    * arm's `raise_error` does.
    */
  def top(queryVectors: Array[Array[Float]], n: Int): Seq[(String, String, java.lang.Double)] = {
    val scorers = simMethods.map(VectorFunctions.similarityScalar)
    val sim = new Array[Double](rows)
    val simNull = new Array[Boolean](rows)
    var i = 0
    while (i < rows) {
      val q = queryVectors(rowModel(i))
      val l = len(i)
      val s =
        if (l < 0 || l != q.length) null
        else { val o = off(i); scorers(rowSim(i))(l, k => vec(o + k), k => q(k)) }
      if (s == null) simNull(i) = true else sim(i) = s
      i += 1
    }
    val (dpX, dpNull) = aggregate(dpMethod, dpStart, sim, simNull, rowW)
    val (score, scoreNull) = aggregate(entMethod, entStart, dpX, dpNull, dpW)

    val order: Ordering[Int] = (a, b) => {
      val bySc =
        if (scoreNull(a) || scoreNull(b)) java.lang.Boolean.compare(scoreNull(a), scoreNull(b))
        else ProbMethods.Group.compare(score(b), score(a))
      if (bySc != 0) bySc else Integer.compare(entNameRank(a), entNameRank(b))
    }
    // the n best, kept in a heap whose head is the worst of them
    val heap = new java.util.PriorityQueue[Int](math.max(n, 1), order.reverse)
    var e = 0
    while (e < entMethod.length && n > 0) {
      if (heap.size < n) heap.add(e)
      else if (order.lt(e, heap.peek)) { heap.poll(); heap.add(e) }
      e += 1
    }
    val best = new Array[Int](heap.size)
    var k = best.length - 1
    while (k >= 0) { best(k) = heap.poll(); k -= 1 }
    best.toSeq.map(e => (entDomain(e), entName(e),
      if (scoreNull(e)) null else java.lang.Double.valueOf(score(e))))
  }

  /** One aggregation level: group g's value is `ProbMethods.forMethod`
    * over inputs `start(g) until start(g + 1)`. */
  private def aggregate(method: Array[String], start: Array[Int], x: Array[Double],
      isNull: Array[Boolean], w: Array[Double]): (Array[Double], Array[Boolean]) = {
    val out = new Array[Double](method.length)
    val outNull = new Array[Boolean](method.length)
    var g = 0
    while (g < method.length) {
      val v = ProbMethods.forMethod(method(g),
        ProbMethods.Group(x, isNull, w, start(g), start(g + 1)))
      if (v == null) outNull(g) = true else out(g) = v
      g += 1
    }
    (out, outNull)
  }
}

object DomainSnapshot {

  /** Driver memory for one snapshot's vectors: 16M floats, about 64 MB.
    * The row indexes add about 40 B per embedding, and the collect that
    * builds a snapshot briefly holds its rows twice (encoded and decoded).
    */
  val FloatBudget: Long = 16L << 20

  private val capOverride = new scala.util.DynamicVariable[Option[Int]](None)

  /** The embedding cap for vectors of width `dim`: [[FloatBudget]] / dim,
    * unless [[withCap]] is in force on this thread. */
  private[graft] def cap(dim: Int): Int =
    capOverride.value.getOrElse((FloatBudget / math.max(dim, 1)).toInt)

  /** Specs only: run `body` with the cap forced to `cap` on this thread
    * (0 turns the driver arm off for every domain first searched inside). */
  private[graft] def withCap[T](cap: Int)(body: => T): T =
    capOverride.withValue(Some(cap))(body)

  /** The snapshot of `domain`, or None when it scores more than `cap`
    * embeddings. One `limit(cap + 1)` collect of embeddings ⋈ datapoints ⋈
    * entities, on the inner-join keys the distributed arm uses; rows
    * without a model are left out, as no query vector joins them there.
    * The datapoint and entity probmethods are split, and their DWA weights
    * computed, by the same Column expressions as in that arm.
    */
  private[graft] def build(domain: Domain, cap: Int): Option[DomainSnapshot] =
    if (cap <= 0) None
    else {
      val spark = domain.embeddings.sparkSession
      import spark.implicits._
      val collected = domain.embeddings
        .select(col("searchdomain"), col("entity_id"), col("datapoint_id"),
          col("model"), col("embedding"))
        .where(col("model").isNotNull)
        .join(domain.datapoints.select(
          col("searchdomain"), col("entity_id"), col("datapoint_id"),
          col("name").as("dp_name"), col("probmethod").as("dp_probmethod"),
          col("similaritymethod")), Seq("searchdomain", "entity_id", "datapoint_id"))
        .join(domain.entities.select(
          col("searchdomain"), col("entity_id"), monotonically_increasing_id().as("ent_row"),
          col("name").as("ent_name"), col("probmethod").as("ent_probmethod")),
          Seq("searchdomain", "entity_id"))
        .select(col("searchdomain"), col("entity_id"), col("ent_row"), col("datapoint_id"),
          col("dp_name"), ProbMethods.specNameCol(col("dp_probmethod")).as("dp_m"),
          col("similaritymethod"), col("model"), col("embedding"),
          ProbMethods.dwaWeightCol(col("model"),
            ProbMethods.specParamCol(col("dp_probmethod"))).as("dp_w"),
          col("ent_name"), ProbMethods.specNameCol(col("ent_probmethod")).as("ent_m"),
          ProbMethods.dwaWeightCol(col("dp_name"),
            ProbMethods.specParamCol(col("ent_probmethod"))).as("ent_w"))
        .limit(cap + 1)
        .as[SnapshotRow]
        .collect()
      if (collected.length > cap) None else Some(pack(collected))
    }

  /** Groups the rows into both levels and packs them column-wise. */
  private def pack(rs: Array[SnapshotRow]): DomainSnapshot = {
    val pool = mutable.HashMap.empty[String, String]
    def intern(s: String): String = if (s == null) null else pool.getOrElseUpdate(s, s)

    // level-2 key: the distributed arm's (searchdomain, entity_id, name,
    // method); level-1 key: one datapoint group per entity ROW, since that
    // arm aggregates datapoints before it joins the entities
    val ents = mutable.LinkedHashMap.empty[(String, Long, String, String), Int]
    val dps = mutable.LinkedHashMap.empty[(Long, Long, String, String), Int]
    val dpEnt, dpSize = mutable.ArrayBuffer.empty[Int]
    val dpHead = mutable.ArrayBuffer.empty[SnapshotRow]
    val dpOf = rs.map { r =>
      val e = ents.getOrElseUpdate((r.searchdomain, r.entity_id, r.ent_name, r.ent_m), ents.size)
      val d = dps.getOrElseUpdate((r.ent_row, r.datapoint_id, r.dp_m, r.dp_name), {
        dpEnt += e; dpSize += 0; dpHead += r; dps.size })
      dpSize(d) += 1
      d
    }
    // level-1 groups in level-2 order, rows in level-1 order (stable sorts)
    val dpOrder = dpEnt.indices.sortBy(dpEnt)
    val dpRank = new Array[Int](dpOrder.length)
    dpOrder.indices.foreach(k => dpRank(dpOrder(k)) = k)
    val rowOf = rs.indices.sortBy(i => dpRank(dpOf(i))).map(rs)
    val dpRows = dpOrder.map(dpHead) // a group's method and level-2 weight
    def starts(sizes: Seq[Int]): Array[Int] = sizes.scanLeft(0)(_ + _).toArray

    val models = rs.iterator.map(_.model).distinct.toArray.sorted
    val modelIx = models.zipWithIndex.toMap
    val simIx = mutable.LinkedHashMap.empty[String, Int]
    val rowSim = rowOf.map(r => simIx.getOrElseUpdate(intern(r.similaritymethod), simIx.size))
    val vec = new Array[Float](rowOf.iterator.map(r => Option(r.embedding).fold(0)(_.length)).sum)
    val off, len = new Array[Int](rowOf.length)
    var at = 0
    rowOf.indices.foreach { k =>
      val v = rowOf(k).embedding
      off(k) = at
      if (v == null) len(k) = -1
      else { System.arraycopy(v, 0, vec, at, v.length); len(k) = v.length; at += v.length }
    }
    val entKeys = ents.keys.toArray
    val entSize = new Array[Int](entKeys.length)
    dpEnt.foreach(e => entSize(e) += 1)
    val nameRank = entKeys.map(_._3).distinct.filter(_ != null)
      .sortBy(UTF8String.fromString)(Ordering.fromLessThan(_.compareTo(_) < 0))
      .zipWithIndex.toMap

    new DomainSnapshot(
      models.map(intern), vec, off, len,
      rowOf.map(r => modelIx(r.model)).toArray,
      rowSim.toArray, simIx.keys.toArray, rowOf.map(_.dp_w).toArray,
      starts(dpOrder.map(dpSize)), dpRows.map(r => intern(r.dp_m)).toArray,
      dpRows.map(_.ent_w).toArray,
      starts(entSize.toSeq), entKeys.map(k => intern(k._4)),
      entKeys.map(k => intern(k._1)), entKeys.map(k => intern(k._3)),
      entKeys.map(k => if (k._3 == null) -1 else nameRank(k._3)))
  }
}
