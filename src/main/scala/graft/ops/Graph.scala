package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Distributed graph helpers for dedup-cluster resolution: the pair lists
  * the dedup families emit (exact / minhash / simhash / n-gram) are EDGES;
  * a curation pipeline must collapse them into connected components and
  * keep one representative per component. Pairs alone under-delete: if
  * A~B and B~C but A!~C, keeping "one of each pair" can still retain two
  * near-identical documents.
  */
object Graph {

  /** The arm counts of every [[Arms]] gate (`op:local` / `op:distributed`),
    * the view perfbench and `tools/Scale` read. */
  def armSnapshot(): Map[String, Long] =
    Arms.armCounts.asScala.map { case (k, v) => k -> v.get() }.toMap

  /** Default edge cap of the driver arms and node cap of the broadcast arms. */
  val MaxLocalEdges = 200000L
  val BroadcastNodeCap = 2000000L

  /** The edge gate of the hybrid operators: [[Arms.gate]] over the
    * persisted (long, long) edge frame, so `cap` bounds driver memory at
    * ~16 B/edge (the 200k default ≈ 3 MB). The frame is unpersisted on
    * return, so `distributed` must materialize whatever it returns from it
    * (checkpoint or collect).
    */
  private[graft] def gated[T](op: String, edges: DataFrame, cap: Long)(
      driver: Array[(Long, Long)] => T)(distributed: DataFrame => T): T = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.persist()
    try Arms.gate(op, e.as[(Long, Long)], cap)(driver)(distributed(e))
    finally e.unpersist()
  }

  /** `localCheckpoint` plus the ids of the RDDs backing the result. The
    * checkpointed RDD is identified DIRECTLY from the returned plan's
    * LogicalRDD (localCheckpoint is eager, so the plan is already the
    * materialized leaf) — never by diffing the global persistent-RDD
    * registry, which would misattribute (and later destroy) blocks a
    * concurrent job persisted in the same window.
    */
  private def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val out = df.localCheckpoint()
    val ids = out.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    (out, ids)
  }

  private def free(sc: org.apache.spark.SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))

  /** Connected components by HashMin label propagation WITH pointer-jumping
    * shortcuts: every node starts labelled with its own id; each round
    * every node takes (1) the min label among itself and its neighbours
    * (HashMin), then (2) its label's label (pointer jumping / shortcutting,
    * the Shiloach–Vishkin step large-star/small-star algorithms build on).
    * Plain HashMin needs O(component diameter) rounds — a 200-node chain
    * takes 199; the shortcut phase roughly halves the remaining distance
    * to the component minimum every round, so convergence is
    * O(log diameter) (the 200-chain GraphSpec case converges in ≤ 10
    * rounds). Dedup graphs are shallow, but a pathological chain no longer
    * grinds or trips the round bound.
    *
    * Scale shape: each round is the edge⋈label shuffle join + min
    * aggregate (standard large-graph CC), plus one label⋈label self-join
    * for the shortcut — both on the same key domain, both
    * map-side-combinable. `localCheckpoint` truncates lineage each round
    * so the plan does not grow with iterations; the driver-side loop reads
    * only a changed-row COUNT per round (an aggregate, never data).
    *
    * Returns (id, component) with component = min node id reachable.
    * NOTE the returned DataFrame reads the final round's localCheckpoint
    * blocks lazily — they stay pinned until the caller's terminal action;
    * `Caches.release()` — or releasing the enclosing `Caches.scoped`
    * handle — frees them (registered here). `catalog.clearCache` does
    * NOT: it only covers Dataset-level caches, not RDD storage — so
    * callers MUST eventually release via Caches; clearCache alone leaks
    * the final round's blocks for the life of the session.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * executed — the convergence contract GraphSpec pins (chain ⇒
    * logarithmic rounds).
    */
  def connectedComponentsWithRounds(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): (DataFrame, Int) = {
    val sc = edges.sparkSession.sparkContext
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()

    // Each round's labels are localCheckpoint'ed (lineage truncation); the
    // PREVIOUS round's checkpoint blocks are freed explicitly once the
    // convergence count has read them — otherwise a deep graph accumulates
    // O(rounds × |V|) dead cache blocks until driver GC.
    var (labels, labelBlocks) = checkpointTracked(
      sym.select(col("a").as("id")).distinct().withColumn("component", col("id")))
    var changed = 1L
    var iter = 0
    try {
      while (changed > 0 && iter < maxIter) {
        // phase 1 — HashMin: min label over self + neighbours
        val fromNeighbours = sym
          .join(labels.withColumnRenamed("id", "b"), "b")
          .select(col("a").as("id"), col("component"))
        val hashMin = labels.unionByName(fromNeighbours)
          .groupBy("id").agg(min("component").as("component"))
        // phase 2 — shortcut: follow the label pointer one hop
        // (component := label(component); labels are node ids, so every
        // pointer resolves — left join + coalesce guards regardless)
        val jumped = hashMin
          .join(hashMin.select(col("id").as("component"), col("component").as("cc")),
            Seq("component"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("cc"), col("component"))).as("component"))
        val (next, nextBlocks) = checkpointTracked(jumped)
        changed = next
          .join(labels.withColumnRenamed("component", "prev"), "id")
          .filter(col("component") < col("prev"))
          .count()
        free(sc, labelBlocks) // previous round fully consumed by the count above
        labels = next
        labelBlocks = nextBlocks
        iter += 1
      }
      // A truncated run would silently report one component as several —
      // exactly the under-deletion this module exists to prevent. With the
      // shortcut phase, hitting this bound takes diameter > ~2^maxIter.
      require(changed == 0,
        s"connectedComponents did not converge within $maxIter rounds " +
          "(component diameter exceeds bound); raise maxIter")
    } catch {
      case t: Throwable =>
        // failure path: the in-flight round's blocks have no consumer —
        // free them instead of leaking until session end
        free(sc, labelBlocks)
        throw t
    } finally {
      sym.unpersist()
    }
    // the final round's blocks back the RETURNED frame — released with the
    // rest of the pipeline scratch, not here. The inert predicate lets
    // Caches purge this entry once the blocks are gone by any other path
    // (a clearCache-only session otherwise accumulates cleanup closures
    // for the life of the JVM — ADVICE r8).
    val finalBlocks = labelBlocks
    Caches.onRelease(() => free(sc, finalBlocks),
      () => finalBlocks.forall(id => !sc.getPersistentRDDs.contains(id)))
    (labels, iter)
  }

  /** Driver-local union-find over the edge rows [[gated]] collected (the
    * small-graph arm of [[ccIncremental]]'s hybrid): min-root union keeps
    * the component label equal to the minimum member id — the exact
    * contract of [[connectedComponents]] — and path compression keeps the
    * scan near-linear.
    */
  private def localCC(spark: SparkSession, superEdges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    superEdges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(n => (n, find(n))).toDF("id", "component")
  }

  /** Incremental connected-components maintenance: fold a NEW shard's
    * edges into an existing (id, component) assignment without touching
    * the old graph. Each old cluster is contracted to one supernode (its
    * component label — by construction the cluster's min id), each
    * never-seen endpoint is its own supernode, and [[connectedComponents]]
    * runs over the contracted edge list only. Because contraction
    * preserves reachability and old labels are cluster minima, the merged
    * labels equal a full recompute's EXACTLY (GraphSpec pins incremental
    * == full, including the cluster-merge path where one new edge joins
    * two old clusters).
    *
    * Scale shape: the CC iteration runs on a graph sized by the
    * INCREMENT (|new edges| nodes at worst), never the corpus — the
    * cluster-maintenance twin of [[Dedup.minhashIncremental]]'s skipped
    * old×old term. The corpus-sized work is two broadcast-friendly hash
    * joins (endpoint→assignment, assignment→new label), both on the
    * cluster key.
    *
    * Returns the updated (id, component) covering the old assignment's
    * nodes plus every new-edge endpoint.
    */
  def ccIncremental(
      assign: DataFrame,
      newEdges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    val e = newEdges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val am = assign.select(col("id").as("a"), col("component").as("ca"))
    val bm = assign.select(col("id").as("b"), col("component").as("cb"))
    val superEdges = e
      .join(am, Seq("a"), "left")
      .join(bm, Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("sa"),
        coalesce(col("cb"), col("b")).as("sb"))
      .filter(col("sa") =!= col("sb"))
      .distinct()
    // Hybrid execution: the contracted graph is sized by the INCREMENT —
    // typically orders of magnitude below the corpus — so when its edges
    // fit [[MaxLocalEdges]], a driver-local union-find over the rows the
    // [[gated]] collect returned replaces 3-8 distributed label-propagation
    // rounds (each a shuffle join + a checkpoint + a convergence count);
    // above it the distributed path runs unchanged. GraphSpec pins both
    // paths equal on the same input.
    val superCC = gated("ccIncremental", superEdges, MaxLocalEdges)(
      localCC(assign.sparkSession, _))(connectedComponents(_, "sa", "sb", maxIter))
    val remappedOld = assign
      .join(superCC
          .select(col("id").as("component"), col("component").as("merged")),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("merged"), col("component")).as("component"))
    val newNodes = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id")))
      .distinct()
      .join(assign.select("id"), Seq("id"), "left_anti")
    val newAssigned = newNodes
      .join(superCC, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    remappedOld.unionByName(newAssigned)
  }

  /** Integer PageRank over a DIRECTED edge list (src, dst): `iters` fixed
    * power-iteration rounds entirely in integer micros — initial rank
    * 10⁶ per node, per-edge contribution `pr div out-degree`, damping
    * `(85·Σ) div 100` — so the fixed-point prefix is bit-identical in any
    * engine (float PageRank sums are summation-order-dependent). Returns
    * (node, pr); nodes are the distinct edge endpoints that appear as a
    * source (an isolated sink contributes nothing and is not ranked).
    *
    * Hybrid execution through [[gated]]: when the bounded collect returns
    * at most [[MaxLocalEdges]] edges, the rounds run as a driver loop over
    * those rows, else each round is the standard distributed shape —
    * edges ⋈ rank + one dst-keyed aggregate, chained lazily into a single
    * job. The rank side is node-sized, so it is only broadcast below
    * [[BroadcastNodeCap]] (measured on the persisted node frame, through
    * [[Arms.broadcastBelow]]); above the cap the join shuffles. GraphSpec
    * pins the arms equal, selecting them with [[Arms.forcing]].
    */
  def pagerankInt(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    gated("pagerankInt", edges.select(col("src").cast("long"), col("dst").cast("long")),
        MaxLocalEdges) { es =>
      val deg = es.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
      val nodes = deg.keys.toArray.sorted
      var pr: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val sc = collection.mutable.Map.empty[Long, Long]
        es.foreach { case (s, t) =>
          sc(t) = sc.getOrElse(t, 0L) + pr(s) / deg(s)
        }
        pr = nodes.map(n =>
          n -> (150000L + (85L * sc.getOrElse(n, 0L)) / 100L)).toMap
      }
      nodes.map(n => (n, pr(n))).toSeq.toDF("node", "pr")
    } { e =>
      val nodes = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg")).persist()
      val side = Arms.broadcastBelow("pagerankIntBcast", nodes.count() <= BroadcastNodeCap)
      var pr = nodes.withColumn("pr", lit(1000000L))
      for (_ <- 1 to iters) {
        val contrib = e
          .join(side(pr.select(col("node").as("src"),
            expr("pr div deg").as("c"))), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("c")).as("sc"))
        pr = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), col("deg"),
            expr("CAST(150000 + (85 * coalesce(sc, 0L)) div 100 AS BIGINT)")
              .as("pr"))
      }
      // materialize before releasing the inputs the plan references
      val out = pr.select("node", "pr").localCheckpoint(true)
      nodes.unpersist()
      out
    }
  }

  /** k-core peeling trace: iteratively drop nodes of degree < `k` from
    * the undirected graph and report the (nodes, edges) curve after each
    * of EXACTLY `rounds` rounds — the curve is the deliverable (how fast
    * the graph collapses to its cohesive core), and a fixed round count
    * keeps the result reproducible in any engine whether or not the peel
    * has converged (the q237/q241 unrolled-iteration contract).
    *
    * Scale shape: each round is one degree rollup + two semi-joins on
    * the shrinking edge frame; every round is localCheckpoint'ed
    * (lineage truncation — the chained semi-joins otherwise triple the
    * logical plan per round and analysis cost grows 3^rounds) and the
    * previous round's blocks are freed once its successor is
    * materialized; the driver reads ONE (nodes, edges) scalar pair per
    * round — the [[connectedComponents]] "driver reads counts only"
    * discipline. Nothing survives the call: all checkpoint blocks are
    * freed before returning the bounded `rounds + 1`-row trace.
    */
  def kcoreTrace(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      rounds: Int): Seq[(Long, Long, Long)] = {
    require(k > 0 && rounds >= 0, s"need k > 0, rounds >= 0 (got $k, $rounds)")
    val sc = edges.sparkSession.sparkContext
    val e = edges.select(
      col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    // Hybrid through [[gated]]: the peel is `rounds` driver-synced (degree
    // rollup + two semi-joins + localCheckpoint + stats) job chains whose
    // data is edge-bounded — when the symmetric edges fit [[MaxLocalEdges]]
    // the whole trace is a driver fold over the collected rows (the
    // per-round scheduling floor, not the data, dominates there); above
    // the cap the distributed peel below is unchanged. Arm-equality
    // spec-pinned.
    gated("kcoreTrace", sym, MaxLocalEdges) { rows =>
      var cur = rows
      def stat(r: Int): (Long, Long, Long) =
        (r.toLong, cur.map(_._1).distinct.length.toLong,
          cur.length / 2L)
      val trace = scala.collection.mutable.ArrayBuffer(stat(0))
      for (r <- 1 to rounds) {
        val deg = cur.groupBy(_._1).map { case (n, es) => n -> es.length }
        val keep = deg.filter(_._2 >= k).keySet
        cur = cur.filter(p => keep(p._1) && keep(p._2))
        trace += stat(r)
      }
      trace.toSeq
    } { symP =>
      def stats(ed: DataFrame): (Long, Long) = {
        val row = ed.agg(countDistinct(col("a")), count(lit(1))).head()
        (row.getLong(0), row.getLong(1) / 2)
      }
      var (cur, blocks) = checkpointTracked(symP)
      val trace = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      try {
        trace += { val (n, ed) = stats(cur); (0L, n, ed) }
        for (r <- 1 to rounds) {
          val keep = cur.groupBy("a").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select("a")
          val (next, nextBlocks) = checkpointTracked(cur
            .join(keep, Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi"))
          // take ownership of the new round's blocks BEFORE any further
          // action: if stats(next) throws, the finally must free THESE,
          // not just the previous round's
          val prevBlocks = blocks
          cur = next
          blocks = nextBlocks
          trace += { val (n, ed) = stats(next); (r.toLong, n, ed) }
          free(sc, prevBlocks)
        }
      } finally free(sc, blocks)
      trace.toSeq
    }
  }

  /** Multi-source BFS hop distances: `rounds` fixed frontier-expansion
    * iterations from `sources` over directed `edges` (callers supply both
    * directions for undirected graphs). Returns (node, dd) for every node
    * reached within `rounds` hops; dd = 0 for sources.
    *
    * Hybrid execution through [[gated]]: when the bounded collect returns
    * at most [[MaxLocalEdges]] edges the BFS is a driver loop over an
    * adjacency map of those rows, else each round is ONE edge ⋈ distance
    * join + a min aggregate, persisted per round (each round reads its
    * predecessor TWICE — expand + union — so unpersisted lineage doubles
    * every iteration). The distance side is node-sized (≤ 2·|E| + the
    * source batch), so it is broadcast only when that MEASURED bound —
    * one count of the persisted edges plus one of the source batch —
    * stays under [[BroadcastNodeCap]], and shuffle-joined above it.
    * GraphSpec pins the arms equal.
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    gated("bfsHops", edges.select(col("src").cast("long"), col("dst").cast("long")),
        MaxLocalEdges) { es =>
      val adj = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
      val dist = scala.collection.mutable.LinkedHashMap[Long, Long]()
      sources.select(col("node").cast("long")).as[Long].collect()
        .foreach(s => dist(s) = 0L)
      var frontier = dist.keys.toArray
      for (k <- 1 to rounds if frontier.nonEmpty) {
        frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k.toLong)
      }
      dist.toSeq.toDF("node", "dd")
    } { e =>
      // dist never exceeds the reached node set: ≤ 2·nEdges endpoints
      // plus the source batch — gate on the MEASURED sum of both (ADVICE
      // r13: gating on 2·nEdges alone left a large source set with a
      // small edge list force-broadcast at any size). The edge count is
      // one job over the persisted frame and the source count one over
      // the batch, both paid only in this arm; && short-circuits, so when
      // 2·nEdges alone already exceeds the cap the source-count job is
      // skipped (ADVICE r14).
      val side = Arms.broadcastBelow("bfsHopsBcast", {
        val reach = 2 * e.count()
        reach <= BroadcastNodeCap && reach + sources.count() <= BroadcastNodeCap
      })
      var dist = sources.select(col("node").cast("long"), lit(0L).as("dd"))
        .persist()
      val rounds0 = scala.collection.mutable.ArrayBuffer(dist)
      for (_ <- 1 to rounds) {
        dist = e.join(side(dist), e("src") === dist("node"))
          .select(col("dst").as("node"), (col("dd") + 1L).as("dd"))
          .unionByName(dist)
          .groupBy("node").agg(min("dd").as("dd"))
          .persist()
        rounds0 += dist
      }
      val out = dist.localCheckpoint(true)
      rounds0.foreach(_.unpersist())
      out
    }
  }

  /** HITS hubs/authorities over a bipartite edge list, all-integer ppm
    * (the q327 contract): each round's raw score is an edge⋈score join +
    * key rollup, normalized `raw·10⁶ div Σraw` with the 1-row total
    * broadcast — int64-safe (raw ≤ maxdeg·10⁶, Σ ≤ |edges|·10⁶).
    * `rounds` auth steps interleaved with `rounds − 1` hub steps, hubs
    * seeded at 10⁶; returns the final (authCol, auth_ppm) frame.
    *
    * Precondition: no edge may carry a null hub or auth key. A null
    * endpoint would silently drop out of every join round, so the gate
    * job counts such edges and fails with an `IllegalArgumentException`
    * ("N edges carry null hub/auth keys") before any round runs.
    *
    * Scale shape, cap-gated like [[pagerankInt]]: score frames are
    * node-sided, so below [[BroadcastNodeCap]] (the larger of the two node
    * cardinalities) they BROADCAST and the edge frame never shuffles —
    * right for catalog-sized graphs. Above the cap a node-sized
    * broadcast would grow with the graph (the r11 verdict caveat), so
    * the per-round join runs as a plain shuffle hash join on the node
    * key instead — the standard large-graph shape. Values are identical
    * either way (GraphSpec pins the arms equal); [[Arms.broadcastBelow]] records
    * which arm ran (`hitsAuthPpm:local` = broadcast). Each round's score
    * frame is localCheckpoint'ed so lineage does not grow with rounds;
    * all intermediate blocks are freed before returning.
    */
  def hitsAuthPpm(edges: DataFrame, hubCol: String, authCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1 (got $rounds)")
    val e = edges.select(col(hubCol).cast("long").as("hub"),
      col(authCol).cast("long").as("auth")).distinct().persist()
    try {
      // one job for both node cardinalities instead of two distinct
      // counts (r18, guide §1.2: fewer passes). countDistinct ignores
      // NULL keys where the old select().distinct().count() counted one
      // (ADVICE r18) — a null endpoint would also silently drop from
      // every join round below, so the no-null-key invariant is enforced
      // at the door, folded into the SAME gate job as a third aggregate.
      val nRow = e.agg(countDistinct(col("hub")),
        countDistinct(col("auth")),
        count(when(col("hub").isNull || col("auth").isNull, 1))).head()
      require(nRow.getLong(2) == 0L,
        s"hitsAuthPpm: ${nRow.getLong(2)} edges carry null hub/auth keys")
      val side = Arms.broadcastBelow("hitsAuthPpm",
        math.max(nRow.getLong(0), nRow.getLong(1)) <= BroadcastNodeCap)
      val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def keep(df: DataFrame): DataFrame = {
        val out = df.localCheckpoint(true); kept += out; out
      }
      def normalize(df: DataFrame, node: String): DataFrame = {
        val tot = df.agg(sum("raw").as("tot"))
        df.crossJoin(broadcast(tot))
          .select(col(node), expr("raw * 1000000 div tot").as("score"))
      }
      def authStep(h: DataFrame): DataFrame = normalize(
        e.join(side(h.withColumnRenamed("score", "hs")), "hub")
          .groupBy("auth").agg(sum("hs").as("raw")), "auth")
      def hubStep(a: DataFrame): DataFrame = normalize(
        e.join(side(a.withColumnRenamed("score", "as_")), "auth")
          .groupBy("hub").agg(sum("as_").as("raw")), "hub")
      // first auth step folded closed: every hub scores the constant 10⁶,
      // so Σ hs per auth == 10⁶ · indegree — the same values the generic
      // join computes, without the join (r18, guide §1.2)
      var a = keep(normalize(
        e.groupBy("auth").agg((count(lit(1)) * 1000000L).as("raw")), "auth"))
      for (_ <- 2 to rounds) {
        val h = keep(hubStep(a))
        a = keep(authStep(h))
      }
      val out = a.select(col("auth").as(authCol), col("score").as("auth_ppm"))
        .localCheckpoint(true)
      kept.foreach(_.unpersist())
      out
    } finally e.unpersist()
  }
}
