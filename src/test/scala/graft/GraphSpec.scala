package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Connected components (ops/Graph HashMin label propagation) — the
  * dedup-cluster resolver behind q78. Checked against hand-computed
  * components on shapes that exercise transitivity: chains (A-B, B-C
  * must merge without an A-C edge), stars, and disjoint pairs.
  */
class GraphSpec extends SparkSpec {

  private def pairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def cc(edges: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    pairs(Graph.connectedComponents(edges.toDF("a", "b"), "a", "b"))
  }

  /** undirected star (hub 1 - leaves 2,3,4) plus a 5-6 edge pair and an
    * asymmetric source 7 -> 1 (tests sink contributions and deg division) */
  private def prEdges: DataFrame = {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    (und ++ und.map(_.swap) ++ Seq((7L, 1L))).toDF("src", "dst")
  }

  /** path 1-2-3-4-5-6 plus isolated edge 8-9; sources {1, 5}: node 3 is
    * 2 hops from both, node 6 is 1 from source 5, node 8/9 unreachable */
  private def bfsEdges: DataFrame = {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }
  private def bfsSources: DataFrame = {
    import spark.implicits._
    Seq(1L, 5L).toDF("node")
  }

  /** bipartite purchases: part 10 bought by every hub, part 11 by two,
    * part 12 by one; hub 3 buys the most */
  private def purchases: DataFrame = {
    import spark.implicits._
    Seq((1L, 10L), (2L, 10L), (3L, 10L), (2L, 11L), (3L, 11L), (3L, 12L)).toDF("ck", "pk")
  }

  /** triangle {1,2,3} (2-core) + pendant path 3-4-5 + isolated edge 6-7 */
  private def kcoreEdges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).toDF("a", "b")
  }

  test("chain merges transitively to the minimum id") {
    // 1-2, 2-3, 3-4: one component labelled 1 — a pairwise keeper rule
    // would wrongly retain 2 of the 4.
    assert(cc((1L, 2L), (2L, 3L), (3L, 4L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate minima") {
    assert(cc((1L, 2L), (10L, 11L), (11L, 12L), (20L, 21L)) ==
      Map(1L -> 1L, 2L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L))
  }

  test("star and reversed/duplicate edges converge to the hub minimum") {
    // edges given in both orientations and duplicated — symmetrization
    // and distinct() must make the orientation irrelevant
    assert(cc((5L, 9L), (9L, 5L), (5L, 7L), (5L, 7L), (8L, 5L)) ==
      Map(5L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 5L))
  }

  test("long path converges within the iteration bound (diameter rounds)") {
    // 0-1-2-...-19: worst case for HashMin (min label propagates one hop
    // per round from one end)
    val edges = (0L until 19L).map(i => (i + 1, i))
    val got = cc(edges: _*)
    assert(got == (0L to 19L).map(_ -> 0L).toMap)
  }

  test("200-node chain converges in logarithmic rounds (pointer jumping)") {
    // 0-1-2-...-199: plain HashMin needs 199 rounds (> the default bound);
    // the shortcut phase must bring it to O(log n). The bound below is
    // deliberately loose (2·log2(200) ≈ 15.3) — the measured value is ~8,
    // but the contract worth pinning is "logarithmic, not linear".
    import spark.implicits._
    val edges = (0L until 199L).map(i => (i + 1, i)).toDF("a", "b")
    val (labels, rounds) = Graph.connectedComponentsWithRounds(edges, "a", "b")
    val got = pairs(labels)
    info(s"200-node chain converged in $rounds rounds")
    assert(got == (0L to 199L).map(_ -> 0L).toMap)
    assert(rounds <= 16, s"expected logarithmic convergence, got $rounds rounds")
  }

  test("non-long ids are cast and singleton-free output matches node set") {
    import spark.implicits._
    val edges = Seq((100, 200)).toDF("x", "y")
    val got = Graph.connectedComponents(edges, "x", "y")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 100L), (200L, 100L)))
  }

  test("incremental CC equals full recompute, including cluster merges") {
    import spark.implicits._
    // old graph: {1,2,3} (chain), {10,11}, {20,21}, isolated-pair {30,31}
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 31L))
      .toDF("a", "b")
    val assign = Graph.connectedComponents(oldEdges, "a", "b")
    // new shard: a brand-new cluster {40,41}, an attach (42 -> old {10,11}),
    // and the hard path — one edge MERGING old clusters {1,2,3} and {20,21}
    val newEdges = Seq((40L, 41L), (42L, 10L), (3L, 21L)).toDF("a", "b")
    val incr = pairs(Graph.ccIncremental(assign, newEdges, "a", "b"))
    val full = pairs(Graph.connectedComponents(oldEdges.unionByName(newEdges), "a", "b"))
    assert(incr == full)
    assert(incr(21L) == 1L && incr(3L) == 1L) // merged cluster takes global min
    assert(incr(42L) == 10L)                  // attach inherits old label
    assert(incr(41L) == 40L)                  // new-only cluster
    assert(incr(30L) == 30L && incr(31L) == 30L) // untouched cluster unchanged
  }

  test("incremental CC: local union-find arm equals the distributed arm") {
    import spark.implicits._
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val assign = Graph.connectedComponents(oldEdges, "a", "b")
    val newEdges = Seq((40L, 41L), (42L, 10L), (3L, 21L), (41L, 20L)).toDF("a", "b")
    def run(maxLocal: Long) =
      pairs(Graph.ccIncremental(assign, newEdges, "a", "b", maxLocalEdges = maxLocal))
    val local = run(Graph.MaxLocalEdges) // small graph -> union-find arm
    val dist = run(0L)                   // force the distributed arm on the same input
    assert(local == dist)
    assert(local(41L) == 1L) // chain 40-41-20-21-3-2-1 collapses to min 1
  }

  test("incremental CC with an empty increment is the identity") {
    import spark.implicits._
    val oldEdges = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val assign = Graph.connectedComponents(oldEdges, "a", "b")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val incr = pairs(Graph.ccIncremental(assign, empty, "a", "b"))
    assert(incr == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("integer PageRank: driver arm equals the distributed arm, " +
      "and a hub outranks leaves") {
    def run(maxLocal: Long) =
      pairs(Graph.pagerankInt(prEdges, iters = 8, maxLocalEdges = maxLocal))
    val local = run(Graph.MaxLocalEdges)
    val dist = run(0L) // force the distributed arm on the same input
    assert(local == dist, s"driver arm != distributed arm\n $local\n $dist")
    // the hub accumulates its three leaves' full rank plus 7's
    assert(local(1L) > local(2L) && local(2L) == local(3L))
    // 5-6 swap rank symmetrically; 7 has out-degree but no in-edges
    assert(local(5L) == local(6L))
    assert(local(7L) == 150000L)
  }

  test("multi-source BFS: driver arm equals the distributed arm, " +
      "rounds bound reach, nearest source wins") {
    def run(maxLocal: Long) =
      pairs(Graph.bfsHops(bfsEdges, bfsSources, rounds = 2, maxLocalEdges = maxLocal))
    val local = run(Graph.MaxLocalEdges)
    val dist = run(0L) // force the distributed arm on the same input
    assert(local == dist, s"driver arm != distributed arm\n $local\n $dist")
    assert(local == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 6L -> 1L,
      3L -> 2L)) // 8/9 unreached within 2 rounds; 3 reached at min hop 2
  }

  test("k-core trace equals a reference peel and frees every checkpoint block") {
    // round 1 at k=2 drops 5/6/7, round 2 drops 4, then stable
    def refPeel(es: Set[(Long, Long)], k: Int, rounds: Int): Seq[(Long, Long, Long)] = {
      var cur = es.flatMap(e => Seq(e, e.swap))
      def stat(r: Int) = (r.toLong,
        cur.map(_._1).toSet.size.toLong,
        (cur.size / 2).toLong)
      val out = scala.collection.mutable.ArrayBuffer(stat(0))
      for (r <- 1 to rounds) {
        val deg = cur.groupBy(_._1).map { case (n, es2) => n -> es2.size }
        val keep = deg.filter(_._2 >= k).keySet
        cur = cur.filter(e => keep(e._1) && keep(e._2))
        out += stat(r)
      }
      out.toSeq
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Graph.kcoreTrace(kcoreEdges, "a", "b", k = 2, rounds = 3)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"kcoreTrace leaked checkpoint blocks: ${after -- before}")
    val want = refPeel(Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (6L, 7L)), 2, 3)
    assert(got == want, s"trace mismatch\n got=$got\nwant=$want")
    // the curve itself: 7 nodes/6 edges -> drops pendants -> the triangle
    assert(got.head == (0L, 7L, 6L) && got.last == (3L, 3L, 3L))
  }

  test("k-core trace: driver arm equals the distributed arm, and the " +
      "driver arm is the one the cap selected") {
    // the cap's choice is read from this call's own jobs, not from the
    // process-global arm counter: the driver arm runs no more jobs than one
    // bounded collect of the symmetric edges, the distributed arm runs more
    val sym = kcoreEdges.unionByName(kcoreEdges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val (_, collectJobs) = jobsDuring {
      val p = sym.persist()
      try p.limit(Graph.MaxLocalEdges.toInt + 1).collect() finally p.unpersist()
    }
    def run(maxLocal: Long) = jobsDuring(
      Graph.kcoreTrace(kcoreEdges, "a", "b", k = 2, rounds = 3, maxLocalEdges = maxLocal))
    val (local, localJobs) = run(Graph.MaxLocalEdges) // 12 symmetric edges -> driver arm
    val (dist, distJobs) = run(0L) // force the distributed arm on the same input
    assert(local == dist, s"driver arm != distributed arm\n $local\n $dist")
    assert(localJobs <= collectJobs,
      s"kcoreTrace driver arm ran $localJobs jobs; one bounded collect runs $collectJobs")
    assert(distJobs > collectJobs,
      s"kcoreTrace at cap 0 ran $distJobs jobs, no more than one bounded collect")
  }

  test("HITS: broadcast arm equals the shuffle arm, and the universal " +
      "authority wins") {
    def run(cap: Long) =
      pairs(Graph.hitsAuthPpm(purchases, "ck", "pk", rounds = 3, broadcastNodeCap = cap))
    val bcast = run(Graph.BroadcastNodeCap)
    val shuf = run(0L) // force the shuffle arm on the same input
    assert(bcast == shuf, s"broadcast arm != shuffle arm\n $bcast\n $shuf")
    // authority ordering follows coverage; scores normalize to ~1e6 total
    assert(bcast(10L) > bcast(11L) && bcast(11L) > bcast(12L))
    assert(math.abs(bcast.values.sum - 1000000L) <= bcast.size)
  }

  test("HITS rejects an edge with a null hub key") {
    import spark.implicits._
    val edges = Seq((Some(1L), 10L), (None, 11L)).toDF("ck", "pk")
    val e = intercept[IllegalArgumentException] {
      Graph.hitsAuthPpm(edges, "ck", "pk", rounds = 2)
    }
    assert(e.getMessage.contains("1 edges carry null hub/auth keys"))
  }

  test("gated: at most cap rows run the driver arm over every row, " +
      "cap + 1 rows run the distributed arm") {
    import spark.implicits._
    val three = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    def arm(rows: Seq[(Long, Long)], cap: Long) =
      Graph.gated("gateSpec", rows.toDF("a", "b"), cap)(
        r => ("driver", r.toSet))(
        d => ("distributed", d.as[(Long, Long)].collect().toSet))
    assert(arm(three, 3L) == (("driver", three.toSet)))
    assert(arm(three, 2L) == (("distributed", three.toSet)))
    assert(arm(Seq.empty, 0L) == (("driver", Set.empty[(Long, Long)])))
  }

  test("broadcastBelow hints the side only when it fits") {
    def hinted(fits: Boolean) =
      Graph.broadcastBelow("gateSpec", fits)(kcoreEdges).queryExecution.analyzed.exists {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
          h.hints.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST)
        case _ => false
      }
    assert(hinted(true))
    assert(!hinted(false))
  }

  test("gated rejects a cap that overflows limit(cap + 1)") {
    val e = intercept[IllegalArgumentException] {
      Graph.gated("gateSpec", kcoreEdges, Int.MaxValue.toLong)(_ => ())(_ => ())
    }
    assert(e.getMessage.contains(
      "gateSpec: cap 2147483647 overflows limit(cap + 1); need cap < 2147483647"))
  }

  test("every cap-gated gate returns equal values at cap 0 and at its default cap") {
    import spark.implicits._
    def same[T](gate: String, default: Long)(run: Long => T): T = {
      val (forced, dflt) = (run(0L), run(default))
      assert(forced == dflt, s"$gate: cap 0 != default cap\n $forced\n $dflt")
      dflt
    }
    val assign = Graph.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b")
    val newEdges = Seq((40L, 41L), (42L, 10L), (3L, 21L), (41L, 20L)).toDF("a", "b")
    same("ccIncremental", Graph.MaxLocalEdges)(cap =>
      pairs(Graph.ccIncremental(assign, newEdges, "a", "b", maxLocalEdges = cap)))
    // pagerankInt, then pagerankIntBcast inside its distributed arm
    val pr = same("pagerankInt", Graph.MaxLocalEdges)(cap =>
      pairs(Graph.pagerankInt(prEdges, iters = 8, maxLocalEdges = cap)))
    assert(pr == same("pagerankIntBcast", Graph.BroadcastNodeCap)(cap =>
      pairs(Graph.pagerankInt(prEdges, iters = 8, maxLocalEdges = 0L,
        broadcastNodeCap = cap))))
    same("kcoreTrace", Graph.MaxLocalEdges)(cap =>
      Graph.kcoreTrace(kcoreEdges, "a", "b", k = 2, rounds = 3, maxLocalEdges = cap))
    // bfsHops, then bfsHopsBcast inside its distributed arm
    val bfs = same("bfsHops", Graph.MaxLocalEdges)(cap =>
      pairs(Graph.bfsHops(bfsEdges, bfsSources, rounds = 2, maxLocalEdges = cap)))
    assert(bfs == same("bfsHopsBcast", Graph.BroadcastNodeCap)(cap =>
      pairs(Graph.bfsHops(bfsEdges, bfsSources, rounds = 2, maxLocalEdges = 0L,
        broadcastNodeCap = cap))))
    same("hitsAuthPpm", Graph.BroadcastNodeCap)(cap =>
      pairs(Graph.hitsAuthPpm(purchases, "ck", "pk", rounds = 3, broadcastNodeCap = cap)))
  }
}
