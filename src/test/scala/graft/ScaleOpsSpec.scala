package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Skew
import graft.search.SearchEngine

/** The two explicit 100 TB levers pinned on physical plans:
  * bucket-co-located domain tables make the whole post-broadcast search
  * pipeline shuffle-free, and salting spreads a hot join key across
  * reducers without changing the result.
  */
class ScaleOpsSpec extends SparkSpec {

  test("bucketed domain: search plan has no shuffle exchange after the broadcast") {
    import spark.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"document number $i about topic ${i % 5} with shared words", "en", s"s$i"))
      .toSeq.toDF("doc_id", "text", "lang", "source")
    val domain = SearchEngine.buildDomain(spark, docs, Seq("stub:alpha"), dim = 8)

    val dir = tempDir("bucketed-")
    Tables.writeDomainBucketed(domain, dir, "graft_test", buckets = 4)
    try {
      val bucketed = Tables.readDomainBucketed(spark, "graft_test")
      val q = SearchEngine.queryEmbeddings(spark, bucketed, "topic words", 8)
      val search = SearchEngine.search(bucketed, q, 5)

      // identical results to the unbucketed pipeline
      val plain = SearchEngine.search(domain,
        SearchEngine.queryEmbeddings(spark, domain, "topic words", 8), 5)
      assert(search.collect().toSeq == plain.collect().toSeq)

      // and NO corpus-volume shuffle: the bucketed scan's
      // HashPartitioning(entity_id) satisfies both aggregation levels and
      // the entity join. The only permitted exchange is the M-row
      // distinct-models subquery feeding a broadcast (queryEmbeddings).
      search.collect() // finalize AQE plan
      // AdaptiveSparkPlan.toString prints the pre-AQE "Initial Plan" too
      // (which still contains ENSURE_REQUIREMENTS exchanges) — judge only
      // the final executed section.
      val plan = search.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      for (key <- Seq("entity_id", "datapoint_id", "name"))
        assert(!plan.contains(s"Exchange hashpartitioning($key"),
          s"unexpected $key shuffle in bucketed search plan:\n$plan")
    } finally {
      Seq("entities", "datapoints", "embeddings")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_test_$t"))
    }
  }

  test("IVF cell layout: the probed cells reach the scan as a partition filter") {
    import graft.search.Ann
    // plan stringification truncates the PartitionFilters metadata at 100
    // chars by default — with the longer attribute ids of a full-suite run
    // the "dynamicpruning" token itself gets cut. Widen for this test.
    val prevLen = spark.conf.getOption("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Ann.sampleCentroids(embs, 25)
    val assigned = Ann.ivfAssign(embs, centroids)
    val dir = tempDir("ivf-")
    Ann.writeIvfLayout(assigned, dir)

    val onDisk = spark.read.parquet(dir)
    val queries = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val got = Ann.ivfSearch(onDisk, centroids, queries, k = 5, nprobe = 3)

    // identical results to searching the in-memory assignment
    val want = Ann.ivfSearch(assigned, centroids, queries, k = 5, nprobe = 3)
      .orderBy("query_id", "rnk").collect().toSeq
    assert(got.orderBy("query_id", "rnk").collect().toSeq == want)

    // and the partitioned scan is PRUNED to the probed cells: the join
    // against the broadcast (query x probed-cell) frame must reach the
    // parquet source as a dynamic partition filter — at 100 TB this is
    // the difference between reading nprobe/|C| of the corpus and all
    // of it. (Static proof that the layout prunes at all: an isin filter
    // must also show up as PartitionFilters, checked second.)
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("dynamicpruning"),
      s"probed-cell join did not become a dynamic partition filter:\n$plan")

    val static = onDisk.filter(col("centroid_id").isin(0L, 25L, 50L))
      .select(count(lit(1))).queryExecution.executedPlan.toString
    assert(static.contains("PartitionFilters") && static.contains("centroid_id"),
      s"static cell filter not pushed to partitions:\n$static")
    } finally {
      prevLen match {
        case Some(v) => spark.conf.set("spark.sql.maxMetadataStringLength", v)
        case None => spark.conf.unset("spark.sql.maxMetadataStringLength")
      }
    }
  }

  test("salted join: equals the plain join, spreads the hot key") {
    import spark.implicits._
    // one pathological key (90% of rows) + a long tail
    val skewed = ((1 to 900).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("k", "v")
    val small = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, k.length))
      .toDF("k", "w")

    val plain = skewed.join(small, "k").select("k", "v", "w")
    val salted = Skew.saltedJoin(skewed, small, Seq("k"), salts = 8).select("k", "v", "w")
    assert(salted.collect().sortBy(r => (r.getString(0), r.getInt(1))).toSeq
      == plain.collect().sortBy(r => (r.getString(0), r.getInt(1))).toSeq)

    // the join key really carries the salt (hot key split across hashes)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"))
  }

  test("q97 token-budget selection is invariant to the derived bucket count") {
    // VERDICT r7 #4: the two-phase prefix sum's bucket count now scales
    // with input size. The proof obligation: bucket id is monotone in the
    // rounded quality key, so the bucket-offset + within-bucket rank
    // reconstruction of the global running sum is EXACT for any bucket
    // count — pin result identity across three very different
    // rowsPerBucket settings (B = 20 clamped / ~72 / 500 at sf0.01's 500
    // rows).
    val sf = "/root/testdata/sf0.01"
    def run(rpb: Long): Seq[(Long, String, Long, Long, Long)] =
      Queries.tokenBudgetSelect(spark, sf, budget = 3000L, rowsPerBucket = rpb)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val base = run(50000L)
    assert(base.nonEmpty && base.exists(_._5 == 1L) && base.exists(_._5 == 0L))
    assert(run(7L) == base)
    assert(run(1L) == base)
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q118 exact split: every rank window is bucketed, never a whole language") {
    // the q88/q97 histogram-offset pattern applied to ranks: the proof
    // obligation on the PLAN side is that no Window partitions by lang
    // alone (which would sort an entire language in one task at any
    // corpus size). Every window spec must carry the hash-prefix bucket
    // key next to lang.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q118_exact_split")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize AQE
    // AQE wraps materialized subtrees in QueryStageExec nodes whose
    // children are empty — recurse through them explicitly
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    // the row_number (rank) window rides corpus rows — it must carry the
    // bucket key; the cumulative-offset window rides the 128-row-per-lang
    // bucket HISTOGRAM and is allowed its lang-only key (the q88 shape)
    val rankWs = ws.filter(_.windowExpression.exists(_.toString.contains("row_number")))
    assert(rankWs.nonEmpty, "expected a row_number window in the q118 plan")
    rankWs.foreach { w =>
      val keys = w.partitionSpec.map(_.toString).mkString(",")
      assert(w.partitionSpec.size >= 2,
        s"rank window partitions by a corpus-growing key alone: $keys")
    }
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q152 length batching: every window is partitioned by the length band") {
    // the operator's scale claim is "no single-partition window" — pin it
    // on the executed plan so a refactor cannot silently drop the band key
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q152_length_batches")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected a window in the q152 plan")
    ws.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"q152 window lost its band partition key: ${w.simpleStringWithNodeId()}")
    }
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q158 OOV audit: vocab is top-k'd (TakeOrderedAndProject) and broadcast") {
    // the two scale levers of the vocabulary pattern: the top-1000 cutoff
    // must compile to TakeOrderedAndProject (not a global Sort), and the
    // vocab side of the membership join must be broadcast (the token
    // stream is never re-shuffled by token).
    val df = Queries.queries("q158_oov_rate")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab top-k is not TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab membership join is not broadcast:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q150 semantic decontam: eval set broadcast, argmax via WindowGroupLimit") {
    val df = Queries.queries("q150_semantic_decontam")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      s"eval set not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"argmax did not compile to WindowGroupLimit (rank pushdown):\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q153 CDC chunking: token windows are per-document, detector has no join") {
    // tokens must never cross documents (window partitioned by doc_id)
    // and the cross-doc detector must be a rollup, not a pair join
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q153_cdc_chunks")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "CDC boundary window must be partitioned by doc")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"CDC detector should be a hash-keyed rollup, found a join:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q176 interleave positions: closed form, no single-partition exchange") {
    // the whole point of the closed form is that NO stage funnels the
    // corpus through one partition (the global row_number it replaces
    // would show up as Exchange SinglePartition + a global Sort)
    val df = Queries.queries("q176_interleave_order")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"interleave closed form must not gather to one partition:\n$plan")
    assert(plan.contains("Broadcast"),
      s"per-source size table should broadcast:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q179 weighted sample: per-lang top-k via WindowGroupLimit, " +
      "no global sort before the window") {
    val df = Queries.queries("q179_weighted_sample")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"A-ES top-k did not compile to WindowGroupLimit:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q175 shard novelty: standing index probed by anti-join, shard-only hashing") {
    val df = Queries.queries("q175_shard_novelty")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"novelty probe should be a LEFT ANTI join against the index:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q189 maxSim: query bags broadcast, both reductions are hash aggregates") {
    val df = Queries.queries("q189_maxsim")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"query bags not broadcast:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"max/sum reductions should be hash aggregates:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q191 context assembly: inverted-index form — query postings broadcast, " +
      "no nested-loop chunk×query join") {
    val df = Queries.queries("q191_context_assembly")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"term postings should broadcast-hash-join the chunk terms:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs chunk×query scoring resurfaced:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q192 epoch shuffle: closed-form positions — no single-partition gather, " +
      "block offsets broadcast, rank windows partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = graft.ops.Shards.epochShuffle(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", 64L, Seq(1L, 2L))
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "per-id rank window must be partitioned by (epoch, block)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"block-offset table should broadcast:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q208 phrase search: adjacency joins are hash equi-joins, never cartesian") {
    val df = Queries.queries("q208_phrase_search")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"phrase adjacency must stay an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("SortMergeJoin"), s"no hash/merge join found:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q216 watermark sizing: lateness window is partitioned per type (no global order)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q216_watermark_sizing")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "running-max window must be partitioned by event_type")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q218 rollup: three aggregation levels compile to ONE Expand, no extra shuffle") {
    val df = Queries.queries("q218_volume_rollup")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"rollup should compile to Expand:\n$plan")
    // one aggregate pair (partial+final) over the expanded rows — a
    // per-level re-aggregation would show several distinct grouping sets
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs <= 4, s"expected one partial+final aggregate chain, got $aggs:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  // Shared: assert a plan has no CartesianProduct and that every
  // BroadcastNestedLoopJoin is a SCALAR cross (its broadcast side is a
  // global keys=[] aggregate, i.e. exactly one row) — the legitimate
  // broadcast-a-total shape, not a data-sized nested loop.
  private def assertOnlyScalarCrosses(
      df: org.apache.spark.sql.DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"$what: cartesian product:\n$plan")
    def bnlj(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
      p.collect {
        case j: BroadcastNestedLoopJoinExec => Seq(j)
        case a: AdaptiveSparkPlanExec => bnlj(a.executedPlan)
        case q: QueryStageExec => bnlj(q.plan)
      }.flatten
    bnlj(df.queryExecution.executedPlan).foreach { j =>
      val side = (if (j.buildSide.toString.contains("Right")) j.right else j.left).toString
      assert(side.contains("keys=[]"),
        s"$what: non-scalar BroadcastNestedLoopJoin build side:\n$side")
    }
  }

  test("q249 PMI: bigram adjacency is a hash equi-join, never cartesian") {
    val df = Queries.queries("q249_pmi_collocations")(spark, "/root/testdata/sf0.001")
    df.collect()
    assertOnlyScalarCrosses(df, "q249")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q253 session paths: all windows are user-partitioned (no global order)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q253_session_paths")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "every sessionization window must be user-partitioned")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q258 triangles: ordered adjacency joins are equi-joins, never cartesian") {
    val df = Queries.queries("q258_triangle_count")(spark, "/root/testdata/sf0.001")
    df.collect()
    assertOnlyScalarCrosses(df, "q258")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q240 AUC: the cumulative window runs over the score HISTOGRAM, " +
      "not the raw corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = Queries.queries("q240_exact_auc")(spark, "/root/testdata/sf0.001")
    df.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
      }.flatten
    val ws = find(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the rank-sum cumulative window")
    // the window's child subtree must contain the histogram aggregate —
    // i.e. the corpus is collapsed to (score -> counts) BEFORE any sort
    def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case _: HashAggregateExec => true
        case _: ObjectHashAggregateExec => true
        case _: SortAggregateExec => true
        case a: AdaptiveSparkPlanExec if hasAgg(a.executedPlan) => true
        case q: QueryStageExec if hasAgg(q.plan) => true
      }.isDefined
    assert(ws.forall(w => hasAgg(w.child)),
      "cumulative window must sit above the score histogram aggregate")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q272 pit features: every window is user-partitioned (no global order)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Queries.queries("q272_pit_features")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "running-sum and total windows must be partitioned by user_id")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q274 step provenance: the pack window is key-partitioned; the only " +
      "unpartitioned windows run over the small bins-per-key frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = Queries.queries("q274_step_provenance")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case _: HashAggregateExec => true
        case _: ObjectHashAggregateExec => true
        case _: SortAggregateExec => true
        case a: AdaptiveSparkPlanExec if hasAgg(a.executedPlan) => true
        case q: QueryStageExec if hasAgg(q.plan) => true
      }.isDefined
    val ws = windows(df.queryExecution.executedPlan)
    val (global, keyed) = ws.partition(_.partitionSpec.isEmpty)
    assert(keyed.nonEmpty, "expected the (lang, shard)-partitioned pack window")
    // the offsets window is allowed to be global ONLY because its child
    // subtree contains the bins-per-key aggregate (the q176/q192
    // closed-form trick): the doc frame never reaches a global sort
    assert(global.forall(w => hasAgg(w.child)),
      "a global window without an aggregate child would sort the doc frame")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q277 RFM: every unpartitioned window runs over a value-keyed " +
      "HISTOGRAM aggregate, never the user frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = Queries.queries("q277_rfm_segments")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case _: HashAggregateExec => true
        case _: ObjectHashAggregateExec => true
        case _: SortAggregateExec => true
        case a: AdaptiveSparkPlanExec if hasAgg(a.executedPlan) => true
        case q: QueryStageExec if hasAgg(q.plan) => true
      }.isDefined
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty, "expected the three histogram cutoff windows")
    assert(ws.filter(_.partitionSpec.isEmpty).forall(w => hasAgg(w.child)),
      "every global cutoff window must sit above its value histogram")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      s"cutoff rows should broadcast back onto users:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q297 sliced AUC: the cumulative window is source-partitioned AND " +
      "sits above the histogram aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val df = Queries.queries("q297_sliced_eval")(spark, "/root/testdata/sf0.001")
    df.collect()
    def windows(p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
      p.collect {
        case w: WindowExec => Seq(w)
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case q: QueryStageExec => windows(q.plan)
      }.flatten
    def hasAgg(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case _: HashAggregateExec => true
        case _: ObjectHashAggregateExec => true
        case _: SortAggregateExec => true
        case a: AdaptiveSparkPlanExec if hasAgg(a.executedPlan) => true
        case q: QueryStageExec if hasAgg(q.plan) => true
      }.isDefined
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      "per-slice cumulative window must be partitioned by source")
    assert(ws.forall(w => hasAgg(w.child)),
      "the window must run over the (source, score) histogram, not raw docs")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("q298 RBO: both ranker top-10s are TakeOrderedAndProject; rank " +
      "windows only touch the reduced frames") {
    val df = Queries.queries("q298_rbo_rankers")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"ranker top-10 must be TakeOrderedAndProject, not a global sort+filter:\n$plan")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }
}
