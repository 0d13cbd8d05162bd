package graft

import org.apache.spark.sql.functions._

import graft.search.{Ann, SearchEngine}

/** ANN quality gates on the driver fixture (500 × 64-dim vectors,
  * deterministic): recall@10 of each approximate family against the
  * exact brute-force top-10, plus the cost side — how much of the corpus
  * each query actually scores.
  */
class AnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val queries = embs.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  private lazy val exact: Map[Long, Set[Long]] =
    SearchEngine.topKJoin(embs.filter(col("vec_id") < 10), embs, 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def recallOf(result: Map[Long, Set[Long]]): Double =
    exact.map { case (q, truth) =>
      result.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }.sum / exact.size

  test("IVF: recall@10 with nprobe=5 of 20 cells, scoring a fraction of the corpus") {
    val centroids = Ann.sampleCentroids(embs, 25) // 20 centroids
    val assigned = Ann.ivfAssign(embs, centroids)
    val got = Ann.ivfSearch(assigned, centroids, queries, k = 10, nprobe = 5)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"measured recall@10 = $recall")
    // deterministic fixture: measured 0.59; gate with slack
    assert(recall >= 0.55, s"IVF recall@10 degraded: $recall")

    // cost: probing 5/20 cells touches ~25% of the corpus per query
    val cellSizes = assigned.groupBy("centroid_id").count()
      .agg(avg("count")).collect()(0).getDouble(0)
    assert(cellSizes * 5 < embs.count() * 0.5)
  }

  test("sqrtCentroids sizes the quantizer as ~sqrt(n) and serves sanely") {
    // the r13 scale law: centroid count k = n/step with step = ⌊n/⌈√n⌉⌋,
    // so k ∈ [⌈√n⌉, 2·⌈√n⌉) — sublinear by construction (a pinned step
    // made k linear in n and assignment quadratic; SCALE.md r13)
    val n = embs.count()
    val root = math.ceil(math.sqrt(n.toDouble)).toLong
    val cents = Ann.sqrtCentroids(embs)
    val k = cents.count()
    assert(k >= root && k < 2 * root,
      s"quantizer size $k outside [√n, 2√n) = [$root, ${2 * root}) for n=$n")
    // same dataflow as the pinned-step form: assignment covers the corpus
    // and serving returns a full, exact-ranked top-k per query
    val assigned = Ann.ivfAssign(embs, cents)
    assert(assigned.count() === n)
    val got = Ann.ivfSearch(assigned, cents, queries, k = 10, nprobe = 3)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(got.size === queries.count(),
      s"expected a result group per query, got ${got.size}")
    assert(got.values.forall(_.size == 10))
  }

  test("sqrtCentroids REJECTS a non-dense corpus (enforced precondition, r15)") {
    // the step derivation picks multiples of ⌊n/⌈√n⌉⌋ among surviving
    // vec_ids — on a filtered slice the quantizer silently under-fills
    // or skews while upstream SQRT_BOUNDED annotations still claim the
    // contract; since r15 the dense-0-based check rides the existing
    // count job and a slice caller fails loudly instead
    val slice = embs.filter(col("vec_id") >= 100)
    val ex = intercept[IllegalArgumentException] { Ann.sqrtCentroids(slice) }
    assert(ex.getMessage.contains("dense 0-based vec_id"))
    // a reindexed slice (the documented remedy) is accepted
    val reindexed = slice.withColumn("vec_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("vec_id")).cast("long") - 1)
    val k = Ann.sqrtCentroids(reindexed).count()
    val root = math.ceil(math.sqrt(reindexed.count().toDouble)).toLong
    assert(k >= root && k < 2 * root)
    // empty corpus: vacuously dense, no throw
    assert(Ann.sqrtCentroids(embs.filter(col("vec_id") < 0)).count() === 0L)
    // duplicated ids (ADVICE r15): drop id 2, duplicate id 1 — count, min
    // AND max all match the dense shape (min=0, max=n-1), so the r15
    // min/max form alone passed this corpus while the step-multiple pick
    // was skewed; the distinct count on the same aggregate must reject it
    val dup = embs.filter(col("vec_id") =!= 2)
      .union(embs.filter(col("vec_id") === 1))
    val exDup = intercept[IllegalArgumentException] { Ann.sqrtCentroids(dup) }
    assert(exDup.getMessage.contains("distinct"))
  }

  test("IVF assignment is shuffle-free: no exchange between corpus scan and argmin") {
    // round-4 rewrite: packed broadcast centroid array + per-row argmin
    // fold — the corpus side must carry NO Exchange (the round-3 form
    // pushed E×C rows through a per-vec_id window shuffle)
    val assigned = Ann.ivfAssign(embs, Ann.sampleCentroids(embs, 25))
    assigned.collect() // finalize AQE
    val plan = assigned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in ivfAssign plan:\n$plan")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
  }

  test("k-means refinement: Lloyd objective non-increasing, recall not degraded") {
    val c0 = Ann.sampleCentroids(embs, 25)
    val cost0 = Ann.assignmentCost(Ann.ivfAssign(embs, c0), c0)
    val c2 = Ann.kmeansRefine(embs, c0, iters = 2)
    val cost2 = Ann.assignmentCost(Ann.ivfAssign(embs, c2), c2)
    info(s"lloyd cost: sampled=$cost0 refined=$cost2")
    assert(cost2 <= cost0 * 1.0001, s"refinement increased the objective: $cost0 -> $cost2")

    val got = Ann.ivfSearch(Ann.ivfAssign(embs, c2), c2, queries, k = 10, nprobe = 5)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"refined-centroid recall@10 = $recall")
    assert(recall >= 0.5, s"refined recall collapsed: $recall")
  }

  test("multi-probe sign-LSH: Hamming-1 probing lifts recall over single-bucket") {
    def recallAt(probe: Boolean): Double = recallOf(
      Ann.lshSearch(embs, queries, signBits = 4, k = 10, probeHamming1 = probe)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
    val single = recallAt(false)
    val multi = recallAt(true)
    info(s"recall@10 single=$single multi=$multi")
    assert(multi > single, s"multi-probe ($multi) should beat single ($single)")
    assert(multi >= 0.5, s"multi-probe recall collapsed: $multi")
  }

  test("two-stage compressed scan + exact re-rank: recall@10 >= 0.9 at a <= 35% pool") {
    // VERDICT r8 #5: bucket gating alone cannot reach retrieval-grade
    // recall on this near-uniform fixture (multi-probe ceiling ~0.6 at
    // ~31% probed) — the production answer is a compressed-tier full scan
    // feeding an exact fp32 re-rank of a small pool. Gate: recall@10 >=
    // 0.9 while the re-rank touches <= 35% of the fp32 corpus per query.
    val n = embs.count()
    val pool = (n * 0.30).toInt // 30% of corpus at full precision
    val quantized = Ann.quantizeInt8(embs)
    val got = Ann.compressedSearch(quantized, embs, queries, k = 10, pool = pool)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"two-stage recall@10 = $recall at pool = $pool/$n")
    assert(recall >= 0.9, s"two-stage recall@10 below gate: $recall")
  }

  test("int8 tier alone: compressed-recall datapoint and memory ratio") {
    // the PLANS.md vector-memory datapoint: how much recall the 4x-smaller
    // tier gives WITHOUT any fp32 re-rank (top-10 straight from the
    // quantized scan), plus the exact storage ratio per vector.
    val quantized = Ann.quantizeInt8(embs)
    val got = Ann.compressedSearch(quantized, embs, queries, k = 10, pool = 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // pool == k: the "re-rank" re-orders but cannot add candidates, so
    // this measures the quantized ranking itself
    val recall = recallOf(got)
    info(s"int8-only recall@10 = $recall")
    assert(recall >= 0.8, s"int8 ranking fidelity collapsed: $recall")

    // round-trip fidelity: dequantized values within one quantization
    // step (scale/127) of the original
    val maxErr = embs.limit(50)
      .join(quantized.withColumnRenamed("vec_id", "vid"), col("vec_id") === col("vid"))
      .select(aggregate(
        zip_with(col("embedding"), Ann.dequantizeInt8(col("qscale"), col("qvec")),
          (a, b) => abs(a - b) / greatest(col("qscale"), lit(1e-9f))),
        lit(0.0), (m, e) => greatest(m, e.cast("double"))).as("relerr"))
      .agg(max("relerr")).collect()(0).getDouble(0)
    info(s"max per-dim error = $maxErr quantization steps (x scale)")
    assert(maxErr <= (1.0 / 127.0) * 1.01, s"int8 round-trip error too large: $maxErr")
  }

  test("PQ is exact when the codebook spans the corpus: ADC ranking == brute force") {
    // 40 vectors x 16 dims, m=4 subspaces x dsub=4; every sub-vector IS one
    // of ksub=4 known patterns, and the codebook holds exactly those
    // patterns -> zero quantization error, so the code-only ADC scores must
    // equal exact cosine and the search must return the exact top-k even
    // with pool == k (no slack from the re-rank stage).
    import spark.implicits._
    def pattern(p: Int): Array[Float] =
      Array.tabulate(4)(j => 0.3f + 0.2f * p + 0.07f * j * (if (p % 2 == 0) 1 else -1))
    val corpus = (0 until 40).map { v =>
      (v.toLong, (0 until 4).flatMap(s => pattern((v + s) % 4)).toArray)
    }.toDF("vec_id", "embedding")
    val codebook = (0 until 4).flatMap(s => (0 until 4).map(c => (s, c, pattern(c))))
      .toDF("sub", "code", "cvec")
    val qs = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

    val enc = Ann.pqEncode(corpus, codebook, m = 4, dsub = 4)
    // codes are the construction's (v + s) % 4, one tinyint per subspace
    val codeRows = enc.orderBy("vec_id").collect()
    assert(codeRows.forall(_.getSeq[Byte](1).length == 4))
    codeRows.foreach { r =>
      val v = r.getLong(0)
      assert(r.getSeq[Byte](1) == (0 until 4).map(s => ((v + s) % 4).toByte),
        s"wrong codes for vec $v: ${r.getSeq[Byte](1)}")
    }

    val got = Ann.pqSearch(enc, codebook, corpus, qs,
      m = 4, dsub = 4, ksub = 4, k = 5, pool = 5)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exact5 = Ann.reRank(
      qs.crossJoin(corpus.select("vec_id")), corpus, qs, k = 5)
      .orderBy("query_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == exact5.toSeq,
      s"lossless PQ diverged from exact:\n got=${got.toSeq}\n exp=${exact5.toSeq}")
  }

  test("PQ encode is shuffle-free: narrow fold against the broadcast codebook") {
    // same contract as ivfAssign: the corpus side of the index build must
    // carry NO exchange and no window — the codes fold runs inside the scan
    val cb = Ann.pqSeedCodebook(embs, m = 8, dsub = 8, ksub = 16)
    val enc = Ann.pqEncode(embs, cb, m = 8, dsub = 8)
    enc.collect()
    val plan = enc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in pqEncode plan:\n$plan")
  }

  test("PQ Lloyd training: objective non-increasing, codes stay tinyint") {
    val cb0 = Ann.pqSeedCodebook(embs, m = 8, dsub = 8, ksub = 16)
    val cost0 = Ann.pqCost(embs, cb0, m = 8, dsub = 8)
    val cb2 = Ann.pqTrain(embs, cb0, m = 8, dsub = 8, iters = 2)
    val cost2 = Ann.pqCost(embs, cb2, m = 8, dsub = 8)
    info(s"pq lloyd cost: seed=$cost0 trained=$cost2")
    assert(cost2 <= cost0 * 1.0001, s"PQ training increased the objective: $cost0 -> $cost2")

    val enc = Ann.pqEncode(embs, cb2, m = 8, dsub = 8)
    val field = enc.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(field == org.apache.spark.sql.types.ByteType,
      s"codes must stay 1 byte each, got $field")
  }

  test("PQ + exact re-rank: recall@10 at a 30% pool; code-only tier is 32x under fp32") {
    val n = embs.count()
    val cb = Ann.pqTrain(embs, Ann.pqSeedCodebook(embs, m = 8, dsub = 8, ksub = 16),
      m = 8, dsub = 8, iters = 2)
    val enc = Ann.pqEncode(embs, cb, m = 8, dsub = 8)
    def recallAt(pool: Int): Double = recallOf(
      Ann.pqSearch(enc, cb, embs, queries, m = 8, dsub = 8, ksub = 16,
        k = 10, pool = pool)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
    val codeOnly = recallAt(10) // pool == k: the ADC ranking itself
    val pooled = recallAt((n * 0.30).toInt)
    info(s"pq recall@10: code-only=$codeOnly pool30%=$pooled " +
      s"(serving tier: 8 B/vector vs 256 B fp32)")
    // 8 B/vector is 1/32 of fp32; the ADC tier alone is a coarse gate on
    // this near-uniform fixture (measured 0.42) — the fp32 re-rank pool
    // buys recall back (measured 0.98; gate with slack)
    assert(pooled >= 0.9, s"PQ+re-rank recall collapsed: $pooled")
    assert(pooled >= codeOnly - 1e-9, "a larger pool must not lose recall")
  }

  test("OPQ permutation: valid permutation, balanced variance, code-only recall holds the PQ band") {
    val dim = 64
    val m = 8
    val perm = Ann.opqPermutation(embs, dim, m)
    assert(perm.sorted.toSeq == (0 until dim), "not a permutation of 0..63")

    // cosine is permutation-invariant: permuted-space exact search must
    // equal original-space exact search, so the recall oracle transfers
    val permuted = embs.select(col("vec_id"), col("label"),
      Ann.permuteVec(col("embedding"), perm).as("embedding"))
    val pQueries = queries.select(col("query_id"),
      Ann.permuteVec(col("qe"), perm).as("qe"))

    def codeOnlyRecall(corpus: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame): Double = {
      val cb = Ann.pqTrain(corpus, Ann.pqSeedCodebook(corpus, m, 8, 16),
        m, dsub = 8, iters = 2)
      val enc = Ann.pqEncode(corpus, cb, m, dsub = 8)
      recallOf(Ann.pqSearch(enc, cb, corpus, qs, m, dsub = 8, ksub = 16,
          k = 10, pool = 10)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
    }
    val plain = codeOnlyRecall(embs, queries)
    val opq = codeOnlyRecall(permuted, pQueries)
    info(s"code-only recall@10 (natural fixture): plain-pq=$plain opq-permuted=$opq")
    // The natural fixture's per-dim variance is near-uniform, so the
    // balancing deal has nothing to win there — gate PARITY (within one
    // query-hit of plain: measured 0.40 vs 0.42). The improvement claim
    // is gated below on a variance-skewed corpus, where OPQ must earn
    // its keep.
    assert(opq >= plain - 0.03,
      s"OPQ code-only recall fell out of the PQ parity band: $opq vs $plain")

    // Variance-SKEWED corpus — the layout OPQ exists for: scale the
    // identity layout's first subspace (dims 0..7) 5x, so under identity
    // all the signal competes for ONE 16-codeword codebook while seven
    // codebooks quantize noise. The serpentine deal spreads the eight
    // hot dims one-per-subspace; code-only recall must strictly improve.
    val hot = transform(col("embedding"),
      (x, i) => when(i < 8, x * lit(5.0f)).otherwise(x).cast("float"))
    val skewed = embs.select(col("vec_id"), col("label"), hot.as("embedding"))
    val sQueries = skewed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val sExact: Map[Long, Set[Long]] =
      SearchEngine.topKJoin(skewed.filter(col("vec_id") < 10), skewed, 10)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def sRecall(result: Map[Long, Set[Long]]): Double =
      sExact.map { case (q, truth) =>
        result.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }.sum / sExact.size
    def sCodeOnly(corpus: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame): Double = {
      val cb = Ann.pqTrain(corpus, Ann.pqSeedCodebook(corpus, m, 8, 16),
        m, dsub = 8, iters = 2)
      val enc = Ann.pqEncode(corpus, cb, m, dsub = 8)
      sRecall(Ann.pqSearch(enc, cb, corpus, qs, m, dsub = 8, ksub = 16,
          k = 10, pool = 10)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
    }
    val sPerm = Ann.opqPermutation(skewed, dim, m)
    val sPlain = sCodeOnly(skewed, sQueries)
    val sOpq = sCodeOnly(
      skewed.select(col("vec_id"), col("label"),
        Ann.permuteVec(col("embedding"), sPerm).as("embedding")),
      sQueries.select(col("query_id"),
        Ann.permuteVec(col("qe"), sPerm).as("qe")))
    info(s"code-only recall@10 (skewed fixture): plain-pq=$sPlain opq-permuted=$sOpq")
    assert(sOpq > sPlain,
      s"OPQ must beat identity PQ on a variance-skewed corpus: $sOpq vs $sPlain")

    // the balancing criterion itself: per-subspace variance MASS spread
    // (max/min over subspaces) must tighten vs the identity layout
    def spread(p: Array[Int]): Double = {
      val v = embs.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("pos"), col("x").cast("double").as("x"))
        .groupBy("pos")
        .agg((avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("v"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val bySub = (0 until m).map(s =>
        (0 until 8).map(i => v(p(s * 8 + i))).sum)
      bySub.max / bySub.min
    }
    val idSpread = spread((0 until dim).toArray)
    val opqSpread = spread(perm)
    info(s"subspace variance spread: identity=$idSpread opq=$opqSpread")
    assert(opqSpread <= idSpread + 1e-9,
      s"serpentine deal failed to balance variance: $opqSpread vs $idSpread")
  }

  test("IVF-PQ: probing all cells equals whole-corpus PQ; nprobe gate cuts cost, keeps recall") {
    // the FAISS-IVFADC composition of the two tiers already pinned here:
    // coarse cells gate WHICH codes are scanned, ADC scores them, fp32
    // re-ranks the pool. With nprobe == |cells| the gate admits everything
    // and the result must EQUAL pqSearch on the same codebook.
    val centroids = Ann.sampleCentroids(embs, 25) // 20 cells
    val assigned = Ann.ivfAssign(embs, centroids)
    val cb = Ann.pqTrain(embs, Ann.pqSeedCodebook(embs, m = 8, dsub = 8, ksub = 16),
      m = 8, dsub = 8, iters = 2)
    val enc = Ann.pqEncode(embs, cb, m = 8, dsub = 8)
    val n = embs.count()
    val pool = (n * 0.30).toInt

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val allCells = rows(Ann.ivfPqSearch(assigned, enc, centroids, cb, embs, queries,
      m = 8, dsub = 8, ksub = 16, k = 10, pool = pool, nprobe = 20))
    val wholePq = rows(Ann.pqSearch(enc, cb, embs, queries,
      m = 8, dsub = 8, ksub = 16, k = 10, pool = pool))
    assert(allCells == wholePq, "nprobe == |cells| must reduce to whole-corpus PQ")

    val gated = Ann.ivfPqSearch(assigned, enc, centroids, cb, embs, queries,
      m = 8, dsub = 8, ksub = 16, k = 10, pool = pool, nprobe = 8)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(gated)
    info(s"ivf-pq recall@10 at nprobe=8/20 cells = $recall " +
      s"(scans ~40% of the 8 B/vector codes, fp32 pool unchanged)")
    // the cell gate can only remove candidates the coarse quantizer
    // misroutes; on the near-uniform fixture 8/20 cells keeps recall
    // in the compressed-tier band (measured vs the 0.98 ungated figure)
    assert(recall >= 0.6, s"ivf-pq recall collapsed: $recall")
  }

  test("sign-LSH: recall@10 within the query's own bucket") {
    val got = Ann.lshSearch(embs, queries, signBits = 4, k = 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"measured recall@10 = $recall")
    // single-probe LSH trades recall for a stateless O(corpus/2^bits)
    // probe; measured 0.22 on the near-uniform synthetic vectors (weak
    // cluster structure is the hard case for ANN) — gate pins collapse
    assert(recall >= 0.18, s"LSH recall@10 degraded: $recall")
  }

  test("incremental IVF: batch-wise assignment equals full-rebuild assignment") {
    // the invariant q114 and appendIvfLayout ride on: assignment is
    // stateless per vector, so ingesting a new batch against FROZEN
    // centroids produces exactly the rows a full rebuild would
    val old = embs.filter(col("vec_id") < 250)
    val fresh = embs.filter(col("vec_id") >= 250)
    val cents = Ann.sampleCentroids(old, 25)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "centroid_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batched = rows(Ann.ivfAssign(old, cents)) ++ rows(Ann.ivfAssign(fresh, cents))
    val rebuilt = rows(Ann.ivfAssign(embs, cents))
    assert(batched == rebuilt, "batch-wise assignment diverged from full rebuild")
  }

  test("incremental IVF layout: append touches only the new batch's cells") {
    val old = embs.filter(col("vec_id") < 250)
    val fresh = embs.filter(col("vec_id") >= 250).limit(40)
    val cents = Ann.sampleCentroids(old, 25)
    val path = tempDir("annspec-ivf-append-")
    Ann.writeIvfLayout(Ann.ivfAssign(old, cents), path)
    def cellFiles(): Map[String, Set[String]] = {
      val base = new java.io.File(path)
      base.listFiles().filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val before = cellFiles()
    val freshAssigned = Ann.ivfAssign(fresh, cents)
    val freshCells = freshAssigned.select("centroid_id").distinct()
      .collect().map(r => s"centroid_id=${r.getLong(0)}").toSet
    Ann.appendIvfLayout(freshAssigned, path)
    val after = cellFiles()
    // old cells that got no new vectors: file sets byte-identical
    (before.keySet -- freshCells).foreach { cell =>
      assert(after(cell) == before(cell), s"append rewrote untouched cell $cell")
    }
    // and the appended layout reads back as the full batched assignment
    // partition-column values read back type-inferred (int when they fit)
    val readBack = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (Ann.ivfAssign(old, cents).select("vec_id", "centroid_id").collect() ++
      freshAssigned.select("vec_id", "centroid_id").collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(readBack == expected, "appended layout does not read back as old ∪ new")
  }

  test("IVF-gated hard negatives recover the brute-force set from probed cells only") {
    val corpus = embs.select(col("vec_id"), col("embedding"), col("label"))
    val qs = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"))
    val brute = Ann.hardNegatives(corpus, qs, k = 10, dupCos = 0.98)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val cents = Ann.sampleCentroids(embs, 25)
    val assigned = Ann.ivfAssign(corpus, cents)
    val gated = Ann.hardNegativesGated(assigned, cents,
        corpus.select("vec_id", "label"), qs,
        k = 10, dupCos = 0.98, poolK = 50, nprobe = 5)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = brute.map { case (q, truth) =>
      gated.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }.sum / brute.size
    info(f"gated hard-negative recall@10 = $recall%.2f at nprobe=5/20 cells")
    assert(recall >= 0.5, f"gated recall collapsed: $recall%.2f")
    // and the gate respects the guards: no same-label, no near-dup
    val full = Ann.hardNegativesGated(assigned, cents,
      corpus.select("vec_id", "label"), qs,
      k = 10, dupCos = 0.98, poolK = 50, nprobe = 5)
    val joined = full.join(
      corpus.select(col("vec_id"), col("label").as("clabel")), "vec_id")
      .join(qs.select(col("query_id"), col("qlabel")), "query_id")
    assert(joined.filter(col("clabel") === col("qlabel")).count() == 0)
    assert(joined.filter(col("sim") >= 0.98).count() == 0)
  }

  test("hard negatives: same-label and near-duplicate candidates are excluded") {
    import spark.implicits._
    // anchor q0 (label 0): a same-label lookalike (excluded by label), an
    // exact copy under another label (excluded by the dupCos guard), and
    // three genuine negatives of descending similarity
    val base = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    def mix(w: Float): Seq[Float] = Seq(w, math.sqrt(1.0 - w * w).toFloat, 0.0f, 0.0f)
    val corpus = Seq(
      (10L, base, 0),          // same label as the query: excluded
      (11L, base, 1),          // exact copy, different label: dupCos guard
      (12L, mix(0.9f), 1),     // hardest genuine negative
      (13L, mix(0.5f), 2),
      (14L, mix(0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val qs = Seq((0L, 0, base)).toDF("query_id", "qlabel", "qe")
    val got = Ann.hardNegatives(corpus, qs, k = 5, dupCos = 0.98)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((12L, 1L), (13L, 2L), (14L, 3L)),
      s"expected the three genuine negatives hardest-first, got ${got.toSeq}")
    // k truncates: with k=2 only the two hardest survive
    val top2 = Ann.hardNegatives(corpus, qs, k = 2, dupCos = 0.98)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(top2 == Set(12L, 13L))
    // the query batch side is broadcast in the scoring join
    val plan = Ann.hardNegatives(corpus, qs, k = 5, dupCos = 0.98)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("binary sign packing matches an independent bit-level reference") {
    val rows = Ann.quantizeBinary(embs).orderBy("vec_id").limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val raw = embs.orderBy("vec_id").limit(20).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    raw.zip(rows).foreach { case ((id, vec), (qid, blo, bhi)) =>
      assert(id == qid)
      var lo = 0L; var hi = 0L
      vec.zipWithIndex.foreach { case (x, i) =>
        if (x > 0f) { if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32) }
      }
      assert(blo == lo && bhi == hi,
        s"packing mismatch for vec $id: got ($blo,$bhi) want ($lo,$hi)")
    }
  }

  test("binary two-stage: Hamming pre-rank + fp32 re-rank recall@10 at a <= 30% pool") {
    // The 32x end of the compression ladder: the sign-bit scan reads 8 B
    // of signal per vector (vs 256 B fp32, 64 B int8); the fp32 tier is
    // touched only for the pool. Same contract as the int8 two-stage gate.
    val n = embs.count()
    val pool = (n * 0.30).toInt
    val got = Ann.binarySearch(Ann.quantizeBinary(embs), embs, queries, k = 10, pool = pool)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"binary two-stage recall@10 = $recall at pool = $pool/$n")
    assert(recall >= 0.8, s"binary two-stage recall@10 below gate: $recall")
    // code-only tier: the Hamming ranking itself (pool == k) — a weaker
    // but nonzero signal; recorded as the PLANS.md datapoint
    val codeOnly = recallOf(
      Ann.binarySearch(Ann.quantizeBinary(embs), embs, queries, k = 10, pool = 10)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet })
    info(s"binary code-only recall@10 = $codeOnly")
    assert(codeOnly > 0.2, s"Hamming ranking carries no signal: $codeOnly")
  }

  test("matryoshka prefix tier: recall@10 at a <= 30% pool reading 25% of each vector") {
    // index-free coarse tier: the prefix IS a slice of the stored vector.
    // On this fixture the signal is spread uniformly across dims (not
    // matryoshka-trained), so the prefix tier is a lower bound on what a
    // real MRL encoder gives — it must still beat the sign-LSH bucket
    // recall at the same pool and hold a usable floor.
    val n = embs.count()
    val pool = (n * 0.30).toInt
    val got = Ann.prefixSearch(embs, queries, prefixDim = 16, k = 10, pool = pool)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = recallOf(got)
    info(s"matryoshka(16/64) two-stage recall@10 = $recall at pool = $pool/$n")
    assert(recall >= 0.6, s"prefix-tier recall@10 below floor: $recall")
  }

  test("maxSim late interaction matches an independent per-pair reference") {
    // multi-vector "docs": groups of 4 fixture vectors; queries = 3 bags
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos01(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      (dot / (math.sqrt(na) * math.sqrt(nb)) + 1.0) / 2.0
    }
    val raw = embs.collect()
      .map(r => (r.getLong(0) / 4, r.getLong(0), r.getSeq[Float](1).toArray))
    val qdocs = Set(0L, 5L, 11L)
    val bags = raw.groupBy(_._1)
    val expected = (for (qd <- qdocs.toSeq) yield {
      val scores = bags.keys.filterNot(qdocs).toSeq.map { md =>
        val score = bags(qd).map { case (_, _, qv) =>
          math.round(round6(bags(md).map(t => cos01(t._3, qv)).max) * 1e6)
        }.sum
        md -> score
      }
      qd -> scores.sortBy { case (md, sc) => (-sc, md) }.take(5)
    }).toMap
    val tok = embs.select(expr("vec_id div 4").as("mdoc"), col("embedding"))
    val qtok = embs.filter(expr("vec_id div 4").isin(qdocs.toSeq: _*))
      .select(expr("vec_id div 4").as("qdoc"), col("vec_id").as("qvec"),
        col("embedding").as("qe"))
    val cands = tok.filter(!col("mdoc").isin(qdocs.toSeq: _*))
    val got = Ann.maxSimSearch(cands, qtok, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
      .map { case (qd, rs) => qd -> rs.sortBy(_._2).map(t => (t._3, t._4)).toSeq }
    assert(got.keySet == qdocs)
    for (qd <- qdocs)
      assert(got(qd) == expected(qd),
        s"maxSim mismatch for query bag $qd:\n got ${got(qd)}\nwant ${expected(qd)}")
  }

  test("every exact tail ranks sim desc, then vec_id asc, as the plain-Scala ranking") {
    import spark.implicits._
    // 24 vectors of 64 dims where vec i + 12 duplicates vec i, so every
    // query's sims tie pairwise and only the vec_id tie-break orders them;
    // the recall gates above cannot see order or tie-breaks
    val vecs = (0L until 24L).map { i =>
      i -> (0 until 64).map(j => math.sin((i % 12) * 31 + j * 7).toFloat).toArray
    }.toMap
    val e = vecs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val qs = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val (k, n) = (7, vecs.size)
    val want = SearchEngineSpec.bruteTopK(0L until 3L, vecs, k)
    val cents = Ann.sampleCentroids(e, 6)
    val cb = Ann.pqSeedCodebook(e, m = 8, dsub = 8, ksub = 8)
    val tails = Seq(
      "topKJoin" -> SearchEngine.topKJoin(e.filter(col("vec_id") < 3), e, k),
      "reRank" -> Ann.reRank(
        qs.select("query_id").crossJoin(e.select("vec_id")), e, qs, k),
      "ivfSearch" -> Ann.ivfSearch(Ann.ivfAssign(e, cents), cents, qs, k,
        nprobe = cents.count().toInt),
      "binarySearch" -> Ann.binarySearch(Ann.quantizeBinary(e), e, qs, k, pool = n),
      "prefixSearch" -> Ann.prefixSearch(e, qs, prefixDim = 16, k, pool = n),
      "pqSearch" -> Ann.pqSearch(Ann.pqEncode(e, cb, m = 8, dsub = 8), cb, e, qs,
        m = 8, dsub = 8, ksub = 8, k, pool = n))
    tails.foreach { case (name, df) =>
      val got = df.select("query_id", "vec_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"$name: ${(got diff want).toSeq.sorted} vs ${(want diff got).toSeq.sorted}")
    }
  }
}
