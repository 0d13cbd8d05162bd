package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** The approximate-distinct scale path next to q72's exact vocabulary
  * count: HyperLogLog++ (`approx_count_distinct`) replaces the full
  * (lang, token) distinct-set exchange with fixed-size sketch merges —
  * at 100 TB the shuffle volume becomes O(groups × sketch) instead of
  * O(distinct tokens). The sketch is engine-specific, so it cannot be
  * DuckDB-oracled; this spec gates its error against the exact count.
  */
class SketchSpec extends SparkSpec {

  test("q108 source sketch is mergeable: per-doc min rollup == union-set signature") {
    // the scale contract of the source-overlap sketch: component-wise min
    // over per-doc signatures must equal the signature of the source's
    // UNIONED shingle-hash set (min is associative) — new shards fold into
    // an existing source sketch without touching old data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("sh", TF.shingles(col("toks"), 3))
      .filter(size(col("sh")) > 0)
      .withColumn("hashes", array_distinct(TF.shingleHashes(col("sh"))))
    val viaDocs = docs
      .withColumn("sig", TF.minhashSignature(col("hashes"), 12))
      .select(col("source"), posexplode(col("sig")))
      .groupBy("source", "pos").agg(min("col").as("v"))
      .groupBy("source")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("source"), transform(col("pv"), x => x.getField("v")).as("sig"))
    val viaUnion = docs
      .select(col("source"), explode(col("hashes")).as("h"))
      .groupBy("source").agg(collect_set(col("h")).as("hashes"))
      .select(col("source"), TF.minhashSignature(col("hashes"), 12).as("sig"))
    val a = viaDocs.orderBy("source").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    val b = viaUnion.orderBy("source").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(a.toSeq == b.toSeq, "rollup sketch diverged from union-set signature")
  }

  test("source sketch merges shard-by-shard: merge(half sketches) == full sketch") {
    import graft.ops.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("source").collect().map(r => (r.getString(0), r.getSeq[Long](1))).toSeq
    val full = rows(Dedup.sourceSketch(docs, "source", "doc_id", "text"))
    val merged = rows(Dedup.mergeSourceSketches(
      Dedup.sourceSketch(docs.filter(pmod(col("doc_id"), lit(2)) === 0), "source", "doc_id", "text"),
      Dedup.sourceSketch(docs.filter(pmod(col("doc_id"), lit(2)) === 1), "source", "doc_id", "text")))
    assert(merged == full, "incremental sketch maintenance diverged from full recompute")
  }

  test("HLL vocab estimate within the configured error of the exact count") {
    val toks = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
    val rows = toks.groupBy("lang")
      .agg(
        countDistinct(col("tok")).as("exact"),
        approx_count_distinct(col("tok"), rsd = 0.02).as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      // rsd 0.02 is one standard deviation; 5% is a ~2.5-sigma gate
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"lang ${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("Misra-Gries heavy hitters carry every token above the frequency bound") {
    import org.apache.spark.sql.functions.udaf
    val k = 64
    val toks = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
    val mg = toks.groupBy("lang")
      .agg(udaf(new graft.functions.MisraGries(k), org.apache.spark.sql.Encoders.STRING)
        .apply(col("tok")).as("summary"))
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1)).toMap
    val exact = toks.groupBy("lang", "tok").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = exact.groupMapReduce(_._1._1)(_._2)(_ + _)
    assert(mg.nonEmpty && mg.keySet == totals.keySet)
    totals.foreach { case (lang, n) =>
      val bound = n.toDouble / (k + 1)
      val summary = mg(lang)
      exact.foreach { case ((l, tok), c) =>
        if (l == lang && c > bound) {
          // the MG guarantee: heavy tokens survive, counts understate by
          // at most n/(k+1) and never overstate
          val got = summary.get(tok)
          assert(got.nonEmpty, s"$lang '$tok' (freq $c > bound $bound) missing")
          assert(got.get <= c && got.get >= c - bound,
            s"$lang '$tok': reported ${got.get}, true $c, bound $bound")
        }
      }
      assert(summary.size <= k)
    }
  }

  test("Bloom decontamination is a strict superset of the exact path, no false negatives") {
    val sf = "/root/testdata/sf0.01"
    val exact = Queries.queries("q75_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Queries.decontaminateBloom(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // a leaked doc can NEVER slip through the Bloom path, and per-doc hit
    // counts can only grow (false positives add, never subtract)
    exact.foreach { case (doc, n) =>
      assert(bloom.contains(doc), s"doc $doc flagged exactly but not by bloom")
      assert(bloom(doc) >= n, s"doc $doc: bloom ${bloom(doc)} < exact $n")
    }
    // and at fpp=0.001 the inflation stays small: few extra docs, few
    // extra hits
    assert(bloom.size <= exact.size + math.max(5, exact.size / 20),
      s"bloom flagged ${bloom.size} docs vs exact ${exact.size}")
    assert(bloom.values.sum <= (exact.values.sum * 1.05).toLong + 10)
    spark.catalog.clearCache()
  }

  test("approx_percentile within one order-statistic gap of q80's exact percentiles") {
    // q80 pins EXACT interpolated percentiles against the DuckDB oracle;
    // this gates the sketch form (fixed-size KLL-style buffers, partial
    // merges — the 100 TB path where a per-group sort is off the table).
    // At accuracy 10000 on a few-hundred-row group the sketch is
    // rank-exact: it returns an actual order statistic adjacent to the
    // interpolation point, so its deviation from the interpolated exact
    // value is bounded by the LOCAL gap between neighbouring order
    // statistics — not by any fixed constant (a regenerated dataset with
    // sparser tails would spuriously fail a fixed 1-token gate).
    val n = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("lang"), TF.tokenCount(col("text")).cast("double").as("n_tok"))
    val ps = Seq(0.5, 0.9, 0.99)
    val rows = n.groupBy("lang")
      .agg(
        expr("percentile(n_tok, array(0.5, 0.9, 0.99))").as("exact"),
        expr("approx_percentile(n_tok, array(0.5, 0.9, 0.99), 10000)").as("approx"),
        sort_array(collect_list(col("n_tok"))).as("sorted"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getSeq[Double](1)
      val approx = r.getSeq[Double](2)
      val sorted = r.getSeq[Double](3)
      val m = sorted.size
      ps.indices.foreach { i =>
        val h = (m - 1) * ps(i)
        // rank-exact result lies on an order statistic within one rank of
        // the interpolation interval [floor(h), ceil(h)]
        val lo = sorted(math.max(0, math.floor(h).toInt - 1))
        val hi = sorted(math.min(m - 1, math.ceil(h).toInt + 1))
        assert(approx(i) >= lo - 1e-9 && approx(i) <= hi + 1e-9,
          s"lang ${r.getString(0)} p=${ps(i)}: approx ${approx(i)} outside " +
            s"order-statistic band [$lo, $hi] around exact ${exact(i)}")
      }
    }
  }

  test("b88 approx tercile cutoffs diverge from q88 only at cutoff-adjacent docs") {
    // q88's graded form derives EXACT per-language cutoffs from the score
    // histogram (oracled); b88 swaps in approx_percentile cutoffs — the
    // path for a corpus whose distinct-score cardinality outgrows the
    // histogram window. The sketch may land on a neighbouring order
    // statistic, so bucket assignments may differ — but ONLY for docs
    // whose score lies between the exact and approx cutoff of ONE
    // boundary (never a head<->tail jump, never a doc far from a cutoff).
    val sf = "/root/testdata/sf0.01"
    val exact = Queries.queries("q88_ccnet_buckets")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    val approx = Harness.entries("b88_ccnet_approx")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(exact.nonEmpty && exact.keySet == approx.keySet)

    // recompute both cutoff tables from the collected scores (the rank
    // convention q88 defines: t_i = min score with cum count >= ceil(i*n/3))
    val byLang = exact.values.groupBy(_._1).map { case (l, vs) =>
      l -> vs.map(_._2).toSeq.sorted }
    def exactCut(lang: String, third: Int): Double = {
      val s = byLang(lang)
      s(math.ceil(third * s.size / 3.0).toInt - 1)
    }
    val order = Map("head" -> 1, "middle" -> 2, "tail" -> 3)
    val diffs = exact.collect {
      case (id, (lang, bits, eb)) if approx(id) != eb => (id, lang, bits, eb, approx(id))
    }.toSeq
    diffs.foreach { case (id, lang, bits, eb, ab) =>
      assert(math.abs(order(eb) - order(ab)) == 1,
        s"doc $id jumped $eb -> $ab (non-adjacent)")
      // the moved doc must sit within one order-statistic gap of the exact
      // cutoff of the boundary it crossed (head<->middle: t1, else t2)
      val third = if (order(eb).min(order(ab)) == 1) 1 else 2
      val t = exactCut(lang, third)
      val s = byLang(lang)
      val i = s.indexWhere(_ >= t)
      val lo = s(math.max(0, i - 1))
      val hi = s(math.min(s.size - 1, i + 1))
      assert(bits >= lo - 1e-9 && bits <= hi + 1e-9,
        s"doc $id ($bits) moved $eb->$ab but is outside the cutoff band [$lo,$hi] around t$third=$t")
    }
    // and the divergence is a thin boundary set, not a reshuffle
    assert(diffs.size <= math.max(5, exact.size / 20),
      s"${diffs.size} of ${exact.size} docs changed bucket")
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("sketch aggregation plan carries partial HLL merge (no distinct-set shuffle)") {
    val toks = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("lang"), explode(TF.tokens(col("text"))).as("tok"))
    val approx = toks.groupBy("lang")
      .agg(approx_count_distinct(col("tok")).as("approx"))
    approx.collect()
    val plan = approx.queryExecution.executedPlan.toString
    // partial_approx_count_distinct before the exchange = map-side sketch
    // merge; the exact form would instead shuffle (lang, tok) pairs
    assert(plan.contains("partial_approx_count_distinct"), plan)
  }

  test("count-min sketch: never undercounts, eps-bounded, merges shard-wise to the whole") {
    // the COUNTING counterpart of the Misra-Gries top-k summary: at
    // 100 TB, per-token counts travel as a fixed (depth x width) counter
    // grid with one-sided error instead of a token-keyed shuffle
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(TF.tokens(col("text"))).as("tok"))
    val all = toks(docs)
    val eps = 0.005; val n = all.count()
    val cms = all.stat.countMinSketch("tok", eps, 0.99, seed = 42)
    val exact = all.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val errs = exact.map { case (t, c) => cms.estimateCount(t) - c }
    assert(errs.forall(_ >= 0), "CMS must never undercount (one-sided error)")
    val within = errs.count(_ <= (eps * n).toLong)
    assert(within >= (exact.size * 0.99).toInt,
      s"only $within/${exact.size} tokens within eps*N = ${(eps * n).toLong}")
    // linearity: same seed => shard sketches merge to the whole-corpus grid
    val a = toks(docs.filter(col("doc_id") % 2 === 0))
      .stat.countMinSketch("tok", eps, 0.99, seed = 42)
    val b = toks(docs.filter(col("doc_id") % 2 === 1))
      .stat.countMinSketch("tok", eps, 0.99, seed = 42)
    a.mergeInPlace(b)
    exact.keys.foreach { t =>
      assert(a.estimateCount(t) == cms.estimateCount(t),
        s"merged shard estimate diverges from whole-corpus sketch for '$t'")
    }
  }
}
