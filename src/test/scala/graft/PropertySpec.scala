package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.StubEmbedder
import graft.functions.{ProbMethods => PM, TextFunctions => TF}

/** Property-based pinning of the scalar surfaces (ScalaCheck) plus seeded
  * batch equivalence of the optimized Spark paths against straight-line
  * re-derivations of the reference formulas (`docs/Indexer.md:112-189`,
  * `Probmethods.cs:73-176`).
  */
class PropertySpec extends SparkSpec {

  private def holds(p: Prop, n: Int = 100): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, r.status.toString)
  }

  test("shingles(zip-of-slices form) == sliding(k) for arbitrary token lists") {
    // the round-9 rebuild (bounded toks references) must stay value-equal
    // to the definition: k-grams joined by one space, < k tokens -> empty
    import spark.implicits._
    val tokGen = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    val cases = Gen.listOfN(60, Gen.zip(tokGen, Gen.choose(1, 5))).sample.get
    val df = cases.zipWithIndex
      .map { case ((toks, k), i) => (i.toLong, toks, k) }
      .toDF("id", "toks", "k")
    (1 to 5).foreach { k =>
      val got = df.filter(col("k") === k)
        .select(col("id"), TF.shingles(col("toks"), k).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.zipWithIndex.filter(_._1._2 == k).foreach { case ((toks, _), i) =>
        val want = if (toks.length < k) Seq.empty[String]
          else toks.sliding(k).map(_.mkString(" ")).toSeq
        assert(got(i.toLong) == want,
          s"k=$k toks=$toks: got ${got(i.toLong)}, want $want")
      }
    }
  }

  test("first-colon spec split: name never contains ':', param keeps the rest verbatim") {
    val specGen = Gen.zip(Gen.alphaStr, Gen.option(Gen.asciiPrintableStr))
      .map { case (name, param) => (name, param, param.fold(name)(p => s"$name:$p")) }
    import spark.implicits._
    val cases = Gen.listOfN(200, specGen).sample.get
    val got = cases.map(_._3).toDF("spec")
      .select(PM.specNameCol(col("spec")), PM.specParamCol(col("spec")))
      .as[(String, Option[String])].collect().toSeq
    assert(got == cases.map { case (name, param, _) => (name, param) })
  }

  test("stub embedder: deterministic, unit-norm, (model,text)-sensitive") {
    val e = new StubEmbedder(24)
    val strGen = Gen.asciiPrintableStr
    holds(Prop.forAll(Gen.zip(strGen, strGen)) { case (m, t) =>
      val v1 = e.embed(m, t); val v2 = e.embed(m, t)
      val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
      v1.toSeq == v2.toSeq && math.abs(norm - 1.0) < 1e-3
    }, n = 50)
    // distinct inputs -> distinct vectors (SHA-256 seeded)
    holds(Prop.forAll(Gen.zip(strGen, strGen).suchThat { case (a, b) => a != b }) {
      case (a, b) => e.embed("m", a).toSeq != e.embed("m", b).toSeq
    }, n = 50)
  }

  test("probmethod aggregates match straight-line formulas on random groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812)
    // 40 groups, 1-25 values each, strictly inside (0,1)
    val groups = (0 until 40).map { g =>
      g -> Seq.fill(1 + rnd.nextInt(25))(0.001 + rnd.nextDouble() * 0.997)
    }
    val df = groups.flatMap { case (g, xs) => xs.map(x => (g, x)) }.toDF("g", "x")

    def straight(xs: Seq[Double]): Map[String, Double] = {
      val n = xs.size.toDouble
      val nz = xs.filter(_ != 0.0)
      Map(
        "Mean" -> xs.sum / n,
        "HarmonicMean" -> (if (nz.isEmpty) 0.0
          else nz.size / nz.map(1.0 / _).sum * (nz.size / n)),
        "QuadraticMean" -> math.sqrt(xs.map(x => x * x).sum / n),
        "GeometricMean" -> (if (xs.size == 1) xs.head
          else math.exp(xs.map(x => math.log(math.abs(x))).sum / n)),
        "EVEWAvg" -> {
          val w = xs.map(x => 1.0 / (x * (1.0 - x)))
          xs.zip(w).map { case (x, wi) => x * wi }.sum / w.sum
        },
        "HVEWAvg" -> {
          val w = xs.map(x => 1.0 / (1.0 - x))
          xs.zip(w).map { case (x, wi) => x * wi }.sum / w.sum
        },
        "LVEWAvg" -> n / xs.map(1.0 / _).sum)
    }

    val aggs = Seq(
      "Mean" -> PM.mean(col("x")),
      "HarmonicMean" -> PM.harmonicMean(col("x")),
      "QuadraticMean" -> PM.quadraticMean(col("x")),
      "GeometricMean" -> PM.geometricMean(col("x")),
      "EVEWAvg" -> PM.evewAvg(col("x")),
      "HVEWAvg" -> PM.hvewAvg(col("x")),
      "LVEWAvg" -> PM.lvewAvg(col("x")))
    val got = df.groupBy("g")
      .agg(aggs.head._2.as(aggs.head._1), aggs.tail.map { case (nm, c) => c.as(nm) }: _*)
      .collect().map(r => r.getInt(0) -> r).toMap

    groups.foreach { case (g, xs) =>
      val expected = straight(xs)
      aggs.map(_._1).foreach { m =>
        val gv = got(g).getAs[Double](m)
        assert(approx(gv, expected(m), 1e-9), s"group $g method $m: $gv vs ${expected(m)}")
      }
    }
  }

  test("TextStats.perDoc equals the per-row HOF forms on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // multibyte words pin the fused kernel's code-point token lengths
    // (sum_tlen counts characters, not UTF-8 bytes)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "42", "eps!",
      "€uro", "中文字", "naïve")
    val seps = Vector(" ", "  ", "\t", "\n", " \r ")
    val docs = (0L until 60L).map { i =>
      val n = rnd.nextInt(12) // includes 0-token docs
      (i, Seq.fill(n)(words(rnd.nextInt(words.size)))
        .mkString(seps(rnd.nextInt(seps.size))))
    } :+ (60L, "   ") :+ (61L, "") :+ (62L, "\ta  b\nc ")
    val df = docs.toDF("doc_id", "text")

    val fast = graft.ops.TextStats.perDoc(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val hof = df.select(col("doc_id"),
        TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(TF.meanTokenLength(concat_ws(" ", col("toks"))), 6).as("mean_tok_len"),
        TF.fingerprint(col("toks")).as("fingerprint"),
        TF.simhash(col("toks")).as("simhash"))
      .orderBy("doc_id").collect()
    fast.zip(hof).foreach { case (f, h) =>
      assert(f.getLong(1) == h.getLong(1), s"n_tokens ${f.getLong(0)}")
      assert(approx(f.getDouble(2), h.getDouble(2)), s"mean_tok_len ${f.getLong(0)}")
      assert(f.getLong(3) == h.getLong(3), s"fingerprint ${f.getLong(0)}")
      assert(f.getLong(4) == h.getLong(4), s"simhash ${f.getLong(0)}")
    }
  }

  test("fused minhash signature kernel equals the HOF form (incl. empty arrays)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (0L until 80L).map { i =>
      val n = rnd.nextInt(40) // includes empty hash sets
      // half the rows get SIGNED hashes (e.g. murmur3 output) — the fused
      // kernel must floorMod exactly like the HOF form's pmod
      (i, Seq.fill(n)(
        if (i % 2 == 0) rnd.nextLong().abs % 4294967296L
        else rnd.nextInt().toLong))
    }
    val df = rows.toDF("id", "hashes")
    val got = df.select(col("id"), TF.minhashSignature(col("hashes"), 12).as("s"))
      .orderBy("id").collect().map(_.getSeq[Any](1))
    val exp = df.select(col("id"), TF.minhashSignatureHof(col("hashes"), 12).as("s"))
      .orderBy("id").collect().map(_.getSeq[Any](1))
    got.zip(exp).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: $g vs $e")
    }
  }

  test("fused token-count kernel equals size(tokens(text)) incl. edge whitespace") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val alphabet = "ab \t\n\f\r €中0!"
    val rows = (0L until 200L).map { i =>
      val n = rnd.nextInt(30)
      (i, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((200L, ""), (201L, "   "), (202L, "\t\n\r"), (203L, "a"), (204L, " a b "))
    val df = rows.toDF("id", "text")
    val got = df.select(col("id"), TF.tokenCount(col("text")).as("n"))
      .orderBy("id").collect().map(_.getInt(1)).toSeq
    val exp = df.select(col("id"), size(TF.tokens(col("text"))).as("n"))
      .orderBy("id").collect().map(_.getInt(1)).toSeq
    assert(got == exp, rows.zip(got.zip(exp)).filter(t => t._2._1 != t._2._2).take(5).toString)
  }

  test("winnowFps equals brute-force window minima on random hash arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val w = 4
    val rows = (0L until 120L).map { i =>
      val n = rnd.nextInt(20) // includes empty and shorter-than-window
      (i, Seq.fill(n)(rnd.nextLong().abs % 1000L)) // small range forces ties
    }
    val df = rows.toDF("id", "hashes")
    val got = df.select(col("id"), TF.winnowFps(col("hashes"), w).as("f"))
      .orderBy("id").collect().map(_.getSeq[Long](1).toList)
    rows.sortBy(_._1).map(_._2).zip(got).zipWithIndex.foreach { case ((hs, g), i) =>
      val exp =
        if (hs.isEmpty) List.empty[Long]
        else if (hs.length < w) List(hs.min)
        else hs.sliding(w).map(_.min).toList.distinct
      assert(g == exp, s"row $i: $g vs $exp (input $hs)")
    }
  }

  test("q104's interval-union fold equals set coverage on random span starts") {
    // the oracle cross-checks this on the corpus; the property pins it on
    // adversarial inputs (dense overlaps, exact adjacency, singletons)
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val k = 5
    val rows = (0L until 150L).map { i =>
      val n = rnd.nextInt(12)
      // sorted DISTINCT starts, as collect_list+sort_array over unique
      // positions produces
      (i, Seq.fill(n)(rnd.nextInt(30).toLong + 1L).distinct.sorted)
    }
    val df = rows.toDF("id", "ss")
    val covered = aggregate(
      col("ss"),
      struct(lit(0L).as("pe"), lit(0L).as("acc")),
      (st, x) => struct(
        greatest(x + (k - 1), st("pe")).as("pe"),
        (st("acc") + when(x > st("pe"), lit(k.toLong))
          .otherwise(greatest(x + (k - 1) - st("pe"), lit(0L)))).as("acc")),
      st => st("acc"))
    val got = df.select(col("id"), covered.as("c"))
      .orderBy("id").collect().map(_.getLong(1))
    rows.sortBy(_._1).map(_._2).zip(got).zipWithIndex.foreach { case ((ss, g), i) =>
      val exp = ss.flatMap(s => s until (s + k)).toSet.size.toLong
      assert(g == exp, s"row $i: fold $g vs set $exp (starts $ss)")
    }
  }

  test("span removal equals brute force on a random small-alphabet corpus") {
    // q111's distributed formulation (posting → df>=2 → position explode →
    // anti-join → ordered rebuild) against a straight-line reference: a
    // token survives iff no duplicated 5-window covers it. Tiny alphabet
    // forces cross-doc window collisions; both hash modes must agree with
    // the string-equality reference (md5/xxh64 collisions are negligible
    // at this scale, and a collision would fail loudly here).
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val k = 5
    val words = Array("aa", "bb", "cc")
    val docs = (0L until 60L).map { i =>
      val n = rnd.nextInt(15)
      (i, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "))
    }
    val wins = docs.flatMap { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      t.sliding(k).filter(_.length == k).zipWithIndex
        .map { case (w, s0) => (id, s0 + 1, w.mkString(" ")) }
    }
    val dfCount = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val covered = wins.filter(w => dfCount(w._3) >= 2).groupBy(_._1)
      .view.mapValues(_.flatMap { case (_, s, _) => s until s + k }.toSet).toMap
    val expected = docs.map { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      val cov = covered.getOrElse(id, Set.empty[Int])
      val kept = t.zipWithIndex.collect { case (tok, i0) if !cov(i0 + 1) => tok }
      (id, t.length.toLong, kept.length.toLong, kept.mkString(" "))
    }.sortBy(_._1)
    Seq(false, true).foreach { fast =>
      val got = Queries.spanRemovalDocs(docs.toDF("doc_id", "text"), fastHash = fast)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(got == expected, s"fastHash=$fast diverged from brute force")
      spark.catalog.clearCache()
    }
  }

  test("LSH banding: identical docs share every band, disjoint docs share none") {
    import spark.implicits._
    val a = "one two three four five six seven eight nine ten"
    val b = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val banded = df
      .withColumn("hashes", array_distinct(
        TF.shingleHashes(TF.shingles(TF.tokens(col("text")), 3))))
      .withColumn("band", explode(TF.lshBands(TF.minhashSignature(col("hashes"), 12), 4, 3)))
      .select("doc_id", "band").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }
    assert(banded(1L) == banded(2L))          // identical -> all 4 bands equal
    assert(banded(1L).intersect(banded(3L)).isEmpty) // disjoint shingles -> no shared band
  }

  test("CDC chunking is a lossless ordered partition of the token stream") {
    // for arbitrary docs: chunk texts re-concatenated in chunk order ==
    // the tokenized doc, and chunk_len sums to the token count — no
    // token is dropped, duplicated, or reordered by the boundary fold
    import spark.implicits._
    val tokGen = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    val docs = Gen.listOfN(40, tokGen).sample.get.zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val chunks = graft.ops.Dedup
      .cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_len")
      .collect().groupBy(_.getLong(0))
    // rebuild text per doc from a second call exposing chunk_text order
    val texts = graft.streaming.DedupStream
      .cdcChunked(docs.toDF("doc_id", "text"))
      .collect().groupBy(_.docId)
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val lens = chunks.get(id).map(_.sortBy(_.getLong(1)).map(_.getLong(2)).sum)
        .getOrElse(0L)
      assert(lens == toks.length,
        s"doc $id: chunk lengths sum $lens != ${toks.length} tokens")
      if (toks.nonEmpty) {
        // the streaming chunker (spec-pinned == batch) yields ordered texts
        val joined = texts(id).map(_.chunkHash)
        assert(joined.nonEmpty)
      } else assert(!texts.contains(id))
    }
  }

  test("incremental CC equals full CC on random graphs with arbitrary old/new splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val nNodes = 30
      val edges = (0 until 40).map { _ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)
      }.filter { case (a, b) => a != b }
      val (oldE, newE) = edges.partition(_ => rnd.nextBoolean())
      if (oldE.nonEmpty && newE.nonEmpty) {
        val assign = graft.ops.Graph.connectedComponents(
          oldE.toDF("a", "b"), "a", "b")
        val incr = graft.ops.Graph.ccIncremental(
            assign, newE.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val full = graft.ops.Graph.connectedComponents(
            edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(incr == full, s"trial $trial: incremental != full")
      }
    }
    spark.catalog.clearCache()
    graft.ops.Caches.release()
  }

  test("Rolling.activeCounts equals the brute-force rolling distinct on random user-days") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { trial =>
      val ud = (0 until 120).map { _ =>
        (rnd.nextInt(8).toLong, (100 + rnd.nextInt(25)).toLong)
      }.distinct
      val w = 1 + rnd.nextInt(6)
      val got = graft.ops.Rolling.activeCounts(
          ud.toDF("user_id", "day"), w, "act")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val days = ud.map(_._2).distinct.sorted
      val brute = days.map { d =>
        d -> ud.collect {
          case (u, d2) if d2 <= d && d2 > d - w => u
        }.distinct.size.toLong
      }.toMap
      assert(got == brute,
        s"trial $trial w=$w: interval-merge rolling != brute\n got=$got\nwant=$brute")
      spark.catalog.clearCache()
      graft.ops.Caches.release()
    }
  }
}
