package perfbench

import java.time.LocalDateTime

import scala.util.Random

/** Every input the benchmark feeds the engine, as pure functions.
  *
  * The tables and the document corpus come from a fixed base seed, so the
  * set-up is identical on every run. The workload seed draws only what a
  * client sends: the query strings, the upsert batches and the registry
  * order. Nothing here touches Spark, so the benchmark's test can check
  * that one seed regenerates the same inputs without starting a session.
  */
object Inputs {
  val BaseSeed = 424242L

  /** The 30-word vocabulary of the sf tables' `documents` text. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val langs = Vector("en" -> 44, "es" -> 15, "zh" -> 15, "de" -> 14, "fr" -> 12)
  private def weighted[T](r: Random, ws: Seq[(T, Int)]): T = {
    var x = r.nextInt(ws.map(_._2).sum)
    ws.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  /** `n` documents shaped like sf `documents`: 10–100 tokens, about 5%
    * ending in the " dup" marker and 0.2% exact repeats of an earlier text.
    */
  def baseDocs(n: Int): Vector[Doc] = {
    val r = new Random(BaseSeed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && r.nextInt(1000) < 2) texts(r.nextInt(i))
        else {
          val body = Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
          (if (r.nextInt(20) == 0) body :+ "dup" else body).mkString(" ")
        }
      Doc(i.toLong, texts(i), weighted(r, langs), s"src${i % 20}")
    }.toVector
  }

  /** Copy `i` of a K-copy corpus, built as `graft.tools.Scale.materialize`
    * builds it: copy 0 verbatim; later copies suffix every token with
    * `‿cp<i>`, shift ids by i·100000 and sources by `-cp<i>`.
    */
  def shiftedCopy(docs: Vector[Doc], i: Int): Vector[Doc] =
    if (i == 0) docs
    else docs.map(d => Doc(d.id + i * 100000L,
      d.text.split("\\s+").filter(_.nonEmpty).map(t => s"${t}‿cp$i").mkString(" "),
      d.lang, s"${d.source}-cp$i"))

  private def phrase(r: Random, vocab: Vector[String]): String =
    Vector.fill(2 + r.nextInt(5))(vocab(r.nextInt(vocab.size))).mkString(" ")

  /** `n` distinct query strings of 2–6 tokens of `vocab`. */
  def uniqueQueries(seed: Long, n: Int, vocab: Vector[String]): Vector[String] = {
    val r = new Random(seed)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) seen += phrase(r, vocab)
    seen.toVector
  }

  // ---------------------------------------------------------------- serve_mixed

  sealed trait Op
  final case class Read(query: String) extends Op
  /** One upsert batch: the documents sent (re-sent unchanged, edited or
    * new) and the entities deleted after it. */
  final case class Write(docs: Vector[Doc], resent: Int, edited: Int, added: Int,
      deletes: Vector[Long]) extends Op

  /** `reads` cached reads, `distinct` of them different queries, then one
    * upsert batch of `batch` documents (`editPct`% edited, `addPct`% new,
    * the rest re-sent unchanged) and `deletes` entity deletions. */
  final case class MixShape(pool: Int, zipfS: Double, reads: Int, distinct: Int,
      batch: Int, editPct: Int, addPct: Int, deletes: Int)

  private def zipfWeights(n: Int, s: Double): Vector[Double] =
    (1 to n).toVector.map(k => 1.0 / math.pow(k, s))

  /** Index drawn from `ws` (unnormalized weights), skipping `taken`. */
  private def pick(r: Random, ws: Vector[Double], taken: Set[Int] = Set.empty): Int = {
    val free = ws.indices.filterNot(taken)
    var u = r.nextDouble() * free.map(ws).sum
    free.find { i => u -= ws(i); u < 0 }.getOrElse(free.last)
  }

  def serveDocs(toy: Boolean): Int = if (toy) 300 else 5000

  def serveShape(toy: Boolean): MixShape =
    if (toy) MixShape(pool = 50, zipfS = 1.1, reads = 6, distinct = 2,
      batch = 20, editPct = 10, addPct = 10, deletes = 3)
    else MixShape(pool = 200, zipfS = 1.1, reads = 48, distinct = 12,
      batch = 200, editPct = 10, addPct = 10, deletes = 3)

  /** The closed-loop request stream of serve_mixed over the base corpus
    * `base`, in epochs. Each epoch reads `distinct` different queries,
    * drawn Zipf-skewed from a seeded pool without replacement, plus
    * `reads - distinct` repeats drawn Zipf-skewed among them, in seeded
    * order; then one upsert batch. Every commit drops the query cache, so
    * each epoch's hit ratio is exactly (reads - distinct) / reads and only
    * the queries, their order and the batches depend on the seed. The
    * stream tracks which entities exist and what each holds, so every
    * edit and delete names a live entity and every addition is new.
    */
  def serveStream(seed: Long, base: Vector[Doc], shape: MixShape): Iterator[Op] = {
    val r = new Random(seed)
    val pool = uniqueQueries(seed ^ 0x5DEECE66DL, shape.pool, Vocab)
    val ws = zipfWeights(shape.pool, shape.zipfS)
    val live = scala.collection.mutable.LinkedHashMap[Long, Doc]()
    base.foreach(d => live(d.id) = d)
    val fresh = shiftedCopy(base, 1).iterator
    Iterator.from(1).flatMap { epoch =>
      val chosen = (0 until shape.distinct).foldLeft(Vector.empty[Int]) { (acc, _) =>
        acc :+ pick(r, ws, acc.toSet)
      }
      val repeats = Vector.fill(shape.reads - shape.distinct)(chosen(pick(r, chosen.map(ws))))
      val reads = r.shuffle(chosen ++ repeats).map(i => Read(pool(i)))
      val nEdit = shape.batch * shape.editPct / 100
      val nAdd = shape.batch * shape.addPct / 100
      val ids = r.shuffle(live.keys.toVector)
      val (sent, rest) = ids.splitAt(shape.batch - nAdd)
      val edited = sent.take(nEdit).map { id =>
        val d = live(id)
        d.copy(text = s"${d.text} ${Vocab(r.nextInt(Vocab.size))}‿e$epoch")
      }
      val resent = sent.drop(nEdit).map(live)
      val added = fresh.take(nAdd).toVector
      val deletes = rest.take(shape.deletes)
      (edited ++ added).foreach(d => live(d.id) = d)
      deletes.foreach(live.remove)
      reads :+ Write(edited ++ resent ++ added, resent.size, edited.size, added.size, deletes)
    }
  }

  // ---------------------------------------------------------- registry_sample

  /** The sampled entries: two Par.ensure probe sites (q45 through
    * Dedup.shingleHashed, q92's segRollup) and a Graph driver arm over
    * coPairs (q263 kcoreTrace). */
  val RegistryEntries: Vector[String] = Vector(
    "q45_dedup_minhash", "q92_segment_dedup", "q263_kcore_trace")

  def registrySf(toy: Boolean): Double = if (toy) 0.002 else 0.01

  def registryOrder(seed: Long): Vector[String] = new Random(seed).shuffle(RegistryEntries)

  /** Rows of the ten sf tables at scale factor `sf`, shaped like the
    * TPC-H-style tables the registry reads (same columns, types and value
    * domains). Values are plain Scala (Long, Int, Double, String,
    * LocalDateTime, Array[Float]) in schema order.
    */
  def tables(sf: Double): Map[String, Vector[Seq[Any]]] = {
    val r = new Random(BaseSeed + 1)
    def n(x: Double) = math.max(1, math.round(x * sf).toInt)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val (nCust, nSupp, nPart, nOrd) = (n(150000), n(10000), n(200000), n(1500000))
    val region = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (nm, i) => Seq(i, nm) }
    val nation = (0 until 25).toVector.map(i => Seq(i, s"NATION_$i", i % 5))
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until nCust).toVector.map(i => Seq(i.toLong,
      f"Customer#$i%09d", r.nextInt(25), money(-999.99, 9999.99), segments(r.nextInt(5))))
    val supplier = (0 until nSupp).toVector.map(i => Seq(i.toLong,
      f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99)))
    val adj = Vector("blue", "hot", "small", "old", "cold", "red", "new", "big")
    val noun = Vector("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")
    val types = Vector("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = (0 until nPart).toVector.map(i => Seq(i.toLong,
      s"${adj(r.nextInt(8))} ${noun(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
      types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until nOrd).toVector.map(i => Seq(i.toLong,
      r.nextInt(nCust).toLong, Vector("F", "O", "P")(r.nextInt(3)),
      money(1000, 500000), day(d0, 2404), prio(r.nextInt(5))))
    // lines per order follow the sf tables' 1–13 spread (mean ~4)
    val perOrder = Seq(1 -> 112, 2 -> 213, 3 -> 296, 4 -> 302, 5 -> 230,
      6 -> 155, 7 -> 94, 8 -> 43, 9 -> 20, 10 -> 6, 11 -> 3, 12 -> 1, 13 -> 1)
    val lineitem = orders.flatMap { o =>
      (1 to weighted(r, perOrder)).map { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        Seq(o.head, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q,
          math.round(q * (900 + r.nextInt(1000) / 10.0) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Vector("A", "N", "R")(r.nextInt(3)), Vector("O", "F")(r.nextInt(2)),
          day(d0.plusDays(1), 2499))
      }
    }
    val nEv = n(1000000)
    val users = n(15000)
    val evTypes = Vector("click", "signup", "error", "view", "purchase")
    val e0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 86400L * 1000000L
    val events = (0 until nEv).toVector.map { i =>
      val us = span * i / nEv + r.nextInt((span / nEv).toInt)
      Seq(i.toLong, e0.plusNanos(us * 1000L), r.nextInt(users).toLong,
        evTypes(r.nextInt(5)), money(0.01, 490.02), s"""{"k": ${r.nextInt(100)}}""")
    }
    val documents = baseDocs(n(50000)).map(d =>
      Seq(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    val embeddings = (0 until math.max(500, n(20000))).toVector.map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Seq(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  // ------------------------------------------------------------------ digest

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** The inputs a workload would send for `seed`, as one JSON line: the
    * fixed data by digest, the seeded requests in full (first 40). */
  def digest(workload: String, seed: Long, toy: Boolean): String = {
    def list(xs: Seq[String]) = xs.map(Main.jstr).mkString("[", ",", "]")
    workload match {
      case "serve_mixed" =>
        val base = baseDocs(serveDocs(toy))
        val ops = serveStream(seed, base, serveShape(toy)).take(40).map {
          case Read(query) => s"read $query"
          case w: Write => s"write ${sha(w.docs.mkString("\n"))} delete ${w.deletes.mkString(",")}"
        }.toSeq
        s"""{"data":${Main.jstr(sha(base.mkString("\n")))},"requests":${list(ops)}}"""
      case _ =>
        val t = tables(registrySf(toy)).toSeq.sortBy(_._1)
          .map { case (k, rs) => k + rs.map(_.map {
            case a: Array[Float] => a.mkString(","); case v => String.valueOf(v) }.mkString("|")).mkString("\n") }
        s"""{"data":${Main.jstr(sha(t.mkString("\n")))},"requests":${list(registryOrder(seed))}}"""
    }
  }
}
