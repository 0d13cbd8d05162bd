// Measured plan-growth audit (round 12; grew out of WindowAudit).
//
// Two plan shapes are invisible scale-killers at test SFs:
//
//  1. A Window with an empty partitionSpec moves its whole input to ONE
//     task — fine over a dim-bounded rollup, fatal over anything
//     document-grained at 100 TB.
//  2. A BroadcastExchange whose build side GROWS with the corpus — fine
//     for 1-row totals and catalog dims, fatal when a hinted broadcast
//     rides a data-grained frame (every executor materializes it).
//
// Static inspection cannot classify either (the cardinality class of a
// key is data, not plan), so this tool MEASURES: run every registered
// query at two scale factors with AQE off, locate each unpartitioned
// WindowExec and each BroadcastExchangeExec in the executed plan, read
// the rows (and broadcast bytes) that actually flowed through, and flag
// the ones that grow with the scale factor.
//
//   sbt -batch 'runMain graft.tools.ScaleAudit'            # all queries
//   sbt -batch 'runMain graft.tools.ScaleAudit q131 q324'  # subset
//   sbt -batch 'runMain graft.tools.ScaleAudit --selftest' # planted defects
//
// Output: one `[windows]` line per (query, window) and one `[bcast]`
// line per (query, exchange) with rows at both SFs, the growth ratio,
// and a verdict. `grep DATA-GRAINED` is the gate; rows that stay flat
// (ratio ~1) are bounded by construction. Broadcasts are flagged only
// above a row floor: a dim that grows 10× but lands at 20k rows is
// still a broadcast-sized dim — the floor approximates "would exceed a
// sane broadcast budget at fleet scale".
//
// --selftest (round 14, VERDICT r13 #1): the audit had never been
// observed to fail, so "0 flagged" could rot into a vacuous truth. The
// selftest runs PLANTED defect probes — a data-grained global window, a
// forced growing broadcast, a growing nested-loop build, and a
// quadratic shuffle intermediate — at the same two SFs and exits
// nonzero unless each is flagged in its category AND a bounded control
// probe stays clean.
package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object ScaleAudit {
  private def rowsInto(p: SparkPlan): Long = {
    // Nearest descendant metric that counts the window's input. A plain
    // numOutputRows walk would skate past metric-less Sort/Exchange/
    // TakeOrdered nodes down to the scan and misattribute corpus-sized
    // inputs to windows that sit above a LIMIT — so stop at the single-
    // partition exchange (its records-written IS the window input) and
    // at limit operators (their output is bounded by construction).
    def find(x: SparkPlan): Option[Long] = x match {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.metrics.get("numOutputRows").map(_.value)
          .orElse(e.metrics.get("shuffleRecordsWritten").map(_.value))
          .orElse(e.children.headOption.flatMap(find))
      case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        Some(math.min(l.limit.toLong,
          l.children.headOption.flatMap(find).getOrElse(l.limit.toLong)))
      case g: org.apache.spark.sql.execution.GlobalLimitExec =>
        Some(g.limit.toLong)
      case _ =>
        x.metrics.get("numOutputRows").map(_.value)
          .orElse(x.children.headOption.flatMap(find))
    }
    find(p).getOrElse(-1L)
  }

  private def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] =
    p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  /** (rows, dataSize bytes) per broadcast exchange, in plan order. */
  private def broadcasts(p: SparkPlan): Seq[(Long, Long)] =
    p.collect { case b: BroadcastExchangeExec =>
      (b.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
        b.metrics.get("dataSize").map(_.value).getOrElse(-1L))
    }

  /** Rows written through every shuffle exchange — a shuffle whose rows
    * grow much FASTER than the data (ratio ≫ the 10× SF step) is a
    * quadratic intermediate (candidate-pair explosion, unbanded
    * self-join) even when the final result is small. */
  private def shuffles(p: SparkPlan): Seq[Long] =
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.metrics.get("numOutputRows").map(_.value)
          .orElse(e.metrics.get("shuffleRecordsWritten").map(_.value))
          .getOrElse(-1L)
    }

  /** Build-side rows of every nested-loop join (crossJoin compiles to
    * BroadcastNestedLoopJoin) — each pairs EVERY stream row with EVERY
    * build row, so any build side that grows with the corpus is a
    * quadratic blow-up. The repo contract: builds are 1-row aggregates
    * or bounded anchors. */
  private def nestedLoops(p: SparkPlan): Seq[Long] =
    p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        (j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          case _ => j.left
        }) match {
          case b => b.collectFirst {
            case e: BroadcastExchangeExec =>
              e.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          }.getOrElse(-1L)
        }
    }

  // A broadcast is flagged when it grows with the corpus AND is past
  // the floor where "it is a dim" stops being credible at fleet scale.
  private val bcastRowFloor = 100000L

  /** Flagged counts per category for one query executed at the SF pair.
    * Shared by the full census and the planted-defect selftest so both
    * exercise the SAME flagging rules. */
  def auditOne(spark: SparkSession, n: String,
      fn: (SparkSession, String) => DataFrame,
      sfs: Seq[String]): Map[String, Int] = {
    var flaggedW, flaggedB, flaggedC, flaggedS = 0
    try {
      val perSf: Seq[(Seq[Long], Seq[(Long, Long)], Seq[Long], Seq[Long])] =
        graft.Harness.released(spark)(sfs.map { sf =>
          val df = fn(spark, sf)
          // Materialize THIS queryExecution's plan (df.write would build
          // a fresh execution whose metrics this tree never sees).
          val plan = df.queryExecution.executedPlan
          plan.execute().count()
          (unpartitionedWindows(plan).map(rowsInto), broadcasts(plan),
            nestedLoops(plan), shuffles(plan))
        })
      val (small, big) = (perSf.head._1, perSf.last._1)
      // Positional pairing is only sound when both SFs produced the
      // same operator count — otherwise the static planner picked
      // different strategies and index-aligned ratios are meaningless
      // (a missing lo-side entry would silently read as "bounded").
      // Same escape the shuffle category always had.
      if (small.length != big.length) {
        println(f"[windows] $n%-28s plan-changed (${small.length} -> ${big.length} windows) — inspect manually")
      } else big.indices.foreach { i =>
        val a = small(i)
        val b = big(i)
        val ratio = if (a > 0) b.toDouble / a else Double.NaN
        // Grown with the corpus (and past rollup size) = data-grained.
        val verdict =
          if (a >= 0 && b > 3 * math.max(a, 1L) && b > 200) "DATA-GRAINED"
          else "bounded"
        if (verdict != "bounded") flaggedW += 1
        println(f"[windows] $n%-28s w$i rows(lo)=$a%-8d rows(hi)=$b%-8d ratio=$ratio%.1f $verdict")
      }
      val (bSmall, bBig) = (perSf.head._2, perSf.last._2)
      if (bSmall.length != bBig.length) {
        println(f"[bcast]   $n%-28s plan-changed (${bSmall.length} -> ${bBig.length} broadcasts) — inspect manually")
      } else bBig.indices.foreach { i =>
        val (a, _) = bSmall(i)
        val (b, bytes) = bBig(i)
        val ratio = if (a > 0) b.toDouble / a else Double.NaN
        val mb = if (bytes >= 0) bytes / 1e6 else -1.0
        val verdict =
          if (a >= 0 && b > 3 * math.max(a, 1L) && b > bcastRowFloor)
            "DATA-GRAINED"
          else "bounded"
        if (verdict != "bounded") flaggedB += 1
        println(f"[bcast]   $n%-28s b$i rows(lo)=$a%-8d rows(hi)=$b%-8d ratio=$ratio%.1f size=$mb%.1fMB $verdict")
      }
      val (cSmall, cBig) = (perSf.head._3, perSf.last._3)
      if (cSmall.length != cBig.length) {
        println(f"[cross]   $n%-28s plan-changed (${cSmall.length} -> ${cBig.length} nested-loop builds) — inspect manually")
      } else cBig.indices.foreach { i =>
        val a = cSmall(i)
        val b = cBig(i)
        val ratio = if (a > 0) b.toDouble / a else Double.NaN
        // a nested-loop build that grows with the corpus is quadratic
        val verdict =
          if (a >= 0 && b > 3 * math.max(a, 1L) && b > 1000) "DATA-GRAINED"
          else "bounded"
        if (verdict != "bounded") flaggedC += 1
        println(f"[cross]   $n%-28s c$i rows(lo)=$a%-8d rows(hi)=$b%-8d ratio=$ratio%.1f $verdict")
      }
      val (sSmall, sBig) = (perSf.head._4, perSf.last._4)
      if (sSmall.length != sBig.length) {
        // the planner picked different strategies at the two SFs
        // (e.g. an un-hinted join crossing the broadcast threshold
        // turns into an SMJ with extra exchanges) — positional ratios
        // are meaningless then, and the flip itself is usually the
        // DESIRED self-correction; report it for manual reading
        println(f"[shuffle] $n%-28s plan-changed (${sSmall.length} -> ${sBig.length} exchanges) — strategy flip, inspect manually")
      } else sBig.indices.foreach { i =>
        val a = sSmall(i)
        val b = sBig(i)
        val ratio = if (a > 0) b.toDouble / a else Double.NaN
        // the data step is 10x; >30x shuffle growth = super-linear
        // intermediate (quadratic pair explosion), report only those
        if (a >= 0 && b > 30 * math.max(a, 1L) && b > 100000) {
          flaggedS += 1
          println(f"[shuffle] $n%-28s s$i rows(lo)=$a%-8d rows(hi)=$b%-8d ratio=$ratio%.1f SUPER-LINEAR")
        }
      }
    } catch {
      case e: Throwable =>
        println(s"[audit] $n ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    Map("windows" -> flaggedW, "bcast" -> flaggedB,
      "cross" -> flaggedC, "shuffle" -> flaggedS)
  }

  /** Planted-defect probes (VERDICT r13 #1): each must trip exactly its
    * category's flag at the SF pair; the bounded control must trip none.
    * These are NOT registered queries — they exist to prove the audit
    * still bites. */
  private def selftestProbes: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    // data-grained GLOBAL window: corpus rows through one task
    ("probe_window", (s: SparkSession, d: String) =>
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id")))),
      "windows"),
    // FORCED broadcast of a corpus-growing frame (15k -> 150k rows,
    // past the 100k floor at the hi SF)
    ("probe_bcast", (s: SparkSession, d: String) =>
      s.read.parquet(s"$d/lineitem.parquet")
        // lint-exempt: PLANTED selftest defect — this broadcast is
        // required to be unbounded so the runtime audit can be watched
        // to flag it; never copy this pattern into real operators
        .join(broadcast(s.read.parquet(s"$d/orders.parquet")),
          col("l_orderkey") === col("o_orderkey")),
      "bcast"),
    // nested-loop build side that grows with the corpus (500 -> 5000)
    ("probe_cross", (s: SparkSession, d: String) => {
      val ids = s.read.parquet(s"$d/documents.parquet").select(col("doc_id"))
      ids.select(col("doc_id").as("a_id"))
        // lint-exempt: PLANTED selftest defect — deliberately growing
        // nested-loop build for the runtime audit to flag
        .crossJoin(ids.select(col("doc_id").as("b_id")))
        .groupBy("a_id").agg(count(lit(1)).as("n"))
    }, "cross"),
    // quadratic shuffle intermediate: all-pairs grouped on the pair key
    // (no partial-agg reduction), 250k -> 25M shuffled rows
    ("probe_shuffle", (s: SparkSession, d: String) => {
      val ids = s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), (col("doc_id") % 7).as("k"))
      ids.select(col("k"), col("doc_id").as("a_id")).as("a")
        .join(ids.select(col("k"), col("doc_id").as("b_id")).as("b"), "k")
        .repartition(col("a_id"), col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n"))
    }, "shuffle"),
    // bounded control: catalog broadcast + grouped rollup — NO flags
    ("probe_bounded", (s: SparkSession, d: String) =>
      s.read.parquet(s"$d/lineitem.parquet")
        .join(broadcast(s.read.parquet(s"$d/nation.parquet")),
          col("l_suppkey") % 25 === col("n_nationkey")),
      ""))

  private def runSelftest(spark: SparkSession, sfs: Seq[String]): Int = {
    var failures = 0
    selftestProbes.foreach { case (name, fn, mustFlag) =>
      val flags = auditOne(spark, name, fn, sfs)
      if (mustFlag.nonEmpty) {
        if (flags(mustFlag) < 1) {
          failures += 1
          println(s"[selftest] MISS $name: planted $mustFlag defect NOT flagged ($flags)")
        } else println(s"[selftest] ok   $name: $mustFlag flagged as planted")
      } else {
        if (flags.values.sum != 0) {
          failures += 1
          println(s"[selftest] FALSE-POSITIVE $name: bounded control flagged ($flags)")
        } else println(s"[selftest] ok   $name: bounded control clean")
      }
    }
    if (failures > 0) println(s"[selftest] FAIL: $failures probe(s) misbehaved")
    else println("[selftest] PASS: every planted defect flagged, control clean")
    failures
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session(32)
    // AQE off so the executed plan (and its metrics) is the static
    // tree — the audit reads per-operator metrics, not wall time.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")

    // sf0.01 → sf0.1 is the informative pair: EVERY table grows 10×
    // there (documents/embeddings are flat between sf0.001 and sf0.01,
    // which would blind the ratio test for document-grained windows).
    val sfs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")

    if (args.contains("--selftest")) {
      val failures = runSelftest(spark, sfs)
      spark.stop()
      if (failures > 0) sys.exit(1)
      return
    }

    val names =
      if (args.nonEmpty) {
        val known = graft.Queries.queries.keySet
        args.toSeq.map(a => known.find(_.startsWith(a)).getOrElse(
          sys.error(s"no registered query starts with '$a'")))
      } else graft.Queries.queries.keys.toSeq.sorted

    val totals = scala.collection.mutable.Map(
      "windows" -> 0, "bcast" -> 0, "cross" -> 0, "shuffle" -> 0)
    names.foreach { n =>
      val flags = auditOne(spark, n, graft.Queries.queries(n), sfs)
      flags.foreach { case (k, v) => totals(k) += v }
    }
    println(s"[windows] flagged: ${totals("windows")}")
    println(s"[bcast]   flagged: ${totals("bcast")}")
    println(s"[cross]   flagged: ${totals("cross")}")
    println(s"[shuffle] flagged: ${totals("shuffle")}")
    graft.Queries.dropArtifacts()
    spark.stop()
  }
}
