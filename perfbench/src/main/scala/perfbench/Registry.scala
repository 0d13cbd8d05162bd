package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** registry_sample: the sampled registry entries in seeded order, each
  * built through `Queries.queries(name)(spark, dir)` and materialized with
  * `collect()` rather than Bench's noop write, so the measured rows
  * themselves can be checked against the entry's DuckDB oracle. `run.py`
  * does that check on the rows written to `registry-out/<entry>`.
  */
object Registry {
  /** Passes over the sample, each over its own copy of the tables: one
    * unmeasured warm-up pass, then the measured ones. */
  val WarmUpPasses = 1
  val Passes = 3

  private def f(n: String, t: DataType) = StructField(n, t)
  val Schemas: Map[String, StructType] = Map(
    "region" -> Seq(f("r_regionkey", IntegerType), f("r_name", StringType)),
    "nation" -> Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType)),
    "customer" -> Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType)),
    "supplier" -> Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType)),
    "part" -> Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType)),
    "orders" -> Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)),
    "lineitem" -> Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType)),
    "events" -> Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType)),
    "documents" -> Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType)),
    "embeddings" -> Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
      f("label", IntegerType))
  ).map { case (k, v) => k -> StructType(v) }

  private def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.ops.Caches.release()
    System.gc()
  }

  def run(spark: SparkSession, tr: Tracer, a: Main.Args, out: Report): Unit = {
    val rows = Inputs.tables(Inputs.registrySf(a.toy))
    val dirs = (1 to WarmUpPasses + Passes).map(r => a.work.resolve(s"tables-$r").toString)
    val times = dirs.map { dir =>
      val t0 = System.nanoTime()
      rows.foreach { case (t, rs) =>
        spark.createDataFrame(java.util.Arrays.asList(rs.map(Row.fromSeq): _*), Schemas(t))
          .write.parquet(s"$dir/$t.parquet")
      }
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s", Stats.median(times))
    out.note(f"set-up times: ${times.map(t => f"$t%.2f").mkString(" ")} s (sf=${Inputs.registrySf(a.toy)})")

    val order = Inputs.registryOrder(a.seed)
    // One pass over the sample per copy of the tables (identical copies in
    // different directories, so a per-directory memo is paid in every
    // pass); an entry counts the median of its measured runs. An entry's
    // first run also compiles its code, which made the first entries of a
    // single pass up to three times as slow as later ones, so the first
    // pass is a warm-up.
    val passes = dirs.indices
    val outDir = a.work.resolve("registry-out")
    val runS, warmS = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    val arms = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val gc0 = Main.gcMs()
    for (p <- passes; (name, i) <- order.zipWithIndex) {
      if (p == 0) out.attempted += 1
      try {
        val req = p * order.size + i
        val arms0 = graft.ops.Graph.armSnapshot()
        // the warm-up pass is not traced, as serve_mixed's warm-up reads
        def span[T](n: String)(body: => T): T = if (p < WarmUpPasses) body else tr.span(n, req)(body)
        val t0 = System.nanoTime()
        val (result, schema) = span(s"registry.$name") {
          val df = span(s"registry.$name.build") { graft.Queries.queries(name)(spark, dirs(p)) }
          (span(s"registry.$name.exec") { df.collect() }, df.schema)
        }
        val t = (System.nanoTime() - t0) / 1e9
        if (p < WarmUpPasses) warmS(name) :+= t else runS(name) :+= t
        if (p == passes.last) {
          graft.ops.Graph.armSnapshot().foreach { case (k, v) => arms(k) += v - arms0.getOrElse(k, 0L) }
          // the last pass's rows are checked against the oracle over its tables
          spark.createDataFrame(java.util.Arrays.asList(result: _*), schema)
            .coalesce(1).write.parquet(outDir.resolve(name).toString)
        }
      } catch {
        case e: Throwable => out.fail(s"$name failed in pass ${p + 1}: ${e.getClass.getName}: ${e.getMessage}")
      } finally cleanUp(spark)
    }
    order.foreach(n => out.note(f"$n: warm-up ${warmS(n).map(t => f"$t%.3f").mkString(" / ")} s, " +
      f"measured ${runS(n).map(t => f"$t%.3f").mkString(" / ")} s"))
    val entryS = order.filter(runS(_).nonEmpty).map(n => Stats.median(runS(n)))
    out.loopS = runS.values.flatten.sum
    val (tail, label) = Stats.tail(entryS.map(_ * 1000).toSeq)
    out.e2e("query_p50_ms", Stats.median(entryS.map(_ * 1000).toSeq))
    out.e2e("query_tail_ms", tail)
    out.e2e("queries_per_s", entryS.size / entryS.sum)
    Main.GraphArms.foreach(k => out.layer(s"ops.graph_arms.${k.replace(':', '.')}", arms(k).toDouble))
    out.layer("registry_total_s", entryS.sum)
    out.layer("registry_geomean_s", Stats.geomean(entryS.toSeq))
    out.note(f"registry pass: ${entryS.size} entries, total ${entryS.sum}%.2f s, " +
      f"geomean ${Stats.geomean(entryS.toSeq)}%.3f s, tail($label) $tail%.0f ms, " +
      s"gc ${Main.gcMs() - gc0} ms")
    if (tr.enabled) {
      // per-layer figures from the last pass
      def span(n: String, i: Int) = tr.named(n).find(_.request == passes.last * order.size + i)
      for ((name, i) <- order.zipWithIndex; b <- span(s"registry.$name.build", i);
           e <- span(s"registry.$name.exec", i); all <- span(s"registry.$name", i)) {
        out.layer(s"registry.$name.build_ms", b.ms)
        out.layer(s"registry.$name.eager_jobs", b("jobs").toDouble)
        out.layer(s"registry.$name.exec_ms", e.ms)
        out.layer(s"registry.$name.tasks", all("tasks").toDouble)
        out.layer(s"registry.$name.shuffle_b", (all("shuffle_read_b") + all("shuffle_write_b")).toDouble)
      }
      val entries = order.zipWithIndex.flatMap { case (n, i) => span(s"registry.$n", i) }
      out.layer("registry.plan_ms", entries.map(_("plan_ms")).sum.toDouble)
      out.layer("registry.spill_b", entries.map(_("spill_b")).sum.toDouble)
    }
    val oracle = order.map { n =>
      val sql = graft.Queries.oracleSql(n)
      s"${Main.jstr(n)}:${Main.jstr(sql)}"
    }.mkString("{", ",", "}")
    Files.writeString(a.work.resolve("oracle.json"),
      s"""{"tables":${Main.jstr(dirs.last)},"out":${Main.jstr(outDir.toString)},"sql":$oracle}""")
  }
}
