package graft

import org.apache.spark.sql.functions._

import graft.ops.Shards

/** Output-sharding contract: deterministic append-stable assignment, a
  * physical one-directory-per-shard layout that reads back losslessly,
  * and partition pruning on single-shard reads.
  */
class ShardsSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"doc body number $i words", s"src${i % 5}"))
      .toDF("doc_id", "text", "source")
  }

  test("assignment is deterministic and append-stable") {
    val a1 = Shards.assign(docs(200), "doc_id", 16)
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Shards.assign(docs(200), "doc_id", 16)
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2)
    // growing the corpus never moves an existing doc's shard
    val grown = Shards.assign(docs(400), "doc_id", 16)
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1.forall { case (id, s) => grown(id) == s })
    // all shards in range, and the hash actually spreads them
    assert(a1.values.forall(s => s >= 0 && s < 16))
    assert(a1.values.toSet.size >= 12, s"only ${a1.values.toSet.size} shards hit")
  }

  test("stats cover every doc exactly once") {
    val st = Shards.shardStats(docs(300), "doc_id", "text", "source", 16).collect()
    assert(st.map(_.getAs[Long]("n_docs")).sum == 300)
    assert(st.forall(_.getAs[Long]("n_sources") <= 5))
  }

  test("writeShards: one directory per shard, lossless read-back, pruned single-shard scan") {
    val path = tempDir("shards-")
    val df = docs(200)
    Shards.writeShards(df, "doc_id", path, 8)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 8).map(i => s"shard=$i").toSet))
    val back = spark.read.parquet(path)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val orig = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == orig)
    val plan = Shards.readShard(spark, path, 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"single-shard read not pruned:\n$plan")
  }

  test("epochShuffle: bijection onto [0, n) per epoch, epochs reorder, deterministic") {
    // sizes straddle block boundaries (non-multiple, exact multiple, < one block)
    for (n <- Seq(37, 128, 200)) {
      val pos = Shards.epochShuffle(docs(n), "doc_id", blockSize = 64L,
          epochs = Seq(1L, 2L, 3L))
        .select("epoch", "doc_id", "pos").collect()
        .groupBy(_.getLong(0))
        .map { case (e, rs) => e -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
      assert(pos.keySet == Set(1L, 2L, 3L))
      for ((e, m) <- pos) {
        assert(m.size == n, s"n=$n epoch=$e: ${m.size} docs")
        assert(m.values.toSet == (0L until n).toSet,
          s"n=$n epoch=$e: positions are not a bijection onto [0, $n)")
      }
      // different epochs genuinely reorder (some doc moves)
      assert(pos(1L) != pos(2L) && pos(2L) != pos(3L),
        s"n=$n: epoch seeds produced identical orders")
    }
    // deterministic across evaluations
    val a = Shards.epochShuffle(docs(100), "doc_id", 64L, Seq(7L))
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Shards.epochShuffle(docs(100), "doc_id", 64L, Seq(7L))
      .select("doc_id", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
