package graft

import org.apache.spark.sql.functions._

import graft.ops.{Bpe, Classifier, Models}
import graft.search.Ann

/** Round-trip pins for persisted trained artifacts: what serving loads
  * must be bit-identical to what training produced, and the loaded form
  * must drive the serving path to identical results.
  */
class ModelsSpec extends SparkSpec {
  import spark.implicits._

  test("classifier weights round-trip bit-for-bit and score identically") {
    val docs = Seq((0L, "alpha beta alpha", 1.0), (1L, "omega delta", 0.0),
      (2L, "alpha omega beta", 1.0)).toDF("doc_id", "text", "y")
    val feats = Classifier.featurize(docs.select("doc_id", "text"), 32)
    val w = Classifier.train(feats, docs.select("doc_id", "y"),
      nFeatures = 32, iters = 3, lr = 1.0)
    val dir = tempDir("weights-")
    Models.saveWeights(spark, w, dir)
    val w2 = Models.loadWeights(spark, dir)
    assert(w.sameElements(w2))
    val a = Classifier.predict(feats, w).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Classifier.predict(feats, w2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("BPE merge table round-trips and encodes identically") {
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("tok", "n")
    val (merges, _) = Bpe.learnMergesBatched(vocab, k = 8)
    val dir = tempDir("merges-")
    Models.saveMerges(spark, merges, dir)
    val m2 = Models.loadMerges(spark, dir)
    assert(merges == m2)
    val docs = Seq((1L, "lowest"), (2L, "newest"), (3L, "low"))
      .toDF("doc_id", "tok")
    def pairs(ms: Seq[(Int, String, String, Long)]) = ms.map(t => (t._2, t._3))
    val a = Bpe.encodePartitions(docs, "tok", "enc", pairs(merges))
      .orderBy("doc_id").collect().map(_.getSeq[String](2)).toSeq
    val b = Bpe.encodePartitions(docs, "tok", "enc", pairs(m2))
      .orderBy("doc_id").collect().map(_.getSeq[String](2)).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("dedup cluster artifact round-trips exactly and drives identical keeper sets") {
    import graft.ops.{Dedup, Graph}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.unionByName(docs
      .withColumn("doc_id", col("doc_id") + 10000000L)
      .withColumn("text", concat(col("text"), lit(" zzz"))))
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 12, bands = 4, threshold = 0.5, fastHash = true)
    val built = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component").as("cluster"),
        when(col("id") === col("component"), 1L).otherwise(0L).as("is_keeper"))
    val rows = built.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val dir = tempDir("clusters-")
    Models.saveClusters(built, dir)
    graft.ops.Caches.release() // artifact read must not depend on CC scratch
    val loaded = Models.loadClusters(spark, dir)
    assert(loaded.columns.toSeq == Seq("doc_id", "cluster", "is_keeper"))
    assert(loaded.orderBy("doc_id").collect().map(_.toSeq).toSeq == rows)
    // downstream consumer shape: the loser anti-join (q81 stage 1) over
    // the LOADED table equals the one over the in-memory frame
    val losersLoaded = loaded.filter(col("is_keeper") === 0L)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val losersBuilt = rows.filter(_(2) == 0L).map(_(0).asInstanceOf[Long])
    assert(losersLoaded == losersBuilt && losersLoaded.nonEmpty)
  }

  test("PQ codebook round-trips and the ADC search is unchanged") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Ann.pqTrain(embs, Ann.pqSeedCodebook(embs, 8, 8, 16), 8, 8, iters = 1)
    val dir = tempDir("codebook-")
    Models.saveCodebook(cb, dir)
    val cb2 = Models.loadCodebook(spark, dir)
    assert(cb.orderBy("sub", "code").collect().map(_.toSeq).toSeq ==
      cb2.orderBy("sub", "code").collect().map(_.toSeq).toSeq)
    val enc = Ann.pqEncode(embs, cb, 8, 8)
    val qs = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def rows(c: org.apache.spark.sql.DataFrame) =
      Ann.pqSearch(Ann.pqEncode(embs, c, 8, 8), c, embs, qs, 8, 8, 16, k = 5, pool = 20)
        .orderBy("query_id", "rnk").collect().map(_.toSeq).toSeq
    assert(rows(cb) == rows(cb2))
  }
}
