package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Deterministic offline replacement for the reference's HTTP embedding
  * providers (LD-Reborn/embeddingsearch `src/Server/AIProvider.cs:39-133` —
  * Ollama / OpenAI-compatible endpoints). This environment is zero-egress,
  * so "inference" is a pure function: a unit-normalized pseudo-random vector
  * seeded by SHA-256(model ++ "\u0000" ++ text) — the NUL separator keeps
  * (model, text) pairs unambiguous.
  *
  * Properties: reproducible across JVMs/runs, distinct per (model, text),
  * cosine(embed(m,t), embed(m,t)) == 1. The real-provider path is
  * [[HttpEmbedder]], another implementation of this trait: each
  * `embedBatch` call is one HTTP POST, and it runs through the same
  * batched `mapPartitions` source, [[StubEmbedder.embedBatched]]
  * (SURVEY.md §2.1 S4), so everything downstream is unchanged.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(model: String, text: String): Array[Float]

  /** One provider call per (model, batch). The default delegates per-item
    * (right for pure-function embedders); transports that are genuinely
    * batched — the HTTP POST of [[HttpEmbedder]], mirroring the
    * reference's per-model batch requests (`AIProvider.cs:39-133`) —
    * override this with a single wire call. Must return one vector per
    * input text, in input order.
    */
  def embedBatch(model: String, texts: Seq[String]): Seq[Array[Float]] =
    texts.map(embed(model, _))
}

final class StubEmbedder(val dim: Int) extends Embedder {
  def embed(model: String, text: String): Array[Float] = {
    val md = MessageDigest.getInstance("SHA-256")
    val digest = md.digest((model + "\u0000" + text).getBytes(StandardCharsets.UTF_8))
    // seed = first 8 bytes of the digest
    var s = java.nio.ByteBuffer.wrap(digest, 0, 8).getLong
    if (s == 0L) s = 0x9E3779B97F4A7C15L
    val out = new Array[Float](dim)
    var norm2 = 0.0
    var i = 0
    while (i < dim) {
      // xorshift64*
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      val r = s * 0x2545F4914F6CDD1DL
      val v = ((r >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0 // [-1, 1)
      out(i) = v.toFloat
      norm2 += v * v
      i += 1
    }
    val inv = (1.0 / math.sqrt(norm2)).toFloat
    i = 0
    while (i < dim) { out(i) *= inv; i += 1 }
    out
  }
}

object StubEmbedder {
  /** Rows per inference call — mirrors the reference's per-model batch
    * POSTs (`AIProvider.cs:39-133`): amortizes per-call overhead, bounds
    * request size.
    */
  val BatchSize = 256

  /** Test instrumentation: counts the rows actually pushed through the
    * inference path. With a deterministic embedder, "kept its stored
    * vector" and "re-embedded to the same value" are indistinguishable by
    * value — the accumulator is what tells them apart (the dedup-before-
    * embed and diff-driven-upsert specs assert on its deltas). No-op
    * unless a spec installs it.
    */
  @volatile private var embedCounter: Option[org.apache.spark.util.LongAccumulator] = None
  def installCounter(spark: SparkSession): org.apache.spark.util.LongAccumulator = {
    val acc = spark.sparkContext.longAccumulator("graft.embedBatched.rows")
    embedCounter = Some(acc)
    acc
  }

  /** The driver-side twin of [[embedBatched]] for a request-sized set of
    * distinct texts: one `embedBatch` call per (model, chunk of at most
    * [[BatchSize]] texts), each chunk's rows counted on the installed
    * counter as [[embedBatched]] counts them. Returns each (model, text)'s
    * vector.
    */
  def embedLocal(texts: Seq[String], models: Seq[String],
      embedder: Embedder): Map[(String, String), Array[Float]] =
    models.iterator.flatMap { model =>
      texts.grouped(BatchSize).flatMap { chunk =>
        embedCounter.foreach(_.add(chunk.size.toLong))
        chunk.lazyZip(embedder.embedBatch(model, chunk)).map((text, vec) => (model, text) -> vec)
      }
    }.toMap

  /** Bulk-inference source (S4): a batched `mapPartitions` over
    * (model, text) pairs — the shape a real HTTP/GPU embedding provider
    * needs (one call per BatchSize rows per model), and a narrow
    * per-partition stage rather than a per-row UDF inside someone else's
    * codegen stage. Returns (model, text, embedding). The dataflow is
    * provider-agnostic: the deterministic stub and the real HTTP
    * [[HttpEmbedder]] run through it unchanged, so swapping providers
    * changes ONE constructor argument, never the pipeline.
    */
  def embedBatched(
      spark: SparkSession,
      pairs: DataFrame,
      embedder: Embedder,
      parallelPrefetch: Boolean = true): DataFrame = {
    import spark.implicits._
    val acc = embedCounter // capture so the closure serializes the accumulator
    // ParallelEmbeddingsPrefetch (`SearchdomainHelper.cs:61-93`): off =
    // the reference's sequential per-model prefetch loop — each model's
    // batches run inside ONE task (repartition by model), so a provider
    // sees at most one in-flight call per model. On = the reference's
    // Parallel.ForEach — a model's texts spread over all partitions and
    // its batches fly concurrently. Both shapes keep calls ~full via the
    // per-partition model sort below.
    val placed =
      if (parallelPrefetch) pairs
      else pairs.repartition(col("model"))
    placed.select(col("model"), col("text")).as[(String, String)]
      // contiguous models per partition: without this, crossJoin-produced
      // pairs interleave M models per text and every BatchSize chunk
      // fragments into M calls of BatchSize/M rows — the amortization the
      // batching exists for. Sorted, each chunk holds at most 2 models
      // (one run boundary), so calls stay ~full.
      .sortWithinPartitions("model")
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.groupBy(_._1).iterator.flatMap { case (model, rows) =>
            // one provider call per (model, batch): embedBatch is a single
            // HTTP POST on the real provider, a pure map on the stub
            acc.foreach(_.add(rows.size.toLong))
            val texts = rows.map(_._2)
            texts.lazyZip(embedder.embedBatch(model, texts)).map {
              case (text, vec) => (model, text, vec)
            }
          }
        }
      }
      .toDF("model", "text", "embedding")
  }
}
