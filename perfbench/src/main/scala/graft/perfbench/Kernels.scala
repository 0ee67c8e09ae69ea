package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** One noop-materialized projection per native kernel in `graft.functions`,
  * over the documents text (or the embeddings vector) column, replicated so
  * that the kernel, not the fixed per-query cost, dominates the time. */
object Kernels {

  private val Replicas = 24L

  private def docs(s: SparkSession, d: String): DataFrame =
    graft.Tables.documents(s, d).crossJoin(s.range(Replicas).select(col("id").as("rep")))

  private def vecs(s: SparkSession, d: String): DataFrame =
    graft.Tables.embeddings(s, d).crossJoin(s.range(Replicas * 4).select(col("id").as("rep")))

  private val text = col("text")
  private val emb = col("embedding")
  private val mhA = (0 until 12).map(k => 53L * k + 7L)
  private val mhB = (0 until 12).map(k => 97L * k + 13L)

  /** (kernel, frame builder) in a fixed order. */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def onDocs(c: => Column): (SparkSession, String) => DataFrame =
      (s, d) => docs(s, d).select(c.as("k"))
    def onVecs(c: => Column): (SparkSession, String) => DataFrame =
      (s, d) => vecs(s, d).select(c.as("k"))
    Seq(
      "amount_in_words" -> onDocs(AmountInWords.of(col("n_chars") * 1.25 + col("rep"))),
      "char_gram_hash" -> onDocs(CharGramHash.of(text)),
      "jaccard_pair_emit" -> ((s: SparkSession, d: String) =>
        docs(s, d).groupBy(col("doc_id") % 64, col("rep"))
          .agg(collect_list(struct(col("doc_id"), col("n_chars").as("n"))).as("ps"))
          .select(JaccardPairEmit.of(col("ps"), 0.5).as("k"))),
      "min_hash_sig" -> onDocs(MinHashSig.of(text, 3, mhA, mhB, 2147483647L)),
      "ngram_bucket_counts" -> onDocs(NgramBucketCounts.of(text, 2, 1024)),
      "portable_hash" -> onDocs(PortableHash.hash(text)),
      "portable_ngram_hash" -> onDocs(PortableNgramHash.of(text, 3)),
      "shingle_hash" -> onDocs(ShingleHash.of(text)),
      "simhash16" -> onDocs(SimHash16.of(text)),
      "top_k_by_score" -> ((s: SparkSession, d: String) =>
        docs(s, d).groupBy(col("lang"), col("rep"))
          .agg(TopKByScore.topK(col("n_chars").cast("double"), col("doc_id"), 5).as("k"))),
      "vector_d2" -> onVecs(VectorD2.d2(emb, reverse(emb))),
      "vector_dot" -> onVecs(VectorDot.dot(emb, reverse(emb))),
      "winnow" -> onDocs(Winnow.of(text)),
      "zorder" -> onDocs(ZOrder.zvalue(col("doc_id") % 65536, col("n_chars") + col("rep"), 16)))
  }
}
