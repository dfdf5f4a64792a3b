package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, lower, split}

import graft.functions._

/** Times each codegen kernel alone: the kernel's column over a cached,
  * replicated copy of `documents` (or `embeddings`) to the noop sink, so
  * the scan is not part of the number. */
object Kernels {
  /** Copies of the corpus the kernels run over: large enough that the
    * kernel, not job scheduling, dominates a call. */
  private val Copies = 20
  private val Reps = 3

  def measure(spark: SparkSession, tr: Tracer, res: Result, data: String): Unit = {
    def replicated(table: String): DataFrame =
      spark.range(Copies).crossJoin(spark.read.parquet(s"$data/$table.parquet"))
        .drop("id").cache()
    val docs = replicated("documents").withColumn("toks", split(col("text"), " "))
    val vecs = replicated("embeddings")
    docs.count(); vecs.count()
    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("minhash_sig", docs, MinhashSig.sig(spark, col("toks"), 64)),
      ("simhash_sig", docs, SimhashSig.sig(spark, col("toks"))),
      ("fingerprint_sig", docs, FingerprintSig.sig(spark, col("toks"))),
      ("char_ngrams", docs, StringNgrams.ngrams(spark, lower(col("text")), 3)),
      ("ngram_repeat", docs, NgramRepeat.stats(spark, col("toks"), 2)),
      ("token_stats", docs, TokenStats.stats(spark, col("toks"), Seq("a", "the"))),
      ("vec_dot", vecs, VectorOps.vecDot(spark, col("embedding"), col("embedding"))))
    kernels.foreach { case (name, df, k) =>
      val ms = (0 until Reps).map { _ =>
        tr.span("kernel", 0, Map("kernel" -> name)) { _ =>
          df.select(k.as("k"), lit(1).as("one")).write.mode("overwrite").format("noop").save()
        }._2 * 1e3
      }
      res.layer(s"functions.${name}_ms", Stats.median(ms), "ms")
    }
    docs.unpersist(); vecs.unpersist()
  }
}
