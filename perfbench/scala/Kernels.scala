package perfbench

import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** ns per call of the `functions` kernels, called directly on the sf0.1
  * document texts (every document once per round). Each kernel is warmed,
  * then timed for a few rounds; the median round is reported. */
object Kernels {
  private val kernels: Seq[(String, UTF8String => Any)] = Seq(
    "normalize_text" -> (u => NormalizeTextOps.compute(u)),
    "portable_fingerprint" -> (u => TextKernelOps.compute(u)),
    "whitespace_tokens" -> (u => WhitespaceTokensOps.compute(u)),
    "whitespace_token_count" -> (u => WhitespaceTokensOps.count(u)),
    "window_fps8" -> (u => WindowFingerprintOps.compute(u, 8)),
    "winnow" -> (u => WinnowOps.compute(u, 50, 8)),
    "compression_ratio" -> (u => CompressionRatioOps.compute(u)),
    "hashed_buckets" -> (u => HashedBucketOps.compute(u, 1024)),
    "ngram_buckets" -> (u => NgramBucketOps.compute(u, 4096)),
    "html_extract" -> (u => HtmlExtractOps.compute(u)))

  // results land here so the JIT cannot drop the calls
  @volatile private var sink = 0

  def run(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").where("text is not null").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    kernels.map { case (name, f) =>
      def round(): Long = {
        val a = System.nanoTime()
        var i = 0; var n = 0
        while (i < docs.length) { if (f(docs(i)) != null) n += 1; i += 1 }
        sink += n
        System.nanoTime() - a
      }
      (1 to 3).foreach(_ => round())
      val times = (1 to 7).map(_ => round()).sorted
      name -> times(times.size / 2).toDouble / docs.length
    }
  }
}
