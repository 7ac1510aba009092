package perfbench

import graft.functions.GraftFunctions
import graft.ops.{Multimodal, Pq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the codegen'd kernels: each runs over a fixed, cached
  * in-memory batch into a noop sink, and the time of the same scan
  * without the kernel is subtracted. Median of five passes each. */
object Kernels {
  private val Rows = 20000
  private val Passes = 5

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  def run(spark: SparkSession, rep: Report): Unit = {
    GraftFunctions.install(spark)
    val text = spark.range(Rows).select(col("id"),
      split(concat_ws(" ", transform(sequence(lit(1), lit(48)),
        x => concat(lit("w"), (pmod(xxhash64(col("id"), x), lit(5000L))).cast("string")))),
        " ").as("tokens"))
      .withColumn("hashes", expr("graft_shingle_hashes(tokens, 3)"))
    val vecs = spark.range(Rows).select(col("id"),
      transform(sequence(lit(1), lit(64)),
        x => pmod(xxhash64(col("id"), x), lit(1000L)).cast("double") / 1000).as("v"))
    val media = Multimodal.syntheticMixedMedia(spark.range(Rows / 4).toDF("id"), "id")
    Seq(text, vecs, media).foreach { df => df.cache(); df.count() }
    val books = vecs.orderBy("id").limit(16).collect().map(_.getSeq[Double](1)).toSeq
    val codebooks = (0 until 8).map(s => books.map(_.slice(s * 8, s * 8 + 8)))

    def perRow(base: DataFrame, kern: DataFrame, rows: Long): Double = {
      timeNoop(base); timeNoop(kern)
      val b = Stats.median(Seq.fill(Passes)(timeNoop(base)))
      val k = Stats.median(Seq.fill(Passes)(timeNoop(kern)))
      math.max(0.0, k - b) * 1e6 / rows
    }
    val cases = Seq(
      "shingle_hashes" -> (text.select("tokens"),
        text.select(expr("graft_shingle_hashes(tokens, 3)")), Rows.toLong),
      "minhash_sigs" -> (text.select("hashes"),
        text.select(expr("graft_minhash_sigs(hashes, 64)")), Rows.toLong),
      "simhash" -> (text.select("tokens"), text.select(expr("graft_simhash(tokens)")), Rows.toLong),
      "dot" -> (vecs.select("v"), vecs.select(expr("graft_dot(v, v)")), Rows.toLong),
      "pq_encode" -> (vecs.select("id", "v"), Pq.encode(vecs, "id", "v", codebooks), Rows.toLong),
      "sniff_media" -> (media.select("content"),
        media.select(expr("graft_sniff_media(content)")), (Rows / 4).toLong))
    cases.foreach { case (name, (base, kern, n)) =>
      rep.metrics(s"functions.${name}_ns_per_row") = perRow(base, kern, n)
    }
    Seq(text, vecs, media).foreach(_.unpersist())
  }
}
