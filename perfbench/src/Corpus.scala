package perfbench

import graft.ops.{Bpe, Dedup, IvfIndex, Pq, Similarity}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data pipeline over a generated corpus, once warm (after
  * an unchecked pass over a tenth of it). Text stage: MinHash-LSH pairs →
  * duplicate clusters → dedup by clusters, SimHash pairs, BPE merges.
  * Vector stage: IVF build + top-k, PQ codebooks + encode. Each operator's
  * output is fully materialized (collect, or a noop sink for corpus-sized
  * outputs) and checked: planted near-duplicate families found with no
  * false merges, IVF recall@10 against brute force, operator row counts.
  *
  * Inputs (from run.py) under `corpus/`: `documents.parquet` with planted
  * near-duplicates, their families in `truth.parquet`, and clustered
  * `embeddings.parquet`. */
final class CorpusPass(a: Args) {
  private val Merges = 32
  private val K = 10
  private val Queries = 20
  private val Dim = 64
  /** IVF cells and cells probed per query. The vectors, like frozen's, are
    * unit-norm and unclustered, so a query's neighbours spread over many
    * cells: probing half of them gave recall@10 0.78 (seed 2), under the
    * 0.8 guard, so three quarters are probed. */
  private val Cells = 16
  private val Probes = 12
  private val dir = s"${a.data}/corpus"

  private def noop(df: DataFrame, what: String): Long = {
    val obs = Observation(what)
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  private val ms = collection.mutable.LinkedHashMap[String, Double]()
  private def op[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ms(name) = (System.nanoTime() - t0) / 1e6
  }

  private case class Out(clusters: Array[Row], kept: Long, sim: Array[Row],
      merges: Array[Row], top: Array[Row], books: Seq[Seq[Seq[Double]]], encoded: Long)

  private def pass(spark: SparkSession, d: DataFrame, e: DataFrame, qs: DataFrame): Out = {
    val pairs = op("minhash") { Dedup.minHashLSH(d, "doc_id", "text").localCheckpoint() }
    val clusters = op("clusters") { Dedup.duplicateClusters(pairs).collect() }
    val kept = op("dedup") { noop(Dedup.dedupByClusters(d, "doc_id", pairs), "kept") }
    val sim = op("simhash") { Dedup.simHashPairs(d, "doc_id", "text").collect() }
    val merges = op("bpe") { Bpe.learnMerges(d, "text", Merges).collect() }
    val path = s"${a.work}/ivf"
    op("ivf_build") { IvfIndex.build(e, "vec_id", "embedding", path, nCells = Cells) }
    val top = op("ivf_topk") {
      IvfIndex.topK(spark, path, qs, "vec_id", "embedding", "vec_id", K,
        nprobe = Probes).collect() }
    val books = op("pq_train") {
      Pq.trainCodebooks(e, "vec_id", "embedding", Dim, m = 8, kCodes = 16, iters = 3) }
    val encoded = op("pq_encode") { noop(Pq.encode(e, "vec_id", "embedding", books), "codes") }
    Out(clusters, kept, sim, merges, top, books, encoded)
  }

  def run(spark: SparkSession, rep: Report): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nDocs = docs.count()
    val nVecs = emb.count()
    val family = spark.read.parquet(s"$dir/truth.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val step = math.max(1L, nVecs / Queries)
    val queries = emb.filter(col("vec_id") % step === 0).limit(Queries)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val truthTopK = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", K)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val e10 = emb.filter(col("vec_id") % 10 === 0)
    pass(spark, docs.filter(col("doc_id") % 10 === 0), e10,
      e10.limit(Queries).select(col("vec_id"), col("embedding")))
    ms.clear()
    rep.attempted += 1
    try {
      val o = pass(spark, docs, emb, queries)
      val label = o.clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val planted = family.filter { case (k, f) => k != f }
      val recall = planted.count { case (k, f) =>
        label.get(k).exists(l => label.get(f).contains(l)) }.toDouble / math.max(1, planted.size)
      val falseMerges = label.groupBy(_._2).values
        .map(m => m.keys.map(family).toSet.size - 1).sum
      val dropped = label.count { case (k, l) => k != l }
      val hits = o.top.groupBy(_.getLong(0)).map { case (q, rs) =>
        (rs.map(_.getLong(1)).toSet & truthTopK(q)).size }.sum
      val ivfRecall = hits.toDouble / math.max(1, truthTopK.values.map(_.size).sum)
      val errs = Seq(
        (recall < 0.9) -> f"planted-duplicate recall $recall%.3f < 0.9",
        (falseMerges > 0) -> s"$falseMerges false merges",
        (o.kept != nDocs - dropped) -> s"dedup kept ${o.kept} of $nDocs, want ${nDocs - dropped}",
        (ivfRecall < 0.8) -> f"IVF recall@$K $ivfRecall%.3f < 0.8",
        (o.merges.length != Merges) -> s"${o.merges.length} BPE merges, want $Merges",
        (o.encoded != nVecs) -> s"PQ encoded ${o.encoded} of $nVecs vectors",
        (o.books.size != 8) -> s"${o.books.size} PQ codebooks").collect { case (true, m) => m }
      if (errs.nonEmpty) rep.fail(s"corpus pass: ${errs.mkString("; ")}")
      ms.foreach { case (k, v) => rep.metrics(s"ops.${k}_ms") = v }
      val text = Seq("minhash", "clusters", "dedup", "simhash", "bpe").map(ms).sum
      val vec = Seq("ivf_build", "ivf_topk", "pq_train", "pq_encode").map(ms).sum
      rep.metrics("docs_per_s") = nDocs / (text / 1000)
      rep.metrics("vectors_per_s") = nVecs / (vec / 1000)
      rep.metrics("ops.dedup.planted_recall") = recall
      rep.metrics("ops.dedup.false_merges") = falseMerges.toDouble
      rep.metrics("ops.ivf.recall_at_10") = ivfRecall
      rep.metrics("ops.simhash.pairs") = o.sim.length.toDouble
    } catch {
      case e: Throwable => rep.fail(s"corpus pass: ${e.toString.take(300)}")
    }
  }
}
