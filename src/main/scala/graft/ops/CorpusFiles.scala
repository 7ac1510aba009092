package graft.ops

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-level file-layout maintenance — the small-file compactor every
  * drip-ingested 100 TB corpus needs as a scheduled job.
  *
  * Continuous ingest (micro-batch appends, per-source slices, CDC drops)
  * leaves a parquet directory with thousands of KB-sized files; every
  * downstream scan then pays per-file open + footer-parse overhead and
  * object-store LIST throttling, and the small row groups defeat
  * column-chunk statistics pruning. Compaction rewrites the directory
  * into size-targeted files and swaps it live with the same crash-safe
  * rename-aside protocol as the index compactors ([[IndexFiles]]): a
  * complete copy of the corpus exists on disk at every instant, and
  * [[recover]] heals the one no-live-directory window.
  *
  * Output file count = ceil(currentBytes / targetBytes), derived from the
  * file listing — no data pass before the rewrite. Two layouts:
  *
  *   - unsorted (`sortCols` empty): round-robin `repartition(n)` —
  *     size-balanced output regardless of input skew (a `coalesce`
  *     would avoid the shuffle but can only merge neighbors: it
  *     inherits ingest-order imbalance and cannot split a fat file);
  *   - sorted (`sortCols` given): `repartitionByRange` + in-partition
  *     sort — the compactor doubles as a layout job, giving each output
  *     file a tight min/max range on the sort key so downstream
  *     point/range scans skip whole files off parquet column statistics.
  *
  * Single-writer contract: don't compact concurrently with an append.
  */
object CorpusFiles {

  /** Compact `<dir>` to ~`targetBytes` files and swap live; returns a
    * one-row receipt (rows, files_before, files_after). */
  def compactBySize(spark: SparkSession, dir: String, targetBytes: Long,
      sortCols: Seq[String] = Nil): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    require(parent != null, s"cannot compact a filesystem root: $dir")
    val bytes = IndexFiles.parquetBytes(spark, dir)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    require(n <= Int.MaxValue, s"$dir: $bytes bytes / $targetBytes per file " +
      "needs more than Int.MaxValue output files")
    IndexFiles.compactWith(spark, parent.toString, p.getName) { df =>
      if (sortCols.isEmpty) df.repartition(n.toInt)
      else df.repartitionByRange(n.toInt, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    }
  }

  /** Heal a compaction swap interrupted in its no-live-directory window
    * (see [[IndexFiles.recover]]); idempotent, rename-only. */
  def recover(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    IndexFiles.recover(spark, p.getParent.toString, p.getName)
  }

  /** Partition-scoped compaction — the form that actually runs at
    * 100 TB. [[compactBySize]] rewrites the whole directory, which is the
    * right tool for a corpus-sized working set but a non-starter for a
    * petabyte table: the scheduled job compacts ONLY the partitions the
    * recent ingest fragmented (yesterday's date partition, the hot
    * source buckets) and never touches the settled ones.
    *
    * Scans the first level of hive-style `<col>=<value>` partition
    * directories, selects those holding more than `maxFiles` parquet
    * files, and rewrites each selected partition with its own
    * crash-safe rename-aside swap ([[IndexFiles.compactWith]] at the
    * partition directory — so a crash mid-job leaves every partition
    * either fully old or fully new, and [[recoverPartitions]] heals the
    * one swap that was in flight). Untouched partitions are never read.
    * The rewrite is driver-sequential per partition (a maintenance job's
    * natural shape — each rewrite is itself a distributed write; bound
    * the blast radius with `maxPartitions`).
    *
    * Returns one receipt row per compacted partition:
    * (partition, rows, files_before, files_after). */
  def compactPartitionsBySize(spark: SparkSession, dir: String,
      targetBytes: Long, maxFiles: Int = 1,
      maxPartitions: Int = Int.MaxValue): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).filter(st =>
      st.isDirectory && st.getPath.getName.contains("=")).map(_.getPath)
      .sortBy(_.getName)
    val hot = parts.iterator.map { part =>
      val files = fs.listStatus(part)
        .filter(_.getPath.getName.endsWith(".parquet"))
      (part, files.length, files.map(_.getLen).sum)
    }.filter(_._2 > maxFiles).take(maxPartitions).toSeq
    import spark.implicits._
    // Partitions compact CONCURRENTLY (bounded pool): each rewrite is a
    // small independent job over one partition's files, and a
    // maintenance pass over a drip-ingested table typically has many
    // fragmented partitions — serializing them leaves the cluster idle
    // between tiny jobs. Safe because each compactWith touches only its
    // own `<dir>/<part>` subtree (swap atomicity is per-partition), and
    // Spark's scheduler accepts concurrent job submission from driver
    // threads.
    val receipts =
      if (hot.size <= 1) hot.map(compactOne(spark, dir, targetBytes))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, hot.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            hot.map(h => scala.concurrent.Future(
              compactOne(spark, dir, targetBytes)(h)))),
          scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }
    receipts.reduceOption(_ union _)
      .getOrElse(Seq.empty[(String, Long, Long, Long)]
        .toDF("partition", "rows", "files_before", "files_after"))
      .select(col("partition"), col("rows"),
        col("files_before"), col("files_after"))
  }

  /** One partition's compact-and-swap, receipt tagged with its name. */
  private def compactOne(spark: SparkSession, dir: String,
      targetBytes: Long)(
      hot: (org.apache.hadoop.fs.Path, Int, Long)): DataFrame = {
    val (part, _, bytes) = hot
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    IndexFiles.compactWith(spark, dir, part.getName)(_.repartition(n))
      .withColumn("partition",
        org.apache.spark.sql.functions.lit(part.getName))
  }

  /** Layout profile of a hive-partitioned corpus from the file listing
    * ALONE — no data is read, so the profile costs one LIST per
    * partition at any table size. This is the scheduler's decision
    * input for [[compactPartitionsBySize]]: run the profile, compact
    * where `fragmented`, and the maintenance loop's read cost tracks
    * directory metadata, not the petabytes inside.
    *
    * One row per partition: (partition, files, bytes, min_file_bytes,
    * max_file_bytes, fragmented) — `fragmented` = more than `maxFiles`
    * parquet files. */
  def partitionProfile(spark: SparkSession, dir: String,
      maxFiles: Int = 1): DataFrame = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    fs.listStatus(p).filter(st =>
      st.isDirectory && st.getPath.getName.contains("=")).map { st =>
      val sizes = fs.listStatus(st.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
      (st.getPath.getName, sizes.length.toLong, sizes.sum,
        if (sizes.isEmpty) 0L else sizes.min,
        if (sizes.isEmpty) 0L else sizes.max,
        sizes.length > maxFiles)
    }.sortBy(_._1).toSeq
      .toDF("partition", "files", "bytes", "min_file_bytes",
        "max_file_bytes", "fragmented")
  }

  /** The one-call maintenance policy a scheduler actually runs:
    * heal any interrupted swap ([[recoverPartitions]]), profile the
    * layout ([[partitionProfile]], listing-only), compact ONLY the
    * fragmented partitions ([[compactPartitionsBySize]]), and re-profile
    * — returning a receipt that PROVES the policy held: per partition,
    * the before/after file counts, whether it was fragmented, and
    * whether it was rewritten. Settled partitions are never read, so a
    * quiet table costs one LIST per partition and zero data I/O.
    *
    * Receipt row: (partition, files_before, was_fragmented, compacted,
    * files_after, still_fragmented). `compacted` ⇔ `was_fragmented`
    * (up to `maxPartitions`), and `still_fragmented` is false for every
    * compacted partition unless its bytes genuinely need more than
    * `maxFiles` files at `targetBytes` each. */
  def maintain(spark: SparkSession, dir: String, targetBytes: Long,
      maxFiles: Int = 1, maxPartitions: Int = Int.MaxValue): DataFrame = {
    recoverPartitions(spark, dir) // eager: heals during the listing map
    val before = partitionProfile(spark, dir, maxFiles)
      .select(col("partition"), col("files").as("files_before"),
        col("fragmented").as("was_fragmented"))
    val receipts = compactPartitionsBySize(spark, dir, targetBytes,
      maxFiles, maxPartitions)
      .select(col("partition"),
        org.apache.spark.sql.functions.lit(true).as("compacted"))
    val after = partitionProfile(spark, dir, maxFiles)
      .select(col("partition"), col("files").as("files_after"),
        col("fragmented").as("still_fragmented"))
    before.join(receipts, Seq("partition"), "left")
      .join(after, Seq("partition"), "left")
      .na.fill(false, Seq("compacted"))
      .orderBy("partition")
  }

  /** Heal any partition whose swap was interrupted: scans for
    * `<part>.old` / `<part>.compact` leftovers and recovers each
    * (idempotent, rename-only). Returns (partition, state) rows. */
  def recoverPartitions(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(p).map(_.getPath.getName)
    val touched = names.collect {
      case n if n.endsWith(".old") => n.dropRight(4)
      case n if n.endsWith(".compact") => n.dropRight(8)
    }.distinct.sorted
    import spark.implicits._
    touched.map(n => (n, IndexFiles.recover(spark, dir, n))).toSeq
      .toDF("partition", "state")
  }
}
