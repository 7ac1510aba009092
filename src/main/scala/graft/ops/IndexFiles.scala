package graft.ops

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Shared file-layout maintenance for the three persisted indexes
  * ([[DedupIndex]] `keys/`, [[IvfIndex]] `cells/`, [[TextIndex]]
  * `postings/`). Compaction rewrites a partitioned directory so each
  * partition holds one file set again (the append tail's small-files
  * problem: per-append file listing + parquet footer overhead on every
  * probe, and object-store LIST throttling at scale).
  *
  * Swap protocol — every step is a directory-atomic operation, and a
  * COMPLETE copy of the index exists on disk at every instant:
  *
  *   1. write the compacted copy to `<live>.compact` (overwrite);
  *   2. rename `<live>` aside to `<live>.old`;
  *   3. rename `<live>.compact` into place as `<live>`;
  *   4. delete `<live>.old`.
  *
  * A crash between 2 and 3 is the only window with no `<live>`
  * directory, and BOTH `<live>.old` (old layout, complete) and
  * `<live>.compact` (new layout, complete) exist there — [[recover]]
  * heals it by renaming one into place, and [[compactWith]] invokes it
  * first, so re-running compact heals too. Contrast delete-then-rename,
  * whose crash window destroys the old copy before the new one is live.
  * Single-writer contract as with the ingest paths: don't compact
  * concurrently with an append/ingest.
  *
  * The compaction receipt (rows, files_before, files_after) costs no
  * job of its own: `rows` is observed on the write itself and the file
  * counts come from `listStatus` walks (see [[compactWith]]).
  */
private[graft] object IndexFiles {

  /** Hash `df` on `keys` across a SCALE-ADAPTIVE task width before a
    * `partitionBy(keys)` write — [[graft.preagg.PreAggStore.writeWidth]]
    * applied to the index layouts. A bare `repartition(col(key))` plans a
    * REPARTITION_BY_COL exchange that AQE coalesces to ONE task for a
    * small index, and that task then opens every partition directory's
    * parquet writer SEQUENTIALLY (profiled at sf0.1: the one-task
    * compact/build writes spent 0.9 s serially initializing ~64 zstd
    * writers; guide §6 small-files / §2.2 write sizing). The explicit
    * width keeps writer inits parallel at the small end and saturates
    * the cluster at the big end (width caps at defaultParallelism, one
    * task per `spark.graft.write.bytesPerTask` of estimated bytes). Each
    * task still owns whole key directories, so the file count per
    * partition stays min(width, keys) — never tasks × dirs. */
  def writeShaped(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(graft.preagg.PreAggStore.writeWidth(df), keys: _*)

  /** Store-scoped read coalescing for a persisted index/rollup layout.
    * Spark's leaf-parallelism floor (`spark.sql.files.minPartitionNum` =
    * core count) splits a small fragmented store — 64 partition dirs of
    * kilobyte files after an ingest tail — into 27-32 read tasks of
    * ~30-180 ms fixed cost each (reader init, deserialize, GC; profiled
    * 2.0 CPU·s to read 6.5 k index rows). A SESSION-level floor change
    * was measured and rejected: it also de-parallelized CPU-dense SOURCE
    * scans (the zipfian sf1 battery's collapse fronts regressed 2×), so
    * the fix is scoped to reads of layouts WE wrote, which are
    * fixed-cost-bound by construction. Below
    * `spark.graft.read.coalesceMaxBytes` (default 64 MiB estimate) the
    * scan is coalesced — no shuffle — to one task per
    * `spark.graft.read.bytesPerTask` (default 8 MiB); above the gate the
    * scan's own splits stand, so a cluster-scale store keeps full read
    * parallelism. */
  def readShaped(spark: SparkSession, path: String): DataFrame = {
    def conf(k: String, dflt: Long): Long = spark.conf.getOption(k)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(dflt)
    val df = spark.read.parquet(path)
    val gate = conf("spark.graft.read.coalesceMaxBytes", 64L << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(gate)) return df
    val perTask = math.max(1L, conf("spark.graft.read.bytesPerTask", 8L << 20))
    val par = spark.sparkContext.defaultParallelism
    df.coalesce(((bytes / perTask) + 1).min(BigInt(par)).toInt)
  }

  /** Every parquet file under `p`, from a recursive `listStatus` walk.
    * Never Hadoop's recursive `listFiles`: it builds a `LocatedFileStatus`
    * per file, which reads the file's permissions, and on a local
    * filesystem without the native Hadoop library each permission read
    * forks a subprocess (measured on a 4-core host: ~4 ms per file,
    * 0.5-0.7 s to list a 64-partition index, ~10 ms for this walk). */
  private def parquetStatuses(fs: FileSystem, p: Path): Iterator[FileStatus] =
    fs.listStatus(p).iterator.flatMap { st =>
      if (st.isDirectory) parquetStatuses(fs, st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Iterator.single(st)
      else Iterator.empty
    }

  /** Heal a swap interrupted in the window between steps 2 and 3: when
    * `<live>` is missing, rename the completed `<live>.compact` into
    * place (preferring the new layout — it holds the same rows), else
    * fall back to `<live>.old`; stale leftovers from a completed swap
    * are deleted. Idempotent, cheap (renames only), safe to call on a
    * healthy index (no-op). Returns the state found:
    * "ok" | "recovered_compact" | "recovered_old". */
  def recover(spark: SparkSession, path: String, sub: String): String = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/$sub.compact")
    val old = new Path(s"$path/$sub.old")
    val state =
      if (fs.exists(live)) "ok"
      else if (fs.exists(tmp)) {
        require(fs.rename(tmp, live), s"recover: rename $tmp -> $live failed")
        "recovered_compact"
      } else if (fs.exists(old)) {
        require(fs.rename(old, live), s"recover: rename $old -> $live failed")
        "recovered_old"
      } else throw new IllegalStateException(
        s"no $sub, $sub.compact or $sub.old under $path — not an index")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    if (state != "ok") spark.catalog.refreshByPath(live.toString)
    state
  }

  /** Rewrite `<path>/<sub>` repartitioned by `partCol` (one file set
    * per partition), swap it live per the protocol above, and return
    * one row: (rows, files_before, files_after). */
  def compactSwap(spark: SparkSession, path: String, sub: String,
      partCol: String): DataFrame =
    compactWith(spark, path, sub, partCol)(writeShaped(_, col(partCol)))

  /** The shared compact-then-swap skeleton: `shape` lays out the live
    * frame (repartition, sort), the result is overwrite-written to
    * `<sub>.compact` — partitioned by `partitionBy` when given — and
    * that copy is swapped live per the protocol above.
    *
    * Returns one row: (rows, files_before, files_after). Nothing is
    * read back to build it. `rows` is counted by an `Observation` on
    * the written frame: it sits above `shape`'s exchange, in the write's
    * own result stage, so a re-run map stage cannot count a row twice.
    * The file counts come from a `listStatus` walk of the live
    * directory before the write and after the swap. */
  def compactWith(spark: SparkSession, path: String, sub: String,
      partitionBy: String*)(shape: DataFrame => DataFrame): DataFrame = {
    recover(spark, path, sub) // heal a prior crashed swap before reading
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/$sub.compact")
    val old = new Path(s"$path/$sub.old")
    val filesBefore = parquetStatuses(fs, live).size.toLong
    val written = Observation()
    shape(readShaped(spark, live.toString))
      .observe(written, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(tmp.toString)
    val rows = writtenRows(spark, written, tmp)
    // a stale .old from a previous crashed swap would block the rename
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(live, old), s"rename $live -> $old failed")
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    fs.delete(old, true)
    // drop any cached plan still pointing at the pre-compaction files
    spark.catalog.refreshByPath(live.toString)
    val filesAfter = parquetStatuses(fs, live).size.toLong
    import spark.implicits._
    Seq((rows, filesBefore, filesAfter))
      .toDF("rows", "files_before", "files_after")
  }

  /** The row count `written` observed. Observed metrics arrive
    * through the listener bus, a few ms after the write returns;
    * should they not arrive (a listener queue that dropped events), the
    * copy at `tmp` — complete, not yet live — is counted instead. */
  private def writtenRows(spark: SparkSession, written: Observation,
      tmp: Path): Long =
    try Await.result(written.future, 10.seconds).getLong(0)
    catch { case _: TimeoutException =>
      spark.read.parquet(tmp.toString).count()
    }

  /** Recursive parquet byte size of a directory (file-listing only). */
  def parquetBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    parquetStatuses(fs, p).map(_.getLen).sum
  }
}
