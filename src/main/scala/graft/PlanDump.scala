package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to `<outDir>/<q>.txt`
  * — the committed plan evidence for optimization rounds (plans/rNN/).
  * Usage: runMain graft.PlanDump <outDir> <q1,q2,...> [suffix]
  * Exits 1 when any requested query is unknown or fails.
  * Session config mirrors Bench so the captured plan is the plan the
  * bench actually times (same AQE / shuffle-partition settings).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.aggregate.splitAggregateFunc.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "256")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val matched = SparkEntry.queries.filter { case (k, _) => names(k) }
    // a requested name that matches no query is an evidence bug, not a
    // silent no-op — the committed plans must cover what was asked for
    val unknown = (names -- matched.keySet).toSeq.sorted
    unknown.foreach(n => println(s"PLAN $n UNKNOWN: no such query"))
    val failed = matched.toSeq.sortBy(_._1).filterNot { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // EXECUTE before dumping so the formatted plan is the AQE-final
          // runtime plan the bench times (isFinalPlan=true: coalesced
          // AQEShuffleReads, runtime join rewrites), not the initial
          // speculative one. collect() — not a noop write — because the
          // write would spawn its OWN QueryExecution and leave THIS one
          // (the dumped one) unexecuted; results are report-sized.
          df.collect()
          val txt = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"PLAN $name -> $outDir/$name$suffix.txt")
          true
        } catch { case e: Throwable =>
          println(s"PLAN $name FAILED: ${e.getMessage}")
          false
        }
      }
    spark.stop()
    // a missing or failed plan is a named failure AND a non-zero exit,
    // so a script capturing plans cannot commit a partial set
    if (unknown.nonEmpty || failed.nonEmpty) sys.exit(1)
  }
}
