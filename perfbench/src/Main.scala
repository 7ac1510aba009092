package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of the measuring JVM (see perfbench/run.py, which
  * generates the inputs, builds the classes and launches this). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, cpus: Int, expected: String,
    dates: Seq[String], watermark: String, deadlineMs: Long)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("cpus").toInt,
      m.getOrElse("expected", ""), m.get("dates").toSeq.flatMap(_.split(",")),
      m.getOrElse("watermark", ""), m.get("deadline").map(_.toLong).getOrElse(Long.MaxValue))
  }
}

/** What a workload reports: end-to-end samples from its untraced window,
  * per-layer values from its traced window, and the op tallies. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += what
  }
}

/** A workload: `setup` builds what a caller needs before the first
  * request (catalog, rollups, indexes; timed and repeated), `warmup`
  * issues each request shape once (timed once), `window` drives
  * closed-loop requests for a number of seconds and returns the op
  * latencies (ms) and the items completed per second, `layers` turns the
  * traced window into per-layer metrics. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def window(spark: SparkSession, seconds: Double, rep: Report): (Seq[Double], Double)
  def layers(spark: SparkSession, stats: GroupStats, wallSecs: Double,
      rep: Report): Unit
  /** Post-window output checks (untimed): mismatches become failed ops. */
  def check(spark: SparkSession, rep: Report): Unit = ()
}

object Main {
  /** Set-ups per untraced run; setup_s reports their median. Traced runs
    * report no setup_s and set up once. */
  private val Setups = 3

  /** The session `Bench.main` builds, at this host's width, with every
    * scratch directory inside the benchmark's work dir. */
  def session(a: Args): SparkSession = {
    val cpus = a.cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.aggregate.splitAggregateFunc.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.checkpoint.dir", s"${a.work}/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak heap occupancy right after a collection, in MB: the live set
    * the workload needs, independent of when the collector chose to run.
    * The 90th percentile of the post-collection samples, so one collection
    * that lands mid-burst does not set it alone. */
  final class HeapPeak {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit = {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        samples.add(after.toDouble)
      }
    }
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: javax.management.NotificationEmitter => b }
    def start(): Unit = { samples.clear(); beans.foreach(_.addNotificationListener(listener, null, null)) }
    def stop(): Double = {
      beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
      val v = if (!samples.isEmpty) Stats.pct(samples.asScala.toSeq, 0.9)
        else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
      v / 1048576.0
    }
  }

  /** Run `tasks` on `n` threads, the way concurrent callers would. */
  def parallel(n: Int)(tasks: Seq[() => Unit]): Unit = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit](tasks.asJava)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to math.max(1, n)).map { _ =>
      new Thread(() => {
        var t = queue.poll()
        while (t != null) {
          try t() catch { case e: Throwable => errors.add(e) }
          t = queue.poll()
        }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Stop the session and its context, so the next `session` starts both. */
  def stop(spark: SparkSession): Unit = {
    graft.model.Catalog.invalidateScans(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Whether `needS` seconds are left before the run's deadline for the
    * optional traced step `what`; if not, the step is skipped and counts
    * as a failed op, so a slow run still reports what it measured. */
  def timeFor(a: Args, what: String, needS: Double, rep: Report): Boolean = {
    val left = (a.deadlineMs - System.currentTimeMillis()) / 1000.0
    if (left >= needS) true
    else {
      rep.attempted += 1
      rep.fail(f"$what skipped: $left%.0f s left before the deadline, $needS%.0f s needed")
      false
    }
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--oracles")) {
      // the DuckDB oracle SQL of the dashboard's registry tiles, as JSON
      val m = graft.SparkEntry.oracleSql
      val out = Dashboard.registryTiles.map { n =>
        Json.str(n) + ":" + Json.str(m(n)) }.mkString("{", ",", "}")
      java.nio.file.Files.write(new File(argv(1)).toPath, out.getBytes("UTF-8"))
      return
    }
    val a = Args.parse(argv)
    new File(a.work).mkdirs()
    val wl: Workload = a.workload match {
      case "bi_dashboard" => new Dashboard(a)
      case "rollup_maintenance" => new Maintenance(a)
      case w => sys.error(s"unknown workload $w")
    }
    val rep = new Report

    // set-up: Spark context and session start, catalog, rollups and
    // indexes, several times (each after stopping the previous context, so
    // each pays the context start), then one warmup. setup_s is the median
    // set-up plus the warmup.
    var spark: SparkSession = null
    val setupSecs = (1 to (if (a.trace) 1 else Setups)).map { _ =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(a)
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.warmup(spark)
    val warmSecs = (System.nanoTime() - t0) / 1e9
    log(f"set-ups ${setupSecs.map(x => f"$x%.1f").mkString(" ")} s, warmup $warmSecs%.1f s")
    rep.metrics("setup_s") = Stats.median(setupSecs) + warmSecs
    rep.metrics("warmup_s") = warmSecs

    // untraced window: the end-to-end figures (and, in traced runs, the
    // workload figures among the per-layer metrics)
    val heap = new HeapPeak
    heap.start()
    val (opMs, itemsPerS) = wl.window(spark, a.seconds, rep)
    rep.metrics("peak_heap_mb") = heap.stop()
    rep.metrics("op_p50_ms") = Stats.median(opMs)
    rep.metrics("items_per_s") = itemsPerS
    log(f"window: ${opMs.size} ops, p50 ${Stats.median(opMs)}%.0f ms")

    if (a.trace) {
      // traced window, half as long: spans plus per-group Spark counters
      val stats = new GroupStats
      spark.sparkContext.addSparkListener(stats)
      Trace.clear()
      Trace.enabled = true
      val gc0 = gcMillis()
      val tw = System.nanoTime()
      val (tracedMs, _) = wl.window(spark, a.seconds / 2, rep)
      Trace.enabled = false
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      rep.metrics("jvm.gc_ms") = (gcMillis() - gc0).toDouble
      rep.metrics("trace.op_p50_ms") = Stats.median(tracedMs)
      rep.metrics("trace.overhead_ms") = Stats.median(tracedMs) - Stats.median(opMs)
      // how far the layer spans cover an op: the median op's summed layer
      // self times, and the median time inside an op that no layer span
      // covers; each step's mean self time per op goes to all_metrics
      val ops = Trace.opTrees(Trace.all)
      rep.metrics("trace.layers_self_ms") =
        Stats.median(ops.map(_.tail.map(_._2).sum))
      rep.metrics("trace.unattributed_ms") = Stats.median(ops.map(_.head._2))
      ops.flatten.groupBy(_._1.name).foreach { case (n, xs) =>
        rep.metrics(s"self.${n}_ms") = xs.map(_._2).sum / ops.size }
      log(f"traced window: ${tracedMs.size} ops, p50 ${Stats.median(tracedMs)}%.0f ms")
      wl.layers(spark, stats, (System.nanoTime() - tw) / 1e9, rep)
      spark.sparkContext.removeSparkListener(stats)
      log("layers done")
    }

    wl.check(spark, rep)
    rep.metrics("failed_share") = rep.failed.toDouble / math.max(1L, rep.attempted)
    stop(spark)
    rep.failures.foreach(f => System.err.println(s"FAILED $f"))
    val metrics = rep.metrics.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH {"attempted":${rep.attempted},"failed":${rep.failed},"setup_runs":${Json.arr(setupSecs)},"metrics":$metrics}""")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}
