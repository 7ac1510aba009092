package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.gen.Generator
import graft.model.{Catalog, PreAggregation}
import graft.ops.DedupIndex
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `rollup_maintenance`: one client. Each cycle appends a seeded batch of
  * orders rows and documents to the benchmark-owned sources, refreshes
  * the daily orders rollup incrementally, ingests the documents into a
  * dedup index and compacts it, then reads the rollup and probes the
  * index; both reads must see the new rows. Traced runs also time one
  * pass of the corpus pipeline ([[CorpusPass]]).
  *
  * Inputs (from run.py): `orders.parquet/` is a directory the cycles
  * append files to; `batches/orders_<c>.parquet`, `batches/docs_<c>.parquet`
  * and `batches/truth_<c>.parquet` are cycle c's batch and the batch
  * docs' near-duplicate families. run.py makes enough batches for cycles
  * far shorter than today's; a run that still uses them up ends its window
  * there with a failed op. `--watermark` is the first day of the month
  * the batches' orders fall in. */
final class Maintenance(a: Args) extends Workload {
  private val ordersDir = new File(s"${a.data}/orders.parquet")
  private val idx = s"${a.work}/dedup_index"
  private val BaseOrders = 150000L
  private val CompactEvery = 1
  private val Probes = 20
  /** The untraced window runs for `--seconds` and at least this many
    * cycles: a cycle takes 5–9 s on a 4-core host, and its median needs
    * three samples to shrug off one cycle slowed by the host. */
  private val MinCycles = 3

  private var cat: Catalog = _
  private var store: PreAggStore = _
  private var daily: PreAggregation = _
  private var cycle = 0
  private var appendedRows = 0L
  private var catalogMs = 0.0
  private val batches = Option(new File(s"${a.data}/batches").list())
    .map(_.count(_.startsWith("orders_"))).getOrElse(0)

  private def batch(kind: String, c: Int) = s"${a.data}/batches/${kind}_$c.parquet"

  def setup(spark: SparkSession): Unit = {
    // back to the generated sources: drop files earlier set-ups appended
    Option(ordersDir.listFiles()).getOrElse(Array()).filter(_.getName.startsWith("appended-"))
      .foreach(_.delete())
    cycle = 0
    appendedRows = 0
    val t0 = System.nanoTime()
    cat = graft.TpchCatalog.build(a.data)
    catalogMs = (System.nanoTime() - t0) / 1e6
    store = new PreAggStore(spark, cat, s"${a.work}/preagg")
    daily = cat.model("orders").preAggregations.find(_.name == "daily").get
    // the rollup and the index build side by side
    Main.parallel(2)(Seq(
      () => { store.materialize("orders", daily); () },
      () => DedupIndex.build(spark.read.parquet(s"${a.data}/documents.parquet"),
        "doc_id", "text", idx)))
  }

  /** One full cycle. */
  def warmup(spark: SparkSession): Unit = runCycle(spark, new Report)

  private val refreshMs = collection.mutable.ArrayBuffer[Double]()
  private val readMs = collection.mutable.ArrayBuffer[Double]()
  private val cycleIds = collection.mutable.ArrayBuffer[String]()
  private val inputBytes = collection.mutable.ArrayBuffer[Long]()
  private val filesWritten = collection.mutable.ArrayBuffer[Int]()

  /** One maintenance cycle: its latency in ms and the input rows it
    * appended (None when a step failed). */
  private def runCycle(spark: SparkSession, rep: Report): Option[(Double, Long)] = {
    val c = cycle
    cycle += 1
    if (c >= batches) {
      rep.attempted += 1
      rep.fail(s"cycle $c: out of generated batches ($batches)")
      return None
    }
    val id = s"cycle-$c-${if (Trace.enabled) "t" else "u"}"
    val sc = spark.sparkContext
    rep.attempted += 1
    Trace.request(sc, id) {
      try {
        val ordersBatch = new File(batch("orders", c))
        val docsBatch = spark.read.parquet(batch("docs", c))
        val q = SemanticQuery(metrics = Seq("orders.order_count", "orders.revenue"),
          dimensions = Seq("orders.orderstatus"), orderBy = Seq("orderstatus"))
        var refreshed, readMs0 = 0.0
        var refreshStart = 0L
        var gen: Generator = null
        var read: org.apache.spark.sql.DataFrame = null
        var readRows, receipt, hits = Array.empty[org.apache.spark.sql.Row]
        var appendedIds = Array.empty[Long]
        val t0 = System.nanoTime()
        Trace.span("op") {
          Trace.span("append") {
            Files.copy(ordersBatch.toPath, new File(ordersDir, s"appended-$c.parquet").toPath,
              StandardCopyOption.REPLACE_EXISTING)
            // file scans are memoized per path: re-list after the append
            Catalog.invalidateScans(spark)
          }
          val tr = System.nanoTime()
          refreshStart = System.currentTimeMillis()
          Trace.span("preagg.refresh") {
            Trace.group(sc, s"$id-refresh") {
              store.refreshIncremental("orders", daily, a.watermark) }
          }
          refreshed = (System.nanoTime() - tr) / 1e6
          receipt = Trace.span("dedupindex.ingest") {
            Trace.group(sc, s"$id-ingest") {
              DedupIndex.ingest(spark, idx, docsBatch, "doc_id", "text").collect() }
          }
          if (c % CompactEvery == CompactEvery - 1)
            Trace.span("dedupindex.compact") {
              Trace.group(sc, s"$id-compact") { DedupIndex.compact(spark, idx).collect() }
            }
          val tw = System.nanoTime()
          // read after write: a fresh generator (its compile cache holds
          // plans over the pre-append file listing)
          gen = new Generator(spark, cat, Some(store))
          read = Trace.span("gen.compile.cold") { gen.plan(q) }
          readRows = Trace.span("exec.collect") { read.collect() }
          appendedIds = receipt.filter(_.getAs[String]("status") == "appended")
            .map(_.getAs[Long]("batch_id")).sorted.take(Probes)
          val probe = docsBatch.filter(col("doc_id").isin(appendedIds: _*))
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
          hits = Trace.span("dedupindex.query") {
            DedupIndex.query(spark, idx, probe, "doc_id", "text").collect() }
          readMs0 = (System.nanoTime() - tw) / 1e6
        }
        val t1 = System.nanoTime()
        Main.log(f"$id: ${(t1 - t0) / 1e6}%.0f ms, refresh $refreshed%.0f ms, read $readMs0%.0f ms")

        // checks (untimed)
        val newOrders = spark.read.parquet(ordersBatch.getPath).count()
        appendedRows += newOrders
        val total = readRows.map(_.getAs[Long]("order_count")).sum
        val errs = collection.mutable.ArrayBuffer[String]()
        if (total != BaseOrders + appendedRows)
          errs += s"rollup read sees $total orders, want ${BaseOrders + appendedRows}"
        if (!Dashboard.servedByRollup(read))
          errs += "rollup read not served by the rollup"
        Check.diff(Check.of(read.columns.toSeq, readRows),
          Check.collect(gen.plan(q.copy(usePreAggs = false))))
          .foreach(d => errs += s"rollup read vs base tables: $d")
        val family = spark.read.parquet(batch("truth", c)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        receipt.foreach { r =>
          val d = r.getAs[Long]("batch_id")
          val dup = r.getAs[String]("status") != "appended"
          if (dup != (family(d) != d)) errs += s"doc $d ingested as ${r.getAs[String]("status")}"
        }
        val found = hits.map(r => (r.getLong(0), r.getLong(1))).toSet
        appendedIds.filterNot(d => found((d + 1000000000L, d)))
          .foreach(d => errs += s"probe misses appended doc $d")
        if (errs.nonEmpty) { rep.fail(s"$id: ${errs.take(3).mkString("; ")}"); None }
        else {
          if (!Trace.enabled) { refreshMs += refreshed; readMs += readMs0 }
          else {
            cycleIds += id
            inputBytes += ordersBatch.length() + new File(batch("docs", c)).length()
            filesWritten += countNewer(new File(store.rollupPath("orders", daily)), refreshStart)
          }
          Some(((t1 - t0) / 1e6, newOrders + family.size))
        }
      } catch {
        case e: Throwable => rep.fail(s"$id: ${e.toString.take(300)}"); None
      }
    }
  }

  /** Data files under `dir` modified since wall-clock `ms` (a second of
    * slack for coarse file-system timestamps). */
  private def countNewer(dir: File, ms: Long): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array()).map(walk).sum
      else if (f.getName.endsWith(".parquet") && f.lastModified() >= ms - 1000) 1 else 0
    walk(dir)
  }

  def window(spark: SparkSession, seconds: Double, rep: Report): (Seq[Double], Double) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ms = collection.mutable.ArrayBuffer[Double]()
    val minCycles = if (Trace.enabled) 1 else MinCycles
    var rows = 0L
    var n = 0
    do {
      runCycle(spark, rep).foreach { case (t, k) => ms += t; rows += k }
      n += 1
    } while ((System.nanoTime() < deadline || n < minCycles) && cycle <= batches)
    if (!Trace.enabled) {
      rep.metrics("refresh_p50_ms") = Stats.median(refreshMs.toSeq)
      rep.metrics("read_after_write_p50_ms") = Stats.median(readMs.toSeq)
      rep.metrics("cycles") = ms.size.toDouble
    }
    // the op is a cycle; its items are the input rows it appended
    (ms.toSeq, rows / math.max(ms.sum / 1000.0, 1e-9))
  }

  def layers(spark: SparkSession, stats: GroupStats, wallSecs: Double, rep: Report): Unit = {
    val spans = Trace.all
    def ms(n: String) = spans.filter(_.name == n).map(_.ms)
    def groups(step: String) = cycleIds.map(c => stats.get(s"$c-$step"))
    val n = math.max(1, cycleIds.size).toDouble
    rep.metrics("load.catalog_build_ms") = catalogMs
    rep.metrics("preagg.refresh_ms") = Stats.median(ms("preagg.refresh"))
    rep.metrics("preagg.bytes_written") = groups("refresh").map(_.bytesWritten).sum / n
    rep.metrics("preagg.files_written") = filesWritten.sum / n
    rep.metrics("dedupindex.ingest_ms") = Stats.median(ms("dedupindex.ingest"))
    rep.metrics("dedupindex.compact_ms") = Stats.median(ms("dedupindex.compact"))
    rep.metrics("dedupindex.jobs") =
      (groups("ingest") ++ groups("compact")).map(_.jobs).sum / n
    val written = Seq("refresh", "ingest", "compact").flatMap(groups).map(_.bytesWritten).sum
    rep.metrics("write_bytes_per_input_byte") =
      written.toDouble / math.max(1L, inputBytes.sum)
    rep.metrics("gen.compile_cold_ms_p50") = Stats.median(ms("gen.compile.cold"))
    if (Main.timeFor(a, "corpus pass", 60, rep)) new CorpusPass(a).run(spark, rep)
    Exec.report(stats, stats.groups.filter(g => cycleIds.exists(g.startsWith)),
      wallSecs, Nil, rep)
    // per-op means are over cycles, not over the cycle's step groups
    val scale = stats.groups.count(g => cycleIds.exists(g.startsWith)) / n
    Seq("exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op",
      "exec.task_s_per_op", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
      "exec.spill_bytes").foreach(k => rep.metrics(k) = rep.metrics(k) * scale)
  }
}
