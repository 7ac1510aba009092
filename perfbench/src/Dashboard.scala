package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.gen.Generator
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import graft.sqlfront.SqlFront
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A dashboard tile shape. `q(date)` is the structured request; with
  * `sql` the tile is issued as semantic SQL and `q` is its structured
  * twin. `date` is the tile's filter literal. */
final case class Template(name: String, q: String => SemanticQuery,
    sql: Option[String => String] = None)

object Dashboard {
  /** Registry tiles: the requests of the `SparkEntry.queries` entries of
    * these names, checked against DuckDB running their
    * `SparkEntry.oracleSql`. They compile through the workload's shared
    * Generator (SparkEntry's own holds no rollups). Not
    * q_fanout_symmetric: on data with a customer that has no orders graft
    * returns a NULL-status group its oracle lacks. */
  val registry: Seq[(String, SemanticQuery)] = Seq(
    "q_simple_agg" -> SemanticQuery(
      metrics = Seq("lineitem.quantity", "lineitem.net_revenue", "lineitem.item_count"),
      dimensions = Seq("lineitem.returnflag", "lineitem.linestatus"),
      orderBy = Seq("returnflag", "linestatus")),
    "q_multi_hop" -> SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"), orderBy = Seq("name")),
    "q_ratio" -> SemanticQuery(
      metrics = Seq("orders.aov", "orders.revenue_per_customer"),
      dimensions = Seq("orders.orderpriority"), orderBy = Seq("orderpriority")),
    "q_derived" -> SemanticQuery(
      metrics = Seq("orders.open_revenue_share"),
      dimensions = Seq("orders.orderpriority"), orderBy = Seq("orderpriority")),
    "q_cumulative" -> SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"), orderBy = Seq("order_date__month")),
    "q_order_limit_offset" -> SemanticQuery(
      metrics = Seq("orders.revenue"), dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("-revenue"), limit = Some(3), offset = Some(1)))
  val registryTiles: Seq[String] = registry.map(_._1)

  private def since(d: String) = Seq(s"orders.order_date__day >= '$d'")

  /** Generated tiles: plain, multi-hop and fan-out aggregates, cumulative
    * and period-over-period windows, top-N, and two semantic-SQL tiles
    * (the registry tiles add ratio and derived metrics). All order their
    * rows; the orders-only and customer-joined aggregates are
    * rollup-routable. */
  val templates: Seq[Template] = Seq(
    Template("g_prio", d => SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count", "orders.avg_order_value"),
      dimensions = Seq("orders.orderpriority"), filters = since(d),
      orderBy = Seq("orderpriority"))),
    Template("g_month", d => SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.order_date__month"), filters = since(d),
      orderBy = Seq("order_date__month"))),
    Template("g_region", d => SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"), filters = since(d),
      orderBy = Seq("-revenue"))),
    Template("g_fanout", d => SemanticQuery(
      metrics = Seq("customer.total_acctbal", "customer.customer_count"),
      dimensions = Seq("orders.orderstatus"), filters = since(d),
      orderBy = Seq("orderstatus"))),
    Template("g_cumulative", d => SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"), filters = since(d),
      orderBy = Seq("order_date__month"))),
    Template("g_mom", d => SemanticQuery(
      metrics = Seq("orders.revenue_mom"),
      dimensions = Seq("orders.order_date__month"), filters = since(d),
      orderBy = Seq("order_date__month"))),
    Template("g_lineitem", d => SemanticQuery(
      metrics = Seq("lineitem.quantity", "lineitem.net_revenue"),
      dimensions = Seq("lineitem.returnflag", "lineitem.linestatus"),
      filters = Seq(s"lineitem.shipdate >= '$d'"),
      orderBy = Seq("returnflag", "linestatus"))),
    Template("g_top_nations", d => SemanticQuery(
      metrics = Seq("orders.revenue"), dimensions = Seq("nation.name"),
      filters = since(d), orderBy = Seq("-revenue"), limit = Some(5))),
    Template("sql_prio", d => SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.orderpriority"), filters = since(d),
      orderBy = Seq("orderpriority")),
      Some(d => "SELECT orders.orderpriority, orders.revenue, " +
        s"orders.order_count FROM orders WHERE orders.order_date__day >= '$d' " +
        "ORDER BY orderpriority")),
    Template("sql_segment", d => SemanticQuery(
      metrics = Seq("orders.revenue"), dimensions = Seq("customer.mktsegment"),
      filters = since(d), orderBy = Seq("mktsegment")),
      Some(d => "SELECT customer.mktsegment, orders.revenue FROM orders " +
        s"WHERE orders.order_date__day >= '$d' ORDER BY mktsegment")))

  val TilesPerDashboard = 6

  /** A plan is served by a rollup when it reads the rollup store's files
    * (decided from the plan itself, not from the generator's last route). */
  def servedByRollup(df: DataFrame): Boolean = df.inputFiles.exists(_.contains("_preagg_"))
  /** The generator's compile cache holds this many requests (LRU). */
  private val PlanCacheSize = 256
}

/** `bi_dashboard`: min(4, cpus) closed-loop clients share one session,
  * Generator, SqlFront and PreAggStore (orders rollups materialized).
  * Each client issues seeded dashboards of six tiles, one after another;
  * about one tile in four carries a fresh filter date, the rest repeat.
  * The op is a tile: issue to rows collected. `--dates base,lo,hi` (from
  * run.py, read off the generated orders): repeated tiles filter from
  * `base`, the date from which the latest quarter of orders fall; fresh
  * dates are uniform in [lo, hi], the span of order dates. */
final class Dashboard(a: Args) extends Workload {
  import Dashboard._

  /** One tile request: a registry entry, or a template at a date. */
  private final case class Req(registry: Option[String], t: Option[Template],
      date: String) {
    val key: String = registry.getOrElse(s"${t.get.name}@$date")
  }

  private var gen: Generator = _
  private var front: SqlFront = _
  private var store: PreAggStore = _
  private val Seq(baseDate, dateLo, dateHi) = a.dates
  private val dateDays = java.time.temporal.ChronoUnit.DAYS.between(
    java.time.LocalDate.parse(dateLo), java.time.LocalDate.parse(dateHi)).toInt + 1
  private val registryQ = registry.toMap
  private val expected = Check.loadExpected(a.expected)
  private var windowNo = 0
  private val clients = math.min(4, a.cpus)

  // requests the compile caches hold, mirrored to tell cold from warm
  private val compiled = new java.util.LinkedHashMap[String, Unit](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Unit]): Boolean =
      size > PlanCacheSize
  }
  // every generated tile's collected result, checked after the window
  private val results = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Result]]()
  private val requests = new ConcurrentHashMap[String, Req]()
  private val tileCount = new ConcurrentHashMap[String, AtomicLong]()
  // traced-window records
  private val phases = new ConcurrentLinkedQueue[(Double, Double, Double)]()
  private val rows = new ConcurrentLinkedQueue[Int]()
  private val tileIds = new ConcurrentLinkedQueue[String]()

  def setup(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    val cat = graft.TpchCatalog.build(a.data)
    catalogMs = (System.nanoTime() - t0) / 1e6
    store = new PreAggStore(spark, cat, s"${a.work}/preagg")
    cat.model("orders").preAggregations.foreach(pa => store.materialize("orders", pa))
    gen = new Generator(spark, cat, Some(store))
    front = new SqlFront(spark, cat, gen)
    compiled.synchronized(compiled.clear())
  }

  def warmup(spark: SparkSession): Unit = {
    // every tile shape once, at the base date
    val warm = registryTiles.map(n => Req(Some(n), None, baseDate)) ++
      templates.map(t => Req(None, Some(t), baseDate))
    Main.parallel(clients)(warm.map(r => () => { tile(spark, r, "warmup", new Report); () }))
  }

  private var catalogMs = 0.0

  /** Next tile: shapes come from a seeded deck of every registry tile and
    * template, reshuffled when used up. The clients share one deck, so the
    * tiles of a window cover each shape nearly equally often, and each run
    * issues nearly the same mix. Every fourth tile is due a fresh seeded
    * date (the next template tile takes it), so about one tile in four
    * is new to the compile caches in every run, not just on average. */
  private final class Deck(rng: java.util.Random) {
    private val shapes: Seq[Either[String, Template]] =
      registryTiles.map(Left(_)) ++ templates.map(Right(_))
    private var deck = List.empty[Either[String, Template]]
    private var drawn, freshDue = 0
    def draw(): Req = {
      if (deck.isEmpty) deck = scala.util.Random.javaRandomToRandom(rng).shuffle(shapes).toList
      val next = deck.head
      deck = deck.tail
      drawn += 1
      if (drawn % 4 == 0) freshDue += 1
      next match {
        case Left(n) => Req(Some(n), None, baseDate)
        case Right(t) if freshDue > 0 =>
          freshDue -= 1
          val d = java.time.LocalDate.parse(dateLo).plusDays(rng.nextInt(dateDays).toLong)
          Req(None, Some(t), d.toString)
        case Right(t) => Req(None, Some(t), baseDate)
      }
    }
  }

  /** Issue one tile; its latency in ms, or None when it failed. */
  private def tile(spark: SparkSession, r: Req, id: String, rep: Report): Option[Double] =
    Trace.request(spark.sparkContext, id) {
      val cold = compiled.synchronized {
        val c = !compiled.containsKey(r.key); compiled.put(r.key, ()); c
      }
      val t0 = System.nanoTime()
      try {
        val df = r match {
          case Req(Some(n), _, _) =>
            Trace.span(if (cold) "gen.compile.cold" else "gen.compile.warm") {
              gen.plan(registryQ(n)) }
          case Req(_, Some(Template(_, _, Some(sql))), d) =>
            Trace.span("sqlfront.rewrite") { front.sql(sql(d)) }
          case Req(_, Some(t), d) =>
            Trace.span(if (cold) "gen.compile.cold" else "gen.compile.warm") {
              gen.plan(t.q(d)) }
          case _ => sys.error("empty request")
        }
        val got = Trace.span("exec.collect") { df.collect() }
        val ms = (System.nanoTime() - t0) / 1e6
        val res = Check.of(df.columns.toSeq, got)
        if (Trace.enabled) {
          val ph = df.queryExecution.tracker.phases
          def p(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          phases.add((p("analysis"), p("optimization"), p("planning")))
          rows.add(got.length)
          tileIds.add(id)
        }
        requests.putIfAbsent(r.key, r)
        val mismatch = r.registry match {
          case Some(n) =>
            expected.get(n) match {
              case None => Some("no oracle result")
              case Some((want, _)) => Check.diff(res, want)
            }
          case None =>
            results.computeIfAbsent(r.key, _ => new ConcurrentLinkedQueue[Result]()).add(res)
            None
        }
        tileCount.computeIfAbsent(r.key, _ => new AtomicLong()).incrementAndGet()
        mismatch.foreach(d => rep.fail(s"${r.key}: $d"))
        if (mismatch.isEmpty) Some(ms) else None
      } catch {
        case e: Throwable => rep.fail(s"${r.key}: ${e.toString.take(300)}"); None
      }
    }

  private val tileSamples = new ConcurrentLinkedQueue[Double]()

  def window(spark: SparkSession, seconds: Double, rep: Report): (Seq[Double], Double) = {
    windowNo += 1
    tileSamples.clear()
    val dashboards = new ConcurrentLinkedQueue[Double]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val deck = new Deck(new java.util.Random(a.seed * 7919 + windowNo * 131))
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var n = 0
        while (System.nanoTime() < deadline) {
          val dash = deck.synchronized(Seq.fill(TilesPerDashboard)(deck.draw()))
          val t0 = System.nanoTime()
          var ok = true
          // the window ends at the deadline: an unfinished dashboard is
          // dropped, its finished tiles count
          Trace.span("dashboard") {
            dash.foreach { r =>
              if (System.nanoTime() < deadline) {
                n += 1
                rep.synchronized(rep.attempted += 1)
                Trace.span("op")(tile(spark, r, s"w$windowNo-c$c-t$n", rep)) match {
                  case Some(ms) => tileSamples.add(ms)
                  case None => ok = false
                }
              } else ok = false
            }
          }
          if (ok) dashboards.add((System.nanoTime() - t0) / 1e6)
        }
      }, s"client-$c")
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val tiles = tileSamples.asScala.toSeq
    val dash = dashboards.asScala.toSeq
    if (!Trace.enabled) {
      rep.metrics("dashboard_p50_ms") = Stats.median(dash)
      rep.metrics("dashboard_p95_ms") = Stats.pct(dash, 0.95)
      rep.metrics("tile_p50_ms") = Stats.median(tiles)
      rep.metrics("tile_p95_ms") = Stats.pct(tiles, 0.95)
      rep.metrics("tiles_per_s") = tiles.size / elapsed
      rep.metrics("dashboards") = dash.size.toDouble
    }
    // the op is a tile
    (tiles, tiles.size / elapsed)
  }

  def layers(spark: SparkSession, stats: GroupStats, wallSecs: Double, rep: Report): Unit = {
    val spans = Trace.all
    def ms(p: String => Boolean) = spans.filter(s => p(s.name)).map(_.ms)
    rep.metrics("load.catalog_build_ms") = catalogMs
    rep.metrics("gen.compile_cold_ms_p50") = Stats.median(ms(_ == "gen.compile.cold"))
    rep.metrics("gen.compile_warm_ms_p50") = Stats.median(ms(_ == "gen.compile.warm"))
    rep.metrics("gen.compile_ms_p95") = Stats.pct(ms(_.startsWith("gen.compile")), 0.95)
    rep.metrics("sqlfront.rewrite_ms_p50") = Stats.median(ms(_ == "sqlfront.rewrite"))
    val ph = phases.asScala.toSeq
    rep.metrics("catalyst.analysis_ms") = Stats.median(ph.map(_._1))
    rep.metrics("catalyst.optimization_ms") = Stats.median(ph.map(_._2))
    rep.metrics("catalyst.planning_ms") = Stats.median(ph.map(_._3))
    Exec.report(stats, tileIds.asScala.toSeq, wallSecs,
      rows.asScala.map(_.toDouble).toSeq, rep)
    // the kernel micro-harness rides on this workload's traced runs, the
    // corpus pass on rollup_maintenance's, which balances their run time
    if (Main.timeFor(a, "kernel micro-harness", 20, rep)) Kernels.run(spark, rep)
  }

  /** Generated tiles must equal the same request compiled without
    * rollups; semantic-SQL tiles must equal that of their structured twin.
    * Traced runs also find, per distinct request, whether a rollup
    * matches it and whether its plan reads one. */
  override def check(spark: SparkSession, rep: Report): Unit = {
    val matched, served = new AtomicLong()
    Main.parallel(clients)(requests.asScala.toSeq.map { case (key, r) => () =>
      val q = r.registry.map(registryQ).getOrElse(r.t.get.q(r.date))
      try {
        Option(results.get(key)).foreach { got =>
          val want = Check.collect(gen.plan(q.copy(usePreAggs = false)))
          got.asScala.foreach(g => Check.diff(g, want).foreach(d => rep.fail(s"$key: $d")))
        }
        if (a.trace) {
          val n = tileCount.get(key).get
          if (store.explainCandidates(q).candidates.exists(_.matched)) {
            matched.addAndGet(n)
            if (Dashboard.servedByRollup(gen.plan(q))) served.addAndGet(n)
          }
        }
      } catch {
        case e: Throwable => rep.fail(s"$key check: ${e.toString.take(300)}")
      }
    })
    if (a.trace) {
      rep.metrics("preagg.routed_share") =
        if (matched.get == 0) 0.0 else served.get.toDouble / matched.get
      if (Main.timeFor(a, "bridge", 15, rep))
        Bridge.run(spark, registryTiles, a.data, expected, rep)
    }
  }
}

/** Execution counters of a set of requests (job groups) as per-op means. */
object Exec {
  def report(stats: GroupStats, groups: Seq[String], wallSecs: Double,
      resultRows: Seq[Double], rep: Report): Unit = {
    val accs = groups.map(stats.get)
    val n = math.max(1, groups.size).toDouble
    def mean(f: stats.Acc => Long) = accs.map(f).sum / n
    rep.metrics("exec.jobs_per_op") = mean(_.jobs)
    rep.metrics("exec.stages_per_op") = mean(_.stages)
    rep.metrics("exec.tasks_per_op") = mean(_.tasks)
    rep.metrics("exec.task_s_per_op") = mean(_.taskNanos) / 1e9
    rep.metrics("exec.parallelism") =
      accs.map(_.taskNanos).sum / 1e9 / math.max(wallSecs, 1e-9)
    rep.metrics("exec.shuffle_read_bytes") = mean(_.shuffleRead)
    rep.metrics("exec.shuffle_write_bytes") = mean(_.shuffleWrite)
    rep.metrics("exec.spill_bytes") = mean(_.spill)
    rep.metrics("exec.result_rows") =
      if (resultRows.isEmpty) 0.0 else resultRows.sum / resultRows.size
  }
}
