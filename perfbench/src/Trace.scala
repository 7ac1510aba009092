package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's side of
  * the call. `parent` is the id of the enclosing span on the same thread
  * (-1 at the top); `req` names the request (tile, cycle or pass) the
  * span belongs to. */
final case class Span(id: Int, parent: Int, req: String, name: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call: untraced
  * runs pay nothing. Enabled, every span is kept until the run ends. */
object Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val request = ThreadLocal.withInitial[String](() => "")

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, request.get, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  /** Run `body` as request `req`: its spans carry the id, and its Spark
    * jobs run under a job group of the same name, so concurrent requests
    * never share counters. */
  def request[T](sc: SparkContext, req: String)(body: => T): T = {
    request.set(req)
    sc.setJobGroup(req, req, interruptOnCancel = false)
    try body
    finally { sc.clearJobGroup(); request.set("") }
  }

  /** Run `body` with its Spark jobs under their own group `g` (a step of
    * the current request), restoring the request's group afterwards. */
  def group[T](sc: SparkContext, g: String)(body: => T): T = {
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally { val r = request.get; if (r.nonEmpty) sc.setJobGroup(r, r, false) else sc.clearJobGroup() }
  }

  def all: Seq[Span] = spans.asScala.toSeq
  def clear(): Unit = spans.clear()

  /** The span tree of each outermost "op" span (a tile or a cycle), the
    * op first, as (span, self time ms): a span's self time is its
    * duration minus the time its direct children cover (children run on
    * the span's thread, so they nest). */
  def opTrees(ss: Seq[Span]): Seq[Seq[(Span, Double)]] = {
    val kids = ss.groupBy(_.parent)
    def tree(s: Span): Seq[(Span, Double)] = {
      val ks = kids.getOrElse(s.id, Nil)
      (s -> (s.ms - ks.map(_.ms).sum)) +: ks.flatMap(tree)
    }
    val byId = ss.map(s => s.id -> s).toMap
    ss.filter(s => s.name == "op" && byId.get(s.parent).forall(_.name != "op")).map(tree)
  }
}

/** Per-job-group execution counters (jobs, stages, tasks, task time,
  * shuffle, spill, bytes written), fed by the listener bus. Groups come
  * from [[Trace.request]], so overlapping requests do not cross-count. */
final class GroupStats extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var taskNanos, shuffleRead, shuffleWrite, spill, bytesWritten = 0L
  }
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def acc(g: String) = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val a = acc(g)
    a.synchronized { a.jobs += 1; a.stages += j.stageIds.size }
    j.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(t.stageId, ""))
    val m = t.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (t.taskInfo != null) a.taskNanos += t.taskInfo.duration * 1000000L
      if (m != null) {
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def get(g: String): Acc = {
    val a = byGroup.get(g)
    if (a == null) new Acc else a
  }
  def groups: Seq[String] = byGroup.keySet.asScala.toSeq
  def clear(): Unit = { byGroup.clear(); stageGroup.clear() }
}

object Stats {
  /** Nearest-rank percentile (0 for an empty sample). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
