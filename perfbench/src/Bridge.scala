package perfbench

import org.apache.spark.sql.SparkSession

/** Reference columns tying the collect-timed figures to the repo's older
  * `count()`-timed ones: each registry tile once more under `count()` and
  * once under `collect()`, next to DuckDB's `fetchall()` (median of three) of
  * its oracle SQL on the same files (timed by run.py). The tiles run as the
  * older harness ran them, through `SparkEntry.queries`. Not gated. */
object Bridge {
  def run(spark: SparkSession, tiles: Seq[String], data: String,
      expected: Map[String, (Result, Double)], rep: Report): Unit = {
    val entry = graft.SparkEntry.queries
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    val rows = tiles.sorted.map { n =>
      val count = time(entry(n)(spark, data).count())
      val collect = time(entry(n)(spark, data).collect())
      (n, count, collect, expected.get(n).map(_._2).getOrElse(0.0))
    }
    rep.metrics("bridge.count_ms") = rows.map(_._2).sum
    rep.metrics("bridge.collect_ms") = rows.map(_._3).sum
    rep.metrics("bridge.duckdb_fetchall_ms") = rows.map(_._4).sum
    println("PERFBENCH_BRIDGE " + rows.map { case (n, c, k, d) =>
      s"${Json.str(n)}:{\"count_ms\":${Json.num(c)},\"collect_ms\":${Json.num(k)},\"duckdb_fetchall_ms\":${Json.num(d)}}"
    }.mkString("{", ",", "}"))
  }
}
