package perfbench

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Collected results in a comparable form: numbers as doubles, times as
  * `yyyy-MM-dd[ HH:mm:ss]` text, rows as an order-free multiset — the
  * normalisation `scripts/check_oracle.py` applies. */
final case class Result(columns: Seq[String], rows: Seq[Seq[Any]])

object Check {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  /** Midnight prints as a date: DuckDB's date_trunc returns DATE where
    * Spark's returns TIMESTAMP. */
  private def ts(t: LocalDateTime): String =
    if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) t.toLocalDate.toString else t.format(fmt)

  def canon(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case n: java.lang.Number => n.doubleValue
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: LocalDateTime => ts(t)
    case t: java.time.Instant => ts(LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: Boolean => b
    case s: String => s
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case o => o.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): Result =
    Result(columns, rows.toSeq.map(_.toSeq.map(canon)))

  def collect(df: DataFrame): Result = of(df.columns.toSeq, df.collect())

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 + 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  private def key(r: Seq[Any]): String = r.map {
    case d: Double => f"$d%.6e"
    case o => String.valueOf(o)
  }.mkString("\u0001")

  /** None when equal, else a one-line reason. Columns must match by name
    * (any order); rows compare as sorted multisets with a 1e-9 relative
    * tolerance on numbers. */
  def diff(got: Result, want: Result): Option[String] = {
    if (got.columns.toSet != want.columns.toSet || got.columns.size != want.columns.size)
      return Some(s"columns ${got.columns.mkString(",")} vs ${want.columns.mkString(",")}")
    if (got.rows.size != want.rows.size)
      return Some(s"${got.rows.size} rows vs ${want.rows.size}")
    val idx = got.columns.map(want.columns.indexOf(_))
    val w = want.rows.map(r => idx.map(r(_))).sortBy(key)
    val g = got.rows.sortBy(key)
    g.zip(w).collectFirst { case (x, y) if !close(x, y) =>
      s"row ${x.mkString("|")} vs ${y.mkString("|")}" }
  }

  /** Expected results written by run.py from DuckDB: {name: {columns,
    * rows, duck_ms}}. */
  def loadExpected(path: String): Map[String, (Result, Double)] = {
    if (path.isEmpty) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    def value(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isNull) null
      else if (n.isNumber) n.asDouble
      else if (n.isBoolean) n.asBoolean
      else if (n.isArray) n.elements.asScala.map(value).toSeq
      else n.asText
    root.fields.asScala.map { e =>
      val t = e.getValue
      e.getKey -> (Result(
        t.get("columns").elements.asScala.map(_.asText).toSeq,
        t.get("rows").elements.asScala.map(r => r.elements.asScala.map(value).toSeq).toSeq),
        t.get("duck_ms").asDouble)
    }.toMap
  }
}
