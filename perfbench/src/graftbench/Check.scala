package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Correctness gate: verdict-class counts and severity totals of a pass
  * against the oracle recount stored with the input. */
object Check {

  val keys: Seq[String] = Seq("n_docs", "n_valid", "n_acceptable",
    "n_invalid", "n_rejected", "n_fatal", "n_error", "n_warn", "n_info")

  /** Aggregates over a verdicts relation (doc_id, verdict, n_fatal, ...),
    * named as in `keys`. */
  def countCols: Seq[Column] = {
    def cls(v: String) =
      sum(when(col("verdict") === v, 1L).otherwise(0L)).as(s"n_$v")
    def sev(c: String) = sum(col(c).cast("long")).as(c)
    Seq(count(lit(1)).as("n_docs"), cls("valid"), cls("acceptable"),
      cls("invalid"), cls("rejected"),
      sev("n_fatal"), sev("n_error"), sev("n_warn"), sev("n_info"))
  }

  /** Attaches the counts to `verdicts` as an observation, so the timed pass
    * itself yields them; read them with `get` after the action. */
  def observe(verdicts: DataFrame): (DataFrame, Observation) = {
    val obs = Observation("verdict_counts")
    (verdicts.observe(obs, countCols.head, countCols.tail: _*), obs)
  }

  def get(obs: Observation): Map[String, Long] =
    toLongs(obs.get)

  /** Counts of a (small or large) verdicts relation by one aggregate job. */
  def countOf(verdicts: DataFrame): Map[String, Long] = {
    val r = verdicts.agg(countCols.head, countCols.tail: _*).head()
    toLongs(keys.map(k => k -> r.getAs[Any](k)).toMap)
  }

  def toLongs(m: Map[String, Any]): Map[String, Long] =
    keys.map(k => k -> Option(m.getOrElse(k, null)).map {
      case n: java.lang.Number => n.longValue()
      case o => o.toString.toLong
    }.getOrElse(0L)).toMap

  def add(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    keys.map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap

  /** Mismatch messages; empty when every count equals the oracle's. */
  def compare(expected: Map[String, Long], got: Map[String, Long]): Seq[String] =
    keys.flatMap { k =>
      val (e, g) = (expected.getOrElse(k, -1L), got.getOrElse(k, -1L))
      if (e == g) None else Some(s"$k: expected $e, got $g")
    }

  def severityTotal(m: Map[String, Long]): Long =
    m("n_fatal") + m("n_error") + m("n_warn") + m("n_info")

  /** The checker must reject a count that is off by one, in either
    * direction, on every key. Run before any timing. */
  def selfTest(expected: Map[String, Long]): Unit = {
    require(compare(expected, expected).isEmpty, "checker rejects the oracle itself")
    for (k <- keys; d <- Seq(-1L, 1L)) {
      val off = expected.updated(k, expected(k) + d)
      require(compare(expected, off).nonEmpty,
        s"checker accepted $k off by $d")
    }
  }
}
