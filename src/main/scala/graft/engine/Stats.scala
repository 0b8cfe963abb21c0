package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-column statistics as ONE wide aggregate pass (north_star: "a single
  * wide aggregate per partition") — null counts, exact/approx distinct,
  * min/max — then unpivoted to one row per column. The set-at-a-time analog
  * of the per-record presence/size checks the reference accumulates.
  *
  * `exactDistinct = true` uses count(DISTINCT) (oracle-comparable);
  * at 10^12-doc scale use `exactDistinct = false` -> approx_count_distinct
  * (HLL, constant memory, single pass, no expand).
  */
object Stats {

  def columnStats(df: DataFrame, cols: Seq[String],
                  exactDistinct: Boolean = true): DataFrame = {
    val aggs = count(lit(1)).as("n_total") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        (if (exactDistinct) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__nn`, `${c}__nd`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.selectExpr(
      "n_total",
      s"stack(${cols.size}, $stackArgs) as (col_name, n_nonnull, n_distinct, min_v, max_v)")
      .select(
        col("col_name"),
        col("n_total"),
        (col("n_total") - col("n_nonnull")).as("n_null"),
        col("n_distinct"),
        col("min_v"),
        col("max_v"))
  }

  /** Mergeable HLL sketches per column, one wide aggregate pass — the
    * persistable distinct-count path for the metrics table at 10^12 docs
    * (north_star: "distinct-count via HLL sketches"). Sketches union across
    * partitions/buckets/runs via hll_union; estimates via
    * hll_sketch_estimate. Output: one row, a binary sketch per column. */
  def hllSketches(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c => hll_sketch_agg(col(c)).as(s"${c}__hll"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** (col_name, n_distinct_approx) from a sketches row. */
  def hllEstimates(sketches: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', hll_sketch_estimate(`${c}__hll`)").mkString(", ")
    sketches.selectExpr(
      s"stack(${cols.size}, $stackArgs) as (col_name, n_distinct_approx)")
  }

  /** Union two sketch rows (e.g. metrics of two buckets/runs) column-wise. */
  def hllMerge(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    val u = a.unionAll(b)
    val aggs = cols.map(c => hll_union_agg(col(s"${c}__hll")).as(s"${c}__hll"))
    u.agg(aggs.head, aggs.tail: _*)
  }

  /** Heavy-hitter key diagnosis: the k most frequent values of a key
    * column with exact counts and integer parts-per-million share — the
    * measurement that PRECEDES every skew decision in this engine (salt or
    * not, broadcast or not, AQE skew-join thresholds). north_rule:
    * "partitioning / shuffle / skew handled explicitly" — explicitly
    * handled starts with explicitly measured.
    *
    * Scale shape: one map-side-combined groupBy on the key (each task
    * emits one row per distinct key it saw), a driver-scale total, and a
    * TakeOrderedAndProject top-k (per-partition heaps, never a global
    * sort). Ties break deterministically by key value. The ppm share is
    * exact integer arithmetic — no float drift between engines. */
  def heavyKeys(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        expr("cnt * 1000000 div total").as("ppm"))
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(k)
  }

  /** Robust per-group outlier scan (median/MAD): rows whose value deviates
    * from their group's median by more than `k` times the median absolute
    * deviation — the distribution-plausibility rule a stats engine runs
    * where a fixed ClosedInterval bound (SpanRules.QtyRange) can't be
    * declared up front. Mean/stddev would let one extreme value mask
    * others (a single 10^9 outlier inflates sigma past every real anomaly);
    * the median/MAD pair has a 50% breakdown point.
    *
    * Determinism: `valueCol` must be pre-projected to an INTEGER column
    * (e.g. money in cents). Exact interpolated percentile over integers
    * yields only .0/.5 doubles, and the MAD (a median of integer-or-half
    * deviations) only .0/.25/.5/.75 — all exactly representable, so the
    * evidence columns hash-match a DuckDB quantile_cont recomputation
    * bit-for-bit and the `> k*MAD` cut is engine-portable.
    *
    * Scale shape: two grouped `percentile` aggregates (map-side partial
    * merge of the percentile buffers per group) + two joins of the fact
    * against the <=|groups| medians table — group cardinality is small by
    * construction (time buckets / categories), so both joins broadcast;
    * the fact table is never window-partitioned (a hot group would
    * serialize its rows onto one task under a window, but aggregates
    * combine map-side).
    *
    * The narrow fact⋈medians projection is PERSISTED: it is referenced by
    * both the MAD aggregate and the output join, and Spark re-executes
    * shared subplans — without the persist a 100 TB fact is scanned three
    * times (med, mad, output) where two passes (median-then-MAD is
    * inherently two) suffice. OutlierScanSpec counts the FileScans in the
    * executed plan. MEMORY_AND_DISK (the default) so an over-memory
    * partition spills instead of recomputing — recompute here IS the third
    * scan we're avoiding.
    */
  def outliers(df: DataFrame, groupCol: String, idCol: String,
               valueCol: String, k: Double): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5D)").as("med"))
    val withMed = df.select(col(groupCol), col(idCol), col(valueCol))
      .join(med, Seq(groupCol))
      .withColumn("abs_dev", abs(col(valueCol) - col("med")))
      .persist()
    val mad = withMed.groupBy(col(groupCol))
      .agg(expr("percentile(abs_dev, 0.5D)").as("mad"))
    withMed.join(mad, Seq(groupCol))
      .where(col("abs_dev") > lit(k) * col("mad"))
      .select(
        col(groupCol), col(idCol), col(valueCol),
        col("med"), col("mad"), col("abs_dev"),
        lit("R_VALUE_OUTLIER").as("rule_id"),
        lit("warning").as("severity"))
  }

  /** Fixed-width value histogram (clamped top bucket) — groupBy on a derived
    * bucket key; partial aggregation makes this one shuffle of <=nBuckets
    * rows per task regardless of input size. */
  def histogram(df: DataFrame, valueCol: String, width: Double,
                nBuckets: Int): DataFrame =
    df.groupBy(
        least(greatest(floor(col(valueCol) / width), lit(0)), lit(nBuckets - 1))
          .cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
}
