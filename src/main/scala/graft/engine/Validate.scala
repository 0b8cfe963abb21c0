package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.rules.RuleSet

/** The main validation path: read -> one narrow projection computing the
  * whole violations array + verdict per doc -> violations/verdicts outputs.
  *
  * Spark rebuild of `service ! Validate(...)` (MTBValidationServiceImpl
  * .scala:40-46): the applicative per-record fold becomes a single
  * whole-stage-codegen projection — zero shuffles, zero UDFs, no explode
  * until the violations table is materialized.
  */
object Validate {

  /** docs + `violations` array column: the compiled SpanViolations
    * expression (one pass per row, compiled Scala). Batch, streaming,
    * checkpointed and repair runs all validate through here. */
  def withViolations(docs: DataFrame, catalog: Map[String, String]): DataFrame =
    docs.withColumn("violations",
      graft.functions.SpanViolations(col("spans"),
        catalog.keys.toSeq, DocGen.kindVocab,
        DocGen.versionedCatalog(catalog.keys), DocGen.latestCatalogVersion))

  /** Flat violations table (doc_id, rule_id, severity, path, message).
    *
    * explode_outer + IS NOT NULL, not plain explode: InferFiltersFromGenerate
    * would infer `size(violations) > 0` from explode and push it below the
    * projection, inlining the whole rule corpus (and the span expressions,
    * once per rule reference) into a Filter — measured 5x slower. The
    * outer variant is exempt; the null rows from violation-free docs are
    * dropped on the generator OUTPUT attribute, which cannot be pushed down.
    */
  def violations(docs: DataFrame, catalog: Map[String, String]): DataFrame =
    withViolations(docs, catalog)
      .select(col("doc_id"), explode_outer(col("violations")).as("v"))
      .where(col("v").isNotNull)
      .select(
        col("doc_id"),
        col("v.rule_id").as("rule_id"),
        col("v.severity").as("severity"),
        col("v.path").as("path"),
        col("v.message").as("message"))

  /** Per-doc verdict + severity counts for every doc (including valid). */
  def verdicts(docs: DataFrame, catalog: Map[String, String]): DataFrame =
    withViolations(docs, catalog)
      .select(col("doc_id") +: RuleSet.verdictCols(col("violations")): _*)

  /** Per-partition validation metrics: for every value of `partCol` (the
    * table's partition key — e.g. the shipdate day a lake layout would
    * partition by), the document count, per-verdict-class counts, and total
    * severity counts — the north rule's "per-partition pass/fail" rolled up
    * as a first-class relation (the per-bucket metrics Checkpoint persists,
    * here as one declarative query over the live table).
    *
    * Scale shape: the whole rule corpus evaluates inside the scan
    * projection (zero pre-shuffle), then ONE aggregate keyed by the
    * partition column. Partition keys are low-cardinality (~10^3 days) but
    * every input row collapses to counters in the map-side partial
    * aggregate, so each mapper ships <= |days| counter rows — a hot
    * partition costs no more than an empty one. */
  def partitionMetrics(docs: DataFrame, catalog: Map[String, String],
                       partCol: String = "ship_day"): DataFrame = {
    val perDoc = withViolations(docs, catalog)
      .select(col(partCol) +: RuleSet.verdictCols(col("violations")): _*)
    def classCount(cls: String) =
      sum(when(col("verdict") === cls, 1L).otherwise(0L)).as(s"n_$cls")
    perDoc
      .groupBy(col(partCol))
      .agg(
        count(lit(1)).as("n_docs"),
        classCount("valid"), classCount("acceptable"),
        classCount("invalid"), classCount("rejected"),
        sum(col("n_fatal").cast("long")).as("n_fatal"),
        sum(col("n_error").cast("long")).as("n_error"),
        sum(col("n_warn").cast("long")).as("n_warn"),
        sum(col("n_info").cast("long")).as("n_info"))
  }

  /** Order-preserving span-sequence fingerprint via an aggregate HOF —
    * evidences the north-star invariant that the engine preserves exact
    * span-sequence semantics (kind, text, media_ref, order) without
    * exploding. */
  def spanFingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // transform + array_join, not an aggregate fold with a growing acc
      // string: the fold re-copies the accumulated prefix on every element
      // (quadratic bytes per row) where the per-element projection builds
      // each piece once and joins in one pass. Same output on every
      // non-null-offset row (offsets are non-null by construction; a null
      // offset would null its element, which array_join skips where the
      // fold poisoned the whole fingerprint).
      array_join(transform(col("spans"), s => concat(
        coalesce(s.getField("kind"), lit("~")), lit(":"),
        coalesce(s.getField("text"), lit("~")), lit(":"),
        coalesce(s.getField("media_ref"), lit("~")), lit(":"),
        s.getField("offset").cast("string"), lit("|"))), "").as("span_fp"))

  def run(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val catalog = DocGen.mediaCatalogMap(spark, sfDir)
    val docs = DocGen.docs(spark, sfDir)
    (violations(docs, catalog), verdicts(docs, catalog))
  }
}
