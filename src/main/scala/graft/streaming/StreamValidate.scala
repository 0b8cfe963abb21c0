package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming front-end for the same rule corpus.
  *
  * The reference is a synchronous request/response service (no streams,
  * MTBValidationService.scala:15-19); our batch engine is the primary path.
  * This module shows the validation path is execution-mode agnostic: the
  * batch verdict path (compiled rule kernel + verdict projection) runs
  * unchanged over `readStream` micro-batches (incremental ingest
  * validation), plus a watermarked tumbling-window aggregation for
  * streaming metrics — the two standard streaming shapes (stateless
  * transform; windowed stateful agg).
  */
object StreamValidate {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming verdicts: readStream -> span derivation -> the batch verdict
    * path (Validate.verdicts) -> per-doc verdict rows, continuously. */
  def verdictStream(spark: SparkSession, inputDir: String,
                    catalog: Map[String, String]): DataFrame =
    graft.engine.Validate.verdicts(
      graft.data.DocGen.docsFrom(
        spark.readStream.schema(lineitemSchema).parquet(inputDir)),
      catalog)

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming exact dedup on content hash — the streaming analog of
    * ops.Dedup.exactDuplicates' keep-side: the FIRST doc of each content
    * hash passes, later arrivals (same or later micro-batch) are dropped.
    * State is the hash set, which grows unboundedly — only correct for
    * bounded re-ingest windows; use [[dedupEventsStream]]'s watermarked
    * variant when an event-time column exists. */
  def dedupDocsStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(inputDir)
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .dropDuplicates("text_hash")

  /** Watermarked streaming dedup (the production shape): duplicate
    * event_ids arriving within the watermark horizon are dropped and the
    * dedup state is EVICTED once the watermark passes — bounded state at
    * any stream length, the only dedup a 10^12-event stream can run. */
  def dedupEventsStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(inputDir)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-dup FLAGGING against the persisted minhash band index
    * ([[graft.ops.Dedup.minhashBuildIndex]]): each micro-batch of documents
    * is banded row-locally (the same compiled MinHashBands kernel batch
    * uses — [[graft.ops.Dedup.minhashBanded]] is a pure projection, so it
    * runs unchanged on a streaming relation) and left-semi stream-static
    * joined against the index — the ingestion-time "have we seen something
    * like this" gate.
    *
    * Deliberately STATELESS: no watermark, no state store, bounded memory
    * at any stream length. Emits one row per hit (doc_id, band, sig) —
    * per-doc consolidation and exact-Jaccard verification belong to the
    * batch layer ([[graft.ops.Dedup.minhashIncrementalPairs]] over the
    * flagged set), because a per-doc streaming aggregate would need
    * unbounded state for a keyless corpus. The static index side is
    * planned once at query start (micro-batches see a consistent index
    * snapshot; restart the query to pick up appended index rows). */
  def nearDupFlagStream(spark: SparkSession, inputDir: String,
                        indexPath: String): DataFrame =
    graft.ops.Dedup.minhashBanded(
        spark.readStream.schema(documentsSchema).parquet(inputDir))
      .join(graft.engine.TableIO.read(spark, indexPath),
        Seq("band", "sig"), "left_semi")

  /** Watermarked tumbling-window event metrics (1-day windows, 1-day
    * late-data tolerance) — streaming analog of the quarterly report. */
  def windowedEventCounts(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(eventsSchema).parquet(inputDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value"))).cast("long").as("value_sum"))
}
