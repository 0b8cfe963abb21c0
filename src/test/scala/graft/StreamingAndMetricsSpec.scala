package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.engine.{Drift, Stats, Validate}
import graft.streaming.StreamValidate

class StreamingAndMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def stage(table: String): String = {
    val dir = Files.createTempDirectory(s"graft-stream-$table")
    Files.copy(Paths.get(s"$sf/$table.parquet"),
      dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("hll sketches: estimates close to exact, merge across halves equals whole") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cols = Seq("doc_id", "lang", "source")
    val est = Stats.hllEstimates(Stats.hllSketches(docs, cols), cols)
      .as[(String, Long)].collect().toMap
    val exact = Map(
      "doc_id" -> docs.select(countDistinct("doc_id")).as[Long].head(),
      "lang" -> docs.select(countDistinct("lang")).as[Long].head(),
      "source" -> docs.select(countDistinct("source")).as[Long].head())
    cols.foreach { c =>
      assert(math.abs(est(c) - exact(c)).toDouble / exact(c) < 0.05,
        s"$c: est ${est(c)} vs exact ${exact(c)}")
    }
    // mergeability: sketch(half A) union sketch(half B) ~ sketch(whole)
    val a = Stats.hllSketches(docs.where(col("doc_id") % 2 === 0), cols)
    val b = Stats.hllSketches(docs.where(col("doc_id") % 2 === 1), cols)
    val merged = Stats.hllEstimates(Stats.hllMerge(a, b, cols), cols)
      .as[(String, Long)].collect().toMap
    cols.foreach { c =>
      assert(math.abs(merged(c) - exact(c)).toDouble / exact(c) < 0.05,
        s"$c merged: ${merged(c)} vs exact ${exact(c)}")
    }
  }

  test("drift vs persisted snapshot detects a shift and accepts no-shift") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val snapDir = Files.createTempDirectory("graft-snap").toString
    Drift.histogramSnapshot(docs, "n_chars", 50.0, 10)
      .write.mode("overwrite").parquet(snapDir)
    val snapshot = spark.read.parquet(snapDir)
    val same = Drift.psiKsAgainstSnapshot(docs, "n_chars", snapshot, 50.0, 10)
      .as[(String, Double)].collect().toMap
    assert(same("psi") < 0.01 && same("ks") < 0.01)
    val shifted = docs.withColumn("n_chars", col("n_chars") + 200)
    val drift = Drift.psiKsAgainstSnapshot(shifted, "n_chars", snapshot, 50.0, 10)
      .as[(String, Double)].collect().toMap
    assert(drift("psi") > 0.5, s"psi ${drift("psi")}")
    assert(drift("ks") > 0.3, s"ks ${drift("ks")}")
  }

  test("rule-level drift: same rule mix ~ 0, shifted rule mix detected") {
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val docs = DocGen.docs(spark, sf)
    def ruleCounts(d: org.apache.spark.sql.DataFrame) =
      Validate.violations(d, catalog).groupBy("rule_id").count()
    val ok = split(col("doc_id"), "-").getItem(0).cast("long")
    val base = ruleCounts(docs.where(ok % 2 === 0))
    val same = ruleCounts(docs.where(ok % 2 === 1))
    val psiSame = Drift.rulePsi(base, same).select("value").as[Double].head()
    assert(math.abs(psiSame) < 0.05, s"same rule mix must be ~0, got $psiSame")
    // shift: suppress two rule families from the 'current' run entirely
    val shifted = ruleCounts(docs.where(ok % 2 === 1))
      .where(!col("rule_id").isin("R_HAS_MEDIA", "R_KIND_VOCAB"))
    val psiShift = Drift.rulePsi(base, shifted).select("value").as[Double].head()
    assert(psiShift > 0.25, s"suppressed rule families must register, got $psiShift")
  }

  test("streaming verdicts over micro-batches equal the batch pass") {
    val dir = stage("lineitem")
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val stream = StreamValidate.verdictStream(spark, dir, catalog)
    // the stream runs the batch path's compiled rule kernel
    assert(stream.queryExecution.analyzed.toString.contains("span_violations"))
    val q = stream
      .writeStream.format("memory").queryName("stream_verdicts")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("stream_verdicts")
    val batch = Validate.verdicts(DocGen.docs(spark, sf), catalog)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming restart from checkpoint resumes exactly-once (no reprocessing)") {
    val watched = Files.createTempDirectory("graft-stream-restart").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def arrive(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val staging = Files.createTempDirectory(s"graft-staging-$name").toString
      li.where(cond).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$watched/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val outDir = Files.createTempDirectory("graft-stream-out").toString
    def run(): Long = {
      // file sink: its _spark_metadata commit log is the exactly-once
      // mechanism (the memory sink does not support checkpoint recovery)
      val q = StreamValidate.verdictStream(spark, watched, catalog)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.read.parquet(outDir).count()
    }
    arrive(col("l_orderkey") % 2 === 0, "even")
    val afterFirst = run()
    // new data lands while the query is DOWN; restart from the checkpoint
    arrive(col("l_orderkey") % 2 === 1, "odd")
    val afterSecond = run()
    val nEven = li.where(col("l_orderkey") % 2 === 0).count()
    val nAll = li.count()
    assert(afterFirst == nEven, s"first run must process the even half: $afterFirst != $nEven")
    // exactly-once across the restart: the even file is NOT reprocessed
    // (no duplicates) and the odd file IS picked up (no loss)
    assert(afterSecond == nAll, s"restart must add exactly the new file: $afterSecond != $nAll")
  }

  test("streaming exact dedup keeps one doc per content hash across batches") {
    val watched = Files.createTempDirectory("graft-stream-dedup").toString
    // the same file arrives twice (re-ingest) -> every doc is a duplicate.
    // The second copy lands only AFTER the first micro-batch completes, so
    // the duplicates genuinely arrive in a LATER batch and the property
    // tested is cross-batch state, not within-batch distinct.
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$watched/a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = StreamValidate.dedupDocsStream(spark, watched)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Files.copy(Paths.get(s"$sf/documents.parquet"),
        Paths.get(s"$watched/b.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
    } finally q.stop()
    val batchDistinct = spark.read.parquet(s"$sf/documents.parquet")
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(spark.table("stream_dedup").count() == batchDistinct)
    // each surviving hash appears exactly once
    assert(spark.table("stream_dedup")
      .groupBy("text_hash").count().where(col("count") > 1).count() == 0)
  }

  test("watermarked streaming dedup drops in-horizon duplicate event ids") {
    val watched = Files.createTempDirectory("graft-stream-evdedup").toString
    // second arrival staged after the first batch completes (cross-batch,
    // see the doc-dedup test above) — and within the watermark horizon,
    // since both copies carry identical event times
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$watched/a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = StreamValidate.dedupEventsStream(spark, watched)
      .writeStream.format("memory").queryName("stream_evdedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$watched/b.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
    } finally q.stop()
    val distinctIds = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id").distinct().count()
    assert(spark.table("stream_evdedup").count() == distinctIds)
  }

  test("streaming near-dup flagging against the static band index, cross-batch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = Files.createTempDirectory("graft-stream-mhidx").toString + "/idx"
    graft.ops.Dedup.minhashBuildIndex(docs, idx)
    // incoming crawl: near-dup copies of indexed docs, full source schema
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup copy tail")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    def stagePart(df: org.apache.spark.sql.DataFrame, name: String,
                  watched: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft-flag-$name").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$watched/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val watched = Files.createTempDirectory("graft-stream-flag").toString
    stagePart(batch.where(col("doc_id") % 100 === 0), "a", watched)
    val q = StreamValidate.nearDupFlagStream(spark, watched, idx)
      .writeStream.format("memory").queryName("stream_flag")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second micro-batch arrives only after the first completes
      stagePart(batch.where(col("doc_id") % 100 =!= 0), "b", watched)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_flag").select("doc_id", "band", "sig")
    val expected = graft.ops.Dedup.minhashBanded(batch)
      .join(spark.read.parquet(idx), Seq("band", "sig"), "left_semi")
      .select("doc_id", "band", "sig")
    assert(got.count() > 0, "fixture sanity: near-dup copies must flag")
    assert(got.exceptAll(expected).count() == 0
      && expected.exceptAll(got).count() == 0,
      "streamed flags must equal the batch stream-static join")
  }

  test("watermarked windowed event counts match the batch aggregation") {
    val dir = stage("events")
    val q = StreamValidate.windowedEventCounts(spark, dir)
      .writeStream.format("memory").queryName("stream_windows")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("stream_windows")
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(window(col("ts"), "1 day").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty)
  }
}
