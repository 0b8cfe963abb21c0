package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.engine.{Checkpoint, Validate}

class CheckpointSpec extends SparkSpec {

  test("cross-run rule PSI from the stored metrics equals the one-pass split") {
    val dir = Files.createTempDirectory("graft-runpsi").toString
    val docs = DocGen.docs(spark, sf)
    val cat = DocGen.mediaCatalogMap(spark, sf)
    val parity = element_at(split(col("doc_id"), "-"), 1).cast("bigint") % 2
    Checkpoint.storeRunRuleMetrics(docs.where(parity === 0), cat, dir, "base")
    Checkpoint.storeRunRuleMetrics(docs.where(parity === 1), cat, dir, "cur")
    val stored = Checkpoint.rulePsiBetweenStoredRuns(spark, dir, "base", "cur")
    val onePass = graft.engine.Drift.rulePsiSplit(
      Validate.violations(docs, cat), parity === 1)
    assert(stored.collect().toSeq == onePass.collect().toSeq,
      "stored-run PSI must equal the one-pass parity split")
    // run_id is a partition directory: each side's read prunes to its own
    // partition instead of scanning the whole metrics store
    val plan = Checkpoint.rulePsiBetweenStoredRuns(spark, dir, "base", "cur")
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*run_id".r.findFirstIn(plan).isDefined,
      s"metrics read must prune on run_id:\n$plan")
    // the one-pass split store writes BOTH runs from one validation pass
    // with bit-identical stored counts (per-doc violations are independent)
    val dir2 = Files.createTempDirectory("graft-runpsi2").toString
    Checkpoint.storeRunRuleMetricsSplit(docs, cat, dir2,
      when(parity === 0, "base").otherwise("cur"), Seq("base", "cur"))
    val storedSplit = Checkpoint.rulePsiBetweenStoredRuns(spark, dir2, "base", "cur")
    assert(storedSplit.collect().toSeq == onePass.collect().toSeq,
      "split-stored PSI must equal the per-run stored PSI")
    // a typo'd run_id fails fast instead of comparing against an empty side
    val e = intercept[IllegalArgumentException] {
      Checkpoint.rulePsiBetweenStoredRuns(spark, dir2, "base", "nope")
    }
    assert(e.getMessage.contains("no stored metrics"), e.getMessage)
    // re-storing a run that now has ZERO violations still truncates its
    // partition (the marker row forces the dynamic overwrite to write):
    // PSI must see a genuinely empty current side, not yesterday's counts
    Checkpoint.storeRunRuleMetrics(docs.where(lit(false)), cat, dir2, "cur")
    val curStored = graft.engine.TableIO
      .read(spark, Checkpoint.runMetricsPath(dir2))
      .where(col("run_id") === "cur")
    assert(curStored.where(col("rule_id") =!= Checkpoint.RunMarkerRule)
      .count() == 0, "stale counts survived a violation-free re-store")
    // and the stored-but-empty run is readable (no missing-run error)
    assert(Checkpoint.rulePsiBetweenStoredRuns(spark, dir2, "base", "cur")
      .count() == 1)
  }

  test("split run metrics: a misrouted run_id fails loudly, never sheds rows") {
    val docs = DocGen.docs(spark, sf)
    val cat = DocGen.mediaCatalogMap(spark, sf)
    val parity = element_at(split(col("doc_id"), "-"), 1).cast("bigint") % 2
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    Seq(
      // NULL for odd docs: the rows would land in the default partition
      when(parity === 0, "base"),
      // a run id outside `runs`: a partition no marker row names
      when(parity === 0, "base").otherwise("curr")
    ).foreach { runId =>
      val dir = Files.createTempDirectory("graft-runsplit").toString
      val e = intercept[Exception](
        Checkpoint.storeRunRuleMetricsSplit(docs, cat, dir, runId, Seq("base", "cur")))
      assert(messages(e).exists(_.contains("run_id outside runs")), s"got: $e")
    }
  }

  test("resume after mid-run failure completes and equals a one-shot run") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    // attempt 1 dies before bucket 5
    intercept[Checkpoint.InjectedFailure] {
      Checkpoint.run(spark, sf, dir, nBuckets = 8, failBeforeBucket = Some(5))
    }
    val after1 = Checkpoint.completedBuckets(spark, dir)
    assert(after1 == Set(0, 1, 2, 3, 4))
    // attempt 2 resumes: only the remaining buckets run
    val resumed = Checkpoint.run(spark, sf, dir, nBuckets = 8, runId = "r2")
    assert(resumed == Seq(5, 6, 7))
    // stitched result equals the one-shot full pass
    val stitched = Checkpoint.verdicts(spark, dir)
      .select("doc_id", "verdict", "n_fatal", "n_error", "n_warn", "n_info")
    val oneShot = Validate.verdicts(DocGen.docs(spark, sf),
      DocGen.mediaCatalogMap(spark, sf))
    assert(stitched.count() == oneShot.count())
    assert(stitched.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stitched).isEmpty)
    // lineage carries per-bucket metrics
    val lin = spark.read.parquet(Checkpoint.lineagePath(dir))
    assert(lin.count() == 8)
    assert(lin.agg(sum("n_docs")).collect().head.getLong(0) == oneShot.count())
    // per-rule metrics table: stitched per-bucket counts equal one-shot
    val ruleCounts = spark.read.parquet(s"$dir/rule_metrics")
      .groupBy("rule_id").agg(sum("count").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShotRules = Validate.violations(DocGen.docs(spark, sf),
        DocGen.mediaCatalogMap(spark, sf))
      .groupBy("rule_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ruleCounts == oneShotRules)
  }

  test("re-running a completed checkpoint is a no-op (idempotent)") {
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    assert(Checkpoint.run(spark, sf, dir, nBuckets = 4).size == 4)
    assert(Checkpoint.run(spark, sf, dir, nBuckets = 4).isEmpty)
  }

  test("partition-watermark incremental run validates only newly arrived days") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-wm").toString
    val li = DocGen.lineitem(spark, sf).withColumn("day", to_date(col("l_shipdate")))
    val allDays = li.select("day").distinct()
      .as[java.sql.Date].collect().sorted
    assert(allDays.length > 2, "fixture needs multiple shipdate days")
    val cutoff = allDays(allDays.length / 2)

    // run 1: only data up to the cutoff has "arrived"
    val d1 = Checkpoint.runIncremental(spark, sf, dir,
      availableUpTo = Some(cutoff))
    assert(d1.nonEmpty && d1.last == cutoff && d1.forall(_.compareTo(cutoff) <= 0))

    // run 2: the rest lands; ONLY days after the watermark are processed
    val d2 = Checkpoint.runIncremental(spark, sf, dir, runId = "r2")
    assert(d2.nonEmpty && d2.forall(_.compareTo(cutoff) > 0))
    assert((d1 ++ d2).toSet == allDays.toSet)

    // stitched incremental output == one-shot full validation
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val incr = spark.read.parquet(s"$dir/verdicts_daily").drop("day")
    val full = Validate.verdicts(DocGen.docs(spark, sf), catalog)
      .select(incr.columns.map(col): _*)
    assert(incr.count() == full.count())
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)

    // run 3: nothing new -> no-op, watermark unchanged
    assert(Checkpoint.runIncremental(spark, sf, dir, runId = "r3").isEmpty)
  }

  test("resume under a different bucketing or input fails fast") {
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    assert(Checkpoint.run(spark, sf, dir, nBuckets = 4).size == 4)
    // nBuckets changed: bucket membership differs -> must not silently skip
    intercept[IllegalStateException] {
      Checkpoint.run(spark, sf, dir, nBuckets = 8)
    }
    // input changed: lineage is for another table snapshot
    intercept[IllegalStateException] {
      Checkpoint.run(spark, "/root/testdata/sf0.01", dir, nBuckets = 4)
    }
  }

  test("stored-report query: severity filter pushes to the scan, bucket prunes partitions") {
    val dir = Files.createTempDirectory("graft-report").toString
    Checkpoint.run(spark, sf, dir, nBuckets = 4)
    // counts agree with an in-memory recomputation at each threshold
    val all = Validate.violations(DocGen.docs(spark, sf),
      DocGen.mediaCatalogMap(spark, sf))
    val errUp = Checkpoint.storedViolations(spark, dir, minSeverity = "error")
    assert(errUp.count() ==
      all.where(col("severity").isin("error", "fatal")).count())
    assert(Checkpoint.storedViolations(spark, dir, minSeverity = "info").count()
      == all.count())
    // severity filter reaches the parquet reader
    val s = errUp.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(s.contains("PushedFilters") && s.contains("In(severity"),
      s"severity must push down:\n$s")
    // a bucket restriction prunes bucket=N directories, not just rows
    val one = Checkpoint.storedViolations(spark, dir, "error", bucket = Some(2))
    val sp = one.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(sp.contains("PartitionFilters") && sp.contains("bucket"),
      s"bucket must prune partitions:\n$sp")
    assert(one.count() > 0)
  }
}
