package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.data.{DocGen, Tables}
import graft.engine.{Checkpoint, Validate}
import graft.streaming.StreamValidate

/** What one timed pass leaves for the (untimed) correctness check. */
trait Pass {
  /** verdict-class counts and severity totals the pass produced */
  def counts: Map[String, Long]
  /** mismatch messages against the oracle; empty when correct */
  def check(): Seq[String]
  /** workload-specific measurements, filled in by `check` at the latest */
  def extras: Map[String, Double] = Map.empty
  /** job groups of other threads that worked for this pass */
  def groups: Seq[String] = Nil
}

final case class Conf(workload: String, input: String, work: String,
                      seconds: Double, trace: Boolean, nproc: Int,
                      expected: Map[String, Long], out: String,
                      checkpoint: Option[(String, Map[String, Long])])

abstract class Workload(val spark: SparkSession, val conf: Conf) {
  val lineitem = s"${conf.input}/lineitem.parquet"
  def docs: Long = conf.expected("n_docs")
  /** the lineitem rows a pass validates */
  def source: String = lineitem
  def pass(i: Int): Pass
  def cleanup(i: Int): Unit = ()

  /** Cumulative pipeline prefixes for the traced run, in order; empty when
    * the pass does not run the batch pipeline. */
  def prefixes(catalog: Map[String, String]): Seq[(String, () => DataFrame)] = Nil

  /** Facts about the input the workload's definition claims; checked before
    * timing and reported with the result. */
  def inputProps(): Map[String, Any]

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workload {
  /** the lineitem columns DocGen.docsFrom reads */
  val docCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_linenumber",
    "l_quantity", "l_returnflag", "l_linestatus")
  def apply(spark: SparkSession, conf: Conf): Workload = conf.workload match {
    case "verdicts_scan" => new VerdictsScan(spark, conf)
    case "stream_verdicts" => new StreamVerdicts(spark, conf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Scan partitions of an input's lineitem and whether Tables.read adds
    * its fan-out Exchange. */
  def scanProps(spark: SparkSession, input: String): Map[String, Any] = {
    val parts = spark.read.parquet(s"$input/lineitem.parquet").rdd.getNumPartitions
    val plan = Tables.read(spark, input, "lineitem").queryExecution.executedPlan.toString
    Map("scan_partitions" -> parts, "fanout_exchange" -> plan.contains("Exchange"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (bytes, data files) under a directory */
  def du(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else (f.length(), if (f.getName.startsWith("part-")) 1L else 0L)
}

/** The validate_verdicts query: catalog collect, single-row-group scan with
  * its fan-out, span derivation, kernel and verdicts, into noop. */
final class VerdictsScan(spark: SparkSession, conf: Conf)
    extends Workload(spark, conf) {
  def pass(i: Int): Pass = {
    val (df, obs) = Check.observe(Validate.verdicts(
      DocGen.docs(spark, conf.input), DocGen.mediaCatalogMap(spark, conf.input)))
    noop(df)
    new Pass {
      // Observation.get waits for the listener event: read after timing
      lazy val counts = Check.get(obs)
      def check() = Check.compare(conf.expected, counts)
    }
  }

  /** Each prefix is forced through the noop sink with a narrow output (the
    * rows' cost is the layers', not the sink's copying of span arrays); a
    * layer's time is its prefix's time minus the previous one's. The last
    * prefix, with the observation the correctness gate reads, is the pass
    * minus the catalog collect. */
  override def prefixes(catalog: Map[String, String]): Seq[(String, () => DataFrame)] = {
    def docs() = DocGen.docsFrom(Tables.read(spark, conf.input, "lineitem"))
    Seq(
      "scan" -> (() => spark.read.parquet(lineitem).select(Workload.docCols.map(col): _*)),
      "read" -> (() => Tables.read(spark, conf.input, "lineitem")
        .select(Workload.docCols.map(col): _*)),
      "docgen" -> (() => docs().select(col("doc_id"), size(col("spans")))),
      "kernel" -> (() => Validate.withViolations(docs(), catalog)
        .select(col("doc_id"), size(col("violations")))),
      "verdict" -> (() => Validate.verdicts(docs(), catalog)),
      "check" -> (() => Check.observe(Validate.verdicts(docs(), catalog))._1))
  }

  def inputProps(): Map[String, Any] = {
    val p = Workload.scanProps(spark, conf.input)
    require(p("fanout_exchange") == true,
      s"verdicts_scan needs a scan Tables.read fans out: $p")
    p
  }
}

/** One full resumable Checkpoint.run (the production RunValidation path)
  * into a fresh directory, over a violation-dense input in several files.
  * The traced run of verdicts_scan runs it for the graft.engine metrics. */
final class CheckpointRun(spark: SparkSession, input: String,
                          expected: Map[String, Long], work: String) {
  /** Checkpoint.run's default */
  val nBuckets = 8
  val docs: Long = expected("n_docs")
  private def out(i: Int) = s"$work/checkpoint-$i"

  def pass(i: Int): Pass = {
    val done = Checkpoint.run(spark, input, out(i), nBuckets, runId = s"p$i")
    new Pass {
      private var got = Map.empty[String, Long]
      private val ex = mutable.Map.empty[String, Double]
      def counts = got
      override def extras = ex.toMap
      def check(): Seq[String] = {
        val msgs = mutable.ArrayBuffer.empty[String]
        if (done.sorted != (0 until nBuckets))
          msgs += s"processed buckets ${done.sorted}, expected 0..${nBuckets - 1}"
        val walls = spark.read.parquet(Checkpoint.lineagePath(out(i)))
          .select("wall_ms").collect().map(_.getLong(0) / 1e3).toSeq
        if (walls.size != nBuckets)
          msgs += s"lineage holds ${walls.size} rows, expected $nBuckets"
        got = Check.countOf(Checkpoint.verdicts(spark, out(i)))
        msgs ++= Check.compare(expected, got)
        val nViol = spark.read.parquet(s"${out(i)}/violations").count()
        if (nViol != Check.severityTotal(expected))
          msgs += s"violation rows $nViol, expected ${Check.severityTotal(expected)}"
        val (bytes, files) = Workload.du(new File(out(i)))
        val t0 = System.nanoTime()
        val again = Checkpoint.run(spark, input, out(i), nBuckets, runId = s"p$i-resume")
        ex("resume_s") = (System.nanoTime() - t0) / 1e9
        if (again.nonEmpty) msgs += s"re-invocation processed buckets $again"
        ex ++= Seq("bucket_s_p50" -> Stats.median(walls),
          "bucket_s_max" -> walls.maxOption.getOrElse(0.0),
          "write_mb" -> bytes / 1e6, "files_written" -> files.toDouble,
          "out_bytes_per_doc" -> bytes.toDouble / docs)
        msgs.toSeq
      }
    }
  }

  def cleanup(i: Int): Unit = Workload.deleteTree(new File(out(i)))

  def inputProps(): Map[String, Any] = {
    val p = Workload.scanProps(spark, input)
    require(p("scan_partitions").asInstanceOf[Int] >= spark.sparkContext.defaultParallelism &&
      p("fanout_exchange") == false,
      s"the checkpoint input needs a scan that splits without fan-out: $p")
    p
  }
}

/** StreamValidate.verdictStream over a watched directory, fed one file per
  * micro-batch in a closed loop; the sink counts verdict classes. It runs
  * none of the batch pipeline, so its traced run has no prefix ladder: its
  * layers are the catalog collect and the micro-batches. */
final class StreamVerdicts(spark: SparkSession, conf: Conf)
    extends Workload(spark, conf) {
  override val source = s"${conf.input}/stream"
  private val files = Option(new File(source).listFiles())
    .toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
  require(files.nonEmpty, s"no stream files under $source")
  private val progress = new LinkedBlockingQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(e.progress)
  })
  private def dir(i: Int) = s"${conf.work}/stream-$i"

  /** Lands a file atomically: a hard link, or a hidden copy renamed in. */
  private def land(f: File, watched: String): Unit = {
    val target = Paths.get(watched, f.getName)
    try Files.createLink(target, f.toPath)
    catch {
      case _: Exception =>
        val tmp = Paths.get(watched, "." + f.getName)
        Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def pass(i: Int): Pass = {
    val watched = s"${dir(i)}/in"
    new File(watched).mkdirs()
    progress.clear()
    var total = Map.empty[String, Long]
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val c = Check.countOf(df)
      synchronized { total = Check.add(total, c) }
    }
    val catalog = DocGen.mediaCatalogMap(spark, conf.input)
    val q = StreamValidate.verdictStream(spark, watched, catalog)
      .writeStream.option("checkpointLocation", s"${dir(i)}/checkpoint")
      .foreachBatch(sink).start()
    val latency = mutable.ArrayBuffer.empty[Double]
    val batches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    try {
      files.foreach { f =>
        val t0 = System.nanoTime()
        land(f, watched)
        var p: StreamingQueryProgress = null
        while (p == null) {
          q.exception.foreach(e => throw e)
          if (System.nanoTime() - t0 > 120e9)
            throw new RuntimeException(s"no micro-batch committed ${f.getName}")
          val e = progress.poll(50, TimeUnit.MILLISECONDS)
          if (e != null && e.runId == q.runId && e.numInputRows > 0) p = e
        }
        latency += (System.nanoTime() - t0) / 1e9
        batches += p
      }
    } finally q.stop()
    val got = synchronized(total)
    val runId = q.runId.toString
    new Pass {
      def counts = got
      override def groups = Seq(runId)
      def check(): Seq[String] = {
        val rows = batches.map(_.numInputRows).sum
        Check.compare(conf.expected, got) ++
          (if (rows == docs) Nil else Seq(s"stream read $rows rows, expected $docs"))
      }
      override def extras: Map[String, Double] = {
        def dur(keys: String*) = Stats.median(batches.toSeq.map(b =>
          keys.map(k => Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L))
            .sum / 1e3))
        Map("batch_s" -> Stats.median(latency.toSeq),
          "batches" -> batches.size.toDouble,
          "add_batch_s" -> dur("addBatch"),
          "planning_s" -> dur("queryPlanning"),
          "commit_s" -> dur("walCommit", "commitOffsets"),
          "trigger_s_sum" -> batches.map(b =>
            Option(b.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1e3).sum)
      }
    }
  }

  override def cleanup(i: Int): Unit = Workload.deleteTree(new File(dir(i)))

  def inputProps(): Map[String, Any] = Map("stream_files" -> files.size)
}
