package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.DocGen

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the result document (maps, sequences, strings,
  * numbers, booleans; NaN becomes null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** Prints the program's validate_verdicts oracle SQL (run by the input
  * generator in DuckDB, never by this harness). */
object OracleSql {
  def main(args: Array[String]): Unit =
    print(graft.SparkEntry.oracleSql("validate_verdicts"))
}

/** Benchmark JVM: one workload, closed loop, one client.
  *
  *   graftbench.Main --workload <name> --input <dir> --work <dir>
  *     --seconds <s> --trace <0|1> --nproc <n> --expect k=v,... --out <file>
  *     [--checkpoint-input <dir> --checkpoint-expect k=v,...]
  *
  * Untraced (`--trace 0`): session start, a first pass, warm-up passes for
  * `WarmupSeconds`, then timed passes until `--seconds` of wall time has
  * gone; each pass is checked against the oracle outside its timed
  * interval, next to a calibration probe.
  * Traced (`--trace 1`): interleaved untraced passes, traced passes and
  * cumulative prefix ladders with a job-group listener; per-layer metrics
  * and the span document come from these only. With `--checkpoint-input`
  * it also times Checkpoint.run over that input for the graft.engine
  * metrics.
  */
object Main {

  /** The fixed single-thread probe graft.Bench and ScalingBench record:
    * a sample far above its floor marks a contended host window. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var s = 0L; var i = 0
    while (i < 100000000) { s = s * 6364136223846793005L + i; i += 1 }
    if (s == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def counts(s: String) = s.split(',').map { kv =>
      val Array(k, v) = kv.split('='); k -> v.toLong
    }.toMap
    Conf(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("nproc").toInt, counts(m("expect")), m("out"),
      m.get("checkpoint-input").map(_ -> counts(m("checkpoint-expect"))))
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${c.workload}")
      .master(s"local[${c.nproc}]")
      .config("spark.sql.shuffle.partitions", c.nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Outcome(seconds: Double, mismatches: Seq[String],
                           pass: Option[Pass])

  /** One pass: timed body, then the untimed check and cleanup. */
  def runOnce(body: => Pass, cleanup: => Unit): Outcome = {
    val t0 = System.nanoTime()
    try {
      val p = body
      val s = (System.nanoTime() - t0) / 1e9
      val msgs = p.check()
      Outcome(s, msgs, Some(p))
    } catch {
      case e: Exception =>
        Outcome(Double.NaN, Seq(s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"), None)
    } finally cleanup
  }

  def runOnce(w: Workload, i: Int): Outcome = runOnce(w.pass(i), w.cleanup(i))

  def main(args: Array[String]): Unit = {
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  def run(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val c = parse(args)
    Check.selfTest(c.expected)
    val spark = session(c)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val w = Workload(spark, c)
    val props = w.inputProps()
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> c.workload, "docs" -> w.docs, "trace" -> c.trace,
      "input_props" -> props,
      "host" -> Map("nproc" -> c.nproc,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version),
      "checker_self_test" -> "rejects off-by-one on every count",
      "setup_s" -> sessionS)
    res ++= (if (c.trace) traced(spark, w, c) else untraced(w, c))
    res("peak_rss_mb") = peakRssMb()
    val pw = new PrintWriter(new File(c.out))
    try pw.write(Json(res)) finally pw.close()
    spark.stop()
  }

  private def summary(outs: Seq[Outcome]): Map[String, Any] = Map(
    "attempted" -> outs.size,
    "failed" -> outs.count(_.mismatches.nonEmpty),
    "mismatches" -> outs.flatMap(_.mismatches).distinct.take(20))

  /** JIT compilation keeps speeding passes up for seconds after the first
    * pass; passes in this warm-up time are checked and recorded but left
    * out of pass_s. */
  val WarmupSeconds = 10.0

  def untraced(w: Workload, c: Conf): Map[String, Any] = {
    val outs = mutable.ArrayBuffer.empty[Outcome]
    val calib = mutable.ArrayBuffer.empty[Double]
    def next(): Unit = { calib += calibrate(); outs += runOnce(w, outs.size) }
    def until(min: Int, seconds: Double): Unit = {
      val t0 = System.nanoTime()
      while (outs.size < min || (System.nanoTime() - t0) / 1e9 < seconds) next()
    }
    next()
    until(2, WarmupSeconds)
    val warmup = outs.size
    until(warmup + 1, c.seconds)
    val timed = outs.drop(warmup).filter(_.mismatches.isEmpty).map(_.seconds).toSeq
    val passS = Stats.median(timed)
    val extras = outs.flatMap(_.pass).map(_.extras)
    def ex(k: String) = Stats.median(extras.flatMap(_.get(k)).toSeq)
    summary(outs.toSeq) ++ Map(
      "first_pass_s" -> outs.head.seconds,
      "pass_s" -> passS, "passes" -> timed.size, "warmup_passes" -> (warmup - 1),
      "docs_per_s" -> w.docs / passS,
      "pass_samples" -> outs.map(_.seconds), "calib_s" -> calib,
      "extras" -> extras.flatMap(_.keys).distinct.map(k => k -> ex(k)).toMap)
  }

  def traced(spark: SparkSession, w: Workload, c: Conf): Map[String, Any] = {
    val sc = spark.sparkContext
    val tr = new Tracer(sc, java.util.UUID.randomUUID().toString.take(8))
    val outs = mutable.ArrayBuffer.empty[Outcome]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[(Outcome, Span)]
    val calib = mutable.ArrayBuffer.empty[Double]
    def ladder(timed: (String, () => Unit) => Unit): Unit = {
      var cat = Map.empty[String, String]
      timed("catalog", () => cat = DocGen.mediaCatalogMap(spark, c.input))
      w.prefixes(cat).foreach { case (name, df) =>
        timed(s"prefix.$name", () => df().write.format("noop").mode("overwrite").save())
      }
    }
    /** `f` with the listener attached, until it has seen every job end */
    def listening[T](f: => T): T = {
      sc.addSparkListener(tr.listener)
      try { val v = f; tr.listener.drain(); v }
      finally sc.removeSparkListener(tr.listener)
    }
    /** a checked pass whose body is a span; None if it threw */
    def spanPass(name: String, body: => Pass, cleanup: => Unit): Option[(Outcome, Span)] =
      listening {
        var span: Span = null
        val o = runOnce({
          val (p, s) = tr.span(name) { _ => val p = body; (p, p.groups) }
          span = s; p
        }, cleanup)
        outs += o
        Option(span).map(o -> _)
      }
    // warm-up, as in the untraced run, then JIT and codegen of every prefix plan
    val tw = System.nanoTime()
    while (outs.size < 2 || (System.nanoTime() - tw) / 1e9 < WarmupSeconds)
      outs += runOnce(w, outs.size)
    ladder((_, f) => f())
    // three to five traced repetitions, as time allows
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    var rep = 0
    while (rep < 3 || (rep < 5 && (System.nanoTime() - t0) / 1e9 < 4 * c.seconds)) {
      rep += 1
      calib += calibrate()
      val u = runOnce(w, outs.size)
      outs += u
      untracedS += u.seconds
      val i = outs.size
      tracedPasses ++= spanPass("pass", w.pass(i), w.cleanup(i))
      listening(tr.span("ladder") { id =>
        ladder((name, f) => tr.span(name, Some(id)) { _ => f(); ((), Nil) })
        ((), Nil)
      })
    }
    // with the heap fixed, peak_rss_mb does not follow heap use; this does
    val oldGenPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val spansPerDoc = DocGen.docsFrom(spark.read.parquet(w.source))
      .agg(avg(size(col("spans")))).head().getDouble(0)

    def med(name: String) = Stats.median(tr.spans.filter(_.name == name).map(_.seconds).toSeq)
    def last(name: String) = tr.spans.filter(_.name == name).lastOption
    val names = w.prefixes(Map.empty).map(_._1)
    val prefixS = names.map(n => n -> med(s"prefix.$n")).toMap
    def layer(n: String) = {
      val i = names.indexOf(n)
      if (i < 0) 0.0 else if (i == 0) prefixS(n) else prefixS(n) - prefixS(names(i - 1))
    }
    val catalogS = med("catalog")
    val (lastOut, passSpan) = tracedPasses.last
    val p = lastOut.pass.get
    val pc = tr.counters(passSpan)
    val ex = p.extras
    val untracedPass = Stats.median(untracedS.toSeq)
    val tracedPass = Stats.median(tracedPasses.map(_._1.seconds).toSeq)
    // the pass is the catalog collect plus the whole ladder, or, on the
    // stream, plus its micro-batches
    val layerSum = catalogS + names.lastOption.map(prefixS)
      .getOrElse(ex.getOrElse("trigger_s_sum", 0.0))
    val counts = p.counts
    val scanC = last("prefix.scan").map(tr.counters)
    val metrics = mutable.LinkedHashMap[String, Double](
      "data.catalog_collect_s" -> catalogS,
      "data.catalog_entries" -> DocGen.mediaCatalogMap(spark, c.input).size.toDouble,
      "data.scan_s" -> layer("scan"),
      "data.scan_tasks" -> scanC.map(k => if (k.readingTasks > 0) k.readingTasks else k.tasks)
        .getOrElse(0L).toDouble,
      "data.fanout_s" -> layer("read"),
      "data.fanout_shuffle_mb" -> last("prefix.read").map(tr.counters(_).shuffleWrite / 1e6).getOrElse(0.0),
      "data.docgen_s" -> layer("docgen"),
      "data.spans_per_doc" -> spansPerDoc,
      "functions.kernel_s" -> layer("kernel"),
      "functions.violations_per_doc" -> Check.severityTotal(counts).toDouble / counts("n_docs"),
      "functions.docs_fired_frac" -> (1.0 - counts("n_valid").toDouble / counts("n_docs")),
      "rules.verdict_s" -> layer("verdict"),
      "trace.check_s" -> layer("check"),
      "rules.n_valid" -> counts("n_valid").toDouble,
      "rules.n_acceptable" -> counts("n_acceptable").toDouble,
      "rules.n_invalid" -> counts("n_invalid").toDouble,
      "rules.n_rejected" -> counts("n_rejected").toDouble,
      "streaming.batches" -> ex.getOrElse("batches", 0.0),
      "streaming.batch_s" -> ex.getOrElse("batch_s", 0.0),
      "streaming.add_batch_s" -> ex.getOrElse("add_batch_s", 0.0),
      "streaming.planning_s" -> ex.getOrElse("planning_s", 0.0),
      "streaming.commit_s" -> ex.getOrElse("commit_s", 0.0),
      "spark.jobs" -> pc.jobs.toDouble,
      "spark.stages" -> pc.stages.toDouble,
      "spark.tasks" -> pc.tasks.toDouble,
      "spark.shuffle_write_mb" -> pc.shuffleWrite / 1e6,
      "spark.input_rows" -> pc.inputRecords.toDouble,
      "spark.spill_mb" -> pc.spillBytes / 1e6,
      "spark.gc_s" -> passSpan.gcMs / 1e3,
      "spark.cpu_busy_frac" -> pc.cpuNs / (passSpan.seconds * 1e9 * c.nproc),
      "spark.task_skew" -> pc.taskSkew,
      "spark.old_gen_peak_mb" -> oldGenPeakMb,
      "trace.overhead_frac" -> (tracedPass / untracedPass - 1.0),
      "trace.layer_sum_frac" -> layerSum / untracedPass)
    val layerSumOk = math.abs(layerSum / untracedPass - 1.0) <= 0.1

    // graft.engine: a warm-up Checkpoint.run, then a traced one
    val engineKeys = Seq("run_s", "bucket_s_p50", "bucket_s_max", "jobs_per_bucket",
      "docs_scanned_per_doc", "write_mb", "files_written", "out_bytes_per_doc", "resume_s")
    val engine = c.checkpoint.map { case (dir, expected) =>
      val cp = new CheckpointRun(spark, dir, expected, c.work)
      val props = cp.inputProps()
      outs += runOnce(cp.pass(0), cp.cleanup(0))
      // rows the catalog collect reads, to take out of the rows scanned
      val (_, catSpan) = listening(tr.span("checkpoint.catalog") { _ =>
        DocGen.mediaCatalogMap(spark, dir); ((), Nil)
      })
      val catalogRows = tr.counters(catSpan).inputRecords
      spanPass("checkpoint", cp.pass(1), cp.cleanup(1)).foreach { case (o, span) =>
        val k = tr.counters(span)
        val e = o.pass.get.extras
        metrics ++= Seq(
          "engine.run_s" -> o.seconds,
          "engine.jobs_per_bucket" -> k.jobs.toDouble / cp.nBuckets,
          "engine.docs_scanned_per_doc" -> (k.inputRecords - catalogRows).toDouble / cp.docs) ++
          Seq("bucket_s_p50", "bucket_s_max", "write_mb", "files_written",
            "out_bytes_per_doc", "resume_s").map(n => s"engine.$n" -> e(n))
      }
      Map("input" -> dir, "input_props" -> props, "buckets" -> cp.nBuckets)
    }
    // metrics that do not apply to the workload read 0
    engineKeys.foreach(k => metrics.getOrElseUpdate(s"engine.$k", 0.0))
    val spans = tr.spans.map { s =>
      val k = tr.counters(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> tr.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "gc_ms" -> s.gcMs, "jobs" -> k.jobs,
        "stages" -> k.stages, "tasks" -> k.tasks,
        "shuffle_write_bytes" -> k.shuffleWrite, "input_bytes" -> k.inputBytes,
        "input_records" -> k.inputRecords, "spill_bytes" -> k.spillBytes,
        "cpu_ns" -> k.cpuNs)
    }
    summary(outs.toSeq) ++ Map(
      "per_layer" -> metrics, "layer_sum_within_10pct" -> layerSumOk,
      "checkpoint" -> engine,
      "untraced_pass_samples" -> untracedS, "traced_pass_samples" -> tracedPasses.map(_._1.seconds),
      "prefix_s" -> prefixS, "calib_s" -> calib, "spans" -> spans)
  }
}
