package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one job group: every job, stage and task a span's
  * actions launched, whatever thread ran them. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  /** tasks that read at least one input record: the scan's real width */
  var readingTasks = 0L
  /** per stage: (stage wall ms, task durations ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWall = mutable.Map.empty[Int, Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; spillBytes += o.spillBytes
    cpuNs += o.cpuNs; readingTasks += o.readingTasks
    stageTasks ++= o.stageTasks; stageWall ++= o.stageWall
  }

  /** max / median task time in the slowest stage */
  def taskSkew: Double =
    stageWall.maxByOption(_._2).flatMap { case (s, _) =>
      stageTasks.get(s).filter(_.nonEmpty).map { d =>
        val med = Stats.median(d.map(_.toDouble).toSeq)
        if (med <= 0) 1.0 else d.max / med
      }
    }.getOrElse(1.0)
}

/** Listener that files every job, stage and task under the job group of the
  * thread that submitted it. Spans set a job group per span; a streaming
  * query runs its batches under its run id. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]
  private var started = 0
  private var ended = 0

  private def of(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = of(stageGroup.getOrElse(info.stageId, ""))
    c.stages += 1
    for (s <- info.submissionTime; f <- info.completionTime)
      c.stageWall(info.stageId) = f - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) c.readingTasks += 1
      c.spillBytes += m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
    }
  }

  def counters(groups: Seq[String]): Counters = synchronized {
    val c = new Counters
    groups.flatMap(byGroup.get).foreach(c.add)
    c
  }

  /** Waits until the listener bus has delivered every job's end event and
    * has been quiet for a moment. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (s, e) = synchronized((started, ended))
      val now = System.currentTimeMillis()
      if (s + e != last) { last = s + e; stableSince = now }
      if (s == e && now - stableSince >= 300) return
      Thread.sleep(25)
    }
  }
}

/** One timed interval of the traced run. */
final case class Span(id: String, name: String, parent: Option[String],
                      startMs: Long, endMs: Long, seconds: Double,
                      gcMs: Long, groups: Seq[String])

/** In-memory span recorder for the traced run; written out once at the end. */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new GroupListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Times `f` as a span whose Spark jobs run under its own job group;
    * `f` returns its value and the job groups of other threads that
    * worked for it (a streaming query's run id). */
  def span[T](name: String, parent: Option[String] = None)
             (f: String => (T, Seq[String])): (T, Span) = {
    next += 1
    val id = s"$runId-$next"
    sc.setJobGroup(id, name)
    val gc0 = gcMs
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val (v, extra) = f(id)
      val s = Span(id, name, parent, t0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e9, gcMs - gc0, id +: extra)
      spans += s
      (v, s)
    } finally sc.clearJobGroup()
  }

  def counters(s: Span): Counters = listener.counters(s.groups)
}
