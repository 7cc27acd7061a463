package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span record of one traced run. Times are epoch microseconds.
  * `group` ties together the spans of one query or micro-batch; Spark jobs
  * find their parent span through the job group the harness sets around
  * each build and execute call. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

final class Tracer {
  private val nextId = new AtomicInteger(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val groupIds = new ConcurrentHashMap[String, Integer]()
  def newId(): Int = nextId.getAndIncrement()
  /** The span id of `group`, allocated on first use, so a child can name
    * its parent before the parent span is recorded. */
  def idFor(group: String): Int = groupIds.computeIfAbsent(group, _ => newId()).intValue
  /** The span opened for job group `group`, or 0. */
  def spanOfGroup(group: String): Int = Option(groupIds.get(group)).map(_.intValue).getOrElse(0)
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Run `body` as a span; returns its result. */
  def span[T](name: String, group: String, parent: Int = 0)(body: Int => T): T = {
    val id = if (group.nonEmpty) idFor(group) else newId()
    val t0 = Tracer.nowUs()
    try body(id) finally add(Span(id, parent, name, group, t0, Tracer.nowUs()))
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its children. */
  def selfTimesUs: Map[String, Long] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.dur - Tracer.covered(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  def toJson: String = all.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""group":${Json.str(s.group)},"start_us":${s.start},"end_us":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Length of the union of `children` clipped to `s`. */
  def covered(s: Span, children: Seq[Span]): Long = {
    var total = 0L
    var cur = s.start
    for (c <- children.sortBy(_.start)) {
      val a = math.max(c.start, cur)
      val b = math.min(c.end, s.end)
      if (b > a) { total += b - a; cur = b }
    }
    total
  }
}

/** Totals of Spark's per-stage task metrics. */
final class ExecTotals {
  var jobs, stages, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem, inputBytes = 0L
  def add(si: StageInfo): Unit = {
    val m = si.taskMetrics
    stages += 1
    tasks += si.numTasks
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      inputBytes += m.inputMetrics.bytesRead
    }
  }
}

/** Spark listener registered by the benchmark in traced runs: job and
  * stage spans (parented through the job group), per-stage task metrics
  * keyed by job group, and the peak of cached block memory. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private case class JobRec(group: String, start: Long)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  val byGroup = new ConcurrentHashMap[String, ExecTotals]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var storageMem = 0L
  @volatile var storagePeak = 0L

  def totals(group: String): ExecTotals = byGroup.computeIfAbsent(group, _ => new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, JobRec(group, e.time * 1000L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobSpan.put(e.jobId, tracer.newId())
    totals(group).synchronized { totals(group).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    tracer.add(Span(jobSpan.get(e.jobId), tracer.spanOfGroup(j.group), "job", j.group, j.start,
      e.time * 1000L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = Option(stageJob.get(si.stageId))
    val group = job.flatMap(j => Option(jobs.get(j))).map(_.group).getOrElse("")
    val t = totals(group)
    t.synchronized { t.add(si) }
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.add(Span(tracer.newId(), job.map(j => jobSpan.get(j): Int).getOrElse(0),
        "stage", group, s * 1000L, c * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) {
      val group = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .map(_.group).getOrElse("")
      val t = totals(group)
      t.synchronized { t.tasksFailed += 1 }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val now = if (info.storageLevel.isValid) info.memSize else 0L
    val prev = Option(blocks.put(id, now)).map(_.longValue).getOrElse(0L)
    storageMem += now - prev
    storagePeak = math.max(storagePeak, storageMem)
  }
}

object ExecListener {
  /** The `exec.*` per-layer metrics over `totals`, for `wallS` of wall time
    * on `cores` cores. */
  def report(totals: Seq[ExecTotals], m: scala.collection.mutable.Map[String, Double],
      wallS: Double, cores: Int): Unit = {
    def sum(f: ExecTotals => Long) = totals.map(f).sum.toDouble
    m("exec.jobs") = sum(_.jobs)
    m("exec.stages") = sum(_.stages)
    m("exec.tasks") = sum(_.tasks)
    m("exec.task_run_s") = sum(_.taskRunMs) / 1e3
    m("exec.task_cpu_s") = sum(_.taskCpuNs) / 1e9
    m("exec.gc_s") = sum(_.gcMs) / 1e3
    m("exec.busy_ratio") = sum(_.taskRunMs) / 1e3 / math.max(1e-9, wallS * cores)
    m("exec.shuffle_read_bytes") = sum(_.shuffleRead)
    m("exec.shuffle_write_bytes") = sum(_.shuffleWrite)
    m("exec.spill_bytes") = sum(_.spill)
    m("exec.peak_exec_mem_bytes") = totals.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble
    m("exec.input_bytes") = sum(_.inputBytes)
    m("exec.tasks_failed") = sum(_.tasksFailed)
  }
}

/** Per-batch progress of the streaming queries, keyed by query id. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentHashMap[String, java.util.List[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.computeIfAbsent(e.progress.id.toString,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
      .add(e.progress)
  def of(id: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    Option(progress.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  /** Nearest-rank percentile (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  /** Mean of the sample values whose ranks fall between quantiles `lo` and
    * `hi`: a banded percentile that, unlike a single order statistic, does
    * not jump when two nearby values swap places. */
  def band(xs: Seq[Double], lo: Double, hi: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val a = math.min(s.size - 1, math.floor(lo * s.size).toInt)
      val b = math.max(a + 1, math.min(s.size, math.ceil(hi * s.size).toInt))
      s.slice(a, b).sum / (b - a)
    }
  /** The `*_p50_ms` metrics: the band around the median (40th to 60th). */
  def p50(xs: Seq[Double]): Double = band(xs, 0.4, 0.6)
  /** The `*_p90_ms` metrics: the band around the 90th percentile (85th to 95th). */
  def p90(xs: Seq[Double]): Double = band(xs, 0.85, 0.95)
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond it. */
  def tailQ(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10).getOrElse(0.5)
}

object Host {
  def loadavg1m: Double = scala.util.Try {
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble
  }.getOrElse(0.0)
  /** Peak resident set size of this process (VmHWM), MiB. */
  def peakRssMb: Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
  }.getOrElse(0.0)
}
