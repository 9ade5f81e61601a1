package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 = none); all spans of one benchmark process
  * share `runId`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; `write` dumps the spans as JSON lines when
  * the benchmark ends. A disabled recorder still times the call (the
  * workloads need the wall time either way) but records nothing. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Times `f` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, name, t0, System.nanoTime(), parent)
      if (enabled) spans += s
      (r, s)
    } finally stack = stack.tail
  }

  /** Records an interval measured elsewhere (e.g. from listener job
    * times) as a child of `parent`. */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Unit =
    if (enabled) {
      spans += Span(nextId, name, startNs, endNs, parent)
      nextId += 1
    }

  /** Epoch ms (Spark's listener clock) minus nanoTime, in ns. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Records an interval given in epoch ms, e.g. listener job times. */
  def recordEpochMs(name: String, startMs: Long, endMs: Long, parent: Int): Unit =
    record(name, startMs * 1000000L - epochOffsetNs, endMs * 1000000L - epochOffsetNs, parent)

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""")
        .append(s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        .append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Task counters of one stage attempt. */
final class StageStats(val stageId: Int, val details: String) {
  var jobId: Int = -1
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var peakExecMemB = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** A finished job: its call site, wall times (Spark driver clock, ms) and
  * whether it ran for a SQL execution (an action on a DataFrame) rather
  * than, e.g., for parquet schema discovery. */
final case class JobStats(jobId: Int, startMs: Long, endMs: Long, details: String, sql: Boolean)

/** Span-level sums of [[StageStats]]; the stage counters the benchmark
  * reports for each span. */
final case class Counters(jobs: Int, tasks: Long, cpuS: Double, runS: Double, gcS: Double,
                          shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
                          peakExecMemMb: Double, taskSkew: Double) {
  /** 1 − Σ task run time ÷ (cores × wall): the share of task slots the
    * span left idle. */
  def idleCoreFrac(cores: Int, wallS: Double): Double =
    if (wallS <= 0) 0.0 else 1.0 - runS / (cores * wallS)

  def metrics(prefix: String, cores: Int, wallS: Double): Seq[(String, Double)] = Seq(
    s"$prefix.task_cpu_s" -> cpuS, s"$prefix.task_run_s" -> runS, s"$prefix.gc_s" -> gcS,
    s"$prefix.shuffle_write_mb" -> shuffleWriteMb, s"$prefix.shuffle_read_mb" -> shuffleReadMb,
    s"$prefix.spill_mb" -> spillMb, s"$prefix.peak_exec_mem_mb" -> peakExecMemMb,
    s"$prefix.jobs" -> jobs.toDouble, s"$prefix.tasks" -> tasks.toDouble,
    s"$prefix.task_skew" -> taskSkew, s"$prefix.idle_core_frac" -> idleCoreFrac(cores, wallS))
}

object Counters {
  def of(stages: Seq[StageStats]): Counters = {
    val runs = stages.flatMap(_.taskRunMs).sorted
    val skew =
      if (runs.isEmpty) 0.0
      else runs.last.toDouble / math.max(1L, runs(runs.length / 2)).toDouble
    Counters(stages.map(_.jobId).distinct.size, stages.map(_.tasks).sum,
      stages.map(_.cpuNs).sum / 1e9, stages.map(_.runMs).sum / 1e3,
      stages.map(_.gcMs).sum / 1e3, stages.map(_.shuffleWriteB).sum / 1e6,
      stages.map(_.shuffleReadB).sum / 1e6, stages.map(_.spillB).sum / 1e6,
      if (stages.isEmpty) 0.0 else stages.map(_.peakExecMemB).max / 1e6, skew)
  }
}

/** The benchmark's own SparkListener: per-stage task counters and
  * per-job wall times, keyed by the stage's call site.
  *
  * Listener events arrive asynchronously. A counter reset or read that
  * does not first wait for the bus lets a previous span's late task-end
  * events land after the reset (or a current span's land after the
  * read), so both [[reset]] and [[read]] drain the bus first. */
final class StageListener(sc: SparkContext) extends SparkListener {
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.LinkedHashMap.empty[Int, (Long, String, Boolean)]
  private val jobs = mutable.ArrayBuffer.empty[JobStats]
  /** SQL execution id -> call site of the action that started it. Jobs
    * of adaptive plans run on pool threads whose own call site is
    * anonymous; the execution's call site names the caller. */
  private val execCallSite = mutable.HashMap.empty[Long, String]

  sc.addSparkListener(this)

  def detach(): Unit = sc.removeSparkListener(this)

  def reset(): Unit = {
    PerfbenchBus.drain(sc)
    synchronized { stages.clear(); stageJob.clear(); jobStart.clear(); jobs.clear() }
  }

  /** Drains the bus, then returns the finished jobs and all stage
    * records seen since the last reset, in submission order. */
  def read(): (Seq[JobStats], Seq[StageStats]) = {
    PerfbenchBus.drain(sc)
    synchronized { (jobs.toSeq, stages.values.toSeq) }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execCallSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val details = execId.flatMap(id => execCallSite.get(id.toLong))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobStart(e.jobId) = (e.time, details, execId.isDefined)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, d, sql) => jobs += JobStats(e.jobId, t0, e.time, d, sql) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val st = stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new StageStats(info.stageId, info.details))
    st.jobId = stageJob.getOrElse(info.stageId, -1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageStats(e.stageId, ""))
      if (st.jobId < 0) st.jobId = stageJob.getOrElse(e.stageId, -1)
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakExecMemB = math.max(st.peakExecMemB, m.peakExecutionMemory)
      st.taskRunMs += m.executorRunTime
    }
  }
}

/** Minimal JSON string escaping for the benchmark's own output. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A metric value as JSON: full precision, never NaN or infinite. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
