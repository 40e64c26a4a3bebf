package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** Listener counters summed over a set of tasks. */
final case class Counters(jobs: Long = 0L, tasks: Long = 0L,
                          taskCpuNs: Long = 0L, taskRunMs: Long = 0L,
                          gcMs: Long = 0L, inputBytes: Long = 0L,
                          shuffleReadBytes: Long = 0L,
                          shuffleWriteBytes: Long = 0L,
                          spillBytes: Long = 0L) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskCpuNs + o.taskCpuNs, taskRunMs + o.taskRunMs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)

  /** The `spark.*` per-layer metrics over `wallS` seconds on `cores`. */
  def metrics(wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_cpu_s" -> taskCpuNs / 1e9,
    "spark.task_run_s" -> taskRunMs / 1e3,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.input_bytes" -> inputBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.busy_ratio" -> Counters.busyRatio(taskRunMs / 1e3, wallS, cores))
}

object Counters {
  /** Task run time over the core-seconds the wall interval offered:
    * near 1 is a saturated executor, far below 1 with a long wall is a
    * driver-bound or stalled interval.
    */
  def busyRatio(taskRunS: Double, wallS: Double, cores: Int): Double =
    if (wallS <= 0.0 || cores <= 0) 0.0 else taskRunS / (wallS * cores)
}

/** Collects task metrics per job and the job group each job ran under.
  * Job groups are how the tracer ties jobs to spans: the tracer sets the
  * group around each traced call, and a streaming query's jobs run under
  * its run id, which the tracer binds to the span that started it.
  */
final class SparkCounters extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, Counters]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkCounters.GroupKey))).getOrElse("")
    recordJobStart(e.jobId, e.stageIds, group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    recordTask(e.stageId,
      if (m == null) Counters(tasks = 1L)
      else Counters(tasks = 1L, taskCpuNs = m.executorCpuTime,
        taskRunMs = m.executorRunTime, gcMs = m.jvmGCTime,
        inputBytes = m.inputMetrics.bytesRead,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** A stage shared by several jobs stays with the first job that
    * listed it: that job is the one that ran its tasks.
    */
  def recordJobStart(jobId: Int, stageIds: Seq[Int], group: String): Unit =
    synchronized {
      jobGroup(jobId) = group
      stageIds.foreach(s => stageJob.getOrElseUpdate(s, jobId))
      perJob(jobId) = perJob.getOrElse(jobId, Counters()) + Counters(jobs = 1L)
    }

  def recordTask(stageId: Int, c: Counters): Unit = synchronized {
    val j = stageJob.getOrElse(stageId, -1)
    perJob(j) = perJob.getOrElse(j, Counters()) + c
  }

  def total: Counters = synchronized { perJob.values.foldLeft(Counters())(_ + _) }

  /** Counters per span id under `spanOf` (group → span); jobs whose
    * group maps to no span land on span 0, the unattributed bucket.
    */
  def bySpan(spanOf: String => Option[Int]): Map[Int, Counters] = synchronized {
    perJob.toSeq.groupMapReduce { case (j, _) =>
      jobGroup.get(j).flatMap(spanOf).getOrElse(0)
    }(_._2)(_ + _)
  }
}

object SparkCounters {
  val GroupKey = "spark.jobGroup.id"
}

final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans wrap the benchmark's calls into the
  * program's public functions; while a span is open its id is the
  * thread's Spark job group, so the listener can charge jobs to it.
  * With tracing off `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val streamRuns = mutable.Map.empty[String, Int]
  private var bookkeepingNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prevGroup = sc.getLocalProperty(SparkCounters.GroupKey)
      sc.setLocalProperty(SparkCounters.GroupKey, Tracer.group(id))
      stack = id :: stack
      val start = System.nanoTime()
      bookkeepingNs += start - t0
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, name, run, start, end)
        sc.setLocalProperty(SparkCounters.GroupKey, prevGroup)
        bookkeepingNs += System.nanoTime() - end
      }
    }

  /** [[span]] that returns the body's wall seconds (timed either way). */
  def timed(name: String)(body: => Unit): Double = Clock.secs(span(name)(body))

  /** Charge a streaming query's jobs (group = its run id) to the
    * innermost open span. */
  def bindStream(runId: String): Unit =
    if (enabled) stack.headOption.foreach(s => streamRuns(runId) = s)

  def spanOf(group: String): Option[Int] =
    Tracer.parse(group).orElse(streamRuns.get(group))

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
  /** Id of the most recently opened span (0 before any, or untraced). */
  def lastId: Int = nextId - 1
  def overheadNs: Long = bookkeepingNs
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = s"$Prefix$id"
  def parse(group: String): Option[Int] =
    if (group != null && group.startsWith(Prefix))
      group.stripPrefix(Prefix).toIntOption
    else None

  /** Self time per span id (ns): duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)))
    }.toMap
  }

  /** Counters including every descendant's (the self counters of a
    * span are the jobs that ran while it was the innermost span). */
  def inclusive(spans: Seq[Span], self: Map[Int, Counters]): Map[Int, Counters] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Int, Counters]
    def go(id: Int): Counters = memo.getOrElseUpdate(id,
      kids.getOrElse(id, Nil).map(k => go(k.id))
        .foldLeft(self.getOrElse(id, Counters()))(_ + _))
    spans.map(s => s.id -> go(s.id)).toMap
  }
}
