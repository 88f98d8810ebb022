package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark jobs and tasks seen during a traced run, kept for attribution to
  * the benchmark's spans by time window: a job belongs to the span whose
  * window contains its submission time, and a task to the job that owns
  * its stage. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class Task(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskEnds = new ConcurrentLinkedQueue[Task]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add(Job(e.jobId, e.time, e.stageIds))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskEnds.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
    lastEventNs = System.nanoTime()
  }

  /** Block until the listener bus has delivered every job's end event and
    * has been quiet for a moment (events arrive asynchronously). */
  def drain(maxWaitMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    def quiet = System.nanoTime() - lastEventNs > 300L * 1000000L
    while (System.nanoTime() < deadline && !(jobStarts.size == jobEnds.size && quiet))
      Thread.sleep(50)
  }

  /** Jobs with their end time (the start time if the end was not seen). */
  def jobs: Seq[(Job, Long)] = jobStarts.asScala.toSeq.map { j =>
    (j, Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs))
  }

  def tasks: Seq[Task] = taskEnds.asScala.toSeq
}

/** One timed call into a layer. Times are epoch ms for the window (the
  * unit of Spark's event times) plus nanosecond wall and process CPU. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    wallNs: Long, cpuNs: Long)

/** Spans kept in memory and written out when the run ends. */
final class Tracer(val runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    val cpu0 = Proc.cpuNs()
    try body
    finally {
      done += Span(id, parent, name, ms0, System.currentTimeMillis(),
        System.nanoTime() - ns0, Proc.cpuNs() - cpu0)
      stack = stack.tail
    }
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** One JSON line per span, with the Spark work attributed to it. */
  def write(path: String, log: JobLog): Unit = {
    val lines = done.map { s =>
      val w = SpanWork.of(log, Seq(s))
      Json.obj("run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallNs / 1e9,
        "cpu_s" -> s.cpuNs / 1e9, "jobs" -> w.jobs, "tasks" -> w.tasks,
        "task_cpu_s" -> w.taskCpuS, "gc_s" -> w.gcS, "shuffle_write_mb" -> w.shuffleWriteMb,
        "spill_mb" -> w.spillMb, "driver_s" -> w.driverS, "task_skew" -> w.taskSkew)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark work attributed to a set of spans. */
final case class SpanWork(jobs: Int, tasks: Int, taskCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, driverS: Double, taskSkew: Double)

object SpanWork {
  private val Mb = 1024.0 * 1024.0

  def of(log: JobLog, spans: Seq[Span]): SpanWork = {
    val jobs = log.jobs.filter { case (j, _) =>
      spans.exists(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
    }
    val stageIds = jobs.flatMap(_._1.stageIds).toSet
    val tasks = log.tasks.filter(t => stageIds(t.stageId))
    // wall inside the spans not covered by any running job: serial driver work
    val covered = spans.map { s =>
      val iv = jobs
        .map { case (j, end) => (math.max(j.startMs, s.startMs), math.min(end, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      total += curB - curA
      total
    }.sum
    val wallS = spans.map(_.wallNs).sum / 1e9
    // skew of the widest stage: max ÷ median task time
    val skew = if (tasks.isEmpty) 0.0 else {
      val widest = tasks.groupBy(_.stageId).values.maxBy(_.size)
      val d = widest.map(t => (t.finishMs - t.launchMs).toDouble).sorted
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.last / med
    }
    SpanWork(jobs.size, tasks.size, tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.gcMs).sum / 1e3,
      tasks.map(_.shuffleWriteBytes).sum / Mb, tasks.map(_.spillBytes).sum / Mb,
      math.max(0.0, wallS - covered / 1e3), skew)
  }
}
