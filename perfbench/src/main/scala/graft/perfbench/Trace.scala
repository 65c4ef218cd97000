package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a layer. `req` groups the spans of one
  * request (one build, one query, one batch).
  */
final case class Span(id: Int, name: String, parent: Int, req: Int,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Metrics of one finished task, attributed to the span whose job group
  * submitted its job.
  */
final case class TaskRec(span: Int, job: Int, stage: Int, durationMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spillBytes: Long, inputBytes: Long)

/** Collects TaskMetrics per job group. The benchmark tags each traced
  * call with a job group named after its span; jobs without such a group
  * are ignored.
  */
final class TaskCollector extends SparkListener {
  val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  private val lastEvent = new AtomicLong(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.JobGroupKey)))
      .filter(_.startsWith(Trace.GroupPrefix)).foreach { g =>
        jobSpan.put(e.jobId, g.stripPrefix(Trace.GroupPrefix).toInt)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        started.incrementAndGet()
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEvent.set(System.nanoTime())
    if (jobSpan.containsKey(e.jobId)) ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
      val job = stageJob.get(e.stageId)
      val m = e.taskMetrics
      tasks.add(TaskRec(jobSpan.get(job), job, e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }

  /** Waits until every tagged job has ended and the event bus is quiet. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = System.nanoTime() - lastEvent.get() > 300000000L
    while (System.nanoTime() < deadline && !(started.get() == ended.get() && quiet))
      Thread.sleep(50)
  }
}

/** Span recorder. Spans live in memory and are written out when the run
  * ends. With tracing off, `span` only runs its body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicInteger()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val collector: TaskCollector = if (enabled) new TaskCollector else null
  if (enabled) sc.addSparkListener(collector)

  /** Runs `body` as span `name`; its Spark jobs are tagged with the span.
    * `on = false` runs the body untraced (the overhead control).
    */
  def span[A](name: String, req: Int, parent: Int = -1, on: Boolean = true)(body: Int => A): A = {
    if (!enabled || !on) return body(-1)
    val id = nextId.incrementAndGet()
    val prevGroup = sc.getLocalProperty(Trace.JobGroupKey)
    val prevDesc = sc.getLocalProperty(Trace.JobDescriptionKey)
    sc.setJobGroup(Trace.GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(id, name, parent, req, t0, System.nanoTime()))
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def named(n: String): Seq[Span] = all.filter(_.name == n)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)

  /** Ids of a span and of all its descendants. */
  private def subtree(s: Span): Set[Int] = {
    val ids = scala.collection.mutable.Set(s.id)
    all.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    ids.toSet
  }

  def tasksUnder(s: Span): Seq[TaskRec] = {
    val ids = subtree(s)
    collector.tasks.asScala.filter(t => ids.contains(t.span)).toSeq
  }

  def jobsUnder(s: Span): Set[Int] = {
    val ids = subtree(s)
    collector.jobSpan.asScala.collect { case (job, span) if ids.contains(span) => job }.toSet
  }

  def selfMs(s: Span): Double =
    Stats.selfTime(s.startNs, s.endNs, children(s).map(c => (c.startNs, c.endNs))) / 1e6

  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val GroupPrefix = "perfbench-span-"
  // SparkContext's local-property keys for the job group (not public API)
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescriptionKey = "spark.job.description"
}
