package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch milliseconds with
  * sub-millisecond precision. `op` is shared by every span of one operation
  * (a trigger, a store version, a query); `parent` is 0 for a root.
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      layer: String, start: Double, end: Double,
                      tasks: Long = 0, bytesRead: Long = 0,
                      bytesWritten: Long = 0, shuffleBytes: Long = 0) {
  def ms: Double = end - start
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch ms, monotonic within the run, comparable to Spark event times. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process, all threads, in ms. Time the hypervisor
    * steals from the VM is not counted, so it varies less with host load.
    */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
}

/** Spans recorded from the benchmark's own code, around calls into the
  * engine's public entry points; nothing inside the engine is instrumented.
  * When `on`, a SparkListener attributes every Spark job (with its tasks and
  * bytes) to the span that submitted it: the span id travels as a thread-local
  * Spark property (inherited by the engine's forked threads), and streaming
  * jobs carry their query id and batch id, which [[bind]] maps to spans.
  * Spans stay in memory and are written out when the run ends.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val bound = mutable.Map.empty[String, Seq[Long]]
  private val listener = new JobListener

  def register(sc: SparkContext): Unit = if (on) sc.addSparkListener(listener)

  /** An id for a span whose interval is known only later ([[record]]). */
  def reserve(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, op: String, name: String, layer: String,
             start: Double, end: Double): Unit =
    if (on) spans.add(Span(id, parent, op, name, layer, start, end))

  def add(parent: Long, op: String, name: String, layer: String,
          start: Double, end: Double): Long = {
    val id = reserve()
    record(id, parent, op, name, layer, start, end)
    id
  }

  /** Run `body` inside a span. */
  def span[T](sc: SparkContext, parent: Long, op: String, name: String,
              layer: String)(body: => T): T = {
    val id = reserve()
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Clock.now
    try body
    finally {
      sc.setLocalProperty(Tracer.SpanKey, prev)
      if (on) spans.add(Span(id, parent, op, name, layer, t0, Clock.now))
    }
  }

  /** Jobs tagged with `key` belong to the first of `candidates` whose
    * interval holds the job's start, else to the last candidate.
    */
  def bind(key: String, candidates: Seq[Long]): Unit = synchronized { bound(key) = candidates }

  /** All spans, with one child span per attributed Spark job. */
  def finish(sc: SparkContext): Seq[Span] = {
    if (!on) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    val own = spans.asScala.toVector
    val byId = own.map(s => s.id -> s).toMap
    val jobs = listener.jobs.values.toVector.sortBy(_.id).flatMap { j =>
      val parent = j.key.toLongOption.filter(byId.contains).orElse {
        bound.get(j.key).map { c =>
          c.find(id => byId.get(id).exists(s => s.start <= j.start && j.start <= s.end))
            .getOrElse(c.last)
        }
      }
      parent.map { p =>
        Span(reserve(), p, byId(p).op, "spark.job", "spark",
          j.start, math.max(j.end, j.start), j.tasks, j.bytesRead,
          j.bytesWritten, j.shuffleBytes)
      }
    }
    own ++ jobs
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover.
    */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }
}

/** Job, task and byte counts per Spark job, keyed for span attribution. */
private final class JobListener extends SparkListener {
  final class Job(val id: Int, val key: String, val start: Double) {
    var end: Double = start
    var tasks, bytesRead, bytesWritten, shuffleBytes = 0L
  }
  val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val key = prop(Tracer.SpanKey).getOrElse(
      s"${prop("sql.streaming.queryId").getOrElse("")}:${prop("streaming.sql.batchId").getOrElse("")}")
    val j = new Job(e.jobId, key, e.time.toDouble)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.bytesRead += m.inputMetrics.bytesRead
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
}
