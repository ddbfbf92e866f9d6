package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine work summed over an interval. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    spillB: Long = 0, recordsRead: Long = 0, recordsWritten: Long = 0,
    taskOverheadMs: Long = 0, compiles: Long = 0, compileMs: Double = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleWriteB + o.shuffleWriteB,
    shuffleReadB + o.shuffleReadB, spillB + o.spillB, recordsRead + o.recordsRead,
    recordsWritten + o.recordsWritten, taskOverheadMs + o.taskOverheadMs,
    compiles + o.compiles, compileMs + o.compileMs)
}

/** Records Spark's job, stage and task events with their wall-clock times.
  * Nothing is attributed while the run goes on: after the run, each event
  * is charged to the spans whose interval holds its time, so the tracer
  * never has to wait for the asynchronous listener bus at a span boundary.
  */
final class EngineListener extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) of every finished job, epoch nanoseconds. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  /** Completion time of every stage that ran. */
  val stages = ArrayBuffer.empty[Long]
  /** (finish time, counters) of every finished task. */
  val tasks = ArrayBuffer.empty[(Long, Work)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) synchronized { jobs += ((s * 1000000L, e.time * 1000000L)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(t => synchronized { stages += t * 1000000L })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      // scheduler delay as the Spark UI defines it, plus deserialization
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      val w = Work(tasks = 1, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsRead = m.inputMetrics.recordsRead,
        recordsWritten = m.outputMetrics.recordsWritten,
        taskOverheadMs = delay + m.executorDeserializeTime)
      synchronized { tasks += ((i.finishTime * 1000000L, w)) }
    }
  }
}

/** A timed call into one layer. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    start: Long, end: Long, compiles: Long, compileMs: Double) {
  def dur: Long = end - start
}

/** Spans around the benchmark's calls into the engine's public functions,
  * kept in memory and written out when the run ends. With `enabled` off
  * a span only runs its body: untraced runs record nothing and register
  * no listener.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis() * 1000000L
  private var listener: Option[EngineListener] = None

  def now(): Long = baseEpoch + (System.nanoTime() - baseNano)

  /** Registers the event listener on a (new) session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    val l = listener.getOrElse(new EngineListener)
    listener = Some(l)
    spark.sparkContext.addSparkListener(l)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)

  private val codegen =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  /** Janino compiles so far and an estimate of their total milliseconds
    * (histogram mean × count, the estimator graft.Bench uses).
    */
  private def compileState(): (Long, Double) =
    (codegen.getCount, codegen.getSnapshot.getMean * codegen.getCount)

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (c0, m0) = compileState()
      val s = now()
      try body
      finally {
        val e = now()
        val (c1, m1) = compileState()
        stack = stack.tail
        spans += Span(id, parent, name, req, s, e, c1 - c0, math.max(0.0, m1 - m0))
      }
    }

  def all: Seq[Span] = spans.toSeq

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span time not covered by its child spans. */
  def selfNs(s: Span): Long =
    Intervals.uncovered(children(s).map(c => (c.start, c.end)), s.start, s.end)

  private def jobIntervals: Seq[(Long, Long)] =
    listener.map(l => l.synchronized(l.jobs.toSeq)).getOrElse(Nil)

  /** Span time during which no Spark job was running. */
  def driverNs(s: Span): Long = Intervals.uncovered(jobIntervals, s.start, s.end)

  /** Engine work that started (jobs) or finished (stages, tasks) inside the span. */
  def work(s: Span): Work = listener match {
    case None => Work()
    case Some(l) =>
      def in(t: Long) = t >= s.start && t < s.end
      val (js, ss, ts) = l.synchronized((l.jobs.toSeq, l.stages.toSeq, l.tasks.toSeq))
      ts.filter(t => in(t._1)).map(_._2).foldLeft(Work())(_ + _)
        .copy(jobs = js.count(j => in(j._1)), stages = ss.count(in))
        .copy(compiles = s.compiles, compileMs = s.compileMs)
  }

  /** One JSON object per span, with its self and driver time and its work. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      val w = work(s)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.q(s.name)},"req":${Json.q(s.req)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${selfNs(s)},"driver_ns":${driverNs(s)},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"cpu_ns":${w.cpuNs},""" +
        s""""compiles":${w.compiles},"shuffle_write_b":${w.shuffleWriteB},"records_read":${w.recordsRead},""" +
        s""""records_written":${w.recordsWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
