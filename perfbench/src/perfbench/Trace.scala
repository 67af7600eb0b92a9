package perfbench

import scala.collection.mutable
import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine work done under one job group, summed from task-end events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var files = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output; files += o.files
  }
}

/** Attributes every job, stage and task to the job group of the thread that
  * submitted it. The benchmark sets a group per span; streaming queries set
  * their own run id as the group. */
final class EngineListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def of(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    of(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    of(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.taskInfo != null) c.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  /** Removes and returns what was counted under `g`. */
  def take(g: String): Counters = synchronized(byGroup.remove(g).getOrElse(new Counters))
}

/** Keeps every progress report of every streaming query, by run id. */
final class ProgressListener extends StreamingQueryListener {
  private val byRun = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    byRun.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer.empty) += e.progress
  }
  def take(runId: String): Seq[StreamingQueryProgress] =
    synchronized(byRun.remove(runId).map(_.toSeq).getOrElse(Nil))
}

/** One timed call into the program; `cpuNs` is the CPU time the whole JVM
  * used meanwhile and `allocBytes` the heap its threads allocated (counted
  * with tracing on only). */
final case class Span(id: Int, parent: Int, name: String, run: String,
                      startNs: Long, endNs: Long, cpuNs: Long, allocBytes: Long,
                      work: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = cpuNs / 1e9
}

object Span {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of this process so far, all threads. */
  def processCpuNs: Long = os.getProcessCpuTime
  /** Heap bytes allocated so far by all live and finished threads. */
  def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes
}

/** Times calls into the program. With tracing on it also records a span per
  * call, sets a job group so the engine listener can attribute work to it,
  * and reads the files-discovered counter around it; with tracing off it
  * only reads the clock. Spans stay in memory until [[spansJson]]. */
final class Tracer(val on: Boolean, val run: String) {
  private var spark: SparkSession = _
  private var engine: EngineListener = _
  private var streams: ProgressListener = _
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var aliases = Map.empty[Int, List[String]]
  private var nextId = 1

  /** Registers the listeners on a (new) session. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      engine = new EngineListener
      streams = new ProgressListener
      s.sparkContext.addSparkListener(engine)
      s.streams.addListener(streams)
    }
  }

  /** Runs `body` as span `name`; returns its result and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val sc = spark.sparkContext
    if (on) {
      stack = id :: stack
      sc.setJobGroup(s"span-$id", name)
    }
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val c0 = Span.processCpuNs
    val a0 = if (on) Span.allocatedBytes else 0L
    val t0 = System.nanoTime()
    val out =
      try body
      finally if (on) {
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None => sc.clearJobGroup()
        }
      }
    val t1 = System.nanoTime()
    val cpu = Span.processCpuNs - c0
    val alloc = if (on) Span.allocatedBytes - a0 else 0L
    val work = new Counters
    if (on) {
      BusDrain(sc)
      work += engine.take(s"span-$id")
      aliases.getOrElse(id, Nil).foreach(g => work += engine.take(g))
      aliases -= id
      // a parent's work includes its children's
      done.filter(_.parent == id).foreach(c => work += c.work)
      work.files = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
    }
    val s = Span(id, parent, name, run, t0, t1, cpu, alloc, work)
    if (on) done += s
    (out, s)
  }

  /** Attributes work submitted under another job group (a streaming query's
    * run id) to the innermost open span. */
  def alias(group: String): Unit =
    if (on) stack.headOption.foreach(id => aliases += id -> (group :: aliases.getOrElse(id, Nil)))

  /** Progress reports of a finished streaming query (tracing on only). */
  def progress(runId: String): Seq[StreamingQueryProgress] =
    if (on) { BusDrain(spark.sparkContext); streams.take(runId) } else Nil

  /** Spans as JSON lines, with each span's self time (its duration minus the
    * time its child spans cover; children of one span run one after another). */
  def spansJson: Seq[String] = done.toSeq.sortBy(_.id).map { s =>
    val childNs = done.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
    val w = s.work
    Json.obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> (s.endNs - s.startNs - childNs), "process_cpu_ns" -> s.cpuNs,
      "allocated_bytes" -> s.allocBytes,
      "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "task_ms" -> w.taskMs, "executor_run_ms" -> w.runMs, "executor_cpu_ms" -> w.cpuNs / 1e6,
      "gc_ms" -> w.gcMs, "shuffle_read_bytes" -> w.shuffleRead,
      "shuffle_write_bytes" -> w.shuffleWrite, "spill_bytes" -> w.spill,
      "input_bytes" -> w.input, "output_bytes" -> w.output, "files_discovered" -> w.files)
  }
}
