package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Named samples with a unit each. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]

  def add(name: String, unit: String, v: Double): Unit =
    m.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty))._2 += v

  def n(name: String): Int = m.get(name).map(_._2.size).getOrElse(0)
  def sum(name: String): Double = m.get(name).map(_._2.sum).getOrElse(0.0)
  def unit(name: String): String = m(name)._1
  def names: Seq[String] = m.keys.toSeq
  def values(name: String): Seq[Double] = m.get(name).map(_._2.toSeq).getOrElse(Nil)

  /** Quantile with linear interpolation between closest ranks. */
  def q(name: String, p: Double): Double = {
    val xs = m(name)._2.sorted
    val pos = p * (xs.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= xs.size) xs(lo) else xs(lo) + (xs(lo + 1) - xs(lo)) * (pos - lo)
  }
  def p50(name: String): Double = q(name, 0.5)
  def mean(name: String): Double = sum(name) / n(name)
}

/** One reported metric. */
final case class Metric(value: Double, unit: String, n: Int)

/** Run state shared by the workloads: arguments, session, tracer, checks. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val work: String, val nproc: Int) {
  val checks = new Checks
  val tracer = new Tracer(trace, s"$workload-$seed-${ProcessHandle.current.pid}")
  val samples = new Samples
  /** Timed-loop samples of the single-core baseline (traced runs). */
  val local1 = new Samples
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Metric]
  var spark: SparkSession = _
  var cores: Int = nproc

  /** Builds the session the way the test fixture does: graft extensions,
    * UTC, nanos-as-long, shuffle partitions = cores, UI off. */
  def start(c: Int): SparkSession = {
    cores = c
    spark = SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", c.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.attach(spark)
    spark
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def dir(name: String): String = s"$work/$name"

  /** Runs one operation of the closed loop, counting it; an exception fails
    * the operation and ends the loop. */
  def op(name: String)(body: => Unit): Boolean = {
    checks.op()
    try { body; true }
    catch {
      case e: Throwable =>
        checks.fail(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        System.err.println(s"$name failed"); e.printStackTrace()
        false
    }
  }

  def setE2e(name: String, unit: String, value: Double, n: Int): Unit = e2e(name) = Metric(value, unit, n)

  /** Records the end of set-up. setup_s is the CPU time the JVM has used
    * since it started, which neighbours on a shared machine move less than
    * the wall time (kept as setup.wall_s). */
  def setupDone(wallS: Double): Unit = {
    setE2e("setup_s", "s", Span.processCpuNs / 1e9, 1)
    detailMetric("setup.wall_s", "s", wallS, 1)
  }

  /** End-to-end numbers of the timed loop: medians of wall and process-CPU
    * time per operation and of its parts, throughput, bytes written per
    * input byte, and the memory left after the operations. */
  def publishE2e(): Unit = {
    val s = samples
    val n = s.n("cycle")
    Seq("cycle", "cycle_cpu", "daily", "daily_cpu", "report")
      .filter(x => s.n(x) > 0).foreach(x => setE2e(s"${x}_s.p50", "s", s.p50(x), s.n(x)))
    if (s.n("rows") > 0) {
      setE2e("rows_per_s", "1/s", s.sum("rows") / s.sum("cycle"), n)
      setE2e("rows_per_cpu_s", "1/s", s.sum("rows") / s.sum("cycle_cpu"), n)
      setE2e("bytes_out_per_in", "ratio", s.sum("bytes_out") / s.sum("bytes_in"), n)
    }
    if (s.n("mem_after_gc") > 0)
      setE2e("mem_after_gc_mb", "MB", s.values("mem_after_gc").max, s.n("mem_after_gc"))
  }

  /** Memory the program holds after a timed operation: a full collection
    * runs (outside the timed window), then heap in use plus non-heap
    * (metaspace, code cache) in use is recorded. Unlike the resident set,
    * this does not follow how far the collector lets the heap fill. */
  def settle(into: Samples): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc()
    into.add("mem_after_gc", "MB",
      (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0)
  }

  /** Per-layer numbers of one call into a module, kept under `name`:
    * wall time and the engine work done under it (traced runs). */
  def phase(name: String, s: Span): Unit = if (trace) {
    phases += name
    val w = s.work
    samples.add(s"$name.s", "s", s.seconds)
    samples.add(s"$name.jobs", "count", w.jobs.toDouble)
    samples.add(s"$name.tasks", "count", w.tasks.toDouble)
    samples.add(s"$name.files_discovered", "count", w.files.toDouble)
    samples.add(s"$name.cpu_busy_ratio", "ratio", w.cpuNs / 1e9 / (s.seconds * cores))
    samples.add(s"$name.shuffle_bytes", "bytes", w.shuffleWrite.toDouble)
    samples.add(s"$name.input_bytes", "bytes", w.input.toDouble)
    samples.add(s"$name.output_bytes", "bytes", w.output.toDouble)
  }
  private val phases = mutable.LinkedHashSet.empty[String]

  /** Engine totals of one timed operation. */
  def engine(s: Span): Unit = if (trace) {
    val w = s.work
    def add(n: String, u: String, v: Double): Unit = samples.add(s"spark.$n", u, v)
    add("jobs", "count", w.jobs.toDouble)
    add("stages", "count", w.stages.toDouble)
    add("tasks", "count", w.tasks.toDouble)
    add("task_overhead_ms", "ms", (w.taskMs - w.runMs).toDouble)
    add("executor_run_ms", "ms", w.runMs.toDouble)
    add("executor_cpu_ms", "ms", w.cpuNs / 1e6)
    add("gc_ms", "ms", w.gcMs.toDouble)
    add("cpu_busy_ratio", "ratio", w.cpuNs / 1e9 / (s.seconds * cores))
    add("shuffle_read_bytes", "bytes", w.shuffleRead.toDouble)
    add("shuffle_write_bytes", "bytes", w.shuffleWrite.toDouble)
    add("spill_bytes", "bytes", w.spill.toDouble)
    add("input_bytes", "bytes", w.input.toDouble)
    add("output_bytes", "bytes", w.output.toDouble)
    add("files_discovered", "count", w.files.toDouble)
    // JVM-wide, unlike the task GC time
    samples.add("jvm.allocated_bytes", "bytes", s.allocBytes.toDouble)
  }

  /** Moves the traced samples into the reported maps: the engine totals of
    * an operation (every workload has them) into the per-layer map, the
    * numbers of each module call into the detail map; medians for times,
    * means per operation for counts, bytes and ratios. */
  def publishLayers(): Unit = {
    def put(to: mutable.Map[String, Metric], n: String): Unit = if (samples.n(n) > 0) {
      val v = if (n.endsWith(".s")) samples.p50(n) else samples.mean(n)
      to(if (n.endsWith(".s")) n + ".p50" else n) = Metric(v, samples.unit(n), samples.n(n))
    }
    samples.names.filter(n => n.startsWith("spark.") || n.startsWith("jvm.")).foreach(put(layer, _))
    phases.toSeq.flatMap(p => Seq("s", "jobs", "tasks", "files_discovered", "cpu_busy_ratio",
      "shuffle_bytes", "input_bytes", "output_bytes").map(x => s"$p.$x")).foreach(put(detail, _))
  }

  def detailMetric(name: String, unit: String, value: Double, n: Int): Unit =
    detail(name) = Metric(value, unit, n)

  def detailP50(name: String, from: String): Unit =
    if (samples.n(from) > 0) detail(name) = Metric(samples.p50(from), samples.unit(from), samples.n(from))

  def detailMean(name: String, from: String): Unit =
    if (samples.n(from) > 0) detail(name) = Metric(samples.mean(from), samples.unit(from), samples.n(from))

  /** Single-core baseline (traced runs): on a fresh local[1] session over
    * the same data, one untimed operation, then two timed ones; records
    * their median time over the local[nproc] median. `unit(timed, into)`
    * runs one operation. */
  def singleCore(unit: (Boolean, Samples) => Boolean): Unit = {
    stop()
    start(1)
    if (unit(false, local1) && unit(true, local1)) unit(true, local1)
    val n = local1.n("cycle")
    if (n >= 2 && samples.n("cycle") > 0)
      layer("scaling.local1_ratio") = Metric(local1.p50("cycle") / samples.p50("cycle"), "ratio", n)
    else checks.fail(s"single-core baseline: $n timed operations, 2 needed")
  }
}

object Main {
  val Workloads = Seq("daily_steady", "stream_cycles", "operator_sentinels")

  /** Parquet data files under `dir`. */
  def dataFiles(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new File(dir))
  }
  def dataBytes(dir: String): Long = dataFiles(dir).map(_.length).sum

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def runWorkload(ctx: Ctx, sessionS: Double): Unit =
    try ctx.workload match {
      case "daily_steady" => Pipeline.run(ctx, sessionS)
      case "stream_cycles" => StreamCycles.run(ctx, sessionS)
      case "operator_sentinels" => Sentinels.run(ctx, sessionS)
    } catch {
      case e: Throwable =>
        ctx.checks.fail(s"workload aborted: $e")
        e.printStackTrace()
    }

  /** Loads the classes the workloads use, for the class-data archive the
    * build makes: runs the set-up of every workload, without timed
    * operations, in one JVM. Failed checks are only logged here; the runs
    * report them. */
  def loadClasses(work: String, cores: Int): Unit = Workloads.foreach { w =>
    val ctx = new Ctx(w, 1L, 0.0, trace = false, s"$work/$w", cores)
    Files.createDirectories(Paths.get(ctx.work))
    ctx.start(cores)
    runWorkload(ctx, 0.0)
    ctx.stop()
    ctx.checks.messages.foreach(m => System.err.println(s"$w: $m"))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a("workload") == "classes") return loadClasses(a("work"), a("cores").toInt)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val ctx = new Ctx(workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("work"), a("cores").toInt)
    Files.createDirectories(Paths.get(ctx.work))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.start(ctx.nproc)
    runWorkload(ctx, (System.currentTimeMillis() - jvmStart) / 1e3)
    ctx.detailMetric("peak_rss_mb", "MB", peakRssMb(), 1)
    ctx.stop()

    def metrics(m: collection.Map[String, Metric]) = Json.Raw(m.map { case (k, x) =>
      Json.str(k) + ":" + Json.obj("value" -> x.value, "unit" -> x.unit, "n" -> x.n)
    }.mkString("{", ",", "}"))
    val out = Json.obj(
      "correct" -> (ctx.checks.failed == 0),
      "attempted" -> ctx.checks.attempted,
      "failed" -> ctx.checks.failed,
      "messages" -> ctx.checks.messages.toSeq,
      "end_to_end" -> metrics(ctx.e2e),
      "per_layer" -> metrics(ctx.layer),
      "detail" -> metrics(ctx.detail),
      "samples" -> ctx.samples.names.map(n => n -> ctx.samples.values(n)).toMap,
      "info" -> Json.Raw(Json.obj(
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "nproc" -> ctx.nproc,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "run" -> ctx.tracer.run)))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    if (ctx.trace)
      Files.write(Paths.get(a("spans")), ctx.tracer.spansJson.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
  }
}
