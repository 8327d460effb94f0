package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: one process, one `local[nproc]` session, one
  * closed-loop client. It sets up (session plus warm-up runs), then runs
  * the workload back to back for `--seconds`, timing each run and each
  * of the client's reads of its output (topped up to `MinReads`), and
  * writes what it measured to `<out>/result.json`. With
  * `--trace 1` the second half of the window runs with the listeners on
  * and every call into an engine module inside a span; that record goes
  * to `<out>/trace.json`. `run.py` starts this process, checks the
  * outputs against the DuckDB oracles and prints the metrics.
  *
  * Usage: Harness <workload> <inputsDir> <outDir> <seconds> <trace 0|1>
  *        <warmupRuns> <readsPerRun> <seed> */
object Harness {
  final case class Args(workload: String, inputs: String, out: String, seconds: Double,
                        trace: Boolean, warmup: Int, reads: Int, seed: Long)

  /** A timed read; returns the rows the client received. */
  final case class Read(label: String, run: () => Array[Row])

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
      argv(5).toInt, argv(6).toInt, argv(7).toLong)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val w = Workloads(a.workload, a.inputs, a.out, a.seed)
    val genS = timed(w.prepareInputs())._2 // excluded from set-up time
    pretouch(a.inputs)
    val spark = graft.GraftSession.driverLocal()
    val result = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = { failed += 1; failures += what }

    val runS = mutable.ArrayBuffer.empty[Double]
    val tracedRunS = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val heapMb = mutable.ArrayBuffer.empty[Double]
    val readLog = mutable.ArrayBuffer.empty[(String, Array[Row])]
    val warmupS = mutable.ArrayBuffer.empty[Double]
    val runForeign = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark)
    var tracing = false
    var runIndex = 0

    def read(r: Read, t: Tracing): Unit = {
      attempted += 1
      val (rows, s) = timed(scala.util.Try(t.span(w.readSpan)(r.run())))
      rows match {
        case scala.util.Success(v) => readMs += s * 1000; readLog += (r.label -> v)
        case scala.util.Failure(e) => fail(s"read ${r.label}: $e")
      }
    }

    /** One workload run and the client's reads of its output. A warm-up
      * run is not recorded and ends the invocation if it fails. */
    def iteration(measure: Boolean): Unit = {
      hygiene(spark)
      runIndex += 1
      tracer.run = runIndex
      val t = new Tracing(if (tracing) Some(tracer) else None)
      val c0 = CpuSample()
      val (outcome, s) = timed(scala.util.Try(w.run(spark, t)))
      afterCall(spark)
      if (measure) {
        attempted += 1
        runForeign += CpuSample().foreignShare(c0)
        outcome match {
          case scala.util.Success(_) => (if (tracing) tracedRunS else runS) += s
          case scala.util.Failure(e) => fail(s"run: $e")
        }
      } else outcome.get
      if (outcome.isSuccess) {
        w.reads(spark, a.reads, runIndex).foreach(r => if (measure) read(r, t) else r.run())
        afterCall(spark)
      }
      if (tracing) { tracer.drain(); w.batchSpans(tracer) }
      // the second collection frees what Spark's ContextCleaner released
      // after the first (broadcast and shuffle blocks of collected plans)
      System.gc(); Thread.sleep(100); System.gc()
      if (measure) heapMb += oldGenMb()
    }

    // set-up: session (above) plus the warm-up runs
    (0 until a.warmup).foreach(_ => warmupS += timed(iteration(measure = false))._2)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genS

    val cpu0 = CpuSample()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untracedWindow = if (a.trace) a.seconds / 2 else a.seconds
    while (runS.isEmpty || elapsed < untracedWindow) iteration(measure = true)
    if (a.trace) {
      tracer.start(); tracing = true
      while (tracedRunS.isEmpty || elapsed < a.seconds) iteration(measure = true)
      tracing = false; tracer.stop()
    }
    // top up to enough reads for a p80 with ten samples beyond it
    val untraced = new Tracing(None)
    while (readMs.size < MinReads) w.reads(spark, a.reads, runIndex).foreach(read(_, untraced))
    val cpu = CpuSample().foreignShare(cpu0)

    // output checks, outside every timed window
    val checks = scala.util.Try(w.check(spark, readLog.toSeq)) match {
      case scala.util.Success(c) => c
      case scala.util.Failure(e) => Seq(s"check raised $e")
    }
    checks.foreach(fail)

    result ++= Seq(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "setup_s" -> setupS, "warmup_s" -> warmupS.toSeq, "input_gen_s" -> genS,
      "run_s" -> runS.toSeq, "traced_run_s" -> tracedRunS.toSeq,
      "read_ms" -> readMs.toSeq, "heap_mb" -> heapMb.toSeq,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "foreign_cpu_share" -> cpu, "run_foreign_cpu_share" -> runForeign.toSeq)
    Json.write(s"${a.out}/result.json", result)
    if (a.trace) Json.write(s"${a.out}/trace.json", tracer.json)
    spark.stop()
  }

  val MinReads = 50

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Start every run from cold engine memos, as each run of the paper's
    * jobs would. */
  def hygiene(spark: SparkSession): Unit = {
    graft.dedup.MinHashLSH.clearCache()
    graft.similarity.Ann.clearIndexCache()
    graft.similarity.SemDedup.clearCache()
    graft.operators.TextOps.clearBpeCache()
    graft.text.Unigram.clearCache()
    afterCall(spark)
  }

  /** Between calls: drop dead checkpoint blocks and finished streams. */
  def afterCall(spark: SparkSession): Unit = {
    graft.plans.ScaleTechniques.releaseLocalCheckpoints(spark)
    spark.streams.resetTerminated()
  }

  /** Old-generation occupancy after the last collection, in MB. */
  def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble / 1e6).sum

  /** Read every input byte once so the page-cache state is the same for
    * every run. */
  def pretouch(dir: String): Long = {
    val buf = new Array[Byte](1 << 16)
    var bytes = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try { var n = in.read(buf); while (n >= 0) { bytes += n; n = in.read(buf) } } finally in.close()
      }
    walk(new java.io.File(dir))
    bytes
  }

  /** System-wide busy CPU (from /proc/stat) against this process's CPU
    * time, so a run shows how much of the box other processes used. */
  final case class CpuSample(wallNs: Long = System.nanoTime(), busyJiffies: Long = CpuSample.busy(),
                             procNs: Long = CpuSample.proc()) {
    /** Foreign busy cores per core over the interval since `from`; -1
      * where /proc/stat is unavailable. */
    def foreignShare(from: CpuSample): Double =
      if (busyJiffies < 0 || from.busyJiffies < 0) -1.0
      else {
        val wall = (wallNs - from.wallNs) / 1e9
        val foreign = (busyJiffies - from.busyJiffies) / 100.0 - (procNs - from.procNs) / 1e9
        math.max(0.0, foreign) / wall / cores
      }
  }
  object CpuSample {
    def busy(): Long = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        f(0) + f(1) + f(2) + f(5) + f(6) + f(7) // user nice system irq softirq steal
      } finally src.close()
    }.getOrElse(-1L)
    def proc(): Long = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
  }
}

/** Spans on when a tracer is given; a plain call otherwise. Spans around
  * lazy calls materialize the result at the boundary, so that the span
  * holds the call's own work. */
final class Tracing(val tracer: Option[Tracer]) {
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def lazySpan(name: String)(body: => DataFrame): DataFrame = tracer match {
    case Some(t) => t.span(name) { val df = body.persist(); df.count(); df }
    case None => body
  }
  def unpersistAll(spark: SparkSession): Unit = if (tracer.isDefined) spark.catalog.clearCache()
}
