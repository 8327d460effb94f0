package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a call into one of the engine's modules, or a micro-batch
  * inside one. Times are epoch milliseconds, the clock Spark's listener
  * events carry. */
final case class Span(id: Int, name: String, parent: Int, run: Int, startMs: Long, endMs: Long)

/** A finished Spark job, its stages, and its interval. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

/** One finished task, as the per-layer sums need it. */
final case class TaskRec(stage: Int, launchMs: Long, runMs: Long, gcMs: Long,
                         shuffleBytes: Long, ioBytes: Long,
                         readsShuffle: Boolean, readsFiles: Boolean)

/** One streaming micro-batch's progress. */
final case class BatchRec(query: String, startMs: Long, durations: Map[String, Long])

/** Records spans in memory, plus the Spark jobs, stages, tasks and
  * streaming progress the listeners see while tracing is on. Nothing is
  * written until the run ends (`json`); the layer table is computed from
  * that record by `layers.py`. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  val stageSubmit = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  @volatile private var lastEvent = System.nanoTime()
  private var stack = List.empty[Int]
  var run = 0

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds); lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, st) => jobs += JobRec(e.jobId, t0, e.time, st) }
      lastEvent = System.nanoTime()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        val sw = m.shuffleWriteMetrics.bytesWritten
        val in = m.inputMetrics.bytesRead
        tasks += TaskRec(e.stageId, e.taskInfo.launchTime, m.executorRunTime, m.jvmGCTime,
          sr + sw, in + m.outputMetrics.bytesWritten, sr > 0, in > 0)
      }
      lastEvent = System.nanoTime()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += BatchRec(p.id.toString, java.time.Instant.parse(p.timestamp).toEpochMilli, d)
      lastEvent = System.nanoTime()
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (synchronized(jobStart.nonEmpty) || System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(20)
  }

  /** Time `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId()
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, run, t0, t0 + (n1 - n0) / 1000000L)
    }
  }

  /** Add micro-batch spans (children of the span `parent`) from the
    * streaming progress seen inside it. */
  def addBatchSpans(parent: Span, name: String): Unit =
    synchronized(batches.filter(b => b.startMs >= parent.startMs && b.startMs <= parent.endMs).toSeq)
      .foreach(b => spans += Span(nextId(), name, parent.id, parent.run, b.startMs,
        b.startMs + b.durations.getOrElse("triggerExecution", 0L)))

  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  /** The whole record, for `layers.py`. */
  def json: Any = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages)).toSeq,
      "stage_submit_ms" -> stageSubmit.map { case (k, v) => k.toString -> v }.toMap,
      "tasks" -> tasks.map(t => Seq(t.stage, t.launchMs, t.runMs, t.gcMs, t.shuffleBytes, t.ioBytes,
        if (t.readsShuffle) 1 else 0, if (t.readsFiles) 1 else 0)).toSeq,
      "batches" -> batches.map(b => Map("query" -> b.query, "start_ms" -> b.startMs,
        "durations_ms" -> b.durations)).toSeq)
  }
}

/** JSON files for `run.py`, written with the Jackson that Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, v)
  }
}
