package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters for one span or one micro-batch. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runNs += o.runNs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "executor_run_s" -> runNs / 1e9,
    "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "scheduler_delay_s" -> schedDelayMs / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes)
}

final class Span(val id: Int, val name: String, val parent: Int,
                 val tag: String, val start: Long) {
  var end: Long = -1L
  val counters = new Counters
  def seconds: Double = (end - start) / 1e9
}

/** Micro-batch progress as the streaming engine reports it. */
final case class BatchProgress(batchId: Long, triggerMs: Long, addBatchMs: Long,
                               planningMs: Long, durations: Map[String, Long])

/** Spans around each call into a layer, with Spark scheduler events attached
  * to the span whose id the submitting thread carried as a job property
  * (streaming threads inherit it from the thread that started the query),
  * and per-micro-batch counters keyed by the engine's batch-id property.
  *
  * Until [[activate]] it records only micro-batch progress (an end-to-end
  * metric): no spans, no scheduler listener, so untraced reps pay nothing. */
final class Trace {
  private val SpanProp = "perfbench.span"
  private val BatchProp = "streaming.sql.batchId"

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private var sc: SparkContext = _
  @volatile private var active = false

  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobBatch = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  val batches = mutable.LinkedHashMap.empty[Long, Counters]
  val progress = mutable.ArrayBuffer.empty[BatchProgress]

  def attach(context: SparkContext, session: org.apache.spark.sql.SparkSession): Unit = {
    sc = context
    session.streams.addListener(streamListener)
    if (active) sc.addSparkListener(sparkListener)
  }

  /** Start recording spans and scheduler events on the current context. */
  def activate(): Unit = if (!active) {
    active = true
    if (sc != null) sc.addSparkListener(sparkListener)
  }

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!active) body
    else {
      val parent = stack.get.headOption
      val s = synchronized {
        val x = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), tag,
          System.nanoTime())
        spans += x
        x
      }
      stack.set(s :: stack.get)
      if (sc != null) sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
        if (sc != null)
          sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far
    * (`listenerBus` is package-private to Spark, hence reflection). */
  def drain(): Unit = if (sc != null) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def byName(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Counters summed over `root` and every span below it. */
  def subtree(root: Span): Counters = synchronized {
    val c = new Counters
    val inTree = mutable.Set(root.id)
    spans.foreach { s =>
      if (s.id == root.id || inTree.contains(s.parent)) { inTree += s.id; c.add(s.counters) }
    }
    c
  }

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double = synchronized {
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
  }

  def clearBatches(): Unit = synchronized { batches.clear(); progress.clear() }

  private def countersFor(jobId: Int): Seq[Counters] = synchronized {
    jobSpan.get(jobId).map(spans(_).counters).toSeq ++
      jobBatch.get(jobId).map(b => batches.getOrElseUpdate(b, new Counters)).toSeq
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      Trace.this.synchronized {
        props.flatMap(p => Option(p.getProperty(SpanProp))).foreach(id => jobSpan(e.jobId) = id.toInt)
        props.flatMap(p => Option(p.getProperty(BatchProp))).foreach(b => jobBatch(e.jobId) = b.toLong)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
      countersFor(e.jobId).foreach(_.jobs += 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized(stageJob.get(e.stageInfo.stageId))
        .foreach(j => countersFor(j).foreach(_.stages += 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = Trace.this.synchronized(stageJob.get(e.stageId))
      job.foreach { j =>
        val info = e.taskInfo
        val m = Option(e.taskMetrics)
        countersFor(j).foreach { c =>
          c.tasks += 1
          if (!info.successful) c.taskFailures += 1
          m.foreach { tm =>
            c.runNs += tm.executorRunTime * 1000000L
            c.cpuNs += tm.executorCpuTime
            c.gcMs += tm.jvmGCTime
            c.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
            c.spillBytes += tm.diskBytesSpilled + tm.memoryBytesSpilled
            c.inputBytes += tm.inputMetrics.bytesRead
            val duration = info.finishTime - info.launchTime
            c.schedDelayMs += math.max(0L, duration - tm.executorRunTime -
              tm.executorDeserializeTime - tm.resultSerializationTime -
              info.gettingResultTime)
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch")) Trace.this.synchronized {
        progress += BatchProgress(e.progress.batchId, d.get("triggerExecution"),
          d.get("addBatch"), Option(d.get("queryPlanning")).map(_.longValue).getOrElse(0L),
          d.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }
}
