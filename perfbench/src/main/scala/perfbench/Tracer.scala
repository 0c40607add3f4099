package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and counters for the traced run. The harness opens a span around
  * each call it makes into a layer (query → construct / plan / exec); the
  * Spark listener adds the jobs and stages those calls launched, and the
  * streaming listener adds one span per micro-batch. Everything stays in
  * memory until [[spansJson]] is written out at the end of the run.
  *
  * Jobs are attributed to the span that was open on the submitting thread
  * (a local property the harness sets), or for streaming jobs to the
  * micro-batch that ran them. Counts are read only after
  * [[BusDrain.drain]] has delivered every posted event. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds with nanosecond resolution, comparable with
    * the listener's event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val taskDelayMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
  }

  // ---------------------------------------------------------------- spans

  def open(parent: Int, name: String, kind: String): Int = synchronized {
    val s = Span(spans.size, parent, name, kind, nowMs, Double.NaN)
    spans += s
    s.id
  }

  def close(id: Int): Double = synchronized {
    val s = spans(id)
    s.endMs = nowMs
    (s.endMs - s.startMs) / 1000.0
  }

  /** Run `body` inside a span that the jobs it submits are attributed to. */
  def within[A](parent: Int, name: String, kind: String)(body: => A): (A, Int) = {
    val id = open(parent, name, kind)
    sc.setLocalProperty(SpanKey, id.toString)
    try (body, id)
    finally {
      close(id)
      sc.setLocalProperty(SpanKey, null)
    }
  }

  def spanSeconds(id: Int): Double = synchronized {
    val s = spans(id); (s.endMs - s.startMs) / 1000.0
  }

  // ------------------------------------------------------------- listening

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every posted event, then stop listening. */
  def detach(): Unit = {
    BusDrain.drain(sc)
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = BusDrain.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
    val stream = for {
      p <- props
      q <- Option(p.getProperty(StreamQueryKey))
      b <- Option(p.getProperty(StreamBatchKey))
    } yield (q, b.toLong)
    jobs(e.jobId) = JobRec(e.jobId, span, stream, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null) {
      val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting
      taskDelayMs(e.stageId) += math.max(0L, delay).toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      stages(i.stageId) = new StageRec(i.stageId, i.name,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
        i.numTasks, m.executorRunTime / 1000.0, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1000.0, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
  }

  // ------------------------------------------------------------ aggregates

  /** Jobs whose submitting span is one of `spanIds`. */
  def jobsOfSpans(spanIds: Set[Int]): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanIds(j.span)).toSeq
  }

  /** Jobs that started while span `id` was open but were submitted under
    * neither it nor one of its child spans. */
  def strayJobs(id: Int): Seq[JobRec] = synchronized {
    val s = spans(id)
    val own = spans.filter(_.parent == id).map(_.id).toSet + id
    jobs.values.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs && !own(j.span)).toSeq
  }

  def jobsOfStream(queryId: String, batchIds: Set[Long]): Seq[JobRec] = synchronized {
    jobs.values.filter(_.streamBatch.exists { case (q, b) => q == queryId && batchIds(b) }).toSeq
  }

  /** Scheduler and data-movement totals over the completed stages of `js`. */
  def schedTotals(js: Seq[JobRec]): Map[String, Double] = synchronized {
    val st = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> st.size.toDouble,
      "sched.tasks" -> st.map(_.tasks).sum.toDouble,
      "sched.task_s" -> st.map(_.runS).sum,
      "sched.cpu_s" -> st.map(_.cpuS).sum,
      "sched.gc_s" -> st.map(_.gcS).sum,
      "sched.delay_s" -> st.map(s => taskDelayMs(s.stageId)).sum / 1000.0,
      "shuffle.write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spill.bytes" -> st.map(_.spill).sum.toDouble,
      "scan.bytes" -> st.map(_.scanBytes).sum.toDouble,
      "scan.rows" -> st.map(_.scanRows).sum.toDouble)
  }

  // ---------------------------------------------------------------- output

  /** Every span (harness spans, stream micro-batches, jobs, stages) with
    * its self time: the duration minus the part its children cover. */
  def spansJson: Seq[Map[String, Any]] = synchronized {
    val all = ArrayBuffer.empty[Span]
    all ++= spans
    var next = spans.size
    val batchSpan = mutable.HashMap.empty[(String, Long), Int]
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      all += Span(next, -1, s"batch ${p.batchId}", "stream_batch", start, start + dur)
      batchSpan((p.id.toString, p.batchId)) = next
      next += 1
    }
    val jobSpan = mutable.HashMap.empty[Int, Int]
    jobs.values.foreach { j =>
      val parent = if (j.span >= 0) j.span else j.streamBatch.flatMap(batchSpan.get).getOrElse(-1)
      all += Span(next, parent, s"job ${j.jobId}", "job", j.startMs, j.endMs)
      j.stageIds.foreach(s => jobSpan.getOrElseUpdate(s, next))
      next += 1
    }
    stages.values.foreach { s =>
      all += Span(next, jobSpan.getOrElse(s.stageId, -1), s"stage ${s.stageId} ${s.name}",
        "stage", s.startMs, s.endMs)
      next += 1
    }
    val children = all.groupBy(_.parent)
    all.toSeq.map { s =>
      val covered = coveredMs(s.startMs, s.endMs,
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> math.max(0.0, s.endMs - s.startMs - covered))
    }
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
      startMs: Double, var endMs: Double)

  final case class JobRec(jobId: Int, span: Int, streamBatch: Option[(String, Long)],
      startMs: Double, var endMs: Double, stageIds: Seq[Int])

  final class StageRec(val stageId: Int, val name: String, val startMs: Double,
      val endMs: Double, val tasks: Int, val runS: Double, val cpuS: Double,
      val gcS: Double, val shuffleWrite: Long, val shuffleRead: Long,
      val spill: Long, val scanBytes: Long, val scanRows: Long)

  val SpanKey = "perfbench.span"
  // set by Structured Streaming on every job a micro-batch submits
  val StreamQueryKey = "sql.streaming.queryId"
  val StreamBatchKey = "streaming.sql.batchId"

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredMs(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .filter { case (a, b) => !a.isNaN && !b.isNaN }
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
