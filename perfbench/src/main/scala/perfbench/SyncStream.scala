package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.streaming.IncrementalSync
import graft.streaming.IncrementalSync.SnapshotUpdate
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Seeded CRM snapshot updates over a fixed key universe of
  * tenants × case_refs. Keys are drawn Zipf-skewed toward hot cases; most
  * updates advance the case's serial, the rest repeat it or go backwards,
  * and hot keys get several updates inside one batch. */
final class UpdateGen(seed: Long) {
  import SyncStream._

  private val rng = new scala.util.Random(seed)
  private val cur = new Array[Long](Keys)
  // hot ranks land on keys spread over every tenant
  private val perm = new scala.util.Random(seed ^ 0x5deece66dL).shuffle((0 until Keys).toVector).toArray
  private val cdf = {
    val w = Array.tabulate(Keys)(r => 1.0 / math.pow(r + 1.0, ZipfExponent))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def sampleKey(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    perm(math.min(if (i >= 0) i else -i - 1, Keys - 1))
  }

  def next(): SnapshotUpdate = {
    val k = sampleKey()
    val c = cur(k)
    val u = rng.nextDouble()
    val serial =
      if (c == 0 || u < AdvanceShare) { cur(k) = c + 1 + rng.nextInt(3); cur(k) }
      else if (u < AdvanceShare + RepeatShare) c
      else math.max(1L, c - 1 - rng.nextInt(math.min(c, 5L).toInt))
    SnapshotUpdate(k / CasesPerTenant, k % CasesPerTenant + 1, serial)
  }

  def batch(n: Int): Array[SnapshotUpdate] = Array.fill(n)(next())
}

/** The write path: the nightly AvailableNow drain of a seeded backlog
  * (`IncrementalSync.scheduledSyncOnce`), then the continuous pipeline
  * (`IncrementalSync.syncPipeline`) fed open-loop at a fixed rate, each
  * generator batch stamped with its due time. The final watermarks and
  * the change log are checked against a model of the generator. */
final class SyncStream(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
    workDir: String, log: String => Unit) {
  import SyncStream._
  import spark.implicits._

  private implicit val sqlCtx: SQLContext = spark.sqlContext

  /** Set-up tail: start the continuous pipeline on a fresh directory and
    * wait for its first committed batch. */
  def startOnce(dir: String): Unit = {
    val input = MemoryStream[SnapshotUpdate]
    input.addData(new UpdateGen(seed + 7).batch(1000).toSeq)
    val q = IncrementalSync.syncPipeline(input.toDS(), dir)
    try q.processAllAvailable() finally q.stop()
  }

  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.numInputRows > 0 || offsetOf(p.sources(0).endOffset) >
      offsetOf(p.sources(0).startOffset))

  private def dirBytes(dir: String): Long = {
    val f = new java.io.File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  /** `closedLoop`: feed each batch only when the previous one has
    * committed, which measures the pipeline's capacity at this batch shape
    * instead of its lag at the open-loop rate. */
  def run(tracer: Option[Tracer], closedLoop: Boolean): Map[String, Any] = {
    val gen = new UpdateGen(seed)
    val backlog = Seq.fill(BacklogChunks)(gen.batch(BacklogUpdates / BacklogChunks))
    val warm = Seq.fill(WarmBatches)(gen.batch(BatchUpdates))
    val nOpen = math.max(12, math.round(seconds * BatchesPer10s / 10).toInt)
    val open = Seq.fill(nOpen)(gen.batch(BatchUpdates))
    // indexed by MemoryStream offset: added in this order
    val allBatches = backlog ++ warm ++ open

    // in a traced run the same backlog is also drained untraced, once
    // before and once after the traced drain, for the tracing overhead
    def untracedDrain(dir: String): Double = {
      val in = MemoryStream[SnapshotUpdate]
      backlog.foreach(b => in.addData(b.toSeq))
      val t0 = System.nanoTime()
      IncrementalSync.scheduledSyncOnce(in.toDS(), dir).awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }
    val untracedBefore = tracer.map(_ => untracedDrain(s"$workDir/sync-untraced-0"))
    tracer.foreach(_.attach())

    val outDir = s"$workDir/sync"
    val input = MemoryStream[SnapshotUpdate]
    val backlogOffsets = backlog.map(b => offsetOf(input.addData(b.toSeq).json))
    val d0 = System.nanoTime()
    val c0 = BenchSession.processCpuS
    val drainQ = IncrementalSync.scheduledSyncOnce(input.toDS(), outDir)
    val drained = drainQ.awaitTermination(120000L)
    val drainS = (System.nanoTime() - d0) / 1e9
    val drainCpuS = BenchSession.processCpuS - c0
    if (!drained) { drainQ.stop(); sys.error("backlog drain did not finish") }
    drainQ.exception.foreach(e => throw e)
    val drainBatches = dataBatches(drainQ)
    val untracedAfter = tracer.map { t =>
      t.detach()
      try untracedDrain(s"$workDir/sync-untraced-1") finally t.attach()
    }

    var bytesBefore = 0L
    val q = IncrementalSync.syncPipeline(input.toDS(), outDir)
    val gens = ArrayBuffer.empty[Map[String, Any]]
    try {
      // unmeasured batches first, each added when the last has committed:
      // the restarted query's first micro-batches pay its start-up and JIT
      // warm-up (lags fall from about 1.1 s to 0.65 s over the first ten),
      // which is set-up cost, not sync lag
      warm.foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      bytesBefore = dirBytes(outDir)
      if (closedLoop) open.foreach { b =>
        // the next batch goes in when the last one has committed
        val added = System.currentTimeMillis()
        val off = offsetOf(input.addData(b.toSeq).json)
        gens += Map("offset" -> off, "due_ms" -> added, "added_ms" -> added)
        q.processAllAvailable()
      } else {
        val t0 = System.currentTimeMillis() + 100L
        open.zipWithIndex.foreach { case (b, g) =>
          val due = t0 + g * IntervalMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val added = System.currentTimeMillis()
          val off = offsetOf(input.addData(b.toSeq).json)
          gens += Map("offset" -> off, "due_ms" -> due, "added_ms" -> added)
        }
      }
      q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
    val contBatches = dataBatches(q)
    val openBatches = contBatches.filter(p =>
      offsetOf(p.sources(0).endOffset) >= BacklogChunks + WarmBatches)
    val bytesAfter = dirBytes(outDir)

    // ---- checks against the generator's model
    val groups = (drainBatches ++ contBatches).map(p =>
      (offsetOf(p.sources(0).startOffset), offsetOf(p.sources(0).endOffset)))
    val (advances, expected) = model(allBatches, groups)
    val latestTimes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      IncrementalSync.latestWatermarks(spark, outDir)
      (System.nanoTime() - t0) / 1e9
    }
    val got = IncrementalSync.latestWatermarks(spark, outDir)
      .map(_.select("tenant_id", "case_ref", "last_serialno").collect()).getOrElse(Array.empty)
      .map(r => (r.getLong(0) * CasesPerTenant + r.getLong(1) - 1).toInt -> r.getLong(2)).toMap
    val marksOk = got.size == expected.size && expected.forall { case (k, s) => got.get(k).contains(s) }
    val changeRows = spark.read.parquet(s"$outDir/changes").count()
    if (!marksOk) log(s"sync: watermarks differ from the model (${got.size} vs ${expected.size} keys)")
    if (changeRows != advances) log(s"sync: change log holds $changeRows rows, model $advances")

    val openUpdates = nOpen.toLong * BatchUpdates
    val layers = tracer.map { tr =>
      tr.drain()
      val ids = openBatches.map(_.batchId).toSet
      val n = math.max(1, openBatches.size).toDouble
      def dur(p: StreamingQueryProgress, k: String) =
        Option(p.durationMs.get(k)).map(_.toDouble / 1000.0).getOrElse(0.0)
      def mean(f: StreamingQueryProgress => Double) = openBatches.map(f).sum / n
      val last = openBatches.lastOption
      val sched = tr.schedTotals(tr.jobsOfStream(q.id.toString, ids)).map { case (k, v) => k -> v / n }
      sched ++ Map(
        "stream.batch_s" -> mean(dur(_, "triggerExecution")),
        "stream.add_batch_s" -> mean(dur(_, "addBatch")),
        "stream.planning_s" -> mean(dur(_, "queryPlanning")),
        "stream.commit_s" -> mean(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
        "stream.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        "stream.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
        "stream.state_commit_s" -> mean(_.stateOperators.map(_.commitTimeMs).sum / 1000.0),
        "stream.bytes_written_per_update" -> (bytesAfter - bytesBefore).toDouble / openUpdates,
        "stream.latest_watermarks_s" -> latestTimes.sorted.apply(latestTimes.size / 2),
        "sched.busy_frac" -> sched("sched.task_s") / (cores * mean(dur(_, "triggerExecution"))),
        "trace.overhead_s" -> (drainS - (untracedBefore.get + untracedAfter.get) / 2))
    }

    def progressRow(p: StreamingQueryProgress) = Map(
      "batch_id" -> p.batchId,
      "start_offset" -> offsetOf(p.sources(0).startOffset),
      "end_offset" -> offsetOf(p.sources(0).endOffset),
      "commit_ms" -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)))
    Map(
      "drain_s" -> drainS, "drain_cpu_s" -> drainCpuS, "backlog_updates" -> BacklogUpdates.toLong,
      "backlog_offsets" -> backlogOffsets,
      "generator" -> gens.toSeq, "micro_batches" -> openBatches.map(progressRow),
      "drain_batches" -> drainBatches.map(progressRow),
      "open_updates" -> openUpdates,
      "model" -> Map("advances" -> advances, "keys" -> expected.size.toLong,
        "change_rows" -> changeRows, "mark_keys" -> got.size.toLong,
        "marks_ok" -> marksOk, "changes_ok" -> (changeRows == advances)),
      "params" -> params, "layers" -> layers)
  }
}

object SyncStream {
  val Tenants = 8
  val CasesPerTenant = 20000
  val Keys: Int = Tenants * CasesPerTenant
  val ZipfExponent = 0.9
  val AdvanceShare = 0.8
  val RepeatShare = 0.1
  val BacklogUpdates = 200000
  val BacklogChunks = 10
  /** Open-loop shape: one generator batch of `BatchUpdates` updates every
    * `IntervalMs`, 1,476 updates/s. That is half the closed-loop capacity
    * at this batch shape (`run.py --feed closed`, which adds each batch
    * when the last one has committed, after the same drain and warm-up):
    * 2,740-3,172 updates/s over six runs on a 4-core host, median 2,917
    * (perfbench/README.md lists them). The pipeline so idles between
    * batches, and the lag measures one batch's commit, not a queue. */
  val BatchUpdates = 2000
  val IntervalMs = 1355L
  /** Unmeasured closed-loop batches between the drain and the open loop. */
  val WarmBatches = 8
  /** Open-loop batches per ten seconds of `--seconds`, at least 12. */
  val BatchesPer10s = 15

  def params: Map[String, Any] = Map("tenants" -> Tenants, "cases_per_tenant" -> CasesPerTenant,
    "zipf_exponent" -> ZipfExponent, "advance_share" -> AdvanceShare,
    "repeat_share" -> RepeatShare, "backlog_updates" -> BacklogUpdates,
    "interval_ms" -> IntervalMs, "batch_updates" -> BatchUpdates,
    "warm_batches" -> WarmBatches, "batches_per_10s" -> BatchesPer10s)

  /** MemoryStream offsets are the index of the added batch; no offset
    * (the first micro-batch's start) is -1. */
  def offsetOf(json: String): Long =
    if (json == null || json.trim.isEmpty || json.trim == "null") -1L
    else json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  /** Replays the pipeline's semantics over the generator's batches,
    * grouped into micro-batches by offset range (start, end]: within a
    * micro-batch each key's serials are applied in ascending order and
    * each one above the watermark is an advance. Returns the number of
    * advances and the final watermark of every key seen. */
  def model(batches: Seq[Array[SnapshotUpdate]], groups: Seq[(Long, Long)])
      : (Long, Map[Int, Long]) = {
    val last = new Array[Long](Keys)
    var advances = 0L
    groups.sortBy(_._1).foreach { case (start, end) =>
      val ups = ((start + 1) to end).flatMap(i => batches(i.toInt))
        .map(u => ((u.tenant_id * CasesPerTenant + u.case_ref - 1).toInt, u.serialno))
        .sorted
      ups.foreach { case (k, s) =>
        if (s > last(k)) { advances += 1; last(k) = s }
      }
    }
    val marks = last.indices.iterator.filter(last(_) > 0).map(k => k -> last(k)).toMap
    (advances, marks)
  }
}
