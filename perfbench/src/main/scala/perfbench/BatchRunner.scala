package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Closed-loop passes over a batch workload with one client, query by
  * query in an order drawn from the seed. Each query first runs once
  * untimed with its output written as parquet for the oracle compare. That
  * run collects the rows of the same physical plan the timed runs count, so
  * it compiles and warms exactly their generated code. Then the query runs
  * `reps` timed times back to back. Pass r is the sum of every query's
  * r-th timed run. The timed action is graft.Bench's: build the frame,
  * then count the rows of its own physical plan, so every output column is
  * computed.
  *
  * In a traced run each timed repetition runs the query twice, once
  * untraced and once under the tracer (alternating which goes first), so
  * the difference of the two pass sums is the tracing overhead. */
final class BatchRunner(spark: SparkSession, wl: Workloads.Batch, dataDir: String,
    seed: Long, reps: Int, outDir: String, log: String => Unit) {

  private val sfDir = s"$dataDir/${wl.scale}"

  def order: Seq[(String, Workloads.Q)] =
    new scala.util.Random(seed).shuffle(wl.queries)

  /** Untimed: the query's output under `outDir/out/<name>`. */
  private def verify(name: String, fn: Workloads.Q): Boolean = {
    val ok = try {
      val df = fn(spark, sfDir)
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val rows = df.queryExecution.toRdd.map(_.copy()).collect()
        .map(r => toRow(r).asInstanceOf[Row])
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/out/$name")
      true
    } catch {
      case e: Throwable =>
        log(s"verify: $name failed: ${e.getMessage}")
        false
    }
    spark.catalog.clearCache()
    ok
  }

  /** One untraced timed execution: wall seconds and the CPU seconds the
    * whole process spent meanwhile; None when the query threw. */
  private def timed(name: String, fn: Workloads.Q): Option[(Double, Double)] = {
    val c0 = BenchSession.processCpuS
    val t0 = System.nanoTime()
    val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
    catch {
      case e: Throwable =>
        log(s"timed: $name failed: ${e.getMessage}")
        false
    }
    spark.catalog.clearCache()
    if (ok) Some(((System.nanoTime() - t0) / 1e9, BenchSession.processCpuS - c0)) else None
  }

  def timedPasses(): Map[String, Any] = {
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val failedVerify = ArrayBuffer.empty[String]
    val passes = Array.fill(reps)(0.0)
    order.foreach { case (name, fn) =>
      if (!verify(name, fn)) failedVerify += name
      (0 until reps).foreach { r =>
        val t = timed(name, fn)
        t.foreach(passes(r) += _._1)
        samples += Map("rep" -> r, "query" -> name, "s" -> t.map(_._1).getOrElse(Double.NaN),
          "cpu_s" -> t.map(_._2).getOrElse(Double.NaN), "ok" -> t.isDefined)
      }
    }
    Map("samples" -> samples.toSeq, "passes" -> passes.toSeq,
      "verify_failed" -> failedVerify.toSeq, "queries" -> wl.queries.size)
  }

  /** Traced passes: per query, untraced and traced executions in
    * alternating order; the traced one is split into construct, plan,
    * stage materialization and the final job. */
  def tracedPasses(tracer: Tracer, cores: Int): Map[String, Any] = {
    val phases = ArrayBuffer.empty[Map[String, Any]]
    val untracedPasses = Array.fill(reps)(0.0)
    val tracedPasses = Array.fill(reps)(0.0)
    val phaseSpans = ArrayBuffer.empty[(String, Int)]
    val untracedWall = scala.collection.mutable.HashMap.empty[(String, Int), Double]
    val failedVerify = ArrayBuffer.empty[String]
    var failed = 0
    var attempted = 0
    order.zipWithIndex.foreach { case ((name, fn), i) =>
      if (!verify(name, fn)) failedVerify += name
      (0 until reps).foreach { pass =>
        def plain(): Unit = {
          attempted += 1
          timed(name, fn) match {
            case Some((t, _)) => untracedPasses(pass) += t; untracedWall((name, pass)) = t
            case None => failed += 1
          }
        }
        def withTrace(): Unit = {
          attempted += 1
          tracer.attach()
          val q = tracer.open(-1, name, "query")
          val t0 = System.nanoTime()
          try {
            val (df, c) = tracer.within(q, "construct", "construct")(fn(spark, sfDir))
            val (_, p) = tracer.within(q, "plan", "plan")(df.queryExecution.executedPlan)
            val (rdd, s) = tracer.within(q, "exec.stages", "exec")(df.queryExecution.toRdd)
            val (_, f) = tracer.within(q, "exec.final", "exec")(rdd.count())
            spark.catalog.clearCache()
            val wall = (System.nanoTime() - t0) / 1e9
            tracedPasses(pass) += wall
            phaseSpans ++= Seq("construct" -> c, "plan" -> p, "exec.stages" -> s,
              "exec.final" -> f)
            phases += Map("pass" -> pass, "query" -> name, "wall_s" -> wall,
              "construct_s" -> tracer.spanSeconds(c), "plan_s" -> tracer.spanSeconds(p),
              "stages_s" -> tracer.spanSeconds(s), "final_s" -> tracer.spanSeconds(f),
              "span" -> q)
          } catch {
            case e: Throwable =>
              log(s"traced: $name failed: ${e.getMessage}")
              failed += 1
              spark.catalog.clearCache()
          } finally {
            tracer.close(q)
            tracer.detach()
          }
        }
        if ((i + pass) % 2 == 0) { plain(); withTrace() } else { withTrace(); plain() }
      }
    }
    tracer.drain()
    val nPass = reps.toDouble
    def phaseSum(key: String) = phases.map(_(key).asInstanceOf[Double]).sum / nPass
    def spansOf(kind: String) = phaseSpans.filter(_._1 == kind).map(_._2).toSet
    val allSpans = phaseSpans.map(_._2).toSet
    val sched = tracer.schedTotals(tracer.jobsOfSpans(allSpans)).map { case (k, v) => k -> v / nPass }
    val wall = phaseSum("wall_s")
    val layers = sched ++ Map(
      "construct.s" -> phaseSum("construct_s"),
      "construct.jobs" -> tracer.jobsOfSpans(spansOf("construct")).size / nPass,
      "plan.s" -> phaseSum("plan_s"),
      "exec.stages_s" -> phaseSum("stages_s"),
      "exec.final_s" -> phaseSum("final_s"),
      "sched.busy_frac" -> (if (wall > 0) sched("sched.task_s") / (cores * wall) else 0.0),
      "trace.overhead_s" -> (median(tracedPasses.toSeq) - median(untracedPasses.toSeq)))
    // the four phases must account for each query's traced wall, and every
    // job that started while the query ran must belong to one of them
    val unaccounted = phases.map { p =>
      val w = p("wall_s").asInstanceOf[Double]
      val parts = Seq("construct_s", "plan_s", "stages_s", "final_s")
        .map(p(_).asInstanceOf[Double]).sum
      if (w > 0) math.abs(w - parts) / w else 0.0
    }
    val unattributed = phases.map(p => tracer.strayJobs(p("span").asInstanceOf[Int]).size).sum
    // information only: the phase sum against the same query's untraced
    // run, which differs by the tracing overhead and run-to-run noise
    val vsUntraced = phases.flatMap { p =>
      untracedWall.get((p("query").asInstanceOf[String], p("pass").asInstanceOf[Int]))
        .map(u => p("query") -> (Seq("construct_s", "plan_s", "stages_s", "final_s")
          .map(p(_).asInstanceOf[Double]).sum / u))
    }
    Map("phases" -> phases.toSeq, "layers" -> layers,
      "untraced_passes" -> untracedPasses.toSeq, "traced_passes" -> tracedPasses.toSeq,
      "max_unaccounted_frac" -> (if (unaccounted.isEmpty) 0.0 else unaccounted.max),
      "unattributed_jobs" -> unattributed,
      "phases_over_untraced" -> vsUntraced.map { case (q, r) => Map("query" -> q, "ratio" -> r) },
      "verify_failed" -> failedVerify.toSeq, "queries" -> wl.queries.size,
      "attempted" -> attempted, "failed" -> failed)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
