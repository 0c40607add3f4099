package graft.scale

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.Tables
import scala.collection.mutable

/** Round-19 probe: per-JOB wall time + per-stage task/shuffle totals for
  * one registry query — the local stand-in for the Spark UI's Jobs page
  * (guide §7.1; the UI is disabled in the bench). Prints every job the
  * query schedules (AQE stage materializations included) with its
  * dominant stage's task count, input/shuffle-read/shuffle-write bytes
  * and executor cpu time, so the expensive exchange is identifiable by
  * name. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ONLY, SPARK_GRAFT_PASSES. */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "graph_pagerank")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config(Tables.NanosAsLongConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class StageRow(name: String, tasks: Int, input: Long, sr: Long,
        sw: Long, cpuMs: Long, wallMs: Long, spill: Long)
    val jobStart = mutable.Map[Int, Long]()
    val jobStages = mutable.Map[Int, Seq[Int]]()
    val stageRows = mutable.Map[Int, StageRow]()
    val jobs = mutable.ArrayBuffer[(Int, Long)]() // jobId, wallMs
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageRows(si.stageId) = StageRow(si.name.takeWhile(_ != '\n'),
          si.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.executorCpuTime / 1000000,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.memoryBytesSpilled)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    for (name <- names; p <- 1 to passes) {
      jobs.clear(); jobStart.clear(); jobStages.clear(); stageRows.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async; read the counts only once it is empty
      org.apache.spark.sql.graftops.ListenerBusBridge.drain(spark.sparkContext)
      println(f"QUERY $name pass$p total=$dt%.2f jobs=${jobs.size}")
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      for ((jid, wall) <- jobs.sortBy(-_._2).take(20)) {
        println(f"  job $jid%3d ${wall / 1000.0}%6.2fs")
        val rows = jobStages.getOrElse(jid, Nil)
          .flatMap(stageRows.get).sortBy(-_.wallMs).take(3)
        for (r <- rows)
          println(f"    stage ${r.wallMs / 1000.0}%6.2fs tasks=${r.tasks}%4d " +
            f"in=${mb(r.input)}MB sr=${mb(r.sr)}MB sw=${mb(r.sw)}MB " +
            f"cpu=${r.cpuMs / 1000.0}%.1fs spill=${mb(r.spill)}MB ${r.name.take(90)}")
      }
    }
    spark.stop()
  }
}
