package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session, configured here and nowhere else. The
  * harness launches the JVM itself, so nothing is inherited from the
  * repository's build settings (its `spark.local.dir` in particular): the
  * shuffle and spill directory lives on disk inside the working directory. */
object BenchSession {
  def conf(cores: Int, localDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // the test tables are single parquet files; smaller splits give the
    // scan stages real parallelism on local[N] (same as graft.Bench)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    graft.Tables.NanosAsLongConf -> "true",
    "spark.local.dir" -> localDir,
    "spark.sql.warehouse.dir" -> s"$localDir/warehouse",
    // streamed shuffle-merge copies and a fixed Tungsten page size: both
    // keep pass times flat on hosts with slow mmap or large heaps
    "spark.file.transferTo" -> "false",
    "spark.buffer.pageSize" -> "4m",
    // keep every micro-batch's progress so sync lag covers the whole run
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def build(cores: Int, localDir: String): SparkSession = {
    val b = SparkSession.builder()
    conf(cores, localDir).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by this process so far, all threads. */
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** The settings every result records, read back from the live session. */
  def effective(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext.getConf
    Map(
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.local.dir" -> sc.get("spark.local.dir", ""),
      "spark.file.transferTo" -> sc.get("spark.file.transferTo", "true"),
      "spark.buffer.pageSize" -> sc.get("spark.buffer.pageSize", ""),
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version)
  }
}
