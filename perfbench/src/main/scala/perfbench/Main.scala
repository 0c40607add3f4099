package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM. perfbench/run.py builds the program,
  * launches this main, checks the outputs it leaves behind and prints the
  * result line; this side only measures and writes `raw.json`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --cores C --data DIR --work DIR [--feed open|closed]
  *        perfbench.Main --dump-oracles FILE   (each batch workload's scale
  *          and oracle SQL, without starting Spark) */
object Main {
  // NaN stays a bare token, which Python's json module reads back
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracles") match {
      case Some(path) =>
        val all = Seq(Workloads.caseAnalytics, Workloads.llmOps).map(b =>
          b.name -> Map("scale" -> b.scale, "oracles" -> b.oracles)).toMap
        Files.writeString(Paths.get(path), mapper.writeValueAsString(all))
      case None => run(args)
    }
  }

  private def run(args: Map[String, String]): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val dataDir = args("data")
    val work = args("work")
    val feed = args.getOrElse("feed", "open")
    val log: String => Unit = m => System.err.println(s"[perfbench] $m")
    val batch = Workloads.batchByName(workload)
    require(batch.isDefined || workload == "sync_stream", s"unknown workload $workload")

    // set-up, cold: from the JVM's start through session build, warm-up,
    // table footers and, for the stream, start through the first committed
    // batch. A second set-up in the same JVM would skip class loading,
    // static initialisation and first-use JIT, so it is never measured.
    val t0 = System.nanoTime()
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = BenchSession.build(cores, s"$work/spark-local")
    val t1 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    val t2 = System.nanoTime()
    batch match {
      case Some(b) =>
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings").foreach(t => graft.Tables.load(spark, s"$dataDir/${b.scale}", t).schema)
        graft.Tables.events(spark, s"$dataDir/${b.scale}").schema
      case None =>
        new SyncStream(spark, seed, seconds, cores, work, log).startOnce(s"$work/setup")
    }
    val t3 = System.nanoTime()
    val setup = Map("setup_s" -> (bootS + (t3 - t0) / 1e9), "jvm_boot_s" -> bootS,
      "session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "tables_or_stream_s" -> (t3 - t2) / 1e9)
    log(f"setup ${setup("setup_s")}%.2f s: JVM boot $bootS%.2f s, session ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${(t2 - t1) / 1e9}%.2f s, tables or stream ${(t3 - t2) / 1e9}%.2f s")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val body: Map[String, Any] = batch match {
      case Some(b) =>
        // a traced run makes one traced and one untraced run per query
        val reps = if (trace) 1 else b.reps(seconds)
        val runner = new BatchRunner(spark, b, dataDir, seed, reps, work, log)
        val timed = tracer match {
          case Some(t) => runner.tracedPasses(t, cores)
          case None => runner.timedPasses()
        }
        Map("scale" -> b.scale) ++ timed
      case None =>
        new SyncStream(spark, seed, seconds, cores, work, log).run(tracer, feed == "closed")
    }

    val kernels = if (trace) new Kernels(spark, s"$dataDir/sf0.1", log).run() else Nil
    val effective = BenchSession.effective(spark)
    val spans = tracer.map(_.spansJson).getOrElse(Nil)
    spark.stop()

    val raw = Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup" -> setup, "config" -> effective, "peak_rss_mb" -> peakRssMb,
      "kernels" -> kernels) ++ body
    Files.writeString(Paths.get(s"$work/raw.json"), mapper.writeValueAsString(raw))
    if (trace) Files.writeString(Paths.get(s"$work/trace.json"), mapper.writeValueAsString(spans))
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
