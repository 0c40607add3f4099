package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftops.ListenerBusBridge

/** `Tables` reads each table's schema from its parquet footer on the
  * driver instead of through Spark's schema-inference job. The schema
  * must stay the one inference gives, under either nanos-as-long setting,
  * and building a query over `Tables` must start no job. */
class TablesSchemaSpec extends SparkSpec {
  private val sf01 = new java.io.File(sf).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The same tables as Spark writes them: a directory of part files
    * whose footers carry Spark's own schema metadata. */
  private lazy val sparkWritten: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    for (t <- tables)
      spark.read.parquet(s"$sf01/$t.parquet").repartition(3)
        .write.parquet(s"$dir/$t.parquet")
    dir
  }

  for (nanosAsLong <- Seq("true", "false"))
    test(s"footer schema equals the inferred schema ($nanosAsLong nanos-as-long)") {
      val s = spark.newSession()
      s.conf.set(Tables.NanosAsLongConf, nanosAsLong)
      for (dir <- Seq(sf01, sparkWritten); t <- tables)
        assert(Tables.load(s, dir, t).schema ==
          s.read.parquet(s"$dir/$t.parquet").schema, s"$dir/$t")
    }

  /** Jobs started from this thread while `body` runs, counted once the
    * listener bus has delivered every event. Other suites share the
    * SparkContext, so jobs are matched by a thread-local property. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      body
      ListenerBusBridge.drain(sc)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("building the case_analytics queries and Tables.events starts no job") {
    val caseAnalytics = Seq(
      sync.ReconcileQueries.queries -> Seq("recon_summary", "recon_needs_update"),
      sync.Ivm.queries -> Seq("ivm_touched_minmax", "ivm_cms_merge"),
      expr.ExprQueries.queries -> Seq("f18_json_payload", "f24_keyword_search"),
      metrics.DashboardQueries.queries -> Seq("a1_job_stats", "set_only_in_crm"))
    val jobs = jobsStartedBy {
      Tables.events(spark, sf01)
      for ((registry, names) <- caseAnalytics; n <- names) registry(n)(spark, sf01)
    }
    assert(jobs == 0)
    // the counter sees the job a schema-less read starts
    assert(jobsStartedBy(spark.read.parquet(s"$sf01/nation.parquet")) > 0)
  }
}
