package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: which queries, drawn from which modules' public
  * registries, over which scale factor. perfbench/README.md says why each
  * was chosen. */
object Workloads {
  type Q = (SparkSession, String) => DataFrame

  /** `repsPer10s`: timed repetitions of each query per ten seconds of
    * `--seconds`, sized so the timed passes take about that long on a
    * 4-core host (at least two). */
  final case class Batch(name: String, scale: String, repsPer10s: Int,
      queries: Seq[(String, Q)], oracles: Map[String, String]) {
    def reps(seconds: Double): Int = math.max(2, math.round(seconds * repsPer10s / 10).toInt)
  }

  private def pick(reg: Map[String, Q], oracles: Map[String, String],
      names: Seq[String]): Seq[(String, Q, String)] = names.map { n =>
    val fn = reg.getOrElse(n, sys.error(s"query $n is not registered"))
    val sql = oracles.getOrElse(n, sys.error(s"query $n has no oracle"))
    (n, fn, sql)
  }

  private def batch(name: String, scale: String, repsPer10s: Int,
      picked: Seq[(String, Q, String)]): Batch =
    Batch(name, scale, repsPer10s, picked.map(p => p._1 -> p._2),
      picked.map(p => p._1 -> p._3).toMap)

  /** Light reconciliation, incremental-view, expression and dashboard
    * queries: planning, job launch and scan set their time. */
  def caseAnalytics: Batch = batch("case_analytics", "sf0.1", 3,
    pick(graft.sync.ReconcileQueries.queries, graft.sync.ReconcileQueries.oracles,
      Seq("recon_summary", "recon_needs_update")) ++
    pick(graft.sync.Ivm.queries, graft.sync.Ivm.oracles,
      Seq("ivm_touched_minmax", "ivm_cms_merge")) ++
    pick(graft.expr.ExprQueries.queries, graft.expr.ExprQueries.oracles,
      Seq("f18_json_payload", "f24_keyword_search")) ++
    pick(graft.metrics.DashboardQueries.queries, graft.metrics.DashboardQueries.oracles,
      Seq("a1_job_stats", "set_only_in_crm")))

  /** The LLM-data and graph tail: many jobs per query, shuffle, all three
    * driver-loop policies (lazy unroll, persist + count, checkpoint +
    * accumulator tap) and the takedown pipeline's driver-side construction. */
  def llmOps: Batch = batch("llm_ops", "sf0.01", 2,
    pick(graft.SparkEntry.queries, graft.SparkEntry.oracleSql,
      Seq("dedup_embedding_clusters", "graph_pagerank", "graph_label_prop")) ++
    pick(graft.pipeline.Takedown.queries, graft.pipeline.Takedown.oracles,
      Seq("e2e_takedown_flagship")))

  def batchByName(name: String): Option[Batch] = name match {
    case "case_analytics" => Some(caseAnalytics)
    case "llm_ops" => Some(llmOps)
    case _ => None
  }
}
