package perfbench

import graft.functions.{ArrayOps, TopK, Winnow}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rows per second of every public `graft.functions` kernel, on inputs
  * built from the sf0.1 documents and embeddings. Each kernel's output
  * hash is also computed with code generation off (interpreted `eval`)
  * and on (generated code only); the two must agree. */
final class Kernels(spark: SparkSession, sfDir: String, log: String => Unit) {
  private val Replicas = 2

  /** `Replicas` copies of a table, each row keyed by copy and id. */
  private def replicate(df: DataFrame, id: String): DataFrame =
    df.crossJoin(spark.range(Replicas).toDF("rep"))
      .withColumn("rid", col("rep") * 1000000L + col(id))

  private lazy val docs: DataFrame = {
    val base = replicate(graft.Tables.documents(spark, sfDir), "doc_id")
      .select(col("rid"), col("doc_id"), col("text"), col("n_chars"),
        graft.ml.TextOps.tokens(col("text")).as("toks"))
      .withColumn("sh", sort_array(ArrayOps.shingle_hash3(col("toks"))))
    val next = base.select((col("rid") - 1).as("rid"), col("sh").as("sh_next"))
    base.join(next, Seq("rid"), "left")
      .withColumn("sh_next", coalesce(col("sh_next"), col("sh")))
      .cache()
  }

  private lazy val embs: DataFrame = {
    replicate(graft.Tables.embeddings(spark, sfDir), "vec_id")
      .select(col("rid"), col("embedding"),
        ArrayOps.quantize_vec(col("embedding"), 10000).as("q"))
      .withColumn("q2", reverse(col("q")))
      .cache()
  }

  private lazy val cands: Column = {
    val rows = embs.filter(col("rid") < 64).select(col("rid"), col("q")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1).toSeq
    typedLit(rows)
  }

  private lazy val terms: Column = {
    val top = docs.select(explode(col("toks")).as("t")).groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(8).collect().map(_.getString(0)).toSeq
    typedLit(top)
  }

  private val planes: Array[Array[Long]] =
    (0 until 16).map(k => graft.ml.Similarity.plane(0, k, 16).toArray).toArray

  /** (name, input, query producing one order-independent hash). */
  private def cases: Seq[(String, DataFrame, DataFrame => DataFrame)] = {
    def row(e: => Column)(df: DataFrame): DataFrame =
      df.select(xxhash64(col("rid"), e).as("h")).agg(bit_xor(col("h")))
    Seq(
      ("dot_long", embs, row(ArrayOps.dot_long(col("q"), col("q2")))),
      ("sorted_overlap", docs, row(ArrayOps.sorted_overlap(col("sh"), col("sh_next")))),
      ("minhash_sig", docs, row(ArrayOps.minhash_sig(col("sh"), 64, 2147483647L))),
      ("shingle_hash3", docs, row(ArrayOps.shingle_hash3(col("toks")))),
      ("shingle_poly3", docs, row(ArrayOps.shingle_poly3(col("toks")))),
      ("quantize_vec", embs, row(ArrayOps.quantize_vec(col("embedding"), 10000))),
      ("simhash_sig", docs, row(ArrayOps.simhash_sig(col("toks")))),
      ("simhash_poly_sig", docs, row(ArrayOps.simhash_poly_sig(col("toks")))),
      ("nearest_vec", embs, row(ArrayOps.nearest_vec(col("q"), cands, maxDot = false))),
      ("adjacent_min_dist", docs, row(ArrayOps.adjacent_min_dist(col("toks"), terms))),
      ("lsh_sign_bits", embs, row(ArrayOps.lsh_sign_bits(col("q"), lit(16L), planes))),
      ("top_k", docs, (df: DataFrame) => df
        .groupBy((col("rid") % 1000).as("g"))
        .agg(TopK.top_k(struct(col("n_chars"), (-col("rid")).as("nr")), 3).as("k"))
        .select(xxhash64(col("g"), col("k")).as("h")).agg(bit_xor(col("h")))),
      ("winnow_fingerprints", docs, row(Winnow.winnow_fingerprints(col("text")))),
      ("winnow_poly_fingerprints", docs, row(Winnow.winnow_poly_fingerprints(col("text")))))
  }

  private def withModes[A](codegen: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), codegen.toString)
    spark.conf.set(keys(1), if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per kernel: rows/s of one generated-code run, after a first run that
    * compiles it, and whether the interpreted and generated outputs hash
    * the same. */
  def run(): Seq[Map[String, Any]] = cases.map { case (name, input, q) =>
    val rows = input.count()
    val interpreted = withModes(codegen = false)(q(input).head().getLong(0))
    withModes(codegen = true) {
      val generated = q(input).head().getLong(0)
      val t0 = System.nanoTime()
      q(input).head()
      val seconds = (System.nanoTime() - t0) / 1e9
      if (interpreted != generated)
        log(s"kernel $name: interpreted hash $interpreted != generated hash $generated")
      Map("kernel" -> name, "rows" -> rows, "seconds" -> seconds,
        "rows_per_s" -> rows / seconds, "hash_match" -> (interpreted == generated))
    }
  }
}
