package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Schema inference for one parquet table, on the driver. A schema-less
  * `spark.read.parquet(path)` infers through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which launches a
  * `parallelize(...).collect()` job only to read one footer — on short
  * queries over small tables the job costs more than the scan. This
  * bridge reads the same footer here and converts it with the same
  * `readSchemaFromFooter` and a converter built from the session's SQL
  * conf, so nanos-as-long and TIMESTAMP_NTZ inference match the job's
  * result; callers pass it to `spark.read.schema(...)`. The converter and
  * the footer helpers are private to Spark's sql packages, hence the
  * package. */
object FooterSchemaBridge {
  /** `path` is one parquet file, or a flat directory of part files (a
    * plain `df.write.parquet`), whose first data file by path is read —
    * the file Spark's inference picks when schemas are not merged and no
    * summary file is present. */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val top = fs.getFileStatus(p)
    val file =
      if (top.isFile) top
      else {
        val children = fs.listStatus(p)
          .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        require(children.forall(_.isFile),
          s"$path holds subdirectories; only a file or a flat directory of part files is supported")
        require(children.nonEmpty, s"$path holds no parquet data file")
        children.minBy(_.getPath.toString)
      }
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
  }
}
