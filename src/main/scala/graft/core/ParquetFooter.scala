package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet directory schemas answered on the driver from one footer.
  *
  * `spark.read.parquet(dir)` without a schema launches a Spark job to
  * infer one. With schema merging off (the default) and no summary
  * files (Spark writes none by default) that job reads a single file,
  * the first data file by path, "assuming all schemas are consistent",
  * and applies `ParquetFileFormat.readSchemaFromFooter` with the
  * session's converter. [[schema]] makes the same choice and the same
  * call on the driver, so the answer is the same and no job runs.
  */
object ParquetFooter {

  /** The schema Spark's inference takes from `dir`'s first footer, to be
    * handed to `spark.read.schema` / `spark.readStream.schema`. Its fields
    * keep the nullability the writer recorded; the file readers make every
    * field nullable, as they do with an inferred schema, so the relation
    * built from it reports what `spark.read.parquet(dir).schema` reports.
    * A missing dir, or one with no data file directly inside (empty, or
    * partitioned into subdirectories), goes through Spark's own inference,
    * which then discovers the partitions or raises its named error.
    */
  def schema(spark: SparkSession, dir: String): StructType =
    schema(spark, dir, spark.sessionState.conf)

  /** [[schema]] with the footer converted under `sqlConf` instead of the
    * session's conf, e.g. a clone with one parquet type-mapping setting
    * changed. The fallback inference still runs under the session's conf.
    */
  def schema(spark: SparkSession, dir: String, sqlConf: SQLConf): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val first =
      if (!fs.exists(path)) None
      else fs.listStatus(path).filter(f => f.isFile && isDataFile(f.getPath.getName))
        .minByOption(_.getPath.getName)
    first match {
      case None => spark.read.parquet(dir).schema
      case Some(file) => fileSchema(file, conf, sqlConf)
    }
  }

  /** The schema Spark's inference takes from the footer of `file`, a data
    * file already listed, converted under `sqlConf`.
    */
  def fileSchema(file: FileStatus, conf: Configuration, sqlConf: SQLConf): StructType = {
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(sqlConf))
  }

  /** Spark's file listing skips `_`- and `.`-prefixed names (markers,
    * checksums) and files still being copied in.
    */
  def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") && !name.endsWith("._COPYING_")
}
