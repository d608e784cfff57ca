package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink formats (SURVEY §2 row 2). The reference's "format" is raw
  * binary segment files behind a block File API
  * (`/root/reference/src/include/storage/file.h:11-70`); the Spark-native
  * analogue is columnar/parquet plus the interchange formats. All readers
  * take an explicit schema so ingestion never pays an inference pass and
  * schema drift fails loudly.
  */
object Formats {

  // FAILFAST honors the header contract above: Spark's default
  // PERMISSIVE mode would silently null malformed records and let the
  // corruption flow downstream — readCsvTolerant is the designated
  // permissive path for feeds where malformed rows are expected
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString)
      .option("mode", "FAILFAST").csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Tolerant CSV ingestion for crawled/third-party feeds: malformed
    * rows don't kill the job (PERMISSIVE) — they surface in a
    * `_corrupt_record` column so the pipeline can route them to a
    * quarantine sink and count them, which at 100 TB of scraped data is
    * a first-class output, not an error path.
    */
  def readCsvTolerant(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Raw media ingestion: read a directory of opaque files (images,
    * audio, video) as one row per file — (path, modificationTime,
    * length, content binary) — the front door of the multimodal decode
    * pipeline ([[graft.operators.Multimodal]] consumes the `content`
    * bytes). `pathGlobFilter` prunes at the FILE LISTING, before any
    * byte is read, and `maxBytesPerFile` guards executors from a rogue
    * multi-GB upload in a crawled corpus.
    */
  def readBinaryFiles(spark: SparkSession, path: String,
      globFilter: Option[String] = None,
      maxBytesPerFile: Option[Long] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    val r1 = globFilter.fold(r)(g => r.option("pathGlobFilter", g))
    val df = r1.load(path)
    maxBytesPerFile.fold(df)(m => df.where(org.apache.spark.sql.functions.col("length") <= m))
  }

  /** XML ingestion (Spark 4 ships the former spark-xml as a native
    * source): one row per `rowTag` element, explicit schema as
    * everywhere else. XML is the interchange reality of enterprise
    * document feeds (patents, legal corpora, Wikipedia dumps) — a
    * training-data pipeline ingests it at the edge and converts to
    * parquet immediately; nothing downstream should ever re-read XML.
    */
  def readXml(spark: SparkSession, path: String, schema: StructType,
      rowTag: String): DataFrame =
    spark.read.schema(schema).option("rowTag", rowTag)
      // default is true, which TRIMS surrounding whitespace from string
      // values — corpus text is whitespace-significant and the
      // write/read round-trip must be the row identity
      .option("ignoreSurroundingSpaces", "false")
      // same header contract as readCsv/readJsonLines: the default
      // PERMISSIVE mode silently nulls a malformed element's fields and
      // lets the corruption flow into the parquet conversion
      .option("mode", "FAILFAST")
      .format("xml").load(path)

  def writeXml(df: DataFrame, path: String, rowTag: String,
      rootTag: String = "rows"): Unit =
    df.write.mode("overwrite").option("rowTag", rowTag)
      .option("rootTag", rootTag).format("xml").save(path)

  // ORC: the other columnar interchange format warehouses hand us; same
  // pushdown/pruning properties as parquet in Spark's reader
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
