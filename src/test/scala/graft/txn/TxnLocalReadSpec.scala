package graft.txn

import graft.SharedSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A small snapshot read on the driver equals the distributed scan over
  * the same dirs: the same schema, nullability included, and the same rows
  * as a multiset. Also the size switch (a snapshot above the constant
  * decoded, or one the vectorized reader cannot read, takes the scan) and
  * the decoded-file cache's invalidation: a session conf change reaches
  * the next read, and a crash empties it.
  */
class TxnLocalReadSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val wide =
    StructType.fromDDL("id BIGINT NOT NULL, s STRING, d DECIMAL(12,2), ts TIMESTAMP, xs ARRAY<INT>")

  private def row(i: Int): Row =
    if (i % 5 == 0) Row(i.toLong, null, null, null, null)
    else Row(i.toLong, s"s$i", new java.math.BigDecimal(s"$i.25"),
      java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 9} 12:34:56.789"), (0 until i % 4).toSeq)

  /** Rows already in driver memory: written on the driver as one file. */
  private def localBatch(ids: Range): DataFrame =
    spark.createDataFrame(ids.map(row).asJava, wide)

  /** Rows behind an RDD: written by Spark tasks, several part files plus
    * `_SUCCESS` and `.crc` checksums.
    */
  private def distributedBatch(ids: Range): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(row), 3), wide)

  private def freshTable(): TxnTable =
    new TxnTable(spark, Files.createTempDirectory("graft-txn-local").toString)

  private def commit(t: TxnTable, batches: DataFrame*): Long = {
    val txn = t.txns.startTxn()
    batches.foreach(t.insert(txn, _))
    t.txns.commitTxn(txn)
    txn
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** `read` on the local path, then forced through the scan: one local
    * relation against one file scan, equal schemas and rows.
    */
  private def assertParity(t: TxnTable)(read: => DataFrame): Unit = {
    val local = read
    t.forceScan = true
    val scanned = try read finally t.forceScan = false
    assert(local.queryExecution.optimizedPlan.collectLeaves().map(_.getClass) ==
      Seq(classOf[LocalRelation]))
    assert(scanned.queryExecution.optimizedPlan.collect { case r: LogicalRelation => r }.length == 1)
    assert(local.schema == scanned.schema)
    assert(local.schema.forall(f => f.nullable && (f.dataType match {
      case a: ArrayType => a.containsNull
      case _ => true
    })), local.schema.treeString)
    val rows = multiset(local)
    assert(rows.nonEmpty)
    assert(rows == multiset(scanned))
  }

  test("multi-part df.write batches with _SUCCESS and .crc read alike on both paths") {
    val t = freshTable()
    commit(t, distributedBatch(0 until 40), localBatch(40 until 50))
    commit(t, distributedBatch(50 until 90))
    val names = scala.util.Using.resource(Files.walk(Paths.get(t.dir)))(
      _.iterator().asScala.map(_.getFileName.toString).toVector)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assertParity(t)(t.read())
    assert(t.read().count() == 90)
  }

  test("a checkpoint base plus later batches read alike on both paths") {
    val t = freshTable()
    commit(t, localBatch(0 until 20), distributedBatch(20 until 30))
    t.checkpoint()
    assert(t.log.count(LogRecord.Checkpoint) == 1)
    commit(t, localBatch(30 until 35))
    assertParity(t)(t.read())
    assert(t.read().count() == 35)
  }

  test("read(asTxn) with the transaction's own uncommitted writes reads alike on both paths") {
    val t = freshTable()
    commit(t, localBatch(0 until 10))
    val open = t.txns.startTxn()
    t.insert(open, distributedBatch(10 until 25))
    assertParity(t)(t.read(Some(open)))
    assert(t.read(Some(open)).count() == 25)
    assert(t.read().count() == 10)
  }

  test("readAsOf reads alike on both paths") {
    val t = freshTable()
    val first = commit(t, localBatch(0 until 10), distributedBatch(10 until 20))
    commit(t, localBatch(20 until 30))
    assertParity(t)(t.readAsOf(first))
    assert(t.readAsOf(first).count() == 20)
  }

  test("a read after compact reads alike on both paths and keeps only visible files") {
    val t = freshTable()
    commit(t, localBatch(0 until 10))
    commit(t, distributedBatch(10 until 30))
    assert(t.read().count() == 30)
    t.checkpoint()
    val (_, deleted) = t.compact()
    assert(deleted == 2)
    commit(t, localBatch(30 until 40))
    assertParity(t)(t.read())
    // the checkpoint base and the new batch: one file each
    assert(t.decodedFiles == 2)
  }

  /** The one file-scan leaf of `df`'s plan; the read took the scan path. */
  private def assertScan(df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectLeaves().map(_.getClass) == Seq(classOf[LogicalRelation]), plan.treeString)
  }

  test("a snapshot small on disk but above the constant decoded reads through the scan") {
    val t = freshTable()
    // one constant column: a few bytes a page on disk, dictionary and
    // run-length encoded, but every row takes driver heap once decoded
    val n = 300000
    assert(n * TxnTable.RowOverheadBytes > TxnTable.LocalReadMaxBytes)
    commit(t, spark.range(0, n).selectExpr("7L as value"))
    val onDisk = scala.util.Using.resource(Files.walk(Paths.get(t.dir)))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && graft.core.ParquetFooter.isDataFile(p.getFileName.toString))
      .map(Files.size).sum)
    assert(onDisk <= TxnTable.LocalReadMaxBytes, s"$onDisk bytes on disk")
    // twice: the second read knows the files are too large without
    // decoding them again
    for (_ <- 1 to 2) {
      val df = t.read()
      assertScan(df)
      assert(t.decodedFiles == 0)
      val (count, jobs) = SharedSpark.jobsOf(df.count())
      assert(count == n)
      assert(jobs >= 1)
    }
  }

  test("a read the vectorized parquet reader cannot do goes through the scan") {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val before = spark.conf.getOption(key)
    val t = freshTable()
    commit(t, localBatch(0 until 10))
    try {
      spark.conf.set(key, "false")
      val df = t.read()
      assertScan(df)
      assert(df.count() == 10)
      assert(t.decodedFiles == 0)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assertParity(t)(t.read())
  }

  test("a session conf change that alters decoding reaches the next read") {
    import spark.implicits._
    val key = "spark.sql.caseSensitive"
    val before = spark.conf.getOption(key)
    val t = freshTable()
    commit(t, Seq(1L, 2L).toDF("value"))
    // a later batch spells the column differently: case-insensitive
    // matching (the default) reads it, case-sensitive matching does not
    commit(t, Seq(3L).toDF("VALUE"))
    def values(): Seq[Option[Long]] =
      t.read().collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq.sortBy(_.getOrElse(0L))
    try {
      spark.conf.set(key, "false")
      assert(values() == Seq(Some(1L), Some(2L), Some(3L)))
      assert(t.decodedFiles == 2)
      spark.conf.set(key, "true")
      assert(values() == Seq(None, Some(1L), Some(2L)))
      assertParity(t)(t.read())
      spark.conf.set(key, "false")
      assert(values() == Seq(Some(1L), Some(2L), Some(3L)))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("crash empties the decoded files; reads after recover decode from disk") {
    val t = freshTable()
    commit(t, localBatch(0 until 10), localBatch(10 until 15))
    assert(t.read().count() == 15)
    assert(t.decodedFiles == 2)
    t.crash()
    assert(t.decodedFiles == 0)
    t.recover()
    assert(t.read().count() == 15)
    assert(t.decodedFiles == 2)
  }
}
