package graft

import java.nio.file.{Files, Path, Paths}

import graft.SharedSpark.jobsOf
import graft.core.Catalog
import graft.stats.{StatsRegistry, TableStats}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Catalog metadata comes from driver-side file reads: table schemas from
  * the parquet footers, statistics from the one-file sidecar. None of it
  * starts a Spark job, and the NANOS handling of `events.ts` is decided
  * from the footer.
  */
class CatalogMetadataSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** A session of the shared context with its own conf, so a test that
    * sets the NANOS conf leaves the other suites' session alone.
    */
  private def isolated(): SparkSession = spark.newSession()

  private def copyTree(from: Path, to: Path): Unit =
    scala.util.Using.resource(Files.walk(from)) {
      _.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    }

  /** `<dir>/<name>.parquet` as one file of `event_id` plus an INT64 `ts`
    * column with the given parquet annotation, written by parquet-mr.
    */
  private def writeTs(dir: Path, name: String, tsType: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message $name { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve(s"$name.parquet").toUri))
      .withType(schema).build()
    try {
      val rows = new SimpleGroupFactory(schema)
      ts.zipWithIndex.foreach { case (t, i) =>
        w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
      }
    } finally w.close()
  }

  private val nanos = Seq(1700000000123456789L, 1700000001000000999L, 42L)

  test("cold loadAll, sidecar save over an existing sidecar and load start no Spark job") {
    // a fresh copy, so no earlier read of the fixture paths has warmed anything
    val dir = Files.createTempDirectory("graft-catalog-jobs")
    Catalog.tableNames.foreach { n =>
      copyTree(Paths.get(sf, s"$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    val (tables, loadAllJobs) = jobsOf(Catalog.loadAll(spark, dir.toString))
    assert(tables.keySet == Catalog.tableNames.toSet)
    assert(loadAllJobs == 0, s"cold loadAll started $loadAllJobs jobs")

    val sidecar = Files.createTempDirectory("graft-catalog-sidecar").toString
    StatsRegistry.clear()
    val region = tables("region")
    StatsRegistry.register(region, TableStats.build(region))
    assert(StatsRegistry.save(sidecar) == 1)
    val (saved, saveJobs) = jobsOf(StatsRegistry.save(sidecar))
    assert(saved == 1)
    assert(saveJobs == 0, s"save over an existing sidecar started $saveJobs jobs")
    StatsRegistry.clear()
    val (loaded, loadJobs) = jobsOf(StatsRegistry.load(sidecar))
    assert(loaded == 1)
    assert(loadJobs == 0, s"load started $loadJobs jobs")
    assert(StatsRegistry.forPlan(region.queryExecution.analyzed).isDefined)
    assert(StatsRegistry.load(Files.createTempDirectory("graft-catalog-none").toString) == 0,
      "a dir without stats.jsonl loads nothing")
  }

  test("concurrent statsMany calls on one table share one instance, the one the registry serves") {
    // a fresh copy, so no earlier build or sidecar row of the fixture is cached
    val dir = Files.createTempDirectory("graft-catalog-race").toString
    copyTree(Paths.get(sf, "orders.parquet"), Paths.get(dir, "orders.parquet"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val got = try {
      val calls = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[TableStats] {
          def call(): TableStats = {
            start.await()
            Catalog.statsMany(spark, dir, Seq("orders"))("orders")
          }
        })
      }
      start.countDown()
      calls.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    assert(got.forall(_ eq got.head), "every caller must get the one cached instance")
    assert(Catalog.stats(spark, dir, "orders") eq got.head)
    val plan = Catalog.table(spark, dir, "orders").queryExecution.analyzed
    assert(StatsRegistry.forPlan(plan).exists(_ eq got.head),
      "the registry must serve the instance the cache returns")
    val e = intercept[IllegalArgumentException] {
      Catalog.statsMany(spark, dir, Seq("orders"), withHistograms = false)
    }
    assert(e.getMessage.contains("row-count-only"))
  }

  test("events with TIMESTAMP(NANOS) ts read as TimestampType at nanos / 1000 micros") {
    val s = isolated()
    val dir = Files.createTempDirectory("graft-catalog-nanos")
    writeTs(dir, "events", "TIMESTAMP(NANOS,true)", nanos)
    val df = Catalog.table(s, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val micros = df.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
    assert(micros.toSeq == nanos.map(_ / 1000))
    assert(s.conf.get(NanosAsLong) == "true", "the NANOS scan needs the conf live")
  }

  test("events with TIMESTAMP(MICROS) NTZ ts never sets the nanos conf") {
    val s = isolated()
    val dir = Files.createTempDirectory("graft-catalog-micros")
    val micros = nanos.map(_ / 1000)
    writeTs(dir, "events", "TIMESTAMP(MICROS,false)", micros)
    val df = Catalog.table(s, dir.toString, "events")
    assert(df.schema("ts").dataType == TimestampType)
    // NTZ read in a UTC session: the wall clock is the instant
    assert(df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()
      .map(_.getLong(0)).toSeq == micros)
    assert(!s.sessionState.conf.contains(NanosAsLong),
      "a MICROS generation must leave nanosAsLong unset")
  }

  test("a NANOS column outside events fails loudly after an events NANOS read") {
    val s = isolated()
    val dir = Files.createTempDirectory("graft-catalog-loud")
    writeTs(dir, "events", "TIMESTAMP(NANOS,true)", nanos)
    writeTs(dir, "orders", "TIMESTAMP(NANOS,true)", nanos)
    Catalog.table(s, dir.toString, "events")
    assert(s.conf.get(NanosAsLong) == "true")
    val e = intercept[Exception](Catalog.table(s, dir.toString, "orders"))
    assert(SharedSpark.messages(e).exists(_.contains("NANOS")), s"got: $e")
  }

  test("footer schemas equal the inferred and normalized schemas of every fixture table") {
    // what a schema-inference job reports, with events.ts normalized the
    // way Catalog.table normalizes it
    def inferred(s: SparkSession, name: String): DataFrame = {
      val path = s"$sf/$name.parquet"
      if (name != "events") s.read.parquet(path)
      else {
        s.conf.set(NanosAsLong, "true")
        val df = s.read.parquet(path)
        df.schema("ts").dataType match {
          case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
          case _ => df
        }
      }
    }
    Catalog.tableNames.foreach { n =>
      val expected = inferred(isolated(), n).schema
      assert(Catalog.table(isolated(), sf, n).schema == expected, n)
    }
  }
}
