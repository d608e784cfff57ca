package graft

import graft.core.ParquetFooter
import graft.txn.{LogRecord, TxnTable}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Randomized-tape fuzz for the transaction layer: on ANY interleaving
  * of begin/insert/commit/abort/checkpoint/crash+recover, the
  * committed-visible read must equal a driver-side model of the same
  * tape, and [[TxnTable.readAsOf]] must reproduce the model's snapshot
  * at every commit point (time travel = tape-prefix fold). Parquet
  * writes make each op expensive, so the suite runs few-but-deep
  * cases rather than ScalaCheck's default 100.
  */
object TxnPropertySpec extends Properties("TxnTape") {
  private lazy val spark = SharedSpark.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  // An op tape: per active txn decide insert/commit/abort, sprinkled
  // with checkpoints and crash+recover. Encoded as ints for shrinking.
  private sealed trait Op
  private case object Begin extends Op
  private case class Insert(slot: Int) extends Op
  private case class Commit(slot: Int) extends Op
  private case class Abort(slot: Int) extends Op
  private case object Checkpoint extends Op
  private case object CrashRecover extends Op
  // retain = 1 is the maximal compact(); higher retains keep a
  // time-travel window of that many checkpoints (round-11 knob)
  private case class Compact(retain: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.const(Begin),
    4 -> Gen.choose(0, 2).map(Insert(_)),
    3 -> Gen.choose(0, 2).map(Commit(_)),
    2 -> Gen.choose(0, 2).map(Abort(_)),
    1 -> Gen.const(Checkpoint),
    1 -> Gen.const(CrashRecover),
    1 -> Gen.choose(1, 3).map(Compact(_)))

  private val tapeGen: Gen[List[Op]] = Gen.listOfN(14, opGen)

  property("read and readAsOf equal the sequential model on any tape") =
    Prop.forAll(tapeGen) { tape =>
      import spark.implicits._
      val t = new TxnTable(spark, Files.createTempDirectory("graft-txn-fuzz").toString)
      // model state
      var active = Vector.empty[Long]                 // open txns (slot-addressable)
      var pending = Map.empty[Long, Vector[Long]]     // txn -> its uncommitted values
      var committedVals = Vector.empty[Long]          // visible set, in commit order
      var snapshots = Map.empty[Long, Vector[Long]]   // txn -> visible set at its commit
      // one subsumption set per CHECKPOINT record still on the tape,
      // oldest first: compact(retain = N) takes the Nth-from-last as its
      // base — destroying exactly the base's subsumption set — and drops
      // the checkpoints before the base from the tape (so the model's
      // vector trims to the retained suffix)
      var ckptSubsumed = Vector.empty[Set[Long]]
      var compactedAway = Set.empty[Long]             // commits whose snapshot compaction destroyed
      var baseExists = false                          // a checkpoint base has been written
      var nextVal = 0L

      tape.foreach {
        case Begin =>
          val id = t.txns.startTxn()
          active :+= id
          pending += id -> Vector.empty
        case Insert(slot) if active.nonEmpty =>
          val id = active(slot % active.size)
          nextVal += 1
          t.insert(id, Seq(nextVal).toDF("value"))
          pending += id -> (pending(id) :+ nextVal)
        case Commit(slot) if active.nonEmpty =>
          val id = active(slot % active.size)
          t.txns.commitTxn(id)
          active = active.filterNot(_ == id)
          committedVals ++= pending(id)
          snapshots += id -> committedVals
        case Abort(slot) if active.nonEmpty =>
          val id = active(slot % active.size)
          t.txns.abortTxn(id)
          active = active.filterNot(_ == id)
          pending -= id
        case Checkpoint =>
          t.checkpoint()
          // checkpoint() no-ops when nothing is visible (no base yet
          // and no committed batch) — no CHECKPOINT record lands, so
          // the subsumption ledger must not advance either
          if (committedVals.nonEmpty || baseExists) {
            baseExists = true
            ckptSubsumed :+= snapshots.keySet ++ compactedAway
          }
        case CrashRecover =>
          t.crash(); t.recover()
          // open txns die with the crash; their batches stay invisible
          active = Vector.empty
        case Compact(retain) =>
          // visible reads must be unaffected; the documented loss is
          // time travel to txns resolved before the BASE checkpoint (the
          // retain-th from last); fewer checkpoints than retain = no-op
          t.compact(retainCheckpoints = retain)
          if (ckptSubsumed.size >= retain) {
            val destroyed = ckptSubsumed(ckptSubsumed.size - retain)
            compactedAway ++= destroyed
            snapshots --= destroyed
            ckptSubsumed = ckptSubsumed.takeRight(retain)
          }
        case _ => () // Insert/Commit/Abort with no active txn: no-op
      }

      def readVals(): Seq[Long] = {
        val df = t.read()
        if (df.columns.isEmpty) Seq.empty
        else df.collect().map(_.getLong(0)).toSeq.sorted
      }
      val visibleOk = readVals() == committedVals.sorted
      val asOfOk = snapshots.forall { case (txn, snap) =>
        t.readAsOf(txn).collect().map(_.getLong(0)).toSeq.sorted == snap.sorted
      }
      // compaction destroyed exactly these snapshots — by name, not
      // with a wrong answer
      val compactedOk = compactedAway.forall { txn =>
        scala.util.Try(t.readAsOf(txn)).failed.toOption
          .exists(_.getMessage.contains("no COMMIT record"))
      }
      visibleOk && asOfOk && compactedOk
    }

  // Every type family a batch can carry, each column nullable.
  private val allTypes = StructType.fromDDL("l BIGINT, i INT, d DOUBLE, m DECIMAL(12,2), " +
    "s STRING, b BOOLEAN, dt DATE, ts TIMESTAMP, a ARRAY<INT>")

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)

  // Dates and timestamps stay inside 1900-2100, where the Java and the
  // proleptic calendars agree, so rows read back equal the input.
  private val rowGen: Gen[Row] = for {
    l <- orNull(Gen.choose(Long.MinValue, Long.MaxValue))
    i <- orNull(Gen.choose(Int.MinValue, Int.MaxValue))
    d <- orNull(Gen.choose(-1e12, 1e12))
    m <- orNull(Gen.choose(-9999999999L, 9999999999L).map(java.math.BigDecimal.valueOf(_, 2)))
    str <- orNull(Gen.asciiPrintableStr.map(_.take(12)))
    b <- orNull(Gen.oneOf(true, false))
    dt <- orNull(Gen.choose(-25567L, 47482L)
      .map(day => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))))
    ts <- orNull(Gen.choose(-2208988800000000L, 4102444800000000L).map { us =>
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)) })
    a <- orNull(Gen.listOf(orNull(Gen.choose(-100, 100))).map(_.take(5)))
  } yield Row(l, i, d, m, str, b, dt, ts, a)

  private def dataFiles(dir: String): Seq[java.nio.file.Path] =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala
      .filter(p => !p.getFileName.toString.matches("[._].*")).toSeq.sorted)

  // (parquet message type, Spark row metadata) of one file's footer
  private def footerSchema(file: java.nio.file.Path): (String, String) =
    scala.util.Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file.toString), spark.sessionState.newHadoopConf()))) { r =>
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    }

  private def bag(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).map { case (r, v) => r -> v.size }
  private def bag(df: DataFrame): Map[Row, Int] = bag(df.collect().toSeq)

  /** The rows inserted once as a driver-local batch and once behind an RDD
    * (written by Spark tasks) give the same files to every reader.
    */
  private def sameAsDistributed(rows: List[Row]): Prop = {
    val t = new TxnTable(spark, Files.createTempDirectory("graft-txn-driver").toString)
    val txn = t.txns.startTxn()
    t.insert(txn, spark.createDataFrame(rows.asJava, allTypes))
    t.insert(txn, spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), allTypes))
    val Seq(local, distributed) = t.log.durableRecords().collect {
      case (LogRecord.Update, _, d) => Paths.get(t.dir, d).toString }
    val localFiles = dataFiles(local)
    (localFiles.map(_.getFileName.toString.takeWhile(_ != '.')) == Seq("part-00000")) :| "one file" &&
      dataFiles(distributed).forall(f => footerSchema(f) == footerSchema(localFiles.head)) :|
        "footer schema" &&
      (ParquetFooter.schema(spark, local) == ParquetFooter.schema(spark, distributed)) :|
        "footer helper" &&
      (spark.read.parquet(local).schema == spark.read.parquet(distributed).schema) :|
        "inferred schema" &&
      (bag(spark.read.parquet(local)) == bag(spark.read.parquet(distributed))) :| "rows" &&
      (bag(spark.read.parquet(local)) == bag(rows)) :| "rows equal the input"
  }

  property("a driver-written batch reads like a distributed one") =
    Prop.forAll(Gen.choose(1, 30).flatMap(Gen.listOfN(_, rowGen)))(sameAsDistributed)

  property("an empty driver-written batch reads like a distributed one") =
    Prop.forAll(Gen.const(List.empty[Row]))(sameAsDistributed)
}
