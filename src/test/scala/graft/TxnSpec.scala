package graft

import graft.SharedSpark.jobsOf
import graft.txn.{LogRecord, TxnTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{CalendarIntervalType, StructField, StructType}
import org.apache.spark.unsafe.types.CalendarInterval
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Port of the reference's WAL/transaction contract
  * (`/root/reference/test/unit/log/log_manager_test.cc`): record counts,
  * atomicity, durability of committed txns across crash, invisibility of
  * aborted and in-flight txns, interleavings, checkpoint. The reference's
  * `look` helper (expects each value present exactly once / absent) maps
  * to reading the committed snapshot and comparing value sets.
  */
class TxnSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def freshTable(): TxnTable =
    new TxnTable(spark, Files.createTempDirectory("graft-txn").toString)

  private def insertValues(t: TxnTable, txn: Long, vs: Long*): Unit = {
    import spark.implicits._
    vs.foreach(v => t.insert(txn, Seq(v).toDF("value")))
  }

  private def values(t: TxnTable): Seq[Long] = {
    val df = t.read()
    if (df.columns.isEmpty) Seq.empty
    else df.collect().map(_.getLong(0)).toSeq.sorted
  }

  private val idV = StructType.fromDDL("id BIGINT, v STRING")

  /** A batch already in driver memory: its optimized plan is a local relation. */
  private def localBatch(ids: Range): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i.toLong, s"v$i")).asJava, idV)

  /** The same rows behind an RDD, so they are written by Spark tasks. */
  private def distributedBatch(ids: Range): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ids.map(i => Row(i.toLong, s"v$i")), 2), idV)

  private def batchDirs(t: TxnTable): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(t.dir))) { s =>
      s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("batch-")).toSeq.sorted
    }

  // log_manager_test.cc:197-214 — one txn, two row writes, commit:
  // 4 records total, 2 of them UPDATE.
  test("LogRecordTest: exact record counts") {
    val t = freshTable()
    val txn = t.txns.startTxn()
    insertValues(t, txn, 1L, 2L)
    t.txns.commitTxn(txn)
    assert(t.log.totalRecords == 4)
    assert(t.log.count(LogRecord.Update) == 2)
    assert(t.log.count(LogRecord.Begin) == 1)
    assert(t.log.count(LogRecord.Commit) == 1)
  }

  // log_manager_test.cc:249-270 — committed data survives a crash.
  test("TestCommitCrash: durability of committed txns") {
    val t = freshTable()
    val txn = t.txns.startTxn()
    insertValues(t, txn, 10L, 11L)
    t.txns.commitTxn(txn)
    t.crash()
    assert(values(t).isEmpty) // crashed: in-memory state gone
    t.recover()
    assert(values(t) == Seq(10L, 11L))
  }

  // log_manager_test.cc:276-300 — aborted txn's writes are invisible.
  test("TestAbort: aborted data invisible") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L, 2L)
    t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 3L, 4L)
    t.txns.abortTxn(t2)
    assert(values(t) == Seq(1L, 2L))
  }

  // log_manager_test.cc:305-340 — interleaved commit and abort.
  test("TestAbortCommitInterleaved") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    val t2 = t.txns.startTxn()
    insertValues(t, t1, 1L)
    insertValues(t, t2, 21L)
    insertValues(t, t1, 2L)
    t.txns.abortTxn(t1)
    insertValues(t, t2, 22L)
    t.txns.commitTxn(t2)
    assert(values(t) == Seq(21L, 22L))
  }

  // log_manager_test.cc:345-377 — abort then crash then recover.
  test("TestAbortCrash: abort survives crash") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 5L)
    t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 6L)
    t.txns.abortTxn(t2)
    t.crash(); t.recover()
    assert(values(t) == Seq(5L))
  }

  // log_manager_test.cc:385-432 — commit, abort, commit, crash.
  test("TestCommitAbortCommitCrash") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L)
    t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 2L)
    t.txns.abortTxn(t2)
    val t3 = t.txns.startTxn()
    insertValues(t, t3, 3L)
    t.txns.commitTxn(t3)
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 3L))
  }

  // log_manager_test.cc:440-464 — uncommitted data gone after crash.
  test("TestOpenCrash: in-flight txn invisible after recovery") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 9L)
    // read-your-writes before the crash
    assert(t.read(asTxn = Some(t1)).collect().map(_.getLong(0)).toSeq == Seq(9L))
    t.crash(); t.recover()
    assert(values(t).isEmpty)
  }

  // log_manager_test.cc:474-505
  test("TestOpenCommitOpenCrash") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L)
    t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 2L)
    t.crash(); t.recover()
    assert(values(t) == Seq(1L))
    // new txns resume with fresh ids past the tape
    val t3 = t.txns.startTxn()
    assert(t3 > t2)
  }

  // Scale contract: N committed batches read through ONE scan node, not
  // an N-deep union chain (thousands of small txns between checkpoints
  // must not mean O(N) driver-side plan depth).
  test("read plans one scan over many committed batches") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Union}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def noUnion(plan: LogicalPlan): Unit =
      assert(plan.collect { case u: Union => u }.isEmpty,
        s"multi-batch read must not union per-batch frames:\n$plan")
    val t = freshTable()
    (1 to 50).foreach { i =>
      val txn = t.txns.startTxn()
      insertValues(t, txn, i.toLong)
      t.txns.commitTxn(txn)
    }
    // below LocalReadMaxBytes: one local relation holds every batch's rows
    val small = t.read()
    val smallPlan = small.queryExecution.optimizedPlan
    assert(smallPlan.collectLeaves().map(_.getClass) == Seq(classOf[LocalRelation]),
      s"expected one local relation, got:\n$smallPlan")
    noUnion(smallPlan)
    assert(small.collect().map(_.getLong(0)).sorted.toSeq == (1L to 50L))
    // one batch whose decoded rows take more driver heap than the constant
    // (each at least RowOverheadBytes) lifts the snapshot above it: the
    // read is one scan node, and its action runs Spark tasks
    val bigRows = 300000
    assert(bigRows * TxnTable.RowOverheadBytes > TxnTable.LocalReadMaxBytes)
    val big = t.txns.startTxn()
    t.insert(big, spark.range(0, bigRows).selectExpr("xxhash64(id) as value"))
    t.txns.commitTxn(big)
    val df = t.read()
    val plan = df.queryExecution.optimizedPlan
    val scans = plan.collect { case r: LogicalRelation => r }
    assert(scans.length == 1, s"expected one scan node, got:\n$plan")
    noUnion(plan)
    val (rows, jobs) = jobsOf(df.collect())
    assert(rows.length == bigRows + 50)
    assert(jobs >= 1)
  }

  // Time travel: a snapshot as of txn N is the tape-prefix fold — later
  // commits invisible, and the snapshot survives a crash/recover (it is
  // pure metadata over immutable batches).
  test("readAsOf returns the historical snapshot, stable across recovery") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L, 2L)
    t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 3L)
    t.txns.commitTxn(t2)
    assert(values(t) == Seq(1L, 2L, 3L))
    def asOf(txn: Long) =
      t.readAsOf(txn).collect().map(_.getLong(0)).toSeq.sorted
    assert(asOf(t1) == Seq(1L, 2L), "as-of t1 must not see t2's commit")
    assert(asOf(t2) == Seq(1L, 2L, 3L))
    // aborted txns have no snapshot
    val t3 = t.txns.startTxn()
    insertValues(t, t3, 9L)
    t.txns.abortTxn(t3)
    intercept[IllegalArgumentException](t.readAsOf(t3))
    t.crash(); t.recover()
    assert(asOf(t1) == Seq(1L, 2L), "snapshot survives crash recovery")
  }

  // log_manager_test.cc:517-550 — checkpoint then crash.
  test("TestOpenCommitCheckpointOpenCrash") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L, 2L)
    t.txns.commitTxn(t1)
    t.checkpoint()
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 3L)
    t.txns.commitTxn(t2)
    val t3 = t.txns.startTxn()
    insertValues(t, t3, 4L) // never committed
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 2L, 3L))
  }

  // Fuzzy-checkpoint straddler: a txn IN FLIGHT when the checkpoint runs
  // commits afterwards. Its UPDATE records sit BEFORE the CHECKPOINT on
  // the tape but its rows are NOT in the base (the compaction read only
  // committed state) — the fold must keep those batches live, or the
  // committed rows silently vanish. Regression for a real data-loss bug:
  // foldCommitted used to drop the whole pre-checkpoint prefix.
  test("checkpoint straddler: in-flight txn committed after checkpoint keeps its rows") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L, 2L) // t1 writes, stays open
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 10L)
    t.txns.commitTxn(t2)
    t.checkpoint() // base = {10}; t1 is in flight
    assert(values(t) == Seq(10L), "straddler still uncommitted: invisible")
    t.txns.commitTxn(t1) // commits AFTER the checkpoint
    assert(values(t) == Seq(1L, 2L, 10L),
      "t1's pre-checkpoint batches must stay visible after its commit")
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 2L, 10L), "and survive recovery")
    // a LATER checkpoint subsumes the straddler normally
    t.checkpoint()
    assert(values(t) == Seq(1L, 2L, 10L))
  }

  // read(asTxn) after a checkpoint subsumed the txn's own batches: the
  // rows live in the base, so re-adding the batch dirs would double
  // every row. Regression for the own-writes duplication bug.
  test("read-your-writes after checkpoint does not double the txn's own rows") {
    import spark.implicits._
    val t = freshTable()
    val t1 = t.txns.startTxn()
    insertValues(t, t1, 1L, 2L)
    t.txns.commitTxn(t1)
    t.checkpoint() // t1 subsumed into the base
    val own = t.read(asTxn = Some(t1))
    assert(own.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L),
      "own-writes read must not duplicate checkpointed rows")
    // an UNSUBSUMED open txn still sees its own uncommitted writes once
    val t2 = t.txns.startTxn()
    insertValues(t, t2, 3L)
    val own2 = t.read(asTxn = Some(t2))
    assert(own2.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 3L))
  }

  // Single-writer contract: the tape is append-only per live writer
  // session. A second writer session against the same log dir would
  // interleave records undetected — the log detects the foreign append
  // at the first writer's next write and fails with a named error
  // instead of weaving two sessions' records.
  test("single-writer: a foreign writer's append is detected, recovery takes over") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-txn-sw").toString
    val a = new TxnTable(spark, dir)
    val ta = a.txns.startTxn()
    a.insert(ta, Seq(1L).toDF("value"))
    // a SECOND session takes over the same log dir the LEGAL way —
    // recover() — which resumes txn ids past the tape (no collision with
    // A's in-flight txn) and re-syncs the writer's size observation
    val b = new TxnTable(spark, dir)
    b.recover()
    val tb = b.txns.startTxn()
    assert(tb != ta, "takeover must not reuse the in-flight txn id")
    b.insert(tb, Seq(2L).toDF("value"))
    b.txns.commitTxn(tb)
    // the ORIGINAL writer's next append must now fail loudly — its
    // records would interleave with B's — not silently weave the tapes
    val e = intercept[IllegalStateException] { a.txns.commitTxn(ta) }
    assert(e.getMessage.contains("single-writer violation"),
      s"expected the named single-writer error, got: ${e.getMessage}")
    // A's orphaned txn never committed: its batch stays invisible to
    // every later session, and the tape remains consistent
    val c = new TxnTable(spark, dir)
    c.recover()
    val tc = c.txns.startTxn()
    c.insert(tc, Seq(3L).toDF("value"))
    c.txns.commitTxn(tc)
    assert(values(c) == Seq(2L, 3L),
      "only legally-committed rows are visible after the takeover chain")
  }

  // A TxnTable REOPENED over an existing dir (clean close, so recover()
  // looks unnecessary — batchSeq and the log's size observation ARE
  // auto-resumed by the constructor) must also resume txn ids past the
  // tape: reissuing a committed id would make the new session's
  // uncommitted or even ABORTED batches instantly visible under the old
  // COMMIT record.
  test("reopen over an existing dir resumes txn ids past the tape") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-txn-reopen").toString
    val a = new TxnTable(spark, dir)
    val ta = a.txns.startTxn()
    a.insert(ta, Seq(1L).toDF("value"))
    a.txns.commitTxn(ta)
    val b = new TxnTable(spark, dir) // plain reopen, NO recover()
    val tb = b.txns.startTxn()
    assert(tb != ta, "reopen must not reissue a committed txn id")
    b.insert(tb, Seq(2L).toDF("value"))
    assert(values(b) == Seq(1L), "uncommitted batch must stay invisible")
    b.txns.abortTxn(tb)
    assert(values(b) == Seq(1L), "aborted batch must stay invisible")
    val tc = b.txns.startTxn()
    b.insert(tc, Seq(3L).toDF("value"))
    b.txns.commitTxn(tc)
    assert(values(b) == Seq(1L, 3L))
  }

  // The post-crash protocol is ENFORCED, not just documented: a crashed
  // writer's size observation dies with reset(), and appending before
  // recovery() would silently re-arm over an in-memory mirror that
  // excludes every pre-crash record (totalRecords/committedState lie).
  test("single-writer: append after crash without recovery is refused") {
    import spark.implicits._
    val t = freshTable()
    val t1 = t.txns.startTxn()
    t.insert(t1, Seq(1L).toDF("value"))
    t.txns.commitTxn(t1)
    t.crash()
    val e = intercept[IllegalStateException] { t.txns.startTxn() }
    assert(e.getMessage.contains("without recovery()"),
      s"expected the named protocol error, got: ${e.getMessage}")
    t.recover() // the legal path still works after the refusal
    val t2 = t.txns.startTxn()
    t.insert(t2, Seq(2L).toDF("value"))
    t.txns.commitTxn(t2)
    assert(values(t) == Seq(1L, 2L))
  }

  // The size check and the write are atomic under an exclusive file
  // lock: a CONCURRENT append (not just a sequential foreign one) is
  // detected at lock-acquisition time instead of weaving in the
  // stat-then-write window. Same-JVM concurrency surfaces as an
  // OverlappingFileLockException, converted to the same named error.
  // The lock lives on the SIBLING lock file (log.tsv.lock), never on
  // the tape inode: compact() swaps the tape's inode (temp + atomic
  // move), so a writer blocked on a tape-inode lock across a
  // compaction would wake up holding the ORPHANED old inode, pass its
  // size check (that inode never changed), and append a record into an
  // unlinked file — durably ACKed, silently lost. The lock file is
  // never moved, so the lock holder always opens the real tape after.
  test("single-writer: a concurrent append attempt is detected at the lock") {
    import spark.implicits._
    val t = freshTable()
    val lockFile = java.nio.file.Paths.get(t.dir).resolve("log.tsv.lock")
    val t1 = t.txns.startTxn() // creates the log file and its lock file
    // simulate another writer mid-operation: hold the exclusive lock
    val ch = java.nio.channels.FileChannel.open(lockFile,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      val e = intercept[IllegalStateException] { t.txns.commitTxn(t1) }
      assert(e.getMessage.contains("single-writer violation"),
        s"expected the named single-writer error, got: ${e.getMessage}")
      // compaction serializes on the same lock
      val e2 = intercept[IllegalStateException] { t.log.compact() }
      assert(e2.getMessage.contains("single-writer violation"))
    } finally { held.release(); ch.close() }
    // with the lock released the original writer proceeds normally
    t.insert(t1, Seq(9L).toDF("value"))
    t.txns.commitTxn(t1)
    assert(values(t) == Seq(9L))
  }

  // Tape compaction: checkpoint-base + live suffix, straddlers preserved,
  // exact record counts on the compacted tape, reads and recovery
  // unchanged, unreferenced batch/ckpt dirs physically gone.
  test("compact rewrites the tape to base + live suffix with exact record counts") {
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L, 2L); t.txns.commitTxn(t1)
    val t2 = t.txns.startTxn(); insertValues(t, t2, 3L); t.txns.commitTxn(t2)
    val t3 = t.txns.startTxn(); insertValues(t, t3, 99L); t.txns.abortTxn(t3)
    // t4 straddles: in flight at the checkpoint, commits after
    val t4 = t.txns.startTxn(); insertValues(t, t4, 4L)
    t.checkpoint() // subsumes t1, t2; t3 aborted; t4's UPDATE predates it
    t.txns.commitTxn(t4)
    val t5 = t.txns.startTxn(); insertValues(t, t5, 5L); t.txns.commitTxn(t5)
    // t6 unresolved at compaction time — its records must survive
    val t6 = t.txns.startTxn(); insertValues(t, t6, 6L)
    val before = values(t)
    assert(before == Seq(1L, 2L, 3L, 4L, 5L))
    // tape before: 4 (t1) + 3 (t2) + 3 (t3) + 1 CHECKPOINT +
    //              3 (t4) + 3 (t5) + 2 (t6 so far) = 19
    assert(t.log.totalRecords == 19)

    val (dropped, deadDirs) = t.compact()
    // dropped: t1 (4) + t2 (3) + t3 (3) = 10; deleted dirs: t1's two
    // batches, t2's one, t3's one (aborted) = 4
    assert(dropped == 10, s"dropped $dropped")
    assert(deadDirs == 4, s"deleted $deadDirs dirs")
    // compacted tape: t4 BEGIN+UPDATE (straddler, preserved) +
    // CHECKPOINT + t4 COMMIT + t5 (3) + t6 BEGIN+UPDATE = 9
    assert(t.log.totalRecords == 9)
    assert(t.log.count(LogRecord.Checkpoint) == 1)
    assert(t.log.count(LogRecord.Begin) == 3)   // t4, t5, t6
    assert(t.log.count(LogRecord.Update) == 3)  // t4, t5, t6
    assert(t.log.count(LogRecord.Commit) == 2)  // t4, t5
    assert(t.log.count(LogRecord.Abort) == 0)
    // reads identical; the straddler's pre-checkpoint batch survives
    assert(values(t) == before)
    // the writer keeps appending on the rewritten tape (expectedSize
    // re-synced by compact): t6 commits and its row appears
    t.txns.commitTxn(t6)
    assert(values(t) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // crash + recovery over the compacted tape
    t.crash()
    t.recover()
    assert(values(t) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // time travel to post-checkpoint commits still works...
    assert(t.readAsOf(t5).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    // ...and to compacted-away txns is the documented loss, failing by name
    val e = intercept[IllegalArgumentException] { t.readAsOf(t1) }
    assert(e.getMessage.contains("no COMMIT record"))
    // a second checkpoint + compaction composes
    t.checkpoint()
    val t7 = t.txns.startTxn(); insertValues(t, t7, 7L); t.txns.commitTxn(t7)
    val (dropped2, _) = t.compact()
    assert(dropped2 > 0)
    assert(values(t) == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("compact(retainCheckpoints) keeps a time-travel window past older checkpoints") {
    // the r10 verdict's retention ask: a pipeline with a checkpoint
    // cadence must be able to compact WITHOUT losing time travel to
    // txns inside its history window. Tape: ckpt1 subsumes t1; t2
    // commits between the checkpoints; ckpt2 subsumes t2; t3 after.
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L, 2L); t.txns.commitTxn(t1)
    t.checkpoint()
    val t2 = t.txns.startTxn(); insertValues(t, t2, 3L); t.txns.commitTxn(t2)
    t.checkpoint()
    val t3 = t.txns.startTxn(); insertValues(t, t3, 4L); t.txns.commitTxn(t3)

    // retain BOTH checkpoints: only t1's records (resolved before the
    // OLDER checkpoint) drop; t2 stays time-travelable
    // tape: t1 (BEGIN+2 UPDATE+COMMIT = 4) + CKPT + t2 (3) + CKPT +
    // t3 (3) = 12 records
    assert(t.log.totalRecords == 12)
    val (dropped, deadDirs) = t.compact(retainCheckpoints = 2)
    assert(dropped == 4, s"dropped $dropped")   // exactly t1's records
    assert(deadDirs == 2, s"deleted $deadDirs dirs") // t1's two subsumed batches
    assert(t.log.totalRecords == 8)
    assert(t.log.count(LogRecord.Checkpoint) == 2)
    // current snapshot unchanged
    assert(values(t) == Seq(1L, 2L, 3L, 4L))
    // time travel INSIDE the retained window still works
    assert(t.readAsOf(t2).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // ...but t1 (behind the oldest retained checkpoint) is the
    // documented permanent loss, failing by name
    val e = intercept[IllegalArgumentException] { t.readAsOf(t1) }
    assert(e.getMessage.contains("no COMMIT record"))
    // asking to retain more checkpoints than exist is a no-op, not an error
    assert(t.compact(retainCheckpoints = 5)._1 == 0)
    // a maximal compact afterwards still composes: drops t2's records,
    // keeps only the newest checkpoint
    val (dropped2, _) = t.compact()
    assert(dropped2 > 0)
    assert(t.log.count(LogRecord.Checkpoint) == 1)
    assert(values(t) == Seq(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] { t.readAsOf(t2) }
    // crash/recovery on the retention-compacted tape
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 2L, 3L, 4L))
  }

  test("compact is a no-op without a checkpoint and is crash-protocol-gated") {
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L); t.txns.commitTxn(t1)
    assert(t.log.compact() == 0) // no checkpoint — nothing subsumed
    assert(t.log.totalRecords == 3)
    assert(values(t) == Seq(1L))
    // post-crash compaction without recovery is refused by name, like append
    t.crash()
    val e = intercept[IllegalStateException] { t.log.compact() }
    assert(e.getMessage.contains("without recovery()"))
    t.recover()
    assert(values(t) == Seq(1L))
  }

  test("a stale .compact temp file from a crashed compaction is inert") {
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L, 2L); t.txns.commitTxn(t1)
    t.checkpoint()
    val t2 = t.txns.startTxn(); insertValues(t, t2, 3L); t.txns.commitTxn(t2)
    // a compaction that crashed after writing its temp file but before
    // the atomic move leaves log.tsv.compact behind; the live tape is
    // untouched, so readers, recovery, and the NEXT compaction must all
    // ignore/overwrite the leftover
    val tmp = java.nio.file.Paths.get(t.dir).resolve("log.tsv.compact")
    Files.writeString(tmp, "GARBAGE\tnot-a-txn\tfrom-a-dead-compaction\n")
    assert(values(t) == Seq(1L, 2L, 3L))
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 2L, 3L))
    val (dropped, _) = t.compact() // truncates and replaces the leftover
    assert(dropped > 0)
    assert(!Files.exists(tmp)) // moved onto the tape
    assert(values(t) == Seq(1L, 2L, 3L))
    t.crash(); t.recover()
    assert(values(t) == Seq(1L, 2L, 3L))
  }

  // compact() can drop EVERY record of the highest txn ids (all
  // resolved pre-checkpoint) — the surviving CHECKPOINT record carries
  // the id high-water mark so a recovery or plain reopen over the
  // compacted tape resumes ids PAST the dropped ones. Without the mark,
  // the next startTxn() reissues a compacted-away id and readAsOf of
  // that id silently aliases onto the NEW txn's snapshot instead of
  // the documented "no COMMIT record" failure.
  test("compact never lowers the txn-id high-water mark") {
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L); t.txns.commitTxn(t1)
    t.checkpoint()
    val (dropped, _) = t.compact() // t1's records all dropped
    assert(dropped == 3)
    assert(t.log.totalRecords == 1) // tape = [CHECKPOINT] only
    // crash-recovery path over the compacted tape
    t.crash(); t.recover()
    val t2 = t.txns.startTxn()
    assert(t2 > t1,
      s"recovery over a compacted tape reissued txn id $t2 (t1 was $t1)")
    insertValues(t, t2, 2L); t.txns.commitTxn(t2)
    // the compacted-away snapshot still fails by name — not the new
    // txn's snapshot under the old id
    val e = intercept[IllegalArgumentException] { t.readAsOf(t1) }
    assert(e.getMessage.contains("no COMMIT record"))
    assert(values(t) == Seq(1L, 2L))
    // plain-reopen path (constructor id resumption, no recover())
    val b = new TxnTable(spark, t.dir)
    val t3 = b.txns.startTxn()
    assert(t3 > t2, s"reopen over a compacted tape reissued txn id $t3")
  }

  test("compact detects a foreign writer's append, same as append does") {
    val t = freshTable()
    val t1 = t.txns.startTxn(); insertValues(t, t1, 1L); t.txns.commitTxn(t1)
    t.checkpoint()
    // a foreign session appends behind this writer's back
    val foreign = new graft.txn.LogManager(
      java.nio.file.Paths.get(t.dir).resolve("log.tsv"))
    foreign.logBegin(1000L)
    val e = intercept[IllegalStateException] { t.log.compact() }
    assert(e.getMessage.contains("single-writer violation"))
    // legal takeover: recover, then compaction proceeds
    t.recover()
    assert(t.log.compact() > 0)
    assert(values(t) == Seq(1L))
  }

  // Threaded stress of the lock-file scheme: two writer sessions race
  // appends (and one races compactions) against one log dir. The
  // single-writer contract makes most attempts fail by name — that is
  // fine and each writer retries after the legal recovery() takeover —
  // but an append the log ACKED must NEVER be lost, no tape line may be
  // torn, and no record may appear twice. This is the durability half
  // of the inode-swap hazard: under the OLD tape-inode lock, a writer
  // that blocked across a compaction could wake holding the orphaned
  // pre-move inode, pass its size check, and durably ACK a record into
  // an unlinked file.
  test("concurrent writers + compaction never lose an acked record") {
    val dir = Files.createTempDirectory("graft-txn-race")
    val tape = dir.resolve("log.tsv")
    val acked =
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(name: String, withCompact: Boolean): Thread = new Thread(() =>
      try {
        // construction takes the lock for its initial observation and
        // can lose the race too — same named error, same retry
        def construct(): graft.txn.LogManager =
          try new graft.txn.LogManager(tape)
          catch {
            case e: IllegalStateException
                if e.getMessage.contains("single-writer violation") =>
              construct()
          }
        val lm = construct()
        var i = 0
        var attempts = 0
        while (i < 25 && attempts < 4000) {
          attempts += 1
          try {
            val payload = s"$name-$i"
            lm.logUpdate(1L, payload) // unresolved txn: compact keeps it
            acked.add(payload)
            i += 1
            if (withCompact && i % 8 == 0) {
              lm.logCheckpoint(s"base-$name-$i")
              lm.compact() // drops only the superseded CHECKPOINTs
            }
          } catch {
            // the OTHER writer appended (size check) or holds the lock
            // (overlap): the legal retry path is recovery-then-retry
            case e: IllegalStateException
                if e.getMessage.contains("single-writer violation") =>
              // recovery() itself can lose the lock race — ignore and
              // retry; the stale observation just fails the next size
              // check and comes back here
              scala.util.Try(lm.recovery())
          }
        }
        assert(i == 25, s"$name starved: $i appends in $attempts attempts")
      } catch { case t: Throwable => failures.add(t) })
    val a = writer("a", withCompact = true)
    val b = writer("b", withCompact = false)
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(failures.isEmpty, s"writer died: ${failures.peek()}")
    // ground truth straight off the disk: parseTape via a fresh manager
    val survivor = new graft.txn.LogManager(tape)
    val updates = survivor.durableRecords()
      .collect { case (graft.txn.LogRecord.Update, _, p) => p }
    assert(updates.size == updates.distinct.size, "a record was woven twice")
    val lost = acked.toArray(Array.empty[String]).toSet -- updates.toSet
    assert(lost.isEmpty, s"ACKED records lost from the tape: $lost")
    assert(updates.toSet.size == 50, s"expected 50 updates, got ${updates.size}")
  }

  test("a driver-local insert, small read and checkpoint start no Spark job") {
    val t = freshTable()
    val t1 = t.txns.startTxn()
    val (_, insertJobs) = jobsOf(t.insert(t1, localBatch(1 to 500)))
    t.txns.commitTxn(t1)
    val (df, readJobs) = jobsOf(t.read())
    val (rows, collectJobs) = jobsOf(df.collect())
    // (insert, read(), collect) — one assertion, so a failure shows all three
    assert((insertJobs, readJobs, collectJobs) == ((0, 0, 0)))
    assert(rows.map(_.getLong(0)).sorted.toSeq == (1L to 500L))
    // the small snapshot is in driver memory, so its checkpoint is
    // written on the driver too
    val (_, checkpointJobs) = jobsOf(t.checkpoint())
    assert(checkpointJobs == 0)
    assert(t.log.count(LogRecord.Checkpoint) == 1)
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (1L to 500L))
    // a batch that is not in driver memory still goes through Spark tasks
    val t2 = t.txns.startTxn()
    val (_, distributedJobs) = jobsOf(t.insert(t2,
      spark.range(0, 1000).where(col("id") % 2 === 0).selectExpr("id", "cast(id as string) as v")))
    assert(distributedJobs >= 1)
    t.txns.commitTxn(t2)
    assert(t.read().count() == 1000)
  }

  test("a session parquet codec change reaches the driver-written file") {
    val key = "spark.sql.parquet.compression.codec"
    val before = spark.conf.getOption(key)
    val t = freshTable()
    val txn = t.txns.startTxn()
    spark.conf.set(key, "gzip")
    try t.insert(txn, localBatch(1 to 100))
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val dir = Paths.get(t.dir, batchDirs(t).head)
    val files = scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq)
    assert(files == Seq("part-00000.gz.parquet"))
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sessionState.newHadoopConf(), new org.apache.hadoop.fs.Path(dir.resolve(files.head).toString))
    val codecs = footer.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    assert(codecs == Set(org.apache.parquet.hadoop.metadata.CompressionCodecName.GZIP))
  }

  test("an existing batch dir fails the insert and logs no UPDATE, on both write paths") {
    for (batch <- Seq[Range => DataFrame](localBatch, distributedBatch)) {
      val t = freshTable()
      val txn = t.txns.startTxn()
      // the next insert of txn 1 on a fresh table is batch-1-1
      val taken = Files.createDirectories(Paths.get(t.dir, s"batch-$txn-1"))
      Files.write(taken.resolve("keep"), Array[Byte](1))
      intercept[Exception](t.insert(txn, batch(1 to 10)))
      assert(t.log.count(LogRecord.Update) == 0)
      assert(t.log.durableRecords().forall(_._1 != LogRecord.Update))
      // the dir it did not create is left alone
      assert(Files.exists(taken.resolve("keep")))
    }
  }

  test("an unsupported schema fails before any file is written, on both write paths") {
    val interval = StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType),
      StructField("i", CalendarIntervalType)))
    val rows = Seq(Row(1L, new CalendarInterval(1, 2, 3L)))
    val dupNames = StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType),
      StructField("ID", org.apache.spark.sql.types.LongType)))
    val cases = Seq(
      // a column type parquet cannot store
      "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE" -> Seq(spark.createDataFrame(rows.asJava, interval),
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), interval)),
      // no columns at all
      "EMPTY_SCHEMA_NOT_SUPPORTED_FOR_DATASOURCE" -> Seq(spark.emptyDataFrame, spark.range(3).select()),
      // two columns whose names differ only in case
      "COLUMN_ALREADY_EXISTS" -> Seq(spark.createDataFrame(Seq(Row(1L, 2L)).asJava, dupNames),
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, 2L)), 2), dupNames),
        localBatch(1 to 3).select(col("id"), col("id"))))
    for ((condition, frames) <- cases; df <- frames) {
      val t = freshTable()
      val txn = t.txns.startTxn()
      val e = intercept[org.apache.spark.sql.AnalysisException](t.insert(txn, df))
      assert(e.getCondition == condition)
      assert(batchDirs(t).isEmpty, s"a batch dir was left behind: ${batchDirs(t)}")
      assert(t.log.count(LogRecord.Update) == 0)
    }
  }

  test("a failed driver write leaves no batch dir, and later batches number past it") {
    val t = freshTable()
    val txn = t.txns.startTxn()
    t.insert(txn, localBatch(1 to 10)) // batch-1-1
    // an unknown parquet writer version fails inside the writer, after
    // the batch dir was created
    spark.conf.set("parquet.writer.version", "v9")
    try intercept[IllegalArgumentException](t.insert(txn, localBatch(11 to 20))) // batch-1-2
    finally spark.conf.unset("parquet.writer.version")
    assert(batchDirs(t) == Seq(s"batch-$txn-1"))
    assert(t.log.count(LogRecord.Update) == 1)
    t.insert(txn, localBatch(21 to 30))
    assert(batchDirs(t) == Seq(s"batch-$txn-1", s"batch-$txn-3"))
    t.txns.commitTxn(txn)
    t.crash()
    t.recover()
    val next = t.txns.startTxn()
    t.insert(next, localBatch(31 to 40))
    assert(batchDirs(t).last == s"batch-$next-4")
    t.txns.commitTxn(next)
    assert(values(t) == ((1L to 10L) ++ (21L to 40L)))
  }

  test("tape-lock wait bound is constructor-overridable (legal long-holding peers)") {
    // A fixed 30 s bound aborts a LEGAL cooperating peer that holds the
    // lock longer (a maximal compact() of a huge tape on slow disk) with
    // a spurious "wedged holder" diagnosis. The bound is now an instance
    // parameter (defaulted from GRAFT_TAPE_LOCK_WAIT_MS, else 30 s):
    // pin that the override flows through construction and normal
    // operation, that TxnTable threads it, and that a nonsensical bound
    // fails by name instead of silently arming a zero-wait lock.
    val dir = Files.createTempDirectory("graft-txn-lockwait")
    val lm = new graft.txn.LogManager(dir.resolve("log.tsv"), lockWaitMs = 120000L)
    assert(lm.lockWaitMs === 120000L)
    lm.logUpdate(1L, "v") // the bound participates in every locked op
    assert(lm.durableRecords().size === 1)
    val t = new TxnTable(spark, dir.resolve("tbl").toString, lockWaitMs = 90000L)
    assert(t.log.lockWaitMs === 90000L)
    val bad = intercept[IllegalArgumentException](
      new graft.txn.LogManager(dir.resolve("log2.tsv"), lockWaitMs = 0L))
    assert(bad.getMessage.contains("lockWaitMs"))
    // the env override is exactly what deployments set, so assert
    // against whichever source is live instead of assuming it unset
    sys.env.get("GRAFT_TAPE_LOCK_WAIT_MS") match {
      case Some(v) =>
        assert(graft.txn.LogManager.configuredLockWaitMs === v.toLong)
      case None =>
        assert(graft.txn.LogManager.configuredLockWaitMs ===
          graft.txn.LogManager.DefaultLockWaitMs)
    }
  }
}
