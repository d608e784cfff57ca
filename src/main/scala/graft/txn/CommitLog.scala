package graft.txn

import graft.core.ParquetFooter
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}

import java.io.{Closeable, FileNotFoundException}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Transaction layer with the observable semantics of the reference's
  * TransactionManager + LogManager contract
  * (`/root/reference/src/transaction/transaction_manager.cc:37-102`,
  * `/root/reference/src/log/log_manager.h:12-72`, behavior specified by
  * `/root/reference/test/unit/log/log_manager_test.cc`): committed
  * transactions are durable across crashes, aborted and in-flight
  * transactions are invisible after rollback/recovery, checkpoints bound
  * recovery work.
  *
  * The mechanics are deliberately NOT the reference's (in-place page
  * updates + ARIES before/after images make no sense on Spark): writes are
  * append-only parquet batch directories tagged by transaction id, and the
  * log is a tiny append-only record file. "Redo" is free (batches are
  * already durable when COMMIT is logged — the parquet write IS the
  * flush), "undo" is free (uncommitted batches are simply never unioned
  * into reads), and recovery = re-deriving the committed set from the log.
  * This is the standard commit-log-over-immutable-files design used by
  * large-scale table formats, and it scales: the log carries only
  * metadata. A batch or checkpoint whose rows already sit in driver
  * memory (a local relation, e.g. `createDataFrame` of a row list or a
  * small snapshot) is written on the driver as one parquet file through
  * Spark's own parquet writer; every other one moves through a
  * distributed `df.write.parquet`. A snapshot whose decoded rows take at
  * most [[TxnTable.LocalReadMaxBytes]] is read on the driver, decoding
  * each immutable file once; a larger one is one distributed scan whose
  * schema comes from one parquet footer. Neither starts a Spark job
  * before the read's action.
  */
object LogRecord {
  val Begin = "BEGIN"
  val Update = "UPDATE"
  val Commit = "COMMIT"
  val Abort = "ABORT"
  val Checkpoint = "CHECKPOINT"
}

object LogManager {
  /** Default bound on waiting for the cross-process tape lock (ms): long
    * enough to ride out a cooperating peer's append/compact (sub-second
    * on every measured tape), short enough that a wedged holder surfaces
    * as a named timeout instead of an indefinite hang. Generous because
    * a false timeout aborts a legal operation while a true one merely
    * converts a hang to a diagnosis. OVERRIDABLE — a legal peer CAN hold
    * the lock past 30 s (a maximal compact() rewriting a huge tape on a
    * slow disk), and a fixed bound would abort the waiter with a
    * spurious "wedged holder" diagnosis: raise it per-instance via the
    * LogManager/TxnTable `lockWaitMs` constructor argument, or
    * process-wide via GRAFT_TAPE_LOCK_WAIT_MS.
    */
  val DefaultLockWaitMs = 30000L
  val LockPollMs = 50L

  /** [[DefaultLockWaitMs]] unless GRAFT_TAPE_LOCK_WAIT_MS overrides it
    * (must parse as a positive long — fail by name, not by a silent
    * fall-back that reintroduces the spurious-timeout hazard the
    * override exists to fix).
    */
  def configuredLockWaitMs: Long = sys.env.get("GRAFT_TAPE_LOCK_WAIT_MS") match {
    case None => DefaultLockWaitMs
    case Some(raw) =>
      val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"GRAFT_TAPE_LOCK_WAIT_MS must be a positive long (ms), got '$raw'"))
      require(v > 0, s"GRAFT_TAPE_LOCK_WAIT_MS must be > 0, got $v")
      v
  }
}

/** Append-only record log. Each record is one line:
  * `<type>\t<txnId>\t<payload>`. In-memory counters mirror the reference
  * LogManager's record-count API; `reset()` simulates a crash by dropping
  * in-memory state, after which [[recovery]] rebuilds it from disk.
  */
final class LogManager(val logPath: Path,
    val lockWaitMs: Long = LogManager.configuredLockWaitMs) {
  require(lockWaitMs > 0, s"lockWaitMs must be > 0, got $lockWaitMs")
  private var records: Vector[(String, Long, String)] = Vector.empty
  // Single-writer contract, DETECTED rather than assumed: the tape is
  // append-only per live writer session, and two concurrent writers
  // against one log dir would interleave records undetected (each sees
  // only its own in-memory mirror). expectedSize is the durable byte
  // length as of this writer's last observation; a mismatch at append
  // time means a foreign writer appended (or something truncated the
  // tape) since — fail fast with a named error instead of silently
  // weaving two sessions' records. The size check and the write happen
  // ATOMICALLY under an exclusive file lock (a bare stat-then-append
  // would leave a window where two writers both observe size S and both
  // append — a weave neither ever detects if neither appends again);
  // cross-process the second writer blocks on the lock and then sees
  // the size mismatch, same-JVM a concurrent lock attempt surfaces as
  // OverlappingFileLockException and is converted to the same named
  // error. O(1) per append (one lock + one stat, no re-read).
  // None = unknown, only after reset()'s crash simulation; append then
  // REFUSES until recovery() re-syncs — which is also how a successor
  // session legally takes over a log dir from a dead writer.
  //
  // The lock lives on a SIBLING lock file (log.tsv.lock), never on the
  // tape itself, because compact() replaces the tape's INODE (temp file
  // + atomic move): a writer that had opened the tape and was blocked
  // on a tape-inode lock while compaction ran would, once unblocked,
  // hold the ORPHANED pre-compaction inode — its size check would pass
  // (that inode never changed) and its append would land in an unlinked
  // file, a silently lost record. The lock file is never moved or
  // deleted, so whoever holds its lock opens the tape AFTERWARD and
  // always sees the real directory entry.
  private var expectedSize: Option[Long] = None
  private val lockPath: Path =
    logPath.resolveSibling(logPath.getFileName.toString + ".lock")

  /** Run `body` holding the exclusive cross-process lock every tape
    * operation (observe/append/compact) serializes on. The tape file
    * itself must only be opened INSIDE `body` — see the inode note on
    * [[expectedSize]].
    *
    * ACCESS NOTE: even pure observation takes this lock, so opening a
    * LogManager requires WRITE access to the log directory (the lock
    * file is created beside the tape) — a read-only mount cannot host
    * even a reading LogManager. That is the locked-observation
    * contract's price: an unlocked read could weave with a foreign
    * append and mirror a tape state that never existed on disk.
    *
    * The wait is BOUNDED: a wedged/dead peer that still holds its
    * OS-level lock (a hung JVM keeps file locks until process death)
    * would otherwise block this writer forever with no diagnosis. Poll
    * tryLock up to [[lockWaitMs]] (default 30 s; constructor- or
    * GRAFT_TAPE_LOCK_WAIT_MS-overridable for deployments where a legal
    * peer holds longer, e.g. a maximal compact() of a huge tape on slow
    * disk), then fail BY NAME with
    * the holder-side explanation — a hang becomes a readable error.
    */
  private def withTapeLock[A](doing: String)(body: => A): A = {
    Files.createDirectories(logPath.getParent)
    val lch = java.nio.channels.FileChannel.open(lockPath,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val deadline = System.nanoTime() + lockWaitMs * 1000000L
      var lock: java.nio.channels.FileLock = null
      try {
        while (lock == null) {
          lock = lch.tryLock()
          if (lock == null) {
            if (System.nanoTime() >= deadline) throw new IllegalStateException(
              s"LogManager lock timeout: could not acquire ${lockPath} within " +
                s"$lockWaitMs ms while being $doing — another " +
                "PROCESS holds the tape lock (a live concurrent writer, or a " +
                "wedged/dead-but-unreaped peer; OS file locks persist until " +
                "process exit). Each log dir has exactly ONE live writer: stop " +
                "or reap the holder, then retry/recover() — or, if the holder " +
                "is a LEGAL peer legitimately holding longer (a large compact() " +
                "on slow disk), raise the bound via the lockWaitMs constructor " +
                "argument or GRAFT_TAPE_LOCK_WAIT_MS.")
            Thread.sleep(LogManager.LockPollMs)
          }
        }
      } catch {
        case _: java.nio.channels.OverlappingFileLockException =>
          throw new IllegalStateException(
            s"LogManager single-writer violation: $logPath is being " +
              s"$doing CONCURRENTLY by another writer in this JVM. " +
              "Each log dir has exactly ONE live writer.")
      }
      try body finally lock.release()
    } finally lch.close()
  }

  // The initial observation (records mirror + size baseline) is taken
  // as ONE locked read: two separate file reads would leave a window
  // where a foreign append lands between them, yielding an expectedSize
  // that includes a record the mirror lacks — the next append would
  // pass the size check and silently weave the foreign record in, the
  // exact scenario the size check exists to detect.
  locally {
    val (recs, size) = lockedObservation()
    records = recs
    expectedSize = Some(size)
  }

  /** Tape contents AND byte size read under the same exclusive file
    * lock append() and compact() take, so the mirror and the size
    * baseline describe the same instant of the file: every cooperating
    * writer mutates the tape only while holding that lock, so nothing
    * can land between the two reads. (A non-cooperating writer is the
    * thing the size check at append time exists to DETECT, not
    * prevent.) One tape parser — reload() — serves every reader.
    */
  private def lockedObservation(): (Vector[(String, Long, String)], Long) =
    withTapeLock("observed") {
      if (!Files.exists(logPath)) (Vector.empty, 0L)
      else (reload(), Files.size(logPath))
    }

  private def parseTape(lines: Vector[String]): Vector[(String, Long, String)] =
    lines.filter(_.nonEmpty).map { line =>
      val parts = line.split("\t", 3)
      (parts(0), parts(1).toLong, if (parts.length > 2) parts(2) else "")
    }

  private def reload(): Vector[(String, Long, String)] =
    if (!Files.exists(logPath)) Vector.empty
    else parseTape(Files.readAllLines(logPath, StandardCharsets.UTF_8).asScala.toVector)

  /** Parse the DURABLE tape from disk without touching in-memory state —
    * for callers that need ground truth even after a simulated crash
    * (own-batch lookup for read-your-writes, txn-id resumption). One
    * parser for every consumer of the tape format.
    */
  def durableRecords(): Vector[(String, Long, String)] = reload()

  private def append(tpe: String, txn: Long, payload: String = ""): Unit = {
    val exp = expectedSize.getOrElse(throw new IllegalStateException(
      s"LogManager protocol violation: append to $logPath after a crash/" +
        "reset() without recovery() — the writer has no size observation " +
        "and its in-memory mirror excludes every durable record. Call " +
        "recovery() first (the documented post-crash protocol)."))
    val bytes = s"$tpe\t$txn\t$payload\n".getBytes(StandardCharsets.UTF_8)
    withTapeLock("appended") {
      // SYNC: the write is flushed before the call returns — a COMMIT
      // record on disk is the durability point (reference: FORCE policy
      // flushes pages before logging commit, transaction_manager.cc:52-73).
      val ch = java.nio.channels.FileChannel.open(logPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.APPEND, StandardOpenOption.SYNC)
      try {
        val actual = ch.size()
        if (actual != exp) throw new IllegalStateException(
          s"LogManager single-writer violation: $logPath is $actual bytes " +
            s"on disk but this writer last saw $exp — a concurrent writer " +
            "session appended to (or truncated) the log. Each log dir has " +
            "exactly ONE live writer; open a fresh session and recover() " +
            "to take over.")
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        expectedSize = Some(actual + bytes.length)
        records :+= ((tpe, txn, payload))
      } finally ch.close()
    }
  }

  def logBegin(txn: Long): Unit = append(LogRecord.Begin, txn)
  def logUpdate(txn: Long, batchDir: String): Unit =
    append(LogRecord.Update, txn, batchDir)
  def logCommit(txn: Long): Unit = append(LogRecord.Commit, txn)
  def logAbort(txn: Long): Unit = append(LogRecord.Abort, txn)
  /** Checkpoint payload = the compacted base dir; batches of txns
    * committed before the checkpoint are subsumed by it. The record's
    * txn field carries the tape's txn-id HIGH-WATER MARK at checkpoint
    * time (every id ever issued has a BEGIN on the tape, so the tape
    * max IS the mark): [[compact]] may drop every record of the
    * highest ids (all resolved pre-checkpoint), and a reopen/recovery
    * that resumed ids from a tape without the mark would re-issue
    * them — aliasing [[committedStateAsOf]] of a compacted-away txn
    * onto the NEW txn's snapshot instead of the documented "no COMMIT
    * record" failure. Pre-checkpoint records all have ids <= the mark,
    * so the surviving CHECKPOINT record keeps the max observable.
    * (-1 on pre-upgrade tapes is harmless: max() ignores it.)
    */
  def logCheckpoint(baseDir: String): Unit =
    append(LogRecord.Checkpoint,
      records.foldLeft(-1L) { case (m, (_, t, _)) => math.max(m, t) },
      baseDir)

  // Record-count API (reference log_manager.h:30-44).
  def totalRecords: Int = records.size
  def count(tpe: String): Int = records.count(_._1 == tpe)

  /** Crash simulation: drop all in-memory state
    * (reference `LogManager::reset`, log_manager_test.cc:186-194).
    * The writer's size observation dies with it — a post-crash session
    * must recovery() before appending (matching the real protocol);
    * append ENFORCES this with a named error rather than silently
    * re-arming over a mirror that excludes every pre-crash record.
    */
  def reset(): Unit = { records = Vector.empty; expectedSize = None }

  /** Compact the tape to latest-checkpoint base + live suffix. The tape
    * is append-only forever otherwise — checkpoints SUBSUME committed
    * txns for recovery but never shrink the file, so a long-lived log
    * dir replays (and stores) every record since creation. Dropped:
    * records of txns RESOLVED before the latest checkpoint (committed →
    * their rows live in the checkpoint base; aborted → invisible
    * forever) and superseded CHECKPOINT records. Preserved: the latest
    * CHECKPOINT, the entire post-checkpoint suffix, and every
    * pre-checkpoint record of txns NOT resolved by the checkpoint —
    * fuzzy-checkpoint straddlers (in flight at the checkpoint,
    * committed after) keep their UPDATE records or their committed rows
    * would vanish, and still-unresolved txns keep theirs so a later
    * COMMIT still finds its batches.
    *
    * `foldCommitted` over the compacted tape is IDENTICAL to the
    * original (same base, committed set, batch map); the deliberate
    * loss is time travel to snapshots at or before the checkpoint
    * ([[committedStateAsOf]] of a compacted-away txn now throws — their
    * batches are only reachable merged into the base).
    *
    * Runs under the same exclusive file lock as [[append]] with the
    * same foreign-writer size check; the rewrite is a synced temp file
    * atomically moved onto the tape, so a crash mid-compaction leaves
    * either the old or the new tape, never a torn one.
    *
    * `retainCheckpoints` is the TIME-TRAVEL RETENTION knob (default 1 =
    * maximal compaction): compaction treats the Nth-from-last
    * checkpoint as its base, keeping every later checkpoint and every
    * record after that base verbatim — so [[TxnTable.committedStateAsOf]]
    * keeps working for any txn that committed after the OLDEST retained
    * checkpoint, and a pipeline that needs a history window sizes N to
    * its checkpoint cadence. History at or before the oldest retained
    * checkpoint is still permanently lost (throws by name) — that loss
    * is the operation's point; the knob only positions the horizon.
    *
    * @return number of records dropped (0 when fewer than
    *         `retainCheckpoints` checkpoints exist).
    */
  def compact(retainCheckpoints: Int = 1): Int = {
    require(retainCheckpoints >= 1,
      s"compact retainCheckpoints must be >= 1, got $retainCheckpoints")
    val exp = expectedSize.getOrElse(throw new IllegalStateException(
      s"LogManager protocol violation: compact of $logPath after a crash/" +
        "reset() without recovery() — call recovery() first."))
    if (!Files.exists(logPath)) return 0
    withTapeLock("compacted") {
      val actual = Files.size(logPath)
      if (actual != exp) throw new IllegalStateException(
        s"LogManager single-writer violation: $logPath is $actual bytes " +
          s"on disk but this writer last saw $exp — a concurrent writer " +
          "session appended to (or truncated) the log; recover() to take over.")
      // the compaction BASE is the retainCheckpoints-th-from-last
      // checkpoint; later checkpoints sit in the kept suffix untouched
      val ckptIdxs = records.zipWithIndex.collect {
        case ((LogRecord.Checkpoint, _, _), i) => i }
      if (ckptIdxs.size < retainCheckpoints) 0 // not enough history — no-op
      else {
        val baseCkpt = ckptIdxs(ckptIdxs.size - retainCheckpoints)
        val pre = records.take(baseCkpt)
        // resolved strictly BEFORE the base checkpoint: committed
        // (subsumed by the base) or aborted (invisible forever)
        val resolved = pre.collect {
          case (LogRecord.Commit, t, _) => t
          case (LogRecord.Abort, t, _) => t
        }.toSet
        val keptPre = pre.filter { case (tpe, t, _) =>
          tpe != LogRecord.Checkpoint && !resolved(t) }
        val compacted = (keptPre :+ records(baseCkpt)) ++ records.drop(baseCkpt + 1)
        val dropped = records.size - compacted.size
        if (dropped == 0) 0
        else {
          val bytes = compacted
            .map { case (tpe, t, p) => s"$tpe\t$t\t$p\n" }
            .mkString.getBytes(StandardCharsets.UTF_8)
          val tmp = logPath.resolveSibling(logPath.getFileName.toString + ".compact")
          val out = java.nio.channels.FileChannel.open(tmp,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE,
            StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.SYNC)
          try {
            val buf = java.nio.ByteBuffer.wrap(bytes)
            while (buf.hasRemaining) out.write(buf)
          } finally out.close()
          Files.move(tmp, logPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          records = compacted
          expectedSize = Some(bytes.length.toLong)
          dropped
        }
      }
    }
  }

  /** ARIES-shaped recovery, radically simplified by immutability:
    * analysis = replay the tape to find committed txns and the last
    * checkpoint; redo = nothing (committed parquet batches are already
    * durable); undo = nothing (loser batches were never visible).
    * Also re-syncs the single-writer size observation: recovery is the
    * legal way a successor session takes over the log dir.
    */
  def recovery(): Unit = {
    val (recs, size) = lockedObservation()
    records = recs
    expectedSize = Some(size)
  }

  /** Committed txn ids whose batches are NOT subsumed by the latest
    * checkpoint, plus the latest checkpoint base (if any).
    */
  def committedState: (Option[String], Set[Long], Map[Long, Vector[String]]) =
    foldCommitted(records)

  /** True iff `t`'s COMMIT precedes the latest CHECKPOINT — its batches
    * are compacted into the base, so re-adding them (e.g. as a reader's
    * own writes) would double every row.
    */
  def isSubsumed(t: Long): Boolean = {
    val lastCkpt = records.lastIndexWhere(_._1 == LogRecord.Checkpoint)
    lastCkpt >= 0 && records.take(lastCkpt).exists {
      case (tpe, tt, _) => tpe == LogRecord.Commit && tt == t
    }
  }

  /** Snapshot semantics for time travel: the committed state as it was
    * the moment `txn`'s COMMIT record landed — i.e. fold only the tape
    * PREFIX ending at that record. Immutability makes this free: old
    * batches are never rewritten, so any historical snapshot is just a
    * shorter prefix of the same metadata tape (the mechanism behind
    * table-format time travel). Throws if `txn` never committed —
    * an aborted or in-flight txn has no snapshot to read.
    */
  def committedStateAsOf(txn: Long): (Option[String], Set[Long], Map[Long, Vector[String]]) = {
    val at = records.indexWhere { case (tpe, t, _) =>
      tpe == LogRecord.Commit && t == txn }
    require(at >= 0, s"txn $txn has no COMMIT record — no snapshot exists")
    foldCommitted(records.take(at + 1))
  }

  private def foldCommitted(tape: Vector[(String, Long, String)]):
      (Option[String], Set[Long], Map[Long, Vector[String]]) = {
    val lastCkpt = tape.lastIndexWhere(_._1 == LogRecord.Checkpoint)
    val base = if (lastCkpt >= 0) Some(tape(lastCkpt)._3) else None
    // A checkpoint subsumes exactly the txns whose COMMIT precedes it —
    // that is what the compaction read() saw when it built the base. A
    // txn in flight AT the checkpoint that commits later is a fuzzy-
    // checkpoint straddler: its UPDATE records (wherever they sit on the
    // tape, including BEFORE the checkpoint) must stay live, or its
    // committed rows vanish — dropping the whole pre-checkpoint prefix
    // here used to lose them.
    val subsumed =
      if (lastCkpt >= 0)
        tape.take(lastCkpt).collect { case (LogRecord.Commit, t, _) => t }.toSet
      else Set.empty[Long]
    val committed =
      tape.collect { case (LogRecord.Commit, t, _) => t }.toSet -- subsumed
    val batches = tape.collect {
      case (LogRecord.Update, t, dir) if committed(t) => (t, dir)
    }.groupBy(_._1).map { case (t, v) => t -> v.map(_._2) }
    (base, committed, batches)
  }
}

/** Monotonic txn ids + begin/commit/abort protocol
  * (reference transaction_manager.cc:37-102).
  */
final class TransactionManager(log: LogManager) {
  private var nextId: Long = 0L
  private var active: Set[Long] = Set.empty

  def startTxn(): Long = {
    nextId += 1
    active += nextId
    log.logBegin(nextId)
    nextId
  }
  def commitTxn(txn: Long): Unit = {
    require(active(txn), s"txn $txn not active")
    // Data batches were durably written at insert time (FORCE, for free).
    log.logCommit(txn)
    active -= txn
  }
  def abortTxn(txn: Long): Unit = {
    require(active(txn), s"txn $txn not active")
    // NO-STEAL for free: nothing uncommitted is ever visible to readers,
    // so rollback is just the ABORT record.
    log.logAbort(txn)
    active -= txn
  }
  /** Crash simulation (reference TransactionManager::reset). */
  def reset(): Unit = { active = Set.empty; nextId = 0L }
  /** Post-recovery: resume ids past everything in the log. */
  def recover(maxSeenTxn: Long): Unit = { nextId = maxSeenTxn; active = Set.empty }
}

/** A transactional table: committed-visible reads over append-only
  * parquet batches + optional checkpoint compaction.
  */
final class TxnTable(spark: SparkSession, val dir: String,
    lockWaitMs: Long = LogManager.configuredLockWaitMs) {
  private val root = Paths.get(dir)
  val log = new LogManager(root.resolve("log.tsv"), lockWaitMs)
  val txns = new TransactionManager(log)
  // A TxnTable reopened over an EXISTING directory must resume txn ids
  // past the tape, exactly like batchSeq below resumes the batch
  // numbering: starting at 0 would reissue an already-committed txn id,
  // and foldCommitted would then treat the new session's uncommitted
  // (or even aborted) batches under that id as committed — instantly
  // and permanently visible to every reader.
  locally {
    val onTape = log.durableRecords()
      .foldLeft(0L) { case (m, (_, t, _)) => math.max(m, t) }
    if (onTape > 0L) txns.recover(onTape)
  }

  /** Highest sequence number already used by a `batch-<txn>-<seq>` or
    * `ckpt-<seq>` directory on disk, so a TxnTable reopened over an
    * existing directory (or after recover()) resumes numbering past
    * durable state instead of restarting at 0 and colliding with
    * mode=errorifexists writes.
    */
  private def maxDurableSeq: Int =
    if (!Files.exists(root)) 0
    else scala.util.Using.resource(Files.list(root)) { stream =>
      stream.iterator().asScala.map(_.getFileName.toString)
        .flatMap { n =>
          if (n.startsWith("batch-")) n.substring(n.lastIndexOf('-') + 1).toIntOption
          else if (n.startsWith("ckpt-")) n.substring(5).toIntOption
          else None
        }.foldLeft(0)(math.max)
    }

  private var batchSeq = maxDurableSeq

  /** Insert a batch of rows under `txn`. The parquet write completes (is
    * durable) before the UPDATE record is appended — write-ahead in the
    * only sense an append-only store needs. A batch that is already in
    * driver memory (its optimized plan is a local relation) is written on
    * the driver as one file, `part-00000<ext>`, without a Spark job; any
    * other batch goes through `df.write.parquet`, distributed like the
    * plan that computes it. Either way an existing batch dir fails the
    * insert, and a failed write logs no UPDATE.
    */
  def insert(txn: Long, df: DataFrame): Unit = {
    batchSeq += 1
    val batch = s"batch-$txn-$batchSeq"
    write(root.resolve(batch), df)
    log.logUpdate(txn, batch)
  }

  /** `df` as the new directory `path`: on the driver when its rows are
    * already in driver memory, else through `df.write.parquet`.
    */
  private def write(path: Path, df: DataFrame): Unit = {
    // Only a plan whose every leaf is a local relation can fold into one
    // (ConvertToLocalRelation); any other plan is left for `df.write` to
    // optimize, once.
    val analyzed = df.queryExecution.analyzed
    val inMemory = analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])
    (if (inMemory) df.queryExecution.optimizedPlan else analyzed) match {
      case local: LocalRelation if !local.isStreaming =>
        writeOnDriver(path, df.schema.fieldNames.toSeq, local)
      case _ => df.write.mode("errorifexists").parquet(path.toString)
    }
  }

  /** The rows of `local` as one parquet file in the new directory `dir`,
    * written on the driver. The writer is the one a Spark write task
    * uses — `ParquetFileFormat.prepareWrite` with the session's write
    * confs (codec, timestamp type, datetime rebase) — so the file and its
    * footer, Spark's row metadata included, match what `df.write.parquet`
    * leaves. The schema is the plan's output under the DataFrame's column
    * names, as the write command takes it, and goes through the same
    * schema checks first. The directory is created exclusively
    * (errorifexists) and removed again if the write fails. It carries no
    * `_SUCCESS` marker: the UPDATE record is what publishes a batch.
    */
  private def writeOnDriver(dir: Path, names: Seq[String], local: LocalRelation): Unit = {
    val schema = StructType(local.output.zip(names).map { case (a, name) =>
      StructField(name, a.dataType, a.nullable, a.metadata) })
    val format = new ParquetFileFormat()
    DataSource.validateSchema(format.toString, schema, spark.sessionState.conf)
    GraftSqlBridge.checkColumnNameDuplication(schema.fieldNames.toSeq,
      spark.sessionState.conf.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = format.prepareWrite(spark, job, Map.empty, schema)
      val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      Files.createDirectories(root)
      Files.createDirectory(dir)
      try {
        val file = dir.resolve("part-00000" + factory.getFileExtension(task))
        val writer = factory.newInstance(file.toString, schema, task)
        try local.data.foreach(writer.write) finally writer.close()
      } catch {
        case NonFatal(e) =>
          deleteTree(dir)
          throw e
      }
    }
  }

  /** Committed-visible snapshot: checkpoint base (if any) + batches of
    * committed txns. `asTxn` additionally sees its own uncommitted writes
    * (read-your-writes).
    *
    * The visible dirs are listed once. When their rows, decoded, take at
    * most [[TxnTable.LocalReadMaxBytes]] of driver heap, the snapshot is
    * read into driver memory when read() is called, and the DataFrame is
    * one local relation: its actions start no Spark job. Each file is
    * decoded by Spark's own parquet reader once per table instance and kept
    * while it stays visible (files are immutable), so a read decodes only
    * the files committed since the last one. A decode that passes the
    * constant stops there and the read falls back to the scan.
    *
    * Above the constant, all visible dirs go into ONE multi-path
    * `spark.read.parquet` call — one scan node however many batches are
    * live. (Batches share a schema by construction: every insert targets
    * the same logical table. The earlier per-batch `unionByName` chain
    * built an O(#batches)-deep plan tree — thousands of small txns between
    * checkpoints meant driver-side planning blowup for a plan the scan
    * expresses natively.) The scan is given the schema of the first dir,
    * read from its parquet footer on the driver ([[ParquetFooter.schema]])
    * — what Spark's inference job would answer — so building the DataFrame
    * starts no Spark job; only its action does.
    *
    * Both report the same schema: the first file's, every field nullable.
    */
  def read(asTxn: Option[Long] = None): DataFrame = {
    val (base, committed, batchMap) = log.committedState
    val visible = asTxn match {
      case Some(t) =>
        // own writes: every UPDATE of t, committed or not — UNLESS t's
        // commit predates the latest checkpoint, in which case its rows
        // already live in the base and re-adding the batch dirs would
        // double them
        val own = if (log.isSubsumed(t)) Vector.empty else ownBatches(t)
        batchMap.values.flatten.toVector ++ own.filterNot(batchMap.values.flatten.toSet)
      case None => batchMap.values.flatten.toVector
    }
    scan(base.toVector ++ visible)
  }

  /** Time-travel read: the committed snapshot as of `txn`'s commit —
    * exactly what read() returned the moment that COMMIT landed. Read like
    * [[read]]: in driver memory when small, else one multi-path scan.
    */
  def readAsOf(txn: Long): DataFrame = {
    val (base, _, batchMap) = log.committedStateAsOf(txn)
    scan(base.toVector ++ batchMap.values.flatten.toVector)
  }

  private def scan(dirs: Vector[String]): DataFrame =
    if (dirs.isEmpty) spark.emptyDataFrame
    else {
      val paths = dirs.map(b => root.resolve(b).toString)
      (if (forceScan) None else decoded.read(paths)).getOrElse(
        spark.read.schema(ParquetFooter.schema(spark, paths.head)).parquet(paths: _*))
    }

  private val decoded = new DecodedFiles(spark)

  /** Reads every snapshot through the distributed scan, whatever its size,
    * so tests can compare the two paths over the same dirs.
    */
  private[txn] var forceScan: Boolean = false

  /** Number of files whose decoded rows this table keeps. */
  private[txn] def decodedFiles: Int = decoded.size

  // All UPDATE records of t from the full durable tape (committedState
  // hides uncommitted ones). Durable, not in-memory: own writes must be
  // visible even mid-recovery.
  private def ownBatches(t: Long): Vector[String] =
    log.durableRecords().collect {
      case (LogRecord.Update, `t`, dir) => dir
    }

  /** Compact all currently-committed data into a single base dir and log
    * a CHECKPOINT; recovery after this never replays older batches.
    * The base is written like an insert: a snapshot that [[read]] holds in
    * driver memory is written on the driver, a larger one by Spark tasks.
    * A checkpoint with NOTHING visible is a no-op (found by the tape
    * fuzz: parquet refuses an empty-schema write, and an empty base dir
    * would poison every later read) — there are no batches to subsume,
    * so skipping loses no recovery bounding.
    */
  def checkpoint(): Unit = {
    val snapshot = read()
    if (snapshot.columns.nonEmpty) {
      batchSeq += 1
      val base = s"ckpt-$batchSeq"
      write(root.resolve(base), snapshot)
      log.logCheckpoint(base)
    }
  }

  /** [[LogManager.compact]] plus physical garbage collection: batch and
    * checkpoint dirs no longer referenced by any record on the compacted
    * tape (subsumed txns' batches — their rows live in the base — and
    * superseded checkpoint bases) are deleted. Safe in the single-writer
    * session the contract already requires: every surviving read path
    * resolves dirs through the tape, and the compacted tape references
    * none of the deleted ones. Returns (records dropped, dirs deleted).
    *
    * `retainCheckpoints` (default 1 = maximal compaction) keeps the
    * last N checkpoints as time-travel history: [[committedStateAsOf]]
    * keeps working for every txn committed after the OLDEST retained
    * checkpoint — pipelines that need a history window size N to their
    * checkpoint cadence instead of losing everything behind the latest.
    */
  def compact(retainCheckpoints: Int = 1): (Int, Int) = {
    val dropped = log.compact(retainCheckpoints)
    val live = log.durableRecords().collect {
      case (LogRecord.Update, _, d) => d
      case (LogRecord.Checkpoint, _, d) => d
    }.toSet
    val dead =
      if (!Files.exists(root)) Vector.empty
      else scala.util.Using.resource(Files.list(root)) { stream =>
        stream.iterator().asScala.map(_.getFileName.toString)
          .filter(n => (n.startsWith("batch-") || n.startsWith("ckpt-"))
            && !live(n))
          .toVector
      }
    dead.foreach(n => deleteTree(root.resolve(n)))
    (dropped, dead.size)
  }

  private def deleteTree(dir: Path): Unit =
    scala.util.Using.resource(Files.walk(dir)) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }

  /** Simulate a crash: all in-memory state gone, decoded files included. */
  def crash(): Unit = { log.reset(); txns.reset(); decoded.clear() }

  /** Recover from the durable log; committed data is readable again and
    * new txn ids resume past everything on the tape.
    */
  def recover(): Unit = {
    log.recovery()
    txns.recover(maxSeen)
    batchSeq = maxDurableSeq
  }

  private def maxSeen: Long =
    log.durableRecords().foldLeft(0L) { case (m, (_, t, _)) => math.max(m, t) }
}

object TxnTable {
  /** Largest snapshot, in bytes of decoded rows, that a read holds in
    * driver memory instead of scanning with Spark tasks. The bound comes
    * from driver memory: a table keeps the decoded rows of its visible
    * snapshot on the driver heap, and collecting them copies them once
    * more, beside everything else the application keeps there; 16 MiB is
    * under 2% of Spark's default 1 GiB driver heap (`spark.driver.memory`).
    * Rows are counted as decoded, not as stored: dictionary and run-length
    * encodings keep a low-cardinality column in about a byte a row or less,
    * so bytes on disk do not bound them. A larger snapshot reads through
    * the distributed scan, which works at any size.
    */
  val LocalReadMaxBytes: Long = 16L << 20

  /** Driver heap a decoded row takes beyond its `UnsafeRow` bytes: the row
    * object, its byte array's header and its slot in the file's array.
    */
  val RowOverheadBytes: Long = 64
}

/** A [[TxnTable]]'s driver-side reads of small snapshots, and the decoded
  * rows they keep.
  *
  * A batch or checkpoint file is created exclusively and never rewritten,
  * so its rows, decoded once, stay valid while the file is visible; they
  * are keyed by path, size and modification time, with the driver heap
  * they take. The rows, the reader function and row projection that
  * decoded them (building the reader broadcasts the Hadoop conf, which
  * costs more than decoding a small file) and the footer schema belong to
  * one generation: the schema plus the session's SQL confs. A change to
  * either drops everything. Each read drops what it holds of files no
  * longer visible, and a snapshot above [[TxnTable.LocalReadMaxBytes]]
  * drops all rows, so at most one small snapshot is held. All access
  * holds this object's lock.
  */
private final class DecodedFiles(spark: SparkSession) {
  private case class FileKey(path: String, size: Long, mtime: Long)

  private var confs = Map.empty[String, String]
  private var hadoopConf: Configuration = null
  private var footer: Option[(FileKey, StructType)] = None
  private var decoder: Option[(PartitionedFile => Iterator[InternalRow], UnsafeProjection)] = None
  private val rows = mutable.HashMap.empty[FileKey, Array[InternalRow]]
  // Driver heap of each visible file's rows: exact for a file in `rows`,
  // else a lower bound, what a decode stopped at the budget had reached.
  // It sends later reads of a snapshot over the budget straight to the
  // scan, without decoding again.
  private val bytes = mutable.HashMap.empty[FileKey, Long]

  /** The snapshot over `dirs` as one local relation, or None when its rows
    * take more than [[TxnTable.LocalReadMaxBytes]] decoded (or its files on
    * disk already do, so it is not opened), when the vectorized parquet
    * reader does not read its schema (only that reader can be closed in
    * the middle of a file), or when a dir is one only the scan handles:
    * missing, holding a subdirectory, or (the first dir) holding no data
    * file. The schema is the first file's footer schema with every field
    * nullable, as the scan reports it.
    */
  def read(dirs: Seq[String]): Option[DataFrame] = synchronized {
    val sqlConf = spark.sessionState.conf
    val now = sqlConf.getAllConfs
    if (now != confs) {
      clear()
      confs = now
      hadoopConf = spark.sessionState.newHadoopConf()
    }
    listing(dirs).filter(_.iterator.map(_.getLen).sum <= TxnTable.LocalReadMaxBytes) match {
      case None =>
        rows.clear()
        bytes.clear()
        None
      case Some(files) =>
        val keys = files.map(f => FileKey(f.getPath.toString, f.getLen, f.getModificationTime))
        val schema = footer.collect { case (k, s) if k == keys.head => s }.getOrElse {
          val s = GraftSqlBridge.asNullable(ParquetFooter.fileSchema(files.head, hadoopConf, sqlConf))
          if (!footer.exists(_._2 == s)) { rows.clear(); bytes.clear(); decoder = None }
          footer = Some(keys.head -> s)
          s
        }
        val visible = keys.toSet
        rows.filterInPlace((k, _) => visible(k))
        bytes.filterInPlace((k, _) => visible(k))
        val fits = ParquetUtils.isBatchReadSupportedForSchema(sqlConf, schema) &&
          keys.iterator.map(bytes.getOrElse(_, 0L)).sum <= TxnTable.LocalReadMaxBytes && {
            var held = keys.iterator.filter(rows.contains).map(bytes).sum
            files.zip(keys).forall { case (f, k) =>
              rows.contains(k) || (decode(f, schema, TxnTable.LocalReadMaxBytes - held) match {
                case Right((data, size)) =>
                  rows(k) = data
                  bytes(k) = size
                  held += size
                  true
                case Left(reached) =>
                  bytes(k) = reached
                  false
              })
            }
          }
        if (!fits) {
          rows.clear()
          None
        } else Some(GraftSqlBridge.datasetOfRows(spark,
          LocalRelation(DataTypeUtils.toAttributes(schema), keys.flatMap(k => rows(k)))))
    }
  }

  def clear(): Unit = synchronized {
    confs = Map.empty
    hadoopConf = null
    footer = None
    decoder = None
    rows.clear()
    bytes.clear()
  }

  def size: Int = synchronized(rows.size)

  /** Each dir's data files in name order, or None (see [[read]]). */
  private def listing(dirs: Seq[String]): Option[Vector[FileStatus]] = {
    val perDir = dirs.map { d =>
      val path = new HPath(d)
      try {
        val all = path.getFileSystem(hadoopConf).listStatus(path).toVector
        val named = all.filter(f => ParquetFooter.isDataFile(f.getPath.getName))
        if (named.exists(_.isDirectory)) None
        else Some(named.filter(_.isFile).sortBy(_.getPath.getName))
      } catch { case _: FileNotFoundException => None }
    }
    if (perDir.contains(None) || perDir.head.exists(_.isEmpty)) None
    else Some(perDir.flatMap(_.get).toVector)
  }

  /** The rows of `file` decoded by Spark's parquet reader (the function a
    * scan task runs), each copied out of the reader's reused buffers, with
    * the driver heap they take; or, once that passes `budget`, Left of the
    * heap reached, the rest of the file unread.
    */
  private def decode(file: FileStatus, schema: StructType,
                     budget: Long): Either[Long, (Array[InternalRow], Long)] = {
    val (read, toRow) = decoder.getOrElse {
      val d = (new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        hadoopConf), UnsafeProjection.create(schema))
      decoder = Some(d)
      d
    }
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file.getPath), 0L,
        file.getLen, Array.empty, file.getModificationTime, file.getLen))
      try {
        val out = mutable.ArrayBuilder.make[InternalRow]
        var size = 0L
        while (size <= budget && it.hasNext) {
          val row = toRow(it.next()).copy()
          size += row.getSizeInBytes + TxnTable.RowOverheadBytes
          out += row
        }
        if (size > budget) Left(size) else Right((out.result(), size))
      } finally it match {
        case c: Closeable => c.close()
        case _ =>
      }
    }
  }
}
