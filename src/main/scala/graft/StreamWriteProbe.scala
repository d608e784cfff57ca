package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Direct measurement of the streaming STATE-WRITE path behind the
  * q62/q127 scale-knee residual (SCALE.md §Round-10): the knob A/B
  * there showed the 100× last-step superlinearity is neither block
  * cache nor changelog commit, leaving "memtable flush + SST
  * compaction write amplification" attributed BY ELIMINATION. This
  * probe records the account directly: it runs the q62 stream-stream
  * join pipeline (identical session config) over an N× events tape cut
  * into multiple triggers, and dumps the RocksDB state-store custom
  * metrics per trigger — flush bytes, compaction read/write bytes,
  * writer-stall time, live SST size — so the write-amplification curve
  * is measured, not inferred.
  *
  *   sbt -batch "runMain graft.StreamWriteProbe 1 10 30 100"
  *
  * Reuses ScaleProbe's event re-key semantics (fresh event/user ids per
  * copy → per-user density constant, state volume ×N) and reuses its
  * generated tapes when present. Not part of the query surface — a
  * numbers generator for SCALE.md, like ScaleProbe / StreamFloorProbe.
  */
object StreamWriteProbe {
  private val Offset = 1000000000L

  /** The stateful pipeline under measurement. `join` is the original
    * q62 stream-stream self-join (4 state stores/partition — the shape
    * the r11 budget was measured on); `agg`/`session`/`dedup` are the
    * single-store shapes (windowed aggregation, custom sessionize,
    * dropDuplicatesWithinWatermark) whose per-key WriteBatch constants
    * round 13 publishes so [[graft.streaming.Streams]]' provisionFor*
    * helpers stop needing a hand-built state model; `totals` is the
    * transformWithState ledger ([[graft.streaming.Streams.runningTotals]]
    * — ValueState[(Long, Long)] per key, the last stateful entry point
    * without a measured constant), keyed here by event_id so the key
    * space is large enough to REACH the flush regime at 100× (the
    * per-key volume is key-value encoding, independent of which Long
    * column feeds the key). Run with ONESHOT=1 when deriving constants:
    * one trigger touches every key exactly once, so
    * totalBytesWritten / keys IS the per-key put volume.
    */
  private val Shapes = Set("join", "agg", "session", "dedup", "totals")

  def main(args: Array[String]): Unit = {
    val (shapeArgs, tierArgs) =
      args.toSeq.partition(a => a.isEmpty || !a.forall(_.isDigit))
    require(shapeArgs.size <= 1,
      s"at most one shape per invocation, got ${shapeArgs.mkString(", ")} — " +
        "run the probe once per shape so every requested constant is " +
        "actually measured")
    val shape = shapeArgs.headOption.getOrElse("join")
    require(Shapes.contains(shape),
      s"unknown shape '$shape' — expected one of ${Shapes.mkString("/")}")
    val tiers =
      if (tierArgs.nonEmpty) tierArgs.map(a => a.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"tier '$a' is not a valid Int copy count")))
      else Seq(1, 10, 30, 100)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nFiles = sys.env.getOrElse("GRAFT_WRITEPROBE_FILES", "16").toInt
    val spark = graft.core.Catalog.newSession()
    spark.range(1000000).selectExpr("sum(id)").collect()

    tiers.foreach { copies =>
      // tape: the ScaleProbe events re-key (event_id/user_id disjoint per
      // copy), cut into nFiles segments so state accumulates over several
      // triggers instead of one — per-trigger metrics then show the curve
      val scaleProbeTape = s"/tmp/graft-scaleprobe-${copies}x-v2/events.parquet"
      val tape = s"/tmp/graft-writeprobe-${copies}x-$nFiles"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tape/_SUCCESS"))) {
        val base: DataFrame =
          if (java.nio.file.Files.exists(
              java.nio.file.Paths.get(s"$scaleProbeTape/_SUCCESS")))
            graft.core.Catalog.table(spark, s"/tmp/graft-scaleprobe-${copies}x-v2", "events")
          else {
            val b = graft.core.Catalog.table(spark, baseDir, "events")
            (0 until copies).map(i => b
              .withColumn("event_id", col("event_id") + lit(i * Offset))
              .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
              .reduce(_ unionByName _)
          }
        // time-ordered segments (range-partitioned on ts, part files sort
        // lexically = chronologically in the file source): a RANDOM cut
        // makes every post-first trigger arrive mostly behind the
        // watermark and silently DROP as late — state never accumulates
        // and the probe measures nothing
        base.repartitionByRange(nFiles, col("ts"))
          .write.mode("overwrite").parquet(tape)
      }

      // Failing-tier levers for the two shapes whose NATURAL key spaces
      // can't reach the 51 MB/store flush onset at any affordable tier
      // (the per-key constant is key+value encoding, independent of
      // which column feeds the key or how wide the window is — the same
      // justification as the totals shape's event_id keying):
      //  - GRAFT_WRITEPROBE_KEYSPREAD=1: session keys by event_id
      //    (150 k users at 100x = 13 MB total state; event_id gives
      //    10 M keys = enough volume to cross the onset); agg groups by
      //    an event_id-derived string instead of event_type (the
      //    realistic high-cardinality "windowed counts per user/doc"
      //    shape — copies share the base timestamps, so the WINDOW
      //    space cannot grow past the base ts span and only the group
      //    column can carry the key spread)
      //  - GRAFT_WRITEPROBE_AGGWINDOW=<len>: windowed-agg window length
      //    (3 600 (1-h window, type) keys at EVERY tier — the key space
      //    is the time range; narrower windows scale it toward the
      //    ~100 k distinct base timestamps, a mid-scale key-density
      //    check, not a failing-tier lever)
      // value-parsed, not presence-based: KEYSPREAD=0 left in a script
      // environment must NOT silently switch the key space a constant
      // derivation runs against; garbage fails by name (a config error,
      // not a fake measurement)
      val keySpread = sys.env.get("GRAFT_WRITEPROBE_KEYSPREAD") match {
        case None | Some("0") | Some("false") | Some("") => false
        case Some("1") | Some("true") => true
        case Some(other) => throw new IllegalArgumentException(
          s"GRAFT_WRITEPROBE_KEYSPREAD must be 1/true or 0/false, got '$other'")
      }
      // a lever that the requested shape IGNORES must fail by name, not
      // no-op: KEYSPREAD=1 left in a script environment while probing
      // join/dedup/totals (whose key spaces it never touches) would
      // silently label the derived constant with the wrong key space
      require(!keySpread || shape == "agg" || shape == "session",
        s"GRAFT_WRITEPROBE_KEYSPREAD is set but shape '$shape' has no " +
          "key-spread lever (only agg/session do) — unset it for this run")
      val aggWindow = sys.env.getOrElse("GRAFT_WRITEPROBE_AGGWINDOW", "1 hour")
      require(aggWindow == "1 hour" || shape == "agg",
        s"GRAFT_WRITEPROBE_AGGWINDOW='$aggWindow' is set but shape " +
          s"'$shape' has no windowed aggregation — unset it for this run")
      // the q62 streaming session
      val s = Queries.streamSession(spark)
      // GRAFT_WRITEPROBE_AUTOPARTS=1: provision partitions through the
      // ACTUAL API (Streams.provisionStatePartitions) from the tape's
      // input-row count × the measured per-row join-state constant —
      // the round-12 validation that the r11 hand-set 32-partition
      // result reproduces through the API path
      // the shape's state-key count, computed batch-side from the tape
      // with the SAME key definition the streaming operator shards on —
      // the denominator of the per-key constant (and the keys input of
      // the per-shape provisionFor* API path)
      lazy val shapeKeys: Long = shape match {
        case "join" => 2L * spark.read.parquet(tape).count()
        case "agg" => spark.read.parquet(tape)
          .select(window(col("ts"), aggWindow),
            (if (keySpread) concat(lit("g"), col("event_id"))
             else col("event_type")).as("event_type"))
          .distinct().count()
        case "session" => spark.read.parquet(tape)
          .select(col(if (keySpread) "event_id" else "user_id"))
          .distinct().count()
        // dedup and totals share one key space: distinct event_id
        case "dedup" | "totals" => spark.read.parquet(tape)
          .select(col("event_id")).distinct().count()
      }
      if (sys.env.contains("GRAFT_WRITEPROBE_AUTOPARTS")) {
        // provision through the ACTUAL API from the shape's key count ×
        // its measured constant — join: input rows (BOTH sides of the
        // self-join, matching the 20 M rows the 86 B/row constant was
        // measured against) × per-row; single-store shapes: state keys
        // × the round-13 per-key constants
        val n = shape match {
          case "join" => graft.streaming.Streams.provisionStatePartitions(
            s, shapeKeys, graft.streaming.Streams.MeasuredJoinStateBytesPerRow)
          case "agg" => graft.streaming.Streams.provisionForWindowedAgg(s, shapeKeys)
          case "session" => graft.streaming.Streams.provisionForSessionize(s, shapeKeys)
          case "dedup" => graft.streaming.Streams.provisionForDedupWithin(s, shapeKeys)
          case "totals" => graft.streaming.Streams.provisionForRunningTotals(s, shapeKeys)
        }
        println(s"""[writeprobe] {"copies":$copies,"shape":"$shape","autoparts":$n,"keys":$shapeKeys}""")
      }

      // default 4 files/trigger over 16 time-ordered files = 4 triggers
      // of accumulating state; GRAFT_WRITEPROBE_ONESHOT=1 reproduces the
      // q62 bench shape exactly (everything in ONE trigger, no eviction)
      val filesPerTrigger =
        if (sys.env.contains("GRAFT_WRITEPROBE_ONESHOT")) nFiles
        else math.max(nFiles / 4, 1)
      val src = graft.streaming.Streams.eventsStream(s, tape,
        maxFilesPerTrigger = filesPerTrigger)
      val piped: DataFrame = shape match {
        case "join" => graft.streaming.Streams.streamStreamJoin(src, src)
        case "agg" => graft.streaming.Streams.windowedCounts(
          if (keySpread)
            src.withColumn("event_type", concat(lit("g"), col("event_id")))
          else src,
          windowLen = aggWindow)
        case "session" =>
          import s.implicits._
          graft.streaming.Streams.sessionize(s,
            src.select(col("event_id"), col("ts"),
              (if (keySpread) col("event_id") else col("user_id"))
                .as("user_id"),
              col("event_type"), col("value"))
              .as[graft.streaming.Streams.Event]).toDF()
        case "dedup" =>
          graft.streaming.Streams.dedupWithinWatermark(src, Seq("event_id"))
        case "totals" =>
          import s.implicits._
          graft.streaming.Streams.runningTotals(
            src.select(col("event_id"),
              (col("value") * 100).cast("long")).as[(Long, Long)]).toDF()
      }

      // under the process's scratch root (exit hook + dead-pid reaper):
      // per-run streaming checkpoints are garbage the moment the probe exits
      val ckpt = graft.core.Scratch.scratch(s"writeprobe-ckpt-$copies")
      val t0 = System.nanoTime()
      val q = piped.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        // the ledger emits updated totals per touched key per trigger —
        // transformWithState here runs in Update mode, not Append
        .outputMode(if (shape == "totals") "update" else "append").start()
      q.processAllAvailable()
      val totalSec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()

      // the write-path account: flush + compaction bytes are what the
      // knob A/B could not see (neither block cache nor changelog mode
      // touches them); stall time is RocksDB pushing back on exactly
      // that work; sst size is the resident state the next trigger pays
      val keys = Seq(
        "rocksdbTotalBytesWrittenByFlush",
        "rocksdbTotalBytesWrittenByCompaction",
        "rocksdbTotalBytesReadByCompaction",
        "rocksdbTotalCompactionLatencyMs",
        "rocksdbWriterStallLatencyMs",
        "rocksdbTotalBytesWritten", // WriteBatch (put path) bytes
        "rocksdbSstFileSize",
        "rocksdbCommitCompactLatency",
        // read side: once a flush materializes L0 SSTs, gets that used
        // to resolve in the memtable walk SST blocks through the (8 MB
        // default) block cache — the read-path account of the same onset
        "rocksdbTotalBytesRead",
        "rocksdbReadBlockCacheHitCount",
        "rocksdbReadBlockCacheMissCount",
        "rocksdbGetCount",
        "rocksdbGetLatency",
        "rocksdbFlushLatency")
      def metric(pOps: Seq[org.apache.spark.sql.streaming.StateOperatorProgress],
          k: String): Long =
        pOps.map(so => Option(so.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum

      var sums = Map.empty[String, Long].withDefaultValue(0L)
      progress.filter(_.numInputRows > 0).sortBy(_.batchId).foreach { p =>
        val ops = p.stateOperators.toSeq
        val cols = keys.map(k => s""""$k":${metric(ops, k)}""").mkString(",")
        // trigger-time split (addBatch = the data plan, walCommit/
        // commitOffsets = offset-log writes, queryPlanning = per-batch
        // re-plan): the wall-clock account that attributes residuals the
        // RocksDB byte counters can't see
        def dur(k: String): Long =
          Option(p.durationMs.get(k)).map(_.toLong).getOrElse(-1L)
        println(s"""[writeprobe] {"copies":$copies,"batch":${p.batchId},""" +
          s""""rows":${p.numInputRows},""" +
          s""""triggerMs":${dur("triggerExecution")},""" +
          s""""addBatchMs":${dur("addBatch")},"planMs":${dur("queryPlanning")},""" +
          s""""walMs":${dur("walCommit")},"offsetsMs":${dur("commitOffsets")},""" +
          s""""stateRows":${ops.map(_.numRowsTotal).sum},""" +
          s""""commitMs":${ops.map(_.commitTimeMs).sum},$cols}""")
        keys.foreach(k => sums += k -> (sums(k) + metric(ops, k)))
      }
      val rows = progress.map(_.numInputRows).sum
      val sumCols = keys.map(k => s""""$k":${sums(k)}""").mkString(",")
      // bytesPerKey = total WriteBatch volume / state keys — the per-key
      // constant the provisioning API wants; exact when ONESHOT=1 (every
      // key touched exactly once per its single trigger)
      val bpk =
        if (shapeKeys > 0)
          sums("rocksdbTotalBytesWritten").toDouble / shapeKeys else 0.0
      println(s"""[writeprobe] {"copies":$copies,"shape":"$shape","summary":true,"rows":$rows,""" +
        s""""keys":$shapeKeys,"bytesPerKey":${f"$bpk%.1f"},""" +
        s""""totalSec":${f"$totalSec%.1f"},"triggers":${progress.count(_.numInputRows > 0)},$sumCols}""")
    }
    spark.stop()
  }
}
