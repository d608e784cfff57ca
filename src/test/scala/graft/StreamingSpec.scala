package graft

import graft.streaming.Streams
import graft.streaming.Streams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Structured Streaming specs: watermarked windowed aggregation over the
  * driver events table (file source), late-data drop semantics, and
  * custom session state — checked against their batch equivalents.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("windowedCounts over the events file source equals the batch answer") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")

    // batch ground truth
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    // streaming needs a directory source: re-write the (ns->us converted)
    // events into a multi-file dir, then consume it incrementally
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    events.repartition(4).write.mode("overwrite").parquet(streamDir)
    val stream = Streams.eventsStream(spark, streamDir, maxFilesPerTrigger = 1)
    // stream schemas come from one footer: a relation given that schema
    // reports what Spark's inference does, here and on the query layer's
    // events and documents dirs
    for (d <- Seq(streamDir, Queries.eventsStreamDir(spark, dir), Queries.docsStreamDir(spark, dir)))
      assert(spark.read.schema(graft.core.ParquetFooter.schema(spark, d)).parquet(d).schema ==
        spark.read.parquet(d).schema)
    val out = Streams.windowedCounts(stream, "1 hour", "30 minutes")
    // complete mode: finite source, want every window including unfinalized
    val got = Streams.runToCompletion(spark,
      out, "win_counts", outputMode = "complete")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("bounded probe sink: (count, xor fingerprint) equals the memory sink's rows (r13 verdict #6)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-probe-sink").toString
    events.repartition(4).write.mode("overwrite").parquet(streamDir)
    import spark.implicits._
    def pipeline() = Streams.sessionize(spark,
      Streams.eventsStream(spark, streamDir, maxFilesPerTrigger = 2)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value")).as[Event]).toDF()
      .select(col("user_id"), col("start"), col("end"), col("n_events"))
    // ground truth through the memory sink (the oracle-gate path)
    val viaMemory = Streams.runToCompletion(spark, pipeline(),
      s"probe_sink_ref_${System.nanoTime()}")
    val ref = viaMemory.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(user_id, start, end, n_events))"),
        lit(0L))).head()
    // the bounded sink must report the identical (count, fingerprint)
    // WITHOUT ever moving row-sized data to the driver
    val (rows, xorHash) = Streams.runToCompletionBounded(spark, pipeline())
    assert(rows == ref.getLong(0) && rows > 0)
    assert(xorHash == ref.getLong(1),
      "order-independent xor fingerprint must match the memory sink's rows")
  }

  test("transformWithState running totals: monotone per-trigger emissions, final equals batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
    val batch = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("v"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    val streamDir = java.nio.file.Files.createTempDirectory("graft-tws").toString
    events.repartition(4).write.mode("overwrite").parquet(streamDir)
    // RocksDB is required for transformWithState; one file per trigger
    // so users straddle triggers and the state genuinely accumulates
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = Streams.eventsStream(s2, streamDir, maxFilesPerTrigger = 1)
    val pairs = stream
      .select(col("user_id"), round(col("value") * 100).cast("long").as("vc"))
      .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    val emissions = Streams.runToCompletion(s2,
      Streams.runningTotals(pairs).toDF(), "tws_totals", outputMode = "update")
      .as[(Long, Long, Long)](org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect()

    // per-user emission sequence must be strictly increasing in n
    emissions.groupBy(_._1).foreach { case (_, es) =>
      val ns = es.map(_._2).sorted
      assert(ns.distinct.length == ns.length, s"duplicate counter emissions: $es")
    }
    // final (max-n) emission per user equals the batch aggregate
    val finals = emissions.groupBy(_._1)
      .map { case (u, es) => u -> { val m = es.maxBy(_._2); (m._2, m._3) } }
    assert(finals == batch)
    // users straddled triggers: someone must have emitted more than once
    assert(emissions.length > finals.size,
      "expected multi-trigger accumulation, every user emitted once")
  }

  test("streaming windowed HLL: estimates are LIVE and inside the q153 contract") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ndv").toString
    events.repartition(4).write.mode("overwrite").parquet(streamDir)
    val est = Streams.runToCompletion(spark,
      Streams.eventsStream(spark, streamDir, maxFilesPerTrigger = 2)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(approx_count_distinct(col("user_id"), 0.05).as("approx_ndv")),
      "ndv_live", "append")
      .collect().map(r => r.getStruct(0).getTimestamp(0) -> r.getLong(1)).toMap
    // append mode on the finite source must still finalize real windows —
    // q153's empty result must mean "contract held", not "nothing emitted"
    assert(est.size >= 5, s"only ${est.size} windows emitted")
    val exact = events
      .groupBy(date_trunc("DAY", col("ts")).as("d"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    est.foreach { case (w, a) =>
      val e = exact(w)
      assert(math.abs(a - e) <= e * 0.15, s"window $w: approx $a exact $e")
    }
  }

  test("watermark drops events later than the allowed lateness") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)

    val src = MemoryStream[Event]
    val counts = Streams.windowedCounts(
      src.toDF(), windowLen = "10 minutes", lateness = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()

    // batch 1: events at minute 0-9 and minute 40 (advances watermark to 35)
    src.addData(Event(1, ts(1), 1, "c", 1.0), Event(2, ts(8), 1, "c", 1.0),
      Event(3, ts(40), 1, "c", 1.0))
    q.processAllAvailable()
    // batch 2: a late event for the [0,10) window — 30+ min behind the
    // watermark, must be dropped, not resurrect the finalized window
    src.addData(Event(4, ts(2), 1, "c", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("late_test")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000 % 1440, r.getLong(2)))
      .toMap
    // the [0,10) window finalized with 2 events; the late 3rd never counted
    assert(rows.get(0L).contains(2L))
  }

  test("dedupStream removes duplicate (key, ts) rows within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // times sit a day past epoch: Spark's initial watermark is epoch 0
    // and rows at-or-before it are dropped as late
    def ts(min: Int) = new Timestamp(86_400_000L + min * 60_000L)
    val src = MemoryStream[Event]
    val deduped = Streams.dedupStream(src.toDF(), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    src.addData(Event(1, ts(0), 1, "a", 1.0), Event(1, ts(0), 1, "a", 1.0))
    q.processAllAvailable()
    src.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(1), 1, "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_sink").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("stream-stream join pairs events within the time gap, state bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new Timestamp(86_400_000L + min * 60_000L)
    val src = MemoryStream[Event]
    val joined = Streams.streamStreamJoin(src.toDF(), src.toDF(),
      lateness = "10 minutes", maxGap = "15 MINUTES")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    // user 1: events at 0, 10 (within gap), 40 (outside gap of both)
    src.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0),
      Event(3, ts(40), 1, "a", 0), Event(4, ts(41), 2, "a", 0))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ss_join")
      .select("l_event", "r_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // (1,3),(2,3) outside 15min; user 2 alone
  }

  test("checkpoint restart: file sink stays exactly-once across a stop/resume") {
    import org.apache.spark.sql.functions._
    // a production stream survives restarts: the source offset log +
    // file-sink transaction log must combine to exactly-once output.
    // Phase 1 processes half the source, stops; phase 2 resumes from the
    // SAME checkpoint with the rest of the files present; the sink must
    // hold every source row exactly once — no loss, no re-emission.
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-restart-src")
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-restart-sink").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-restart-ckpt").toString

    val half1 = events.where(col("event_id") % 2 === 0)
    val half2 = events.where(col("event_id") % 2 === 1)
    half1.repartition(2).write.mode("overwrite").parquet(srcDir.toString)

    def runOnce(): Unit = {
      val q = Streams.eventsStream(spark, srcDir.toString, maxFilesPerTrigger = 1)
        .select("event_id", "user_id", "event_type")
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    val afterPhase1 = spark.read.parquet(sinkDir).count()
    assert(afterPhase1 == half1.count(), "phase 1 must land the first half")

    // second half arrives while the query is DOWN; resume from checkpoint
    half2.repartition(2).write.mode("append").parquet(srcDir.toString)
    runOnce()

    val sunk = spark.read.parquet(sinkDir)
    assert(sunk.count() == events.count(), "no loss, no duplicates")
    assert(sunk.select("event_id").distinct().count() == events.count(),
      "every event exactly once")
  }

  test("checkpoint restart: watermarked windowed agg emits each finalized window exactly once") {
    import org.apache.spark.sql.functions._
    // The WATERMARK restart contract, completing the trio beside the
    // stateless file-sink and transformWithState ledger restarts: stop a
    // watermarked append-mode aggregation mid-tape (after some windows
    // have finalized and emitted), restart against the SAME checkpoint,
    // and the recovered watermark + window state must (a) never re-emit
    // a finalized window, (b) never lose one, and (c) finalize the
    // straddling windows with counts that include BOTH phases' rows.
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
      .select("ts", "event_type", "value")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-wm-src").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("graft-wm-sink").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-wm-ckpt").toString

    // split by TIME, not parity: phase 2 must be strictly newer than
    // phase 1's watermark, or its rows arrive late and drop. One file
    // (one trigger) per phase so no intra-phase reordering can make a
    // file late against a sibling's watermark advance.
    val cut = new Timestamp(events
      .selectExpr("percentile_cont(0.6) WITHIN GROUP (ORDER BY unix_micros(ts)) AS c")
      .collect()(0).getDouble(0).toLong / 1000L)
    events.where(col("ts") <= lit(cut)).coalesce(1)
      .write.mode("overwrite").parquet(srcDir)

    def runOnce(): Unit = {
      val q = Streams.windowedCounts(
          Streams.eventsStream(spark, srcDir, maxFilesPerTrigger = 1))
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce() // phase 1: old rows, some windows finalize and emit
    val phase1 = spark.read.parquet(sinkDir).count()
    assert(phase1 > 0, "phase 1 must finalize and emit at least one window")
    events.where(col("ts") > lit(cut)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    runOnce() // phase 2: resume from the same checkpoint

    val sunk = spark.read.parquet(sinkDir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
    assert(sunk.length > phase1, "phase 2 must finalize additional windows")
    assert(sunk.length == sunk.map(_._1).distinct.length,
      "a finalized window must never re-emit across the restart")
    // every emitted window matches the batch aggregate over the FULL
    // tape — straddling windows prove recovered state absorbed phase 2
    val batch = events
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    sunk.foreach { case (k, (n, sv)) =>
      val (bn, bsv) = batch(k)
      assert(n == bn, s"window $k count: stream $n vs batch $bn")
      assert(math.abs(sv - bsv) <= 1e-6 * math.max(1.0, math.abs(bsv)),
        s"window $k sum: stream $sv vs batch $bsv")
    }
    // coverage: everything strictly finalized by the final watermark
    // (max ts − 30 min lateness) must be present — the strict < dodges
    // the measured inclusive-equality emission boundary
    val maxTs = events.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val wm = new Timestamp(maxTs.getTime - 30 * 60 * 1000L)
    val emitted = sunk.map(_._1).toSet
    batch.keys.filter { case (w, _) => w.getTime + 60 * 60 * 1000L < wm.getTime }
      .foreach { k =>
        assert(emitted.contains(k), s"window $k finalized before the final watermark but never emitted")
      }
  }

  test("checkpoint restart: transformWithState ledger state survives stop/resume exactly-once") {
    import org.apache.spark.sql.functions._
    // The STATEFUL restart contract (r7 verdict #6): stop a running
    // ledger mid-stream, restart against the SAME checkpoint dir, and
    // the recovered state must continue the totals exactly once — a
    // lost store would undercount straddling users, a replayed batch
    // applied twice would overcount them.
    val dir = "/root/testdata/sf0.001"
    val events = graft.core.Catalog.table(spark, dir, "events")
    val batch = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val srcDir = java.nio.file.Files.createTempDirectory("graft-twsr-src").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-twsr-out").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-twsr-ckpt").toString
    // split by event parity so most users straddle the stop/resume
    val half1 = events.where(col("event_id") % 2 === 0)
    val half2 = events.where(col("event_id") % 2 === 1)
    half1.repartition(2).write.mode("overwrite").parquet(srcDir)

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    def runOnce(): Unit = {
      import s2.implicits._
      val pairs = Streams.eventsStream(s2, srcDir, maxFilesPerTrigger = 1)
        .select(col("user_id"), round(col("value") * 100).cast("long").as("vc"))
        .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      val q = Streams.runningTotals(pairs).toDF()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckptDir)
        .outputMode(OutputMode.Update()).start()
      q.processAllAvailable()
      q.stop()
    }
    runOnce() // phase 1: first half, then the query goes DOWN
    half2.repartition(2).write.mode("append").parquet(srcDir)
    runOnce() // phase 2: resume from the same checkpoint

    // the update-mode ledger emits monotone totals; the final (max-n)
    // emission per user must equal the full batch aggregate — immune to
    // a re-run last batch appending duplicate ROWS (idempotent-by-epoch
    // sinks handle that), but NOT to lost or double-applied STATE
    val finals = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (u, es) => u -> { val m = es.maxBy(_._2); (m._2, m._3) } }
    assert(finals == batch,
      "recovered ledger state must continue totals exactly once across restart")
  }

  test("sessionize: event-time gap rule matches batch sessionization") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a day past epoch: the initial watermark is 0 and rows at-or-before
    // it would be dropped as late now that sessionize watermarks its input
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)

    val src = MemoryStream[Event]
    val sessions = Streams.sessionize(spark, src.toDS(), gapMs = 30 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()

    // user 1: events at 0, 10, 20 (one session), then 60 (new session)
    // user 2: single event at 5, then 200 (new session)
    src.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0))
    q.processAllAvailable()
    src.addData(Event(3, ts(20), 1, "a", 0), Event(4, ts(5), 2, "a", 0))
    q.processAllAvailable()
    src.addData(Event(5, ts(60), 1, "a", 0), Event(6, ts(200), 2, "a", 0))
    q.processAllAvailable()
    q.stop()

    val closed = spark.table("sessions").as[Session].collect()
      .map(s => (s.user_id, (s.start.getTime - day) / 60000,
        (s.end.getTime - day) / 60000, s.n_events))
      .toSet
    // arrival-closed sessions PLUS the timeout path: after the last batch
    // the watermark is 200 - 30(lateness) = 170, past user 1's open
    // session's 60 + 30(gap) = 90 — it emits via timeout. User 2's open
    // session (timeout 200 + 30 = 230) stays in state.
    assert(closed == Set((1L, 0L, 20L, 3L), (2L, 5L, 5L, 1L), (1L, 60L, 60L, 1L)))
  }

  test("warm-start ledger merges duplicate snapshot keys instead of keeping the last") {
    // a snapshot with duplicate keys (union of partial snapshots) fires
    // handleInitialState once per row; update(initial) used to keep only
    // whichever row applied last, nondeterministically dropping history
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val streamDir = java.nio.file.Files.createTempDirectory("graft-warmdup").toString
    Seq((42L, 7L)).toDF("user_id", "c").write.mode("overwrite").parquet(streamDir)
    val live = s2.readStream.schema("user_id LONG, c LONG").parquet(streamDir)
      .as[(Long, Long)]
    val initial = Seq((42L, (10L, 100L)), (42L, (5L, 50L))).toDS()
    val out = graft.streaming.Streams.runningTotalsWarmStart(live, initial)
    val got = graft.streaming.Streams
      .runToCompletion(s2, out.toDF, s"warmdup_${System.nanoTime()}", "update")
      .as[(Long, Long, Long)].collect()
    // seed = merge of BOTH snapshot rows (15, 150) + the one live row
    assert(got.toSet == Set((42L, 16L, 157L)), s"got ${got.toSet}")
  }

  test("sessionize: a null event time participates in no session (native null semantics)") {
    // Degenerate-input pin (round-10 probe): a null ts used to reach
    // micros(e.ts) inside the state function and kill the whole query
    // with an executor NPE. The contract now matches Spark's native
    // event-time operators (window()/session_window() expand null to
    // zero windows): the row silently drops, the rest of the stream
    // sessionizes normally.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)

    val src = MemoryStream[Event]
    val sessions = Streams.sessionize(spark, src.toDS(), gapMs = 30 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_nullts")
      .outputMode(OutputMode.Append()).start()
    src.addData(Event(1, ts(0), 1, "a", 0), Event(2, null, 1, "a", 0),
      Event(3, ts(10), 1, "a", 0))
    q.processAllAvailable()
    src.addData(Event(4, null, 2, "a", 0), Event(5, ts(100), 1, "a", 0))
    q.processAllAvailable()
    q.stop()

    val closed = spark.table("sessions_nullts").as[Session].collect()
      .map(s => (s.user_id, (s.start.getTime - day) / 60000,
        (s.end.getTime - day) / 60000, s.n_events)).toSet
    // user 1's first session closes on the 100-minute arrival with
    // n_events = 2 (the null row counted in NOTHING); user 2 — whose
    // only event had a null ts — never forms a session
    assert(closed == Set((1L, 0L, 10L, 2L)))
  }

  test("eventsStream over an empty directory fails by name, not schema inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-stream").toString
    val e = intercept[IllegalArgumentException] {
      Streams.eventsStream(spark, dir)
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("eventsStream over a missing directory fails with Spark's PATH_NOT_FOUND") {
    val dir = java.nio.file.Files.createTempDirectory("graft-missing-stream").resolve("absent").toString
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Streams.eventsStream(spark, dir)
    }
    assert(e.getCondition == "PATH_NOT_FOUND")
  }

  test("sessionize: out-of-order in-horizon event merges without regressing the interval") {
    // Regression: an event from a LATER batch with ts below the session's
    // lastTs (but above the watermark, so not late-dropped) used to be
    // assigned as the new lastTs, moving the session end BACKWARD and
    // emitting end < start. The merge must take min/max instead.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)
    val src = MemoryStream[Event]
    val sessions = Streams.sessionize(spark, src.toDS(), gapMs = 30 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_ooo")
      .outputMode(OutputMode.Append()).start()
    // batch 1: user 1 at minute 60 — watermark after = 60 - 30 = 30
    src.addData(Event(1, ts(60), 1, "a", 0))
    q.processAllAvailable()
    // batch 2: user 1 at minute 50 — above the watermark (30), below
    // lastTs (60): must extend the session's START down to 50, not drag
    // its END back
    src.addData(Event(2, ts(50), 1, "a", 0))
    q.processAllAvailable()
    // advance the watermark far past 60 + gap so the session times out
    src.addData(Event(3, ts(300), 2, "a", 0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions_ooo").as[Session].collect()
      .map(s => (s.user_id, (s.start.getTime - day) / 60000,
        (s.end.getTime - day) / 60000, s.n_events)).toSet
    assert(got == Set((1L, 50L, 60L, 2L)),
      s"out-of-order merge must yield [50, 60] with 2 events, got $got")
  }

  test("sessionize timeout boundary: equality with the watermark does NOT fire") {
    // load-bearing for q127's oracle (strict <): the corpus's µs-random
    // timestamps essentially never land a timeout EXACTLY on the
    // watermark, so the gate can't pin the boundary — this does.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)
    val src = MemoryStream[Event]
    // gap 30 min, lateness 30 min (default): u1 idle since minute 0 →
    // timeout at day+30 min exactly (ms-aligned input, ceil is exact)
    val sessions = Streams.sessionize(spark, src.toDS(), gapMs = 30 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sess_boundary")
      .outputMode(OutputMode.Append()).start()
    def u1Rows() = spark.table("sess_boundary").as[Session]
      .collect().count(_.user_id == 1L)

    src.addData(Event(1, ts(0), 1, "a", 0))
    q.processAllAvailable()
    src.addData(Event(2, ts(60), 2, "a", 0)) // watermark -> day+30min == u1 timeout
    q.processAllAvailable()
    assert(u1Rows() == 0,
      "timeout equal to the watermark must NOT fire (strict <)")
    src.addData(Event(3, ts(61), 2, "a", 0)) // watermark -> day+31min > timeout
    q.processAllAvailable()
    q.stop()
    assert(u1Rows() == 1, "timeout strictly below the watermark must fire")
  }

  test("native session_window emission boundary vs the watermark") {
    // load-bearing for q135's oracle: pins that an append-mode session
    // emits as soon as the watermark EQUALS its end (last ts + gap) —
    // INCLUSIVE eviction (end <= wm), the opposite boundary from the
    // custom sessionize timeout's strict <. Random-µs corpus data can't
    // land the equality, so the oracle gate alone can't pin this.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)
    val src = MemoryStream[Event]
    // gap 30 min, lateness 30 min: u1's single event at minute 0 forms
    // a session with end = day+30min exactly (ms-aligned input)
    val sessions = Streams.sessionWindowAgg(src.toDF())
    val q = sessions.writeStream.format("memory").queryName("sw_boundary")
      .outputMode(OutputMode.Append()).start()
    def u1Rows() = spark.table("sw_boundary")
      .where(col("user_id") === 1L).count()

    src.addData(Event(1, ts(0), 1, "a", 0))
    q.processAllAvailable()
    src.addData(Event(2, ts(59), 2, "a", 0)) // watermark -> day+29min < end
    q.processAllAvailable()
    val belowEnd = u1Rows()
    src.addData(Event(3, ts(60), 2, "a", 0)) // watermark -> day+30min == end
    q.processAllAvailable()
    q.stop()
    assert(belowEnd == 0,
      "session must NOT emit while the watermark is below its end")
    assert(u1Rows() == 1,
      "session whose end EQUALS the watermark must emit (inclusive <=)")
  }

  test("stream outer join boundary: null emits only strictly past l_ts + maxGap") {
    // load-bearing for q132's oracle: pins the eviction comparison for
    // unmatched-left null emission at the exact ms boundary.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)
    val src = MemoryStream[Event]
    val joined = Streams.streamStreamJoin(src.toDF(), src.toDF(),
      lateness = "10 minutes", maxGap = "15 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("oj_boundary")
      .outputMode(OutputMode.Append()).start()
    def u1Nulls() = spark.table("oj_boundary")
      .where(col("l_user") === 1L && col("r_event").isNull).count()

    src.addData(Event(1, ts(0), 1, "a", 0)) // unmatched left, bound = day+15min
    q.processAllAvailable()
    src.addData(Event(2, ts(25), 2, "a", 0)) // watermark -> day+15min == bound
    q.processAllAvailable()
    val atBoundary = u1Nulls()
    src.addData(Event(3, ts(26), 2, "a", 0)) // watermark -> day+16min > bound
    q.processAllAvailable()
    q.stop()
    assert(atBoundary == 0,
      "null row must NOT emit while the watermark only EQUALS l_ts + maxGap")
    assert(u1Nulls() == 1,
      "null row must emit once the watermark strictly passes l_ts + maxGap")
  }

  test("sessionize timeout: idle user's final session emits and state is evicted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day = 86_400_000L
    def ts(min: Long) = new Timestamp(day + min * 60_000L)

    val src = MemoryStream[Event]
    val sessions = Streams.sessionize(spark, src.toDS(), gapMs = 30 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sessions_evict")
      .outputMode(OutputMode.Append()).start()

    // user 1 goes idle after minute 10 and NEVER sends another event
    src.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0))
    q.processAllAvailable()
    // another user advances the watermark to 100 - 30 = 70, past user 1's
    // 10 + 30 = 40 timeout: the idle session must emit WITHOUT any further
    // user-1 event — the exact case NoTimeout() held open forever
    src.addData(Event(3, ts(100), 2, "a", 0))
    q.processAllAvailable()
    def rows() = spark.table("sessions_evict").as[Session].collect()
      .map(s => (s.user_id, (s.start.getTime - day) / 60000,
        (s.end.getTime - day) / 60000, s.n_events)).toSeq
    assert(rows().count(_ == (1L, 0L, 10L, 2L)) == 1,
      "idle user's session must emit via event-time timeout")

    // a LATER user-1 event must open a fresh session against EMPTY state:
    // if eviction failed, the stale state would close-and-emit
    // (0, 10, 2) a second time here
    src.addData(Event(4, ts(200), 1, "a", 0), Event(5, ts(300), 2, "a", 0))
    q.processAllAvailable()
    q.stop()
    val finalRows = rows()
    assert(finalRows.count(_ == (1L, 0L, 10L, 2L)) == 1,
      "evicted state must not re-emit the timed-out session")
    // user 2's session at 100 closed by the arrival-gap rule at 300
    assert(finalRows.count(_ == (2L, 100L, 100L, 1L)) == 1)
  }

  test("recommendedStatePartitions encodes the measured clean band (SCALE.md r11/r12)") {
    // the q62 100x shape: 20 M input rows x the measured 86 B/row ->
    // 28 partitions, which puts per-store state at ~14.7 MB — inside the
    // 15 MB/store memtable-resident band the write probe measured, and
    // the same class as the hand-validated 32-partition run
    // (12.8 MB/store, zero flush, 80.3 s vs ~400). The API-path re-run
    // at 100x is recorded in SCALE.md §Round-12.
    val n = Streams.recommendedStatePartitions(
      20000000L, Streams.MeasuredJoinStateBytesPerRow)
    assert(n === 28)
    val perStoreBytes = 20000000L * Streams.MeasuredJoinStateBytesPerRow /
      (n.toLong * Streams.JoinStoresPerPartition)
    assert(perStoreBytes <= Streams.CleanStateMbPerStore.toLong * (1L << 20))
    // minimality: one partition fewer would breach the band
    assert(20000000L * Streams.MeasuredJoinStateBytesPerRow >
      (n - 1).toLong * Streams.JoinStoresPerPartition *
        Streams.CleanStateMbPerStore.toLong * (1L << 20))
    // single-store operators (windowed agg, dedup, sessionize) divide by
    // one store per partition
    assert(Streams.recommendedStatePartitions(
      1000000L, 100L, storesPerPartition = 1) === 7)
    // monotone in state volume; tiny states stay at 1 partition
    assert(Streams.recommendedStatePartitions(1L, 1L) === 1)
    assert(Streams.recommendedStatePartitions(0L, 1L) === 1)
    assert(Streams.recommendedStatePartitions(40000000L, 86L) >= n)
    // named validation: a target AT or past the MEASURED flush onset is
    // a lie, not a tune — 51 MB/store is where flushing was OBSERVED, so
    // the bound is exclusive (provisioning onto the knee is refused);
    // degenerate inputs fail rather than under-provision
    val e1 = intercept[IllegalArgumentException](
      Streams.recommendedStatePartitions(1L, 1L,
        targetMbPerStore = Streams.MeasuredFlushMbPerStore))
    assert(e1.getMessage.contains("flush regime") &&
      e1.getMessage.contains("exclusive"))
    // one below the onset is still a legal (if aggressive) target
    assert(Streams.recommendedStatePartitions(1L, 1L,
      targetMbPerStore = Streams.MeasuredFlushMbPerStore - 1) === 1)
    intercept[IllegalArgumentException](
      Streams.recommendedStatePartitions(1L, 0L))
    intercept[IllegalArgumentException](
      Streams.recommendedStatePartitions(1L, 1L, storesPerPartition = 0))
    val e2 = intercept[IllegalArgumentException](
      Streams.recommendedStatePartitions(Long.MaxValue / 2, 3L))
    assert(e2.getMessage.contains("overflows"))
    // provisionStatePartitions actually sets the session's shuffle knob
    // (28 > the local[4] defaultParallelism, so the floor is inactive)
    val s2 = spark.newSession()
    val got = Streams.provisionStatePartitions(
      s2, 20000000L, Streams.MeasuredJoinStateBytesPerRow)
    assert(got === 28 &&
      s2.conf.get("spark.sql.shuffle.partitions") === "28")
    // and the parent session's setting is untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") !== "28")
    // PARALLELISM FLOOR (SCALE.md §Round-12: the API's bare 28 left a
    // 32-core box 4 cores idle — 96.8 vs 80.3 s): the state budget is a
    // floor on partitions, never a ceiling, so provisioning never drops
    // below defaultParallelism even when the state fits in one store
    val s3 = spark.newSession()
    val tiny = Streams.provisionStatePartitions(s3, 10L, 10L)
    assert(Streams.recommendedStatePartitions(10L, 10L) === 1)
    assert(tiny === spark.sparkContext.defaultParallelism &&
      s3.conf.get("spark.sql.shuffle.partitions") === tiny.toString)
  }

  test("per-shape state constants and provisionFor* wiring (SCALE.md r13)") {
    // the write probe measured these EXACTLY flat across 10x/30x/100x
    // one-shot runs (totalBytesWritten / state keys, every key touched
    // once): agg 349200 B / 3600 (window,type) keys, session 13350000 B
    // / 150000 users at 100x, dedup 490000000 B / 10 M event_ids at
    // 100x. A drift here means the state-row encoding changed — re-run
    // `runMain graft.StreamWriteProbe <shape>` and re-measure before
    // touching the constants.
    assert(Streams.MeasuredWindowedAggStateBytesPerKey === 97L)
    assert(Streams.MeasuredSessionStateBytesPerKey === 89L)
    assert(Streams.MeasuredDedupStateBytesPerKey === 49L)
    // the validated failing tier: 10 M dedup keys x 49 B = 490 MB ->
    // 32 partitions (14.6 MB/store, inside the clean band) — the exact
    // provisioning that turned the measured 165 MB-flush 24.9 s run
    // into a zero-flush 8.8 s run through the API path
    assert(Streams.recommendedStatePartitions(
      10000000L, Streams.MeasuredDedupStateBytesPerKey,
      storesPerPartition = 1) === 32)
    val sd = spark.newSession()
    assert(Streams.provisionForDedupWithin(sd, 10000000L) === 32 &&
      sd.conf.get("spark.sql.shuffle.partitions") === "32")
    // sub-core state volumes ride the parallelism floor, not 1 partition
    val sa = spark.newSession()
    assert(Streams.provisionForWindowedAgg(sa, 3600L) ===
      spark.sparkContext.defaultParallelism)
    val ss = spark.newSession()
    assert(Streams.provisionForSessionize(ss, 150000L) ===
      spark.sparkContext.defaultParallelism)
    // per-shape minimality at the measured constants: one partition
    // fewer than the dedup recommendation breaches the 15 MB band
    assert(10000000L * Streams.MeasuredDedupStateBytesPerKey >
      31L * Streams.CleanStateMbPerStore.toLong * (1L << 20))
    // the transformWithState ledger (runningTotals) — the last stateful
    // entry point to get a measured constant: StreamWriteProbe `totals`
    // one-shot, 59 B/key EXACTLY flat at 1 M/3 M/10 M keys
    // (10×/30×/100×). The validated failing tier: 10 M keys × 59 B =
    // 590 MB → 38 partitions (14.8 MB/store); at the unprovisioned 8
    // (73.8 MB/store, past the 51 MB onset) the get path left the
    // memtable (block-cache activity appears) and the 4-trigger
    // incremental shape ran 39.5 s vs 18.7 s provisioned (2.1×).
    assert(Streams.MeasuredRunningTotalsStateBytesPerKey === 59L)
    assert(Streams.recommendedStatePartitions(
      10000000L, Streams.MeasuredRunningTotalsStateBytesPerKey,
      storesPerPartition = 1) === 38)
    val st = spark.newSession()
    assert(Streams.provisionForRunningTotals(st, 10000000L) === 38 &&
      st.conf.get("spark.sql.shuffle.partitions") === "38")
    // minimality: 37 partitions would breach the clean band
    assert(10000000L * Streams.MeasuredRunningTotalsStateBytesPerKey >
      37L * Streams.CleanStateMbPerStore.toLong * (1L << 20))
  }
}
