package graft

/** Measurement harness for the q62 stream-stream-join floor experiment
  * (SCALE.md §Streaming): the bench runs the join as a FINITE one-shot
  * query, so its ~0.65 s of fixed lifecycle cost (0.35 s per-trigger
  * incremental re-plan + ~0.3 s query start/stop) is charged to a
  * single trigger. A production stream is long-lived — this probe
  * re-runs the identical join pipeline over the same event volume cut
  * into `nFiles` tape segments consumed ONE FILE PER TRIGGER, and
  * reports the steady-state per-trigger median, i.e. what one trigger
  * costs once start/stop amortizes away and each trigger carries
  * 1/nFiles of the rows. Usage:
  *
  *   sbt -batch "runMain graft.StreamFloorProbe /root/testdata/sf0.1 16"
  *
  * Not part of the query surface — a numbers generator for SCALE.md,
  * like ScaleProbe / RecallProbe.
  */
object StreamFloorProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = graft.core.Catalog.newSession()
    // the q62 streaming session
    val s = Queries.streamSession(spark)

    // tape: the same event volume as q62, cut into nFiles segments so
    // the run holds nFiles triggers instead of one
    val tape = graft.core.Scratch.scratch("floorprobe")
    graft.core.Catalog.table(s, sfDir, "events")
      .repartition(nFiles).write.mode("overwrite").parquet(tape)

    val src = graft.streaming.Streams.eventsStream(s, tape, maxFilesPerTrigger = 1)
    val joined = graft.streaming.Streams.streamStreamJoin(src, src)

    val t0 = System.nanoTime()
    val q = joined.writeStream.format("memory").queryName("floor_probe")
      .outputMode("append").start()
    q.processAllAvailable()
    val totalSec = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    q.stop()

    val trig = progress
      .filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)))
      .sortBy(_._1)
    trig.foreach { case (b, rows, ms) =>
      println(f"batch=$b%3d rows=$rows%7d triggerMs=$ms%6d")
    }
    // steady state = everything past the first trigger (which pays
    // codegen + state-store open on top of its share of rows)
    val steady = trig.drop(1).map(_._3).sorted
    val median =
      if (steady.isEmpty) -1L
      else if (steady.length % 2 == 1) steady(steady.length / 2)
      else (steady(steady.length / 2 - 1) + steady(steady.length / 2)) / 2
    val rowsTotal = trig.map(_._2).sum
    println(f"total=$totalSec%.2fs triggers=${trig.length} rows=$rowsTotal " +
      f"steady_median_ms=$median first_ms=${trig.headOption.map(_._3).getOrElse(-1L)}")
    spark.stop()
  }
}
