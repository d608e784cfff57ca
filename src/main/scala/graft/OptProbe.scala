package graft

/** Dev measurement probes for the optimization rounds (r16) — the
  * evidence generators behind OPTIMIZATION_r16.md:
  *  - "read  <sfDir>": times repeated spark.read.parquet DataFrame
  *    construction with and without a supplied schema (the §1 schema
  *    cache's 77-vs-8 ms measurement).
  *  - "joins <sfDir>": counts join-node kinds in every batch query's
  *    pre-AQE physical plan under the engine session (extensions +
  *    statistics) — the SortMergeJoin census.
  *  - "stages <sfDir> <query> [repeats]": per-stage wall/tasks/bytes
  *    breakdown via a SparkListener, construction vs count timed
  *    separately (the §4 single-task-stage evidence).
  *  - "dump <sfDir> <tag> <q1,q2,...>": explain("formatted") per query
  *    to plans/r16/<q>_<tag>.txt, stats-loaded engine session.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("read")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // The engine session, so probe traces measure the same plans the
    // bench runs. SPARK_GRAFT_PROBE_MINPS overrides the coalescing floor
    // for A/B'ing its effect (r17 q232 adjudication).
    val spark = graft.core.Catalog.newSession()
    sys.env.get("SPARK_GRAFT_PROBE_MINPS").foreach(minPS => spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", minPS))
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "read" =>
        // warm the listing caches once
        val warm = spark.read.parquet(s"$sfDir/lineitem.parquet")
        warm.count()
        val schema = warm.schema
        def timeN(n: Int)(f: => Unit): Double = {
          val t0 = System.nanoTime(); (1 to n).foreach(_ => f)
          (System.nanoTime() - t0) / 1e9 / n
        }
        val tInfer = timeN(50)(spark.read.parquet(s"$sfDir/lineitem.parquet"))
        val tSchema = timeN(50)(
          spark.read.schema(schema).parquet(s"$sfDir/lineitem.parquet"))
        // also time the count() on a pre-built df (execution floor)
        val df = spark.read.schema(schema).parquet(s"$sfDir/lineitem.parquet")
        val tCount = timeN(10)(df.count())
        println(f"PROBE read: infer=${tInfer * 1000}%.1f ms/call  " +
          f"withSchema=${tSchema * 1000}%.1f ms/call  count=${tCount * 1000}%.1f ms")
        // how many reads does a typical pass do? count table() calls
        // indirectly: 237 queries x ~2 tables x 2 passes
      case "joins" =>
        graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
        Queries.stageStreamSource(spark, sfDir)
        Queries.stageDppLayout(spark, sfDir)
        val streaming = SparkEntry.streamingQueries
        val names = SparkEntry.queries.keys.toSeq.sorted
          .filterNot(streaming)
        names.foreach { n =>
          try {
            val df = SparkEntry.queries(n)(spark, sfDir)
            val plan = df.queryExecution.executedPlan.toString
            def c(s: String) = s.r.findAllIn(plan).length
            val smj = c("SortMergeJoin")
            val shj = c("ShuffledHashJoin")
            val bhj = c("BroadcastHashJoin")
            val bnl = c("BroadcastNestedLoopJoin")
            if (smj + shj > 0)
              println(s"JOINS $n smj=$smj shj=$shj bhj=$bhj bnl=$bnl")
          } catch {
            case e: Throwable => println(s"JOINS $n failed: ${e.getClass.getSimpleName}")
          }
        }
      case "stages" =>
        // stages <sfDir> <queryName> [repeats] — per-stage wall breakdown
        val qn = args(2)
        val repeats = if (args.length > 3) args(3).toInt else 2
        graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val dur = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
              val m = si.taskMetrics
              println(f"STAGE ${si.stageId}%4d ${dur}%6d ms tasks=${si.numTasks}%3d " +
                f"in=${m.inputMetrics.bytesRead / 1024 / 1024}%4d MB " +
                f"sr=${m.shuffleReadMetrics.totalBytesRead / 1024 / 1024}%4d MB " +
                f"sw=${m.shuffleWriteMetrics.bytesWritten / 1024 / 1024}%4d MB " +
                s"${si.name.takeWhile(_ != '\n').take(70)}")
            }
          })
        (1 to repeats).foreach { i =>
          println(s"=== RUN $i construction ===")
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(qn)(spark, sfDir)
          val t1 = System.nanoTime()
          println(f"=== RUN $i construction took ${(t1 - t0) / 1e9}%.2f s; count ===")
          df.count()
          println(f"=== RUN $i count took ${(System.nanoTime() - t1) / 1e9}%.2f s ===")
        }
      case "gcloop" =>
        // gcloop <sfDir> <queryName> [repeats] — loop one query with a
        // GC/stage listener (r17: adjudicate q232's 32-core slow mode).
        // Per run: wall, driver-JVM GC delta (local mode: tasks run in
        // this JVM, so this IS task+driver GC), heap after run, summed
        // stage spill, and the top stages by duration with their
        // task-metric GC share. minPartitionSize via SPARK_GRAFT_PROBE_MINPS.
        val qn = args(2)
        val repeats = if (args.length > 3) args(3).toInt else 10
        // SPARK_GRAFT_PROBE_BALLAST_MB: hold N MB of LIVE heap for the
        // loop's duration — simulates the old-gen occupancy of a full
        // bench pass (accumulated session state) without running one,
        // to test the "slow mode = GC pressure in a full heap" theory.
        val ballastMb = sys.env.get("SPARK_GRAFT_PROBE_BALLAST_MB")
          .map(_.toInt).getOrElse(0)
        val ballast: Array[Array[Long]] =
          if (ballastMb > 0) Array.fill(ballastMb)(new Array[Long](131072))
          else Array.empty
        if (ballastMb > 0)
          println(s"GCLOOP ballast=${ballastMb} MB live (${ballast.length} chunks)")
        graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
        case class St(id: Int, ms: Long, tasks: Int, gcMs: Long,
          memSpill: Long, diskSpill: Long, peakMem: Long,
          in: Long, sr: Long, sw: Long, name: String)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val m = si.taskMetrics
              stages.add(St(si.stageId,
                si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
                si.numTasks, m.jvmGCTime, m.memoryBytesSpilled,
                m.diskBytesSpilled, m.peakExecutionMemory,
                m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
                m.shuffleWriteMetrics.bytesWritten,
                si.name.takeWhile(_ != '\n').take(60)))
            }
          })
        import scala.jdk.CollectionConverters._
        def gcTotalMs: Long = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        def heapUsedMb: Long = {
          val mu = java.lang.management.ManagementFactory
            .getMemoryMXBean.getHeapMemoryUsage
          mu.getUsed / 1024 / 1024
        }
        // warm once (codegen, schema caches) like the bench warmup does
        SparkEntry.queries(qn)(spark, sfDir).count()
        (1 to repeats).foreach { i =>
          stages.clear()
          val gc0 = gcTotalMs
          val t0 = System.nanoTime()
          SparkEntry.queries(qn)(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          val gcD = gcTotalMs - gc0
          val ss = stages.asScala.toVector
          val spill = ss.map(s => s.memSpill + s.diskSpill).sum
          // live set = heap used after a forced full GC: shows what the
          // session RETAINS per executed query (status stores, caches)
          System.gc()
          println(f"GCLOOP run=$i%2d wall=$wall%6.2f s gc=${gcD}%5d ms " +
            f"liveSet=${heapUsedMb}%5d MB spill=${spill / 1024 / 1024}%4d MB " +
            f"stages=${ss.size}%3d")
          ss.sortBy(-_.ms).take(6).foreach { s =>
            println(f"  STAGE ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%3d " +
              f"gc=${s.gcMs}%5d ms peak=${s.peakMem / 1024 / 1024}%4d MB " +
              f"in=${s.in / 1024 / 1024}%3d MB sr=${s.sr / 1024}%6d KB " +
              f"sw=${s.sw / 1024}%6d KB ${s.name}")
          }
        }
        // keep the ballast provably live past the loop
        if (ballastMb > 0)
          println(s"GCLOOP ballast retained: ${ballast.map(_.length.toLong).sum} longs")
      case "floor" =>
        // floor <sfDir> <q1,q2,...> [repeats] — decompose the per-query
        // fixed cost (r16 "not yet optimized" item / r17 verdict #6):
        // construction (DataFrame build incl. catalog reads), analysis,
        // optimization, physical planning, and execution (count), timed
        // separately per run. Steady-state rows (post-warmup) isolate
        // the floor from codegen/JIT warmup.
        val names = args(2).split(",").toSeq
        val repeats = if (args.length > 3) args(3).toInt else 6
        graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
        names.foreach { n =>
          (1 to repeats).foreach { i =>
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(n)(spark, sfDir)
            val t1 = System.nanoTime()
            val qe = df.queryExecution
            qe.analyzed
            val t2 = System.nanoTime()
            qe.optimizedPlan
            val t3 = System.nanoTime()
            qe.executedPlan
            val t4 = System.nanoTime()
            df.count()
            val t5 = System.nanoTime()
            def ms(a: Long, b: Long) = (b - a) / 1e6
            println(f"FLOOR $n%-28s run=$i%2d construct=${ms(t0, t1)}%7.1f " +
              f"analyze=${ms(t1, t2)}%6.1f optimize=${ms(t2, t3)}%7.1f " +
              f"plan=${ms(t3, t4)}%6.1f exec=${ms(t4, t5)}%7.1f " +
              f"total=${ms(t0, t5)}%7.1f ms")
          }
        }
      case "dump" =>
        // dump <sfDir> <tag> <q1,q2,...> → plans/r17/<q>_<tag>.txt
        val tag = args(2)
        val names = args(3).split(",").toSeq
        graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
        new java.io.File("plans/r17").mkdirs()
        names.foreach { n =>
          try {
            val df = SparkEntry.queries(n)(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"plans/r17/${n}_$tag.txt"),
              txt.getBytes("UTF-8"))
            println(s"DUMPED $n")
          } catch {
            case e: Throwable => println(s"DUMP $n failed: $e")
          }
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
