package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.core.Catalog
import graft.plans.{JoinEdge, JoinOptimizer}
import graft.stats.{PredicateOp, TableStats}
import graft.txn.TxnTable

/** Executes one benchmark plan against the engine through its public
  * entry points and writes a run record (timings, spans, counters,
  * first results) for `run.py` to check and summarise.
  *
  * Usage: perfbench.Main <plan.json>
  *
  * The plan is made by `run.py` from the seed; this program generates
  * nothing itself. Phases: set-up (session, then schema probes and
  * statistics once per data copy — the first copy's pass is the cold
  * one — then the plan's warm-up ops), a closed loop of timed ops until
  * the deadline, then untimed result dumps.
  */
object Main {
  private final case class OpRecord(name: String, kind: String, ms: Double,
      ok: Boolean, rows: Long, ingested: Long, err: String)

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val out = Paths.get(plan.get("out_dir").asText)
    Files.createDirectories(out)
    val traceMode = plan.get("trace").asBoolean
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val listener = if (traceMode) Some(new CounterListener) else None
    val tracer = new Tracer(listener)
    tracer.enabled = traceMode

    // ---------------------------------------------------------------- set-up
    val t0 = System.nanoTime()
    val spark = tracer("core.session") { Catalog.newSession(plan.get("master").asText) }
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val sessionReadyMs = System.currentTimeMillis()
    listener.foreach(spark.sparkContext.addSparkListener(_))
    listener.foreach(_.enabled = true)
    val tables = strings(plan.get("tables"))
    val dirs = strings(plan.get("data_dirs"))
    // One set-up per data copy: each copy is a distinct path, so the
    // catalog's per-path caches make every repetition a cold one.
    val reps = dirs.map { d =>
      val a = System.nanoTime()
      tracer("core.schema") { Catalog.loadAll(spark, d).values.foreach(_.schema) }
      val b = System.nanoTime()
      tracer("core.stats") { Catalog.statsMany(spark, d, tables, withHistograms = true) }
      val c = System.nanoTime()
      ((b - a) / 1e6, (c - b) / 1e6)
    }
    val dir = dirs.last
    val ctx = new Ctx(spark, dir, tracer, Paths.get(plan.get("txn_dir").asText))
    val w0 = System.nanoTime()
    nodes(plan.get("warmup")).foreach(ctx.run)
    val warmupMs = (System.nanoTime() - w0) / 1e6
    val loopCounters0 = listener.map(_.snapshot())
    val listenerNs0 = listener.map(_.busyNs.get).getOrElse(0L)
    val tracerNs0 = tracer.ownNs
    var drainNs = 0L

    // ------------------------------------------------------------- timed loop
    val seconds = plan.get("seconds").asDouble
    val minOps = plan.get("min_ops").asInt
    val roundSize = plan.get("round_size").asInt
    val ops = nodes(plan.get("ops"))
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val loop0 = System.nanoTime()
    val deadline = loop0 + (seconds * 1e9).toLong
    var i = 0
    // stop at the first round boundary past both the deadline and minOps
    while (i < ops.size &&
        (System.nanoTime() < deadline || records.size < minOps || i % roundSize != 0)) {
      val op = ops(i)
      tracer.op = i
      val a = System.nanoTime()
      val res = try Right(ctx.run(op)) catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - a) / 1e6
      listener.foreach { _ =>
        val d = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        drainNs += System.nanoTime() - d
      }
      records += (res match {
        case Right((rows, ingested)) =>
          OpRecord(name(op), kind(op), ms, ok = true, rows, ingested, "")
        case Left(e) =>
          OpRecord(name(op), kind(op), ms, ok = false, 0, 0, s"$e".take(500))
      })
      i += 1
    }
    val measuredS = (System.nanoTime() - loop0) / 1e9
    tracer.enabled = false
    listener.foreach(_.enabled = false)
    // what tracing cost the loop: span bookkeeping and listener handlers
    // (both on the op's critical path or competing with it for a core)
    // and the listener-bus drains between ops
    val traceCostMs = (tracer.ownNs - tracerNs0 + drainNs +
      listener.map(_.busyNs.get - listenerNs0).getOrElse(0L)) / 1e6

    // --------------------------------------------------- untimed result dumps
    // Each dump is a small Spark job of mostly fixed cost; a few at once
    // keep this untimed tail of the run short.
    val resDir = out.resolve("results")
    val dumpPool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val dumped = try {
      ctx.firstResults.toSeq.map { case (n, (rows, schema)) =>
        dumpPool.submit { () =>
          try {
            spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(resDir.resolve(n).toString)
            Right(n)
          } catch { case NonFatal(e) => Left(s"$n: result dump failed: $e") }
        }
      }.map(_.get())
    } finally dumpPool.shutdown()
    dumped.foreach(_.left.foreach(ctx.checks += _))
    val written = dumped.flatMap(_.toOption)
    val oracle = written.flatMap(n => Queries.oracle.get(n).map(n -> _))

    val rec = Json.obj(
      "jvm_start_ms" -> jvmStartMs.toString,
      "session_ready_ms" -> sessionReadyMs.toString,
      "session_ms" -> Json.num(sessionMs),
      "reps" -> Json.arr(reps.map { case (s, t) => Json.arr(Seq(Json.num(s), Json.num(t))) }),
      "warmup_ms" -> Json.num(warmupMs),
      "measured_s" -> Json.num(measuredS),
      "ops" -> Json.arr(records.map(r => Json.obj(
        "name" -> Json.str(r.name), "kind" -> Json.str(r.kind), "ms" -> Json.num(r.ms),
        "ok" -> r.ok.toString, "rows" -> r.rows.toString, "ingested" -> r.ingested.toString,
        "err" -> Json.str(r.err)))),
      "trace_cost_ms" -> Json.num(traceCostMs),
      "checks" -> Json.arr(ctx.checks.map(Json.str)),
      "results" -> Json.arr(written.map(Json.str)),
      "oracle" -> Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }: _*),
      "dp_edges" -> ctx.dpEdges.toString,
      "txn" -> ctx.txnSummary(),
      "counter_names" -> Json.arr(Counters.names.map(Json.str)),
      // the timed loop's share of the listener counters
      "counters" -> Json.arr(listener.zip(loopCounters0).toSeq.flatMap { case (l, c0) =>
        l.snapshot().zip(c0).map { case (a, b) => (a - b).toString } }),
      "spans" -> Json.arr(tracer.spans.map(s => Json.obj(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "op" -> s.op.toString, "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "counters" -> Json.arr(s.counters.map(_.toString))))),
      "peak_rss_kb" -> peakRssKb().toString)
    Files.writeString(out.resolve("run.json"), rec)
    spark.stop()
  }

  private def nodes(n: JsonNode): Vector[JsonNode] = n.elements().asScala.toVector
  private def strings(n: JsonNode): Vector[String] = nodes(n).map(_.asText)
  private def name(op: JsonNode): String = op.get("name").asText
  private def kind(op: JsonNode): String = op.get("kind").asText

  /** VmHWM of this process, in kB. */
  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Per-run state the ops share: the session, the transactional table,
    * first results per query name, and failed checks.
    */
  private final class Ctx(spark: SparkSession, dir: String, trace: Tracer, txnDir: Path) {
    val firstResults = mutable.LinkedHashMap.empty[String,
      (Array[Row], org.apache.spark.sql.types.StructType)]
    val checks = mutable.ArrayBuffer.empty[String]
    var dpEdges = 0L
    private var userBytes = 0L
    private lazy val table = new TxnTable(spark, txnDir.toString)

    /** Runs one op; returns (result rows, user rows ingested). */
    def run(op: JsonNode): (Long, Long) = kind(op) match {
      case "query" =>
        val df = trace("queries.construct") { Queries.all(name(op))(spark, dir) }
        (execute(name(op), df), 0L)
      case "stream" =>
        val df = trace("streaming.run") { Queries.all(name(op))(spark, dir) }
        (execute(name(op), df), op.get("ingested").asLong)
      case "graph" =>
        val df = trace("queries.construct") { graph(op) }
        dp(op)
        (execute(name(op), df), 0L)
      case "txn" => txn(op)
    }

    private def execute(n: String, df: DataFrame): Long = {
      val qe = df.queryExecution
      trace("plans.optimize") { qe.optimizedPlan }
      trace("plans.physical") { qe.executedPlan }
      val rows = trace("exec.execute") { df.collect() }
      if (!firstResults.contains(n)) firstResults(n) = (rows, df.schema)
      rows.length.toLong
    }

    private def col2(alias: String, c: String): Column = col(s"${alias}__$c")

    /** The generated join graph as a DataFrame: every relation's columns
      * prefixed with its alias, range filters on the relation, inner
      * joins in the listed order, then count and integer sums.
      */
    private def graph(op: JsonNode): DataFrame = {
      val rels = nodes(op.get("rels")).map { r =>
        val alias = r.get("alias").asText
        val base = Catalog.table(spark, dir, r.get("table").asText)
        var df = base.select(base.columns.map(c => col(c).as(s"${alias}__$c")).toIndexedSeq: _*)
        nodes(r.get("filters")).foreach { f =>
          df = df.where(col2(alias, f.get("col").asText)
            .between(f.get("lo").asLong, f.get("hi").asLong))
        }
        alias -> df
      }
      val edges = nodes(op.get("edges"))
      var joined = Set(rels.head._1)
      var acc = rels.head._2
      rels.tail.foreach { case (alias, df) =>
        val conds = edges.filter { e =>
          val (l, r) = (e.get("l").asText, e.get("r").asText)
          (l == alias && joined(r)) || (r == alias && joined(l))
        }.map(e => col2(e.get("l").asText, e.get("lc").asText) ===
          col2(e.get("r").asText, e.get("rc").asText))
        acc = acc.join(df, conds.reduce(_ && _), "inner")
        joined += alias
      }
      val aggs = nodes(op.get("aggs")).zipWithIndex.map { case (a, k) =>
        sum(col2(a.get("alias").asText, a.get("col").asText)).as(s"s$k")
      }
      acc.agg(count(lit(1)).as("cnt"), aggs: _*)
    }

    /** A direct Selinger DP call on the graph's edges and table stats. */
    private def dp(op: JsonNode): Unit = {
      val rels = nodes(op.get("rels"))
      val edges = nodes(op.get("edges")).map(e => JoinEdge(e.get("l").asText,
        e.get("r").asText, e.get("lc").asText, e.get("rc").asText, PredicateOp.EQ))
      trace("plans.dp") {
        val tableOf = rels.map(r => r.get("alias").asText -> r.get("table").asText).toMap
        val stats = tableOf.map { case (a, t) => a -> Catalog.stats(spark, dir, t) }
        val sel = rels.flatMap { r =>
          val ts = stats(r.get("alias").asText)
          val fs = nodes(r.get("filters")).map { f =>
            val c = f.get("col").asText
            math.max(1e-6, ts.estimateSelectivity(c, PredicateOp.GE, f.get("lo").asLong) +
              ts.estimateSelectivity(c, PredicateOp.LE, f.get("hi").asLong) - 1.0)
          }
          if (fs.isEmpty) None else Some(r.get("alias").asText -> fs.product)
        }.toMap
        val firstCol = tableOf.map { case (a, t) =>
          a -> Catalog.table(spark, dir, t).columns.head }
        new JoinOptimizer(edges).orderJoins(stats, sel, (a, c) => firstCol(a) == c)
      }
      dpEdges += edges.size
    }

    /** Insert a seeded batch, commit or abort it, on a maintenance txn
      * checkpoint and compact, on the crash txn crash and recover, read the
      * table back, and on a maintenance txn rebuild its statistics. The
      * read-back must equal the plan's ledger.
      */
    private def txn(op: JsonNode): (Long, Long) = {
      val id0 = op.get("id0").asLong
      val n = op.get("n").asInt
      val salt = op.get("salt").asLong
      val rows = (0 until n).map { j =>
        val id = id0 + j
        Row(id, (id * 31 + salt) % 97, (id * 7919 + salt) % 100003)
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, k BIGINT, v BIGINT")
      val tx = trace("txn.insert") {
        val t = table.txns.startTxn()
        table.insert(t, spark.createDataFrame(rows.asJava, schema))
        t
      }
      userBytes += n * 24L
      trace("txn.commit") {
        if (op.get("commit").asBoolean) table.txns.commitTxn(tx) else table.txns.abortTxn(tx)
      }
      val maintain = op.get("maintain").asBoolean
      if (maintain) trace("txn.checkpoint") { table.checkpoint() }
      if (maintain) trace("txn.compact") { table.compact() }
      if (op.get("crash").asBoolean) trace("txn.recover") { table.crash(); table.recover() }
      val back = trace("txn.read") {
        val df = table.read()
        if (df.columns.isEmpty) Array.empty[Row] else df.select("id", "k", "v").collect()
      }
      if (maintain) trace("stats.build") {
        val df = table.read()
        if (df.columns.nonEmpty) TableStats.build(df)
      }
      val got = Seq(back.length.toLong, back.map(_.getLong(0)).sum,
        back.map(_.getLong(1)).sum, back.map(_.getLong(2)).sum)
      val want = nodes(op.get("expect")).map(_.asLong)
      if (got != want)
        checks += s"${name(op)}: read-back (count, sum id, sum k, sum v) = $got, ledger $want"
      (back.length.toLong, n.toLong)
    }

    def txnSummary(): String = {
      val exists = Files.exists(txnDir)
      val disk = if (!exists) 0L else scala.util.Using.resource(Files.walk(txnDir)) { w =>
        w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      }
      Json.obj(
        "log_records" -> (if (exists) table.log.durableRecords().size else 0).toString,
        "disk_bytes" -> disk.toString,
        "user_bytes" -> userBytes.toString)
    }
  }
}
