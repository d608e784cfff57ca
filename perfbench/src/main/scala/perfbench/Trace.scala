package perfbench

import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener counters, indexed by [[Counters.names]]. */
object Counters {
  val names: Vector[String] = Vector(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_ms",
    "exec.empty_tasks", "exec.task_run_ms", "exec.gc_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks",
    "streaming.triggers", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.planning_ms", "streaming.state_rows", "streaming.state_commit_ms",
    "streaming.state_mem_bytes", "streaming.input_rows")
  private val ix = names.zipWithIndex.toMap
  def apply(name: String): Int = ix(name)
}

/** Spark and streaming listener that sums task, stage, job and trigger
  * metrics while `enabled`. Streaming progress arrives on the shared
  * listener bus as an "other" event, so queries on derived sessions
  * (the engine's streaming queries run on `newSession()`) are seen too.
  * `busyNs` is the time spent in its own handlers.
  */
final class CounterListener extends SparkListener {
  @volatile var enabled = false
  val values = new AtomicLongArray(Counters.names.size)
  val busyNs = new AtomicLong
  private def add(name: String, v: Long): Unit = values.addAndGet(Counters(name), v)
  private def timed(body: => Unit): Unit = if (enabled) {
    val t = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t)
  }

  def snapshot(): Array[Long] = Array.tabulate(values.length)(values.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(add("exec.jobs", 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(add("exec.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    add("exec.tasks", 1)
    if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val wait = e.taskInfo.duration - m.executorRunTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
         else 0L)
      add("exec.task_wait_ms", math.max(0L, wait))
      add("exec.task_run_ms", m.executorRunTime)
      add("exec.gc_ms", m.jvmGCTime)
      val sr = m.shuffleReadMetrics
      add("exec.shuffle_read_bytes", sr.remoteBytesRead + sr.localBytesRead)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("exec.spill_bytes", m.diskBytesSpilled)
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) add("exec.empty_tasks", 1)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => timed {
      val pr = p.progress
      def dur(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("streaming.triggers", 1)
      add("streaming.trigger_ms", dur("triggerExecution"))
      add("streaming.add_batch_ms", dur("addBatch"))
      add("streaming.wal_commit_ms", dur("walCommit"))
      add("streaming.commit_offsets_ms", dur("commitOffsets"))
      add("streaming.planning_ms", dur("queryPlanning"))
      add("streaming.input_rows", pr.numInputRows)
      pr.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsUpdated)
        add("streaming.state_commit_ms", s.commitTimeMs)
        values.accumulateAndGet(Counters("streaming.state_mem_bytes"),
          s.memoryUsedBytes, (a, b) => math.max(a, b))
      }
    }
    case _ => ()
  }
}

/** One timed call into a layer. Counter deltas cover the span's
  * wall-clock interval as the listener had seen it at the boundaries.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long, counters: Array[Long])

/** Records spans while `enabled`; otherwise each call is a plain call.
  * `ownNs` is the time spent on its own bookkeeping.
  */
final class Tracer(listener: Option[CounterListener]) {
  @volatile var enabled = false
  var op: Int = -1
  var ownNs = 0L
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private def counters(): Array[Long] =
    listener.map(_.snapshot()).getOrElse(Array.emptyLongArray)

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counters()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = counters()
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1,
          c1.indices.map(i => c1(i) - c0(i)).toArray)
        ownNs += (t0 - b0) + (System.nanoTime() - t1)
      }
    }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
