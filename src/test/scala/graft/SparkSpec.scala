package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession across all ScalaTest suites (starting a
  * session per suite would dominate test wall-time). Never stopped —
  * torn down with the forked test JVM.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A second session (same SparkContext) with GraftExtensions installed,
    * for specs covering the injected optimizer rule.
    */
  lazy val sparkWithExtensions: SparkSession = {
    val base = spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // NOTE spark.sql.extensions is a static conf read at SparkContext
    // creation; with the context already up (shared across suites) the
    // programmatic withExtensions hook is the way in.
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  /** Runs `body` and counts the Spark jobs it started from this thread
    * (tagged by a job group, so jobs of other threads do not count). The
    * listener bus is drained before and after, so every job start posted
    * by `body` has been seen.
    */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val a = body
      TestListenerBus.drain(sc)
      (a, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Every message down a throwable's cause chain — the named-error
    * assertion helper for fail-fast operator guards (Spark wraps the
    * raise_error message several causes deep). One definition; was
    * copy-pasted across three suites before.
    */
  def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      String.valueOf(x.getMessage) +: messages(x.getCause))
}
