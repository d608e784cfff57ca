package graft

/** Dev tool: time selected queries N times each (first run shows cold
  * cost, repeats show steady-state) so bench hot spots can be separated
  * into fixed overhead vs real work.
  * Usage: runMain graft.Profile <sfDir> <repeats> [queryName ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val repeats = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Catalog.newSession()
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val times = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable => println(s"$n failed: $e") }
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROFILE $n%-22s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
