package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Measures per-query recall@k of the approximate IVF path (nprobe <
  * nlist) against the exact brute-force baseline — the evidence behind
  * q122_ann_recall's floor — and sweeps nprobe across the full
  * recall/cost curve (SCALE.md §ANN recall). For each operating point
  * it reports recall min/mean, the MEASURED scanned-candidate fraction
  * (corpus rows in probed cells ÷ nq×N — the real cost driver, which
  * tracks ~nprobe/nlist only as far as the cells are balanced), and
  * wall time. Run per sf dir:
  *
  *   sbt -batch "runMain graft.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Catalog.newSession("local[8]")
    val k = 10
    val nlist = 16
    val e = graft.core.Catalog.table(spark, dir, "embeddings")
    val q = e.where(col("vec_id") < 16)
    val nq = q.count()
    val n = e.count()
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "vec_id", "embedding", k)
      .cache()
    val exactN = exact.groupBy("query_id").agg(count(lit(1)).as("n"))

    // the trained index is shared across the sweep (nprobe is query-time)
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__cv"))
    val cents = Similarity.kmeansCentroids(c, nlist, iters = 2)
    val cellSizes = Similarity.assignNearest(c, "__cv", cents, "cell_id")
      .groupBy("cell_id").agg(count(lit(1)).as("cn"))

    println(f"[recall] $dir nq=$nq N=$n nlist=$nlist k=$k")
    for (nprobe <- Seq(1, 2, 4, 8, 16)) {
      val t0 = System.nanoTime()
      val approx = Similarity.ivfTopK(q, e, "vec_id", "vec_id", "embedding", k,
        nlist = nlist, nprobe = nprobe, trainIters = 2)
      val hits = exact
        .join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val rows = exactN
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)).cast("double") / col("n")).as("recall"))
        .collect()
      val secs = (System.nanoTime() - t0) / 1e9
      // measured candidates: corpus rows inside each query's probed cells
      val cand = Similarity
        .probeAssignments(q, "vec_id", "embedding", cents, nprobe)
        .join(cellSizes, Seq("cell_id"))
        .agg(sum(col("cn"))).collect()(0).getLong(0)
      val rs = rows.map(_.getDouble(1))
      val frac = cand.toDouble / (nq * n)
      println(f"[recall] $dir nprobe=$nprobe%2d min=${rs.min}%.2f " +
        f"mean=${rs.sum / rs.length}%.2f scanned=$frac%.3f " +
        f"(cand=$cand) sec=$secs%.1f")
    }
    spark.stop()
  }
}
