package graft.stats

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-table statistics: row count, per-column min/max and equi-width
  * histograms, plus the reference's cost/cardinality estimators
  * (`/root/reference/src/optimizer/table_stats.cc:156-268`).
  *
  * Unlike the reference (two full single-threaded scans per table), the
  * build is two distributed Spark aggregation jobs over the DataFrame —
  * pass 1: one `agg` computing count + min/max of every integral column;
  * pass 2: one `agg` filling every histogram ([[HistogramAgg]]) and an HLL
  * ndv sketch per atomic column. Both passes are aggregation-only —
  * nothing row-sized ever reaches the driver, so the build scales to
  * arbitrarily large tables. Every build makes both passes.
  */
final class TableStats private (
    val numTuples: Long,
    val ioCostPerPage: Double,
    val numPages: Long,
    val columns: IndexedSeq[String],
    hists: Map[String, IntHistogram],
    ranges: Map[String, (Long, Long)],
    ndvs: Map[String, Long])
    extends Serializable {

  /** `2 * io_cost * num_pages` — reference `table_stats.cc:228-231`
    * (the factor 2 is the reference's, kept consistently since join costs
    * build on scan costs).
    */
  def estimateScanCost(): Double = 2.0 * ioCostPerPage * numPages

  /** `floor(selectivity * num_tups)` — reference `table_stats.cc:243-246`. */
  def estimateTableCardinality(selectivity: Double): Long =
    (selectivity * numTuples).toLong

  def histogram(col: String): IntHistogram = hists(col)

  /** Whether a histogram was built for `col`: integral or timestamp, not
    * all null, and not excluded by the build's column filter.
    */
  def hasHistogram(col: String): Boolean = hists.contains(col)

  /** Distinct-count estimate for `col`: the HLL sketch value the build's
    * pass 2 measured (any atomic type, string join keys included). Stats
    * made by [[TableStats.fromHistograms]] carry no sketch and fall back
    * to the integer domain width. Always capped by the row count.
    */
  def estimateNdv(col: String): Option[Long] = {
    val measured = ndvs.get(col)
    // hi - lo + 1 overflows Long for hash/id-width ranges; a
    // wrapped-negative width would clamp to ndv=1 and price EQ joins as
    // cross products — saturate to numTuples instead.
    val domain = ranges.get(col).map { case (lo, hi) =>
      val width = hi - lo
      if (width < 0L || width + 1L <= 0L) numTuples else width + 1L
    }
    measured.orElse(domain).map(n => math.max(1L, math.min(n, numTuples)))
  }

  /** Serialization views for the persisted stats catalog
    * ([[StatsRegistry.save]]) — package-private: the raw parts are an
    * implementation detail everywhere else.
    */
  private[stats] def histsMap: Map[String, IntHistogram] = hists
  private[stats] def rangesMap: Map[String, (Long, Long)] = ranges
  private[stats] def ndvsMap: Map[String, Long] = ndvs

  def estimateSelectivity(col: String, op: PredicateOp, v: Long): Double =
    hists(col).estimateSelectivity(op, v)

  /** By-index variant mirroring the reference signature. */
  def estimateSelectivity(field: Int, op: PredicateOp, v: Long): Double =
    estimateSelectivity(columns(field), op, v)
}

object TableStats {
  val NumHistBins = 100 // reference NUM_HIST_BINS, table_stats.h:53
  val PageSizeBytes = 8196L // reference BUFFER_PAGE_SIZE, macros.h:19

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Timestamps histogram as epoch MICROSECONDS — the same unit Catalyst
    * stores timestamp literals in, so
    * [[graft.plans.SelingerJoinReorder]]'s literal extraction feeds
    * date-range predicates straight into these histograms.
    */
  private def isTimestamp(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType => true
    case _ => false
  }

  // NTZ timestamps cast through TimestampType (sessions run UTC, so the
  // micros match the NTZ literal micros Catalyst compares against)
  private def histExpr(name: String, dt: DataType) =
    if (isTimestamp(dt)) unix_micros(col(name).cast(TimestampType))
    else col(name).cast(LongType)

  /** Distributed two-pass build over the integral columns of `df`.
    *
    * @param numPagesOverride page count for the scan-cost model; when
    *        absent it is derived from the relation's size-in-bytes at the
    *        reference's 8196-byte page size.
    * @param columns restrict histogram building to these columns — at
    *        100 TB every extra column is an extra per-partition buffer in
    *        both passes, so callers that read one histogram shouldn't pay
    *        for ten. None = all integral + timestamp columns.
    */
  def build(
      df: DataFrame,
      ioCostPerPage: Double = 100.0,
      numPagesOverride: Option[Long] = None,
      columns: Option[Seq[String]] = None): TableStats = {

    val histCols: IndexedSeq[(String, DataType)] =
      df.schema.fields
        .filter(f => isIntegral(f.dataType) || isTimestamp(f.dataType))
        .map(f => (f.name, f.dataType))
        .filter { case (n, _) => columns.forall(_.contains(n)) }.toIndexedSeq
    val intCols = histCols.map(_._1)
    val exprOf: Map[String, org.apache.spark.sql.Column] =
      histCols.map { case (n, dt) => n -> histExpr(n, dt) }.toMap

    // ndv via HLL sketch for every atomic column (strings included —
    // join keys are often strings); arrays/structs are skipped (hashing
    // a wide embedding per row for a distinct count nobody consults is
    // pure waste).
    def atomic(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    val ndvCols: IndexedSeq[String] =
      df.schema.fields.collect { case f if atomic(f.dataType) => f.name }.toIndexedSeq

    // Pass 1: count + min/max for every histogrammed column in ONE job.
    val aggExprs = Seq(count(lit(1)).as("__n")) ++ intCols.flatMap { c =>
      Seq(min(exprOf(c)).as(s"__min_$c"), max(exprOf(c)).as(s"__max_$c"))
    }
    val row: Row = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val n = row.getLong(row.fieldIndex("__n"))

    val ranges: IndexedSeq[(String, Long, Long)] = intCols.flatMap { c =>
      val mi = row.fieldIndex(s"__min_$c")
      val ma = row.fieldIndex(s"__max_$c")
      if (row.isNullAt(mi) || row.isNullAt(ma)) None
      else Some((c, row.getLong(mi), row.getLong(ma)))
    }

    val hists: Map[String, IntHistogram] = ranges.map { case (c, lo, hi) =>
      c -> new IntHistogram(NumHistBins, lo, hi)
    }.toMap

    // Pass 2: all histograms in ONE job via the typed HistogramAgg
    // aggregator — each column contributes one Array[Long] buffer, merged
    // tree-wise; no row ever re-keys through a shuffle (the explode +
    // groupBy(col, bucket) alternative shuffles numCols x rows) — plus
    // the HLL ndv sketches in the SAME job.
    var ndvs: Map[String, Long] = Map.empty
    if ((ranges.nonEmpty || ndvCols.nonEmpty) && n > 0) {
      val aggCols = ranges.map { case (c, lo, hi) =>
        HistogramAgg.column(exprOf(c), lo, hi, NumHistBins).as(s"__h_$c")
      } ++ ndvCols.map(c => approx_count_distinct(col(c)).as(s"__ndv_$c"))
      val hrow = df.agg(aggCols.head, aggCols.tail: _*).head()
      ranges.zipWithIndex.foreach { case ((c, _, _), i) =>
        val counts = hrow.getSeq[Long](i)
        var b = 0
        while (b < counts.length) {
          if (counts(b) > 0) hists(c).addBucketCount(b, counts(b))
          b += 1
        }
      }
      ndvs = ndvCols.flatMap { c =>
        val i = hrow.fieldIndex(s"__ndv_$c")
        if (hrow.isNullAt(i)) None else Some(c -> hrow.getLong(i))
      }.toMap
    }

    val pages = numPagesOverride.getOrElse {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      math.max(1L, ((bytes + PageSizeBytes - 1) / PageSizeBytes).toLong)
    }

    new TableStats(n, ioCostPerPage, pages, intCols, hists,
      ranges.map { case (c, lo, hi) => c -> (lo, hi) }.toMap, ndvs)
  }

  /** Build stats for several tables with their Spark jobs submitted
    * concurrently — each build is 1-2 independent jobs, and on an
    * otherwise-idle scheduler (driver-side planning time) running them
    * sequentially leaves the cluster idle between jobs. Thread-safe:
    * Spark job submission is designed for multi-threaded drivers.
    */
  def buildMany(tables: Map[String, DataFrame]): Map[String, TableStats] = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // blocking{}: each build awaits Spark jobs, so without it a large
    // table map would pin every global fork-join worker for the whole
    // Await and starve unrelated users of the shared pool.
    val futures = tables.map { case (n, df) =>
      Future(blocking { n -> build(df) })
    }
    Await.result(Future.sequence(futures), Duration.Inf).toMap
  }

  /** Reconstruction from persisted parts ([[StatsRegistry.load]]) —
    * package-private: only the persistence path may bypass the
    * distributed build.
    */
  private[stats] def fromParts(
      numTuples: Long,
      ioCostPerPage: Double,
      numPages: Long,
      columns: IndexedSeq[String],
      hists: Map[String, IntHistogram],
      ranges: Map[String, (Long, Long)],
      ndvs: Map[String, Long]): TableStats =
    new TableStats(numTuples, ioCostPerPage, numPages, columns, hists,
      ranges, ndvs)

  /** Test/bench constructor from pre-built histograms (no Spark). */
  def fromHistograms(
      numTuples: Long,
      ioCostPerPage: Double,
      numPages: Long,
      hists: IndexedSeq[(String, IntHistogram)]): TableStats =
    new TableStats(numTuples, ioCostPerPage, numPages,
      hists.map(_._1), hists.toMap,
      hists.map { case (c, h) => c -> (h.minV, h.maxV) }.toMap, Map.empty)
}
