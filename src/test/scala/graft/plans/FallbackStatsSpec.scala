package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Statistics}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The Selinger rule's stats for a relation with no registered entry. */
class FallbackStatsSpec extends AnyFunSuite {
  private val huge = BigInt(2).pow(100)

  /** A leaf whose Spark size estimate is `bytes`, as over a flattened join. */
  private case class SizedLeaf(bytes: BigInt, rowCount: Option[BigInt]) extends LeafNode {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("k", LongType)(), AttributeReference("v", LongType)())
    override def computeStats(): Statistics = Statistics(bytes, rowCount)
  }

  test("a size estimate or CBO row count past Long.MaxValue saturates instead of wrapping") {
    Seq(None, Some(huge)).foreach { rowCount =>
      val ts = SelingerJoinReorder.fallbackStats(SizedLeaf(huge, rowCount))
      assert(ts.numTuples > 0L, s"rows ${ts.numTuples} for rowCount $rowCount")
      assert(ts.numPages > 0L, s"pages ${ts.numPages} for rowCount $rowCount")
      assert(ts.numTuples == Long.MaxValue && ts.numPages == Long.MaxValue)
    }
  }

  test("in-range estimates: pages round up, rows are bytes over the row width") {
    val ts = SelingerJoinReorder.fallbackStats(SizedLeaf(BigInt(16392), None))
    assert(ts.numPages == 2L) // 16392 bytes at the 8196-byte page
    assert(ts.numTuples == 16392L / 16L) // two 8-byte longs a row
    assert(SelingerJoinReorder.fallbackStats(SizedLeaf(BigInt(100), Some(BigInt(7)))).numTuples == 7L)
  }
}
