package graft

import graft.Queries.QuerySpec
import org.scalatest.funsuite.AnyFunSuite

/** `Queries.specs` is the one query registry: the check that guards it
  * at initialisation reports each kind of bad row, and `SPARK_GRAFT_ONLY`
  * refuses names it does not hold.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private def row(name: String, streaming: Boolean = false) =
    QuerySpec(name, Queries.q01_scan, "SELECT 1", streaming)

  test("the live registry passes its own check") {
    assert(Queries.registryProblems(Queries.specs).isEmpty)
    assert(Queries.specs.forall(_.oracle.trim.nonEmpty))
  }

  test("registry check reports a duplicate name") {
    val problems = Queries.registryProblems(
      Seq(row("q01_scan"), row("q02_filter"), row("q01_scan")))
    assert(problems.exists(p => p.contains("twice") && p.contains("q01_scan")), problems)
  }

  test("registry check reports two rows sharing a numeric prefix") {
    val problems = Queries.registryProblems(Seq(row("q52_tpch_q3"), row("q52_other")))
    assert(problems == Seq("numeric prefix q52 shared by q52_other, q52_tpch_q3"), problems)
  }

  test("registry check reports a stream-named batch row") {
    val problems = Queries.registryProblems(
      Seq(row("q998_stream_lookalike"), row("q999_quiet_sessionizer", streaming = true)))
    assert(problems == Seq("stream-named query not marked streaming: q998_stream_lookalike"),
      problems)
  }

  test("SPARK_GRAFT_ONLY: unset runs everything, unknown names fail by name") {
    assert(EnvFilter.only(None).isEmpty)
    assert(EnvFilter.only(Some(" q01_scan, q02_filter,")).contains(Set("q01_scan", "q02_filter")))
    val e = intercept[IllegalArgumentException](
      EnvFilter.only(Some("q01_scan,q01_scna")))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY") && e.getMessage.endsWith(": q01_scna"),
      e.getMessage)
  }
}
