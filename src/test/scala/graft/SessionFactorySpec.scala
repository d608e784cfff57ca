package graft

import graft.core.Catalog
import org.scalatest.funsuite.AnyFunSuite

/** `Catalog.newSession` is the one session factory: its master sets the
  * shuffle-partition count, `SPARK_GRAFT_CPUS` is parsed in one place,
  * and no other main source builds a session of its own.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset means all processors, garbage fails by name") {
    assert(Catalog.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Catalog.parseCpus(Some("3")) == 3)
    for (bad <- Seq("0", "-2", "four", "")) {
      val e = intercept[IllegalArgumentException](Catalog.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("shuffle partitions follow the master's core count") {
    assert(Catalog.shufflePartitions("local[3]") == 3)
    assert(Catalog.shufflePartitions("local[32]") == 32)
    intercept[IllegalArgumentException](Catalog.shufflePartitions("yarn"))
  }

  test("SparkSession.builder appears in src/main only in core/Catalog.scala") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    import scala.jdk.CollectionConverters._
    val offenders = scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala.toList
    }.filter(p => p.toString.endsWith(".scala") &&
        !p.endsWith(java.nio.file.Paths.get("core", "Catalog.scala")))
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
    assert(offenders.isEmpty, s"build sessions through Catalog.newSession: $offenders")
  }
}
