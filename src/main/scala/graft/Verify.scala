package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The engine's own extensions (Selinger reorder, TopK strategy, SQL
    // functions) are live in the verified path — correctness is checked
    // WITH our optimizer rules active, not around them.
    val spark = graft.core.Catalog.newSession()
    // Load the catalog's statistics up front (the reference loads
    // Catalog.txt at startup): row counts, histograms and ndv sketches for every table,
    // so SelingerJoinReorder decisions are deterministic rather than
    // dependent on which query happened to build stats first.
    graft.core.Catalog.statsMany(spark, sfDir, graft.core.Catalog.tableNames)
    new java.io.File(outDir).mkdirs()
    val only = EnvFilter.only()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        // NonFatal only: a VirtualMachineError (driver OOM) must abort
        // the run — recording the failure and continuing would dump the
        // REMAINING queries from a corrupted JVM and let stale-looking
        // green results mask the real problem
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a reused outDir may hold LAST run's passing parquet for this
          // query; leaving it in place would let a crashing query pass
          // the oracle compare on stale results — delete so the compare
          // reports the failure instead of green
          val stale = Paths.get(s"$outDir/$name")
          if (Files.exists(stale)) {
            import scala.jdk.CollectionConverters._
            scala.util.Using.resource(Files.walk(stale)) { w =>
              w.sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala.foreach(Files.delete)
            }
          }
        }
      }
    // shared escaper (EnvFilter.jsonEsc): a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    def q(s: String): String = "\"" + EnvFilter.jsonEsc(s) + "\""
    // a SPARK_GRAFT_ONLY-filtered run must also filter the oracle map:
    // the checker loops over oracle_sql.json, and an entry whose parquet
    // was never dumped reads as a spurious FAIL — the documented
    // fast-iteration workflow was unusable without grepping around it
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Run-shape metadata for tools/check_oracle.py, written BESIDE the
    // out dir (never inside it — the driver's own checker may glob the
    // dir's contents, and an extra non-parquet entry must not reach it):
    // the checker's stale-results warning only makes sense when THIS
    // dump was filtered (a reused out_dir then holds unverified stale
    // parquet); on a full run, result dirs absent from oracle_sql.json
    // are just the legitimate rows-only queries.
    // "queries" lists the CURRENT full surface by name so the checker
    // can tell a legitimate rows-only result dir from a stale leftover
    // of a since-removed/renamed query in a reused out_dir — a full
    // Verify overwrites live queries' dirs but never deletes dirs no
    // current query owns, and without the name list those leftovers
    // would read as rows-only green.
    val names = SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(
      Paths.get(outDir.stripSuffix("/") + ".verifymeta.json"),
      s"""{"filtered": ${only.isDefined}, "n_queries": ${SparkEntry.queries.size}, "queries": $names}""")
    spark.stop()
  }
}
