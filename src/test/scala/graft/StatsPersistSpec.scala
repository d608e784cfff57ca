package graft

import graft.stats.{PredicateOp, StatsRegistry, TableStats}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The persisted statistics catalog (r13 verdict #1): register → save →
  * fresh registry → load → forPlan must round-trip with BIT-IDENTICAL
  * selectivities (the sidecar is the reference's `Catalog.txt` analogue
  * — `test/utils/utils.cc:43-46` — so a fresh driver process gets
  * histogram-driven Selinger reordering without re-running the two-pass
  * distributed build), and the staleness guard must drop an entry by
  * name when the file set behind the scan changes.
  */
class StatsPersistSpec extends AnyFunSuite {

  private def scratch(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-statspersist-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def writeTable(path: String, seed: Int, n: Int = 5000): DataFrame = {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((1 + rnd.nextInt(97), rnd.nextInt(1000).toLong, s"s${rnd.nextInt(50)}"))
      .toDF("k", "v", "tag")
      .coalesce(2).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  // the full probe grid a Selinger decision would consult: every op at
  // boundary and interior values, plus row count / ndv / scan cost
  private def probeGrid(ts: TableStats): Seq[Double] = {
    val vals = Seq(0L, 1L, 13L, 49L, 97L, 98L)
    (for {
      c <- Seq("k", "v"); op <- PredicateOp.all; v <- vals
    } yield ts.estimateSelectivity(c, op, v)) ++
      Seq(ts.numTuples.toDouble, ts.estimateScanCost(),
        ts.estimateNdv("k").get.toDouble, ts.estimateNdv("v").get.toDouble,
        ts.estimateNdv("tag").get.toDouble,
        ts.estimateTableCardinality(0.37).toDouble)
  }

  test("register → save → fresh registry → load → forPlan: bit-identical selectivities") {
    val spark = SharedSpark.spark
    val tableDir = scratch("table")
    val sidecar = scratch("sidecar")
    val df = writeTable(tableDir, seed = 42)
    val built = TableStats.build(df)
    StatsRegistry.register(df, built)
    val before = probeGrid(built)
    val saved = StatsRegistry.save(sidecar)
    assert(saved >= 1, "the registered entry must persist")

    StatsRegistry.clear() // fresh process simulation
    assert(StatsRegistry.forPlan(df.queryExecution.analyzed).isEmpty)
    val loaded = StatsRegistry.load(sidecar)
    assert(loaded == saved)

    // the loaded entry resolves through the SAME plan-key path Selinger
    // uses, passes the signature check, and answers every probe with the
    // exact doubles the in-process build answered (== on Double: the
    // persisted counts/ranges feed the identical arithmetic)
    val freshDf = spark.read.parquet(tableDir)
    val got = StatsRegistry.forPlan(freshDf.queryExecution.analyzed)
    assert(got.isDefined, "loaded entry must resolve for the same parquet dir")
    val after = probeGrid(got.get)
    assert(before == after,
      s"selectivity grid must round-trip bit-identically; diffs at " +
        before.zip(after).zipWithIndex.filter(p => p._1._1 != p._1._2).take(3))
    // second lookup takes the verified fast path and still answers
    assert(StatsRegistry.forPlan(freshDf.queryExecution.analyzed).isDefined)
  }

  test("staleness guard: a changed file set drops the loaded entry (named refusal → rebuild)") {
    val tableDir = scratch("stale")
    val sidecar = scratch("stale-sidecar")
    val df = writeTable(tableDir, seed = 7)
    StatsRegistry.register(df, TableStats.build(df))
    assert(StatsRegistry.save(sidecar) >= 1)

    // the data changes: same directory, regenerated content (new part
    // files — exactly the driver-regenerates-testdata scenario)
    val df2 = writeTable(tableDir, seed = 8, n = 7000)

    StatsRegistry.clear()
    StatsRegistry.load(sidecar)
    // the loaded entry's stored signature no longer matches the live file
    // set → dropped, NOT served (optimizing on stale histograms is the
    // failure mode the guard exists for)
    assert(StatsRegistry.forPlan(df2.queryExecution.analyzed).isEmpty,
      "stale entry must be refused")
    // and the refusal is terminal for the entry: a rebuild re-registers
    val rebuilt = TableStats.build(df2)
    StatsRegistry.register(df2, rebuilt)
    val got = StatsRegistry.forPlan(df2.queryExecution.analyzed)
    assert(got.exists(_.numTuples == 7000L))
  }

  // every regular file under `dir` except the sidecar itself, by content
  private def foreignFiles(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.walk(root)) {
      _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString == StatsRegistry.SidecarFile)
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
    }
  }

  test("save refuses to delete a non-sidecar target (ADVICE r14 delete guard)") {
    val tableDir = scratch("guard")
    val df = writeTable(tableDir, seed = 21)
    StatsRegistry.clear()
    StatsRegistry.register(df, TableStats.build(df))
    // the misconfigured GRAFT_STATS_DIR scenario (pointed at testdata /
    // an output dir): save writes only its own sidecar file, so a plain
    // file and a parquet table with its _SUCCESS marker survive two saves
    val shared = scratch("victim")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(shared, "precious.txt"),
      "not a sidecar")
    writeTable(s"$shared/table.parquet", seed = 22, n = 100)
    val before = foreignFiles(shared)
    assert(before.keySet.contains("table.parquet/_SUCCESS"))
    assert(StatsRegistry.save(shared) == 1)
    assert(StatsRegistry.save(shared) == 1)
    assert(foreignFiles(shared) == before, "no foreign file may change or vanish")
    // an empty dir is a legal target, and so is a prior sidecar
    val ok = scratch("guard-ok")
    assert(StatsRegistry.save(ok) >= 1)
    assert(StatsRegistry.save(ok) >= 1)
    // a plain FILE at the target refuses by name
    val filePath = java.nio.file.Paths.get(scratch("guard-file"), "f")
    java.nio.file.Files.writeString(filePath, "x")
    val e = intercept[IllegalArgumentException] {
      StatsRegistry.save(filePath.toString)
    }
    assert(e.getMessage.contains("not a directory"))
    assert(java.nio.file.Files.readString(filePath) == "x")
    // and a trailing-slash target resolves the SAME lock path as its
    // normalized form (a naive dir+'.lock' would land the lock file
    // INSIDE the target)
    val slashed = scratch("guard-slash")
    assert(StatsRegistry.save(slashed + "/") >= 1)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(slashed + ".lock")),
      "the lock file must be a SIBLING of the normalized target")
  }

  test("delete guard: a sidecar-LIKE dir mixing foreign files refuses (ADVICE r15)") {
    val dfA = writeTable(scratch("mixed-a"), seed = 61)
    StatsRegistry.clear()
    StatsRegistry.register(dfA, TableStats.build(dfA))
    // a user dir holding a stray part-*.json plus unrelated content: the
    // part file neither licenses a delete nor is read as sidecar rows
    val mixed = scratch("mixed-victim")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mixed, "part-00000.json"), "{}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mixed, "precious.txt"), "user data")
    val before = foreignFiles(mixed)
    assert(StatsRegistry.save(mixed) == 1)
    assert(StatsRegistry.save(mixed) == 1)
    assert(foreignFiles(mixed) == before, "no foreign file may change or vanish")
    StatsRegistry.clear()
    assert(StatsRegistry.load(mixed) == 1)
    assert(StatsRegistry.forPlan(dfA.queryExecution.analyzed).isDefined)
  }

  test("format version: future and pre-versioning rows are refused by name (r14 verdict #5)") {
    val tableDir = scratch("ver")
    val sidecar = scratch("ver-sidecar")
    val df = writeTable(tableDir, seed = 31)
    StatsRegistry.clear()
    StatsRegistry.register(df, TableStats.build(df))
    assert(StatsRegistry.save(sidecar) == 1)
    // doctor the sidecar rows in place
    val file = java.nio.file.Paths.get(sidecar, StatsRegistry.SidecarFile)
    def rewrite(f: String => String): Unit =
      java.nio.file.Files.writeString(file, f(java.nio.file.Files.readString(file)))
    // a FUTURE format version: deserializing it by name would read
    // arbitrarily-reinterpreted fields as live statistics
    rewrite(_.replace("\"version\":3", "\"version\":99"))
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 0, "future-version rows must not load")
    assert(StatsRegistry.forPlan(df.queryExecution.analyzed).isEmpty)
    // the pre-versioning r14 format: no version field at all
    rewrite(_.replace(",\"version\":99}", "}"))
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 0, "pre-versioning rows must be refused")
    // a version-2 row: the format before the per-row `full` flag was dropped
    rewrite(_.replace("}\n", ",\"full\":true,\"version\":2}\n"))
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 0, "version-2 rows must be refused")
    // a rebuild + save rewrites the sidecar in the current format (the
    // merge-on-save re-read must refuse the doctored rows too, not carry
    // them forward)
    StatsRegistry.register(df, TableStats.build(df))
    assert(StatsRegistry.save(sidecar) == 1)
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 1)
    assert(StatsRegistry.forPlan(df.queryExecution.analyzed).isDefined)
  }

  test("two-process save survivorship: merge-on-save keeps a peer's entries (ADVICE r14)") {
    val sidecar = scratch("merge-sidecar")
    val dfA = writeTable(scratch("merge-a"), seed = 41)
    val dirB = scratch("merge-b")
    val dfB = writeTable(dirB, seed = 43, n = 6000)
    StatsRegistry.clear()
    StatsRegistry.register(dfA, TableStats.build(dfA))
    assert(StatsRegistry.save(sidecar) == 1)
    // "process 2": a fresh registry that only ever built B saves to the
    // SAME dir — pre-merge this was last-writer-wins and silently erased
    // A's entry (ADVICE r14 / r14 verdict #5)
    StatsRegistry.clear()
    StatsRegistry.register(dfB, TableStats.build(dfB))
    assert(StatsRegistry.save(sidecar) == 2, "the save must carry A forward")
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 2)
    assert(StatsRegistry.forPlan(dfA.queryExecution.analyzed).exists(_.numTuples == 5000L))
    assert(StatsRegistry.forPlan(dfB.queryExecution.analyzed).exists(_.numTuples == 6000L))
    // key conflict: the in-memory (fresher) build wins over the carried
    // disk row — B regenerated at 7000 rows replaces the 6000-row entry
    val dfB2 = writeTable(dirB, seed = 44, n = 7000)
    StatsRegistry.clear()
    StatsRegistry.register(dfB2, TableStats.build(dfB2))
    assert(StatsRegistry.save(sidecar) == 2)
    StatsRegistry.clear()
    StatsRegistry.load(sidecar)
    assert(StatsRegistry.forPlan(dfB2.queryExecution.analyzed).exists(_.numTuples == 7000L))
    // and the sidecar lock released cleanly: a fresh exclusive claim on
    // the lock file succeeds immediately after save/load returned
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(sidecar + ".lock"),
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val l = ch.tryLock()
      assert(l != null, "sidecar lock must be free after save/load")
      l.release()
    } finally ch.close()
  }

  test("future-format rows survive an older binary's save verbatim (ADVICE r15)") {
    val sidecar = scratch("future-sidecar")
    val dfA = writeTable(scratch("future-a"), seed = 51)
    StatsRegistry.clear()
    StatsRegistry.register(dfA, TableStats.build(dfA))
    assert(StatsRegistry.save(sidecar) == 1)
    // a NEWER binary's row lands in the sidecar (format version 99, a
    // shape this binary's PStats schema does not know)
    val futureLine = """{"key":"file:/future/table.parquet","version":99,""" +
      """"new_field_this_binary_never_heard_of":{"a":[1,2,3]}}"""
    val file = java.nio.file.Paths.get(sidecar, StatsRegistry.SidecarFile)
    java.nio.file.Files.writeString(file,
      java.nio.file.Files.readString(file) + futureLine + "\n")
    // this (older) binary saves a second table over the same sidecar:
    // pre-fix, merge-on-save carried only current-version rows and the
    // newer peer's row was permanently DELETED
    val dfB = writeTable(scratch("future-b"), seed = 52, n = 6000)
    StatsRegistry.clear()
    StatsRegistry.register(dfB, TableStats.build(dfB))
    assert(StatsRegistry.save(sidecar) == 2, "A carried + B fresh")
    val rawAfter = java.nio.file.Files.readString(file)
    assert(rawAfter.contains(futureLine),
      "the future-format row must ride through the rewrite verbatim")
    // this binary still refuses it at load; the typed rows still work
    StatsRegistry.clear()
    assert(StatsRegistry.load(sidecar) == 2)
    assert(StatsRegistry.forPlan(dfA.queryExecution.analyzed).isDefined)
    assert(StatsRegistry.forPlan(dfB.queryExecution.analyzed).isDefined)
    // and a THIRD save keeps preserving it (stable across rewrites)
    StatsRegistry.clear()
    StatsRegistry.register(dfB, TableStats.build(dfB))
    assert(StatsRegistry.save(sidecar) == 2)
    val rawThird = java.nio.file.Files.readString(file)
    assert(rawThird.contains(futureLine))
  }

  test("save GCs entries whose local file set is gone (dead scratch paths)") {
    val tableDir = scratch("gone")
    val sidecar = scratch("gone-sidecar")
    val df = writeTable(tableDir, seed = 11)
    StatsRegistry.clear()
    StatsRegistry.register(df, TableStats.build(df))
    // delete the table out from under the registry entry
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(tableDir))) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
    }
    assert(StatsRegistry.save(sidecar) == 0,
      "a dead path's entry must not be written to the sidecar")
  }
}
