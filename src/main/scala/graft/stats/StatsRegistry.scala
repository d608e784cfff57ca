package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Process-wide registry of pre-built [[TableStats]], keyed by the file
  * paths behind a scan — the Spark-side analogue of the reference's
  * persisted catalog (`/root/reference/test/utils/utils.cc:43-46` writes
  * `Catalog.txt`; `src/include/common/macros.h:26` names it): statistics
  * are computed once per table, then every later optimization reads them
  * for free.
  *
  * [[graft.plans.SelingerJoinReorder]] consults this during optimization
  * (never running jobs itself — looking up here is a map read), so a
  * `spark.sql` query over tables whose stats were registered gets
  * histogram-driven filter selectivities and true row counts instead of
  * size-in-bytes guesses.
  *
  * Keys are the sorted root paths of the scan's file index, so the same
  * parquet directory read through different DataFrames (or sessions over
  * one context) resolves to one entry.
  *
  * **Persistence** ([[save]]/[[load]]): the registry round-trips through
  * a tiny JSON-lines sidecar file (100 bins × columns × tables —
  * kilobytes, read and written on the driver), so a FRESH driver process
  * gets histogram-driven Selinger reordering without re-running the
  * two-pass distributed build — at 100 TB that build is two full corpus
  * scans per table per process, which is the wrong plan for statistics
  * that only change when the data does.
  * Every entry carries a **file-set signature** (sha-256 over the scan's
  * sorted (path, length, mtime) triples — strictly stronger than the
  * stored-row-count check, and it needs no scan to verify); a loaded
  * entry is lazily re-verified against the live file index on first
  * lookup, and a mismatch drops the entry with a named warning so the
  * caller rebuilds instead of optimizing against stale histograms.
  */
object StatsRegistry {
  /** `verified = true` once the entry's signature matched the live file
    * index this process (in-process builds are born verified; loaded
    * entries verify lazily on first lookup).
    */
  private final case class Entry(ts: TableStats,
      signature: Option[String], verified: Boolean)

  private val byKey = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** Stable key for a single-file-relation plan, if it is one. */
  def planKey(plan: LogicalPlan): Option[String] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) =>
        lr.relation match {
          case hfs: HadoopFsRelation =>
            Some(hfs.location.rootPaths.map(_.toString).sorted.mkString(";"))
          case _ => None
        }
      case _ => None
    }

  /** File-set signature of a single-file-relation plan: sha-256 over the
    * sorted (path, length, modification time) of every file behind the
    * scan. The file index is already materialized by analysis, so this
    * is a driver-side walk of an in-memory list — no filesystem I/O.
    */
  def signatureOf(plan: LogicalPlan): Option[String] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) =>
        lr.relation match {
          case hfs: HadoopFsRelation =>
            val lines = hfs.location.listFiles(Nil, Nil)
              .flatMap(_.files)
              .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
              .sorted
            val md = java.security.MessageDigest.getInstance("SHA-256")
            lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
            Some(md.digest().map("%02x".format(_)).mkString)
          case _ => None
        }
      case _ => None
    }

  /** Register stats for the (single) file relation a DataFrame scans. */
  def register(df: DataFrame, ts: TableStats): Unit = {
    val plan = df.queryExecution.analyzed
    planKey(plan).foreach { k =>
      byKey.put(k, Entry(ts, signatureOf(plan), verified = true))
    }
  }

  // verify-once: a loaded entry checks its stored signature against the
  // live file index the first time a plan resolves to it; fresh entries
  // flip to verified (no repeat walks), stale entries are dropped by name
  private def verifiedStats(k: String, e: Entry, plan: LogicalPlan): Option[Entry] =
    if (e.verified) Some(e)
    else {
      val live = signatureOf(plan)
      if (live.isDefined && live == e.signature) {
        val fresh = e.copy(verified = true)
        byKey.replace(k, e, fresh)
        Some(fresh)
      } else {
        byKey.remove(k, e)
        System.err.println(s"[stats] persisted statistics for $k are STALE " +
          "(the file set behind the scan changed since they were saved) — " +
          "entry dropped; rebuild to re-register")
        None
      }
    }

  def forPlan(plan: LogicalPlan): Option[TableStats] =
    planKey(plan).flatMap { k =>
      Option(byKey.get(k)).flatMap(e => verifiedStats(k, e, plan)).map(_.ts)
    }

  def clear(): Unit = byKey.clear()

  // --- persistence -------------------------------------------------------

  /** Sidecar format version, written into every row and REFUSED on
    * mismatch at load (r14 verdict #5: without it, a future format
    * change would deserialize garbage by name — fields silently null or
    * reinterpreted). 2 = the first versioned format; "1" retroactively
    * names the unversioned r14 sidecars, whose rows carry no version
    * field at all and are refused as pre-versioning (they rebuild once,
    * which is the safe direction). 3 drops the per-row `full` flag: every
    * build has histograms, so version-2 rows are refused and rebuilt once,
    * and a version-2 binary sharing the directory keeps version-3 rows
    * verbatim as a newer binary's rows instead of failing to read them.
    */
  private[stats] val SidecarFormatVersion: Long = 3L

  /** One persisted histogram column / range / ndv sketch value. */
  private[stats] case class PHist(column: String, buckets: Int,
      minV: Long, maxV: Long, counts: Seq[Long])
  private[stats] case class PRange(column: String, lo: Long, hi: Long)
  private[stats] case class PNdv(column: String, ndv: Long)
  private[stats] case class PStats(
      key: String, signature: String,
      numTuples: Long, ioCostPerPage: Double, numPages: Long,
      columns: Seq[String], hists: Seq[PHist], ranges: Seq[PRange],
      ndvs: Seq[PNdv], version: Option[Long])

  /** The sidecar file inside a stats directory: one JSON [[PStats]] row
    * per line.
    */
  private[graft] val SidecarFile = "stats.jsonl"

  private val LockWaitMs = 30000L

  /** Cross-process mutual exclusion for one sidecar directory: an OS
    * `FileLock` on a sibling `<dir>.lock` file, held around both the
    * save's read-merge-replace and the load read (the default
    * `<cwd>/stats-catalog` is shared by every graft process launched
    * from the repo root — Bench, Verify and ScaleProbe may run at once —
    * so two unguarded saves would be last-writer-wins). In-JVM
    * re-entry is serialized by a per-directory monitor first (same-JVM
    * `FileLock` re-acquisition throws instead of blocking). The wait is
    * a bounded tryLock poll — same discipline as the txn tape lock — so
    * a wedged peer is diagnosed by name after 30 s instead of hanging
    * the caller forever.
    */
  // per-DIR monitors (review r15): one global monitor would serialize a
  // save to dir X (which may sleep up to the full lock-wait poll behind
  // a peer process) with loads/saves of unrelated dirs
  private val jvmSidecarLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withSidecarLock[T](dir: String)(body: => T): T = {
    // normalize BEFORE deriving the lock path: a trailing-slash dir
    // ("/x/stats/") would otherwise put ".lock" INSIDE the target
    // instead of beside it
    val norm = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val monitor =
      jvmSidecarLocks.computeIfAbsent(norm.toString, _ => new Object)
    monitor.synchronized {
      val lockPath = norm.resolveSibling(norm.getFileName.toString + ".lock")
      Option(lockPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val deadline = System.nanoTime() + LockWaitMs * 1000000L
        var lock: java.nio.channels.FileLock = null
        while (lock == null) {
          lock = ch.tryLock()
          if (lock == null) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"could not acquire the stats sidecar lock $lockPath within " +
                  s"$LockWaitMs ms — another graft process is saving/loading this " +
                  "sidecar (or died holding the lock is NOT possible: OS file " +
                  "locks release on process exit, so a long hold means a live " +
                  "peer mid-save). Point this process at a distinct GRAFT_STATS_DIR")
            Thread.sleep(100)
          }
        }
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Non-blank lines of `dir`'s sidecar file; none when it is absent. */
  private def sidecarLines(dir: String): Seq[String] = {
    val file = java.nio.file.Paths.get(dir, SidecarFile)
    if (!java.nio.file.Files.exists(file)) Nil
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(file).asScala.filter(_.trim.nonEmpty).toList
    }
  }

  /** The row's declared format version, if any (None = pre-versioning
    * r14 rows or unparsable lines).
    */
  private def lineVersion(line: String): Option[Long] =
    try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(line) \ "version" match {
        case JInt(v) => Some(v.toLong)
        case JLong(v) => Some(v)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private implicit val jsonFormats: org.json4s.Formats = org.json4s.DefaultFormats

  /** Current-version sidecar rows, typed (no registry side effects) —
    * shared by [[load]] and [[save]]'s merge-on-save re-read. The
    * version gate runs on the RAW LINES, before typed deserialization
    * (r14 verdict #5, hardened r16): an off-version row must neither be
    * deserialized by name NOR abort the read of its current-version
    * neighbors (a future row's unknown shape would not fit [[PStats]]).
    * Refused rows are named on stderr.
    */
  private def readRows(dir: String, lines: Seq[String]): Seq[PStats] = {
    val (ok, refused) = lines.partition(lineVersion(_).contains(SidecarFormatVersion))
    if (refused.nonEmpty) {
      val kinds = refused.map(lineVersion(_).map(_.toString).getOrElse("pre-versioning"))
        .distinct.sorted.mkString(", ")
      System.err.println(s"[stats] sidecar $dir: refused ${refused.size} " +
        s"entr${if (refused.size == 1) "y" else "ies"} with format version " +
        s"[$kinds] != $SidecarFormatVersion — those tables rebuild (a " +
        "pre-current row is superseded; a future row is preserved across " +
        "saves for the newer binary that wrote it)")
    }
    ok.map(l => org.json4s.jackson.JsonMethods.parse(l).extract[PStats])
  }

  // local file: paths whose files are all gone are dead entries (scratch
  // dirs, regenerated testdata) — GC'd at save so the sidecar can't
  // accumulate garbage keys across processes. Non-file schemes are kept:
  // existence there isn't a driver-side check.
  private def keyAlive(key: String): Boolean =
    key.split(";").forall { p =>
      try {
        val uri = new java.net.URI(p)
        uri.getScheme != "file" ||
          java.nio.file.Files.exists(java.nio.file.Paths.get(uri))
      } catch { case scala.util.control.NonFatal(_) => true }
    }

  /** Persist every registered entry that has a signature (single-file
    * relations — the only kind the registry keys) to `<dir>/stats.jsonl`,
    * one JSON row per line, written on the driver. Entries whose local
    * file set no longer exists are dropped (dead scratch paths must not
    * accumulate in the sidecar). Returns the number of entries written.
    *
    * The file is replaced atomically ([[graft.core.Scratch.writeAtomic]]),
    * so a reader never observes a half-written catalog. Nothing else in
    * `dir` is read, written or deleted: a misconfigured `GRAFT_STATS_DIR`
    * (pointed at testdata, an output dir, …) gains one file and loses
    * none. A plain file AT `dir` refuses by name.
    *
    * Under [[withSidecarLock]] the save also merges: the prior file's
    * current-version entries for keys this process never built are
    * carried forward (still [[keyAlive]]-GC'd), so two processes saving
    * different tables to one dir both survive. On a key conflict the
    * in-memory entry wins (it is the fresher build); an entry a LOADER
    * dropped as stale may be re-carried from disk here, which is
    * harmless — its signature still fails verification for every later
    * reader until a rebuild overwrites it. Rows with a FUTURE format
    * version are kept verbatim as raw lines (a mixed-version
    * deployment's newer entries must survive an older binary's save; no
    * parse into PStats, no keyAlive GC — a future format may rename
    * either field); pre-current rows are dropped — rebuild is the safe
    * direction for superseded formats.
    */
  def save(dir: String): Int = withSidecarLock(dir) {
    import scala.jdk.CollectionConverters._
    val target = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    require(!java.nio.file.Files.exists(target) || java.nio.file.Files.isDirectory(target),
      s"stats sidecar target $dir exists and is not a directory — " +
        "refusing to replace it; point GRAFT_STATS_DIR elsewhere")
    val rows = byKey.asScala.toSeq
      .collect { case (k, e) if e.signature.isDefined && keyAlive(k) =>
        val ts = e.ts
        PStats(k, e.signature.get, ts.numTuples, ts.ioCostPerPage,
          ts.numPages, ts.columns, ts.histsMap.toSeq.sortBy(_._1)
            .map { case (c, h) => PHist(c, h.buckets, h.minV, h.maxV, h.bucketCounts) },
          ts.rangesMap.toSeq.sortBy(_._1)
            .map { case (c, (lo, hi)) => PRange(c, lo, hi) },
          ts.ndvsMap.toSeq.sortBy(_._1).map { case (c, n) => PNdv(c, n) },
          Some(SidecarFormatVersion))
      }
    val prior = sidecarLines(target.toString)
    val memKeys = rows.map(_.key).toSet
    val carried =
      try readRows(dir, prior).filter(p => !memKeys(p.key) && keyAlive(p.key))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[stats] prior sidecar at $dir unreadable during " +
            s"merge-on-save ($e) — writing this process's entries only")
          Seq.empty[PStats]
      }
    val preservedFuture = prior.filter(lineVersion(_).exists(_ > SidecarFormatVersion))
    val all = (rows ++ carried).sortBy(_.key)
    val lines = all.map(org.json4s.jackson.Serialization.write(_)) ++ preservedFuture
    java.nio.file.Files.createDirectories(target)
    graft.core.Scratch.writeAtomic(target.resolve(SidecarFile),
      lines.map(_ + "\n").mkString)
    all.size
  }

  /** Load a [[save]]d sidecar into the registry. Loaded entries are
    * UNVERIFIED: each checks its file-set signature against the live
    * scan on first lookup and is dropped by name if stale (the
    * staleness guard — a fresh process must never optimize against
    * statistics of data that changed). Entries already registered
    * in-process win over loaded ones. Rows whose format version is not
    * [[SidecarFormatVersion]] are refused by name ([[readRows]]) —
    * never deserialized into live statistics. Runs under the sidecar
    * lock, so it never interleaves with a peer's save. Returns the number
    * of entries loaded; 0 when `<dir>/stats.jsonl` is absent.
    */
  def load(dir: String): Int = withSidecarLock(dir) {
    val rows = readRows(dir, sidecarLines(dir))
    rows.foreach { p =>
      val hists = p.hists.map { ph =>
        val h = new IntHistogram(ph.buckets, ph.minV, ph.maxV)
        ph.counts.zipWithIndex.foreach { case (c, b) =>
          if (c > 0) h.addBucketCount(b, c)
        }
        ph.column -> h
      }.toMap
      val ts = TableStats.fromParts(p.numTuples, p.ioCostPerPage, p.numPages,
        p.columns.toIndexedSeq, hists,
        p.ranges.map(r => r.column -> (r.lo, r.hi)).toMap,
        p.ndvs.map(n => n.column -> n.ndv).toMap)
      byKey.putIfAbsent(p.key, Entry(ts, Some(p.signature), verified = false))
    }
    rows.length
  }
}
