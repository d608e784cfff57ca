package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-process scratch: every query, tool and probe stages its throwaway
  * files under ONE root, `<java.io.tmpdir>/graft-<pid>`. The pid keeps
  * concurrent processes over the same SF dir (verify + bench) from
  * racing one another's overwrite; one JVM shutdown hook deletes the
  * whole root on exit, so disk use is bounded by live processes, not by
  * run count. A kill -9'd JVM skips its hook; the next process to open
  * its root reaps every `graft-<pid>` root whose pid is dead.
  */
object Scratch {
  private val pid: Long = ProcessHandle.current().pid()

  /** sfDir → filesystem-safe slug. The readable part alone is NOT
    * injective ('/a/b' and '/a_b' collide), and a collision would make a
    * same-process marker-guarded scratch cache (q37's tape, the stream
    * staging dirs) serve the WRONG dataset — append a hash of the raw
    * path to make the slug injective in practice.
    */
  def dirSlug(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]", "_") + f"_${dir.hashCode & 0x7fffffff}%08x"

  /** This process's root, created on first use (which also reaps dead
    * processes' roots and installs the exit hook).
    */
  lazy val root: Path = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    reapDead(tmp)
    val r = Files.createDirectories(tmp.resolve(s"graft-$pid"))
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(r), "graft-scratch-cleanup"))
    r
  }

  /** `<root>/<tag>-<dirSlug(dir)>`, or `<root>/<tag>` when the scratch
    * belongs to no dataset.
    */
  def scratch(tag: String, dir: String = ""): String =
    root.resolve(if (dir.isEmpty) tag else s"$tag-${dirSlug(dir)}").toString

  /** Replaces `path` with `content` in one step: writes a `.tmp-<pid>`
    * sibling, then moves it over `path` atomically, so a crash or a
    * concurrent reader never sees a torn file.
    */
  def writeAtomic(path: Path, content: String): Unit = {
    val target = path.toAbsolutePath
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-$pid")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case NonFatal(e) =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => () }
        throw e
    }
  }

  /** Deletes the `graft-<pid>` entries of `tmp` whose pid is no longer
    * alive. Only that exact name shape is touched: other entries, and
    * roots of live processes (this one included), are left alone.
    */
  private[graft] def reapDead(tmp: Path): Unit = {
    val RootName = "graft-([0-9]{1,18})".r
    try scala.util.Using.resource(Files.list(tmp)) {
      _.iterator().asScala.foreach { p =>
        p.getFileName.toString match {
          case RootName(n) if !ProcessHandle.of(n.toLong)
              .map[Boolean](_.isAlive).orElse(false) =>
            deleteRecursively(p)
          case _ => ()
        }
      }
    } catch { case NonFatal(_) => () } // best-effort hygiene, never fail a query
  }

  /** Recursive tree delete. `strict = false` (hygiene paths: exit hook,
    * reaper, eager cleanup) is best-effort and swallows every failure,
    * the walk's included; `strict = true` (tape/staging REBUILD paths)
    * propagates them, because a silently surviving file would collide
    * with the errorifexists writes that follow.
    */
  def deleteRecursively(root: Path, strict: Boolean = false): Unit =
    try {
      if (Files.exists(root))
        scala.util.Using.resource(Files.walk(root)) { st =>
          st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
            .foreach { f => try Files.delete(f) catch { case NonFatal(_) if !strict => () } }
        }
    } catch { case NonFatal(_) if !strict => () }
}
