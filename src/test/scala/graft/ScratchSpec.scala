package graft

import java.nio.file.{Files, Path, Paths}

import graft.core.Scratch
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One scratch root per process: `Scratch.scratch` is the only place that
  * names a per-process path, and the reaper removes the roots of dead
  * processes and nothing else.
  */
class ScratchSpec extends AnyFunSuite {

  private val pid = ProcessHandle.current().pid()

  private def pidOfExitedProcess(): Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    p.pid()
  }

  test("scratch paths live under <tmpdir>/graft-<pid>, one per tag and dataset") {
    val root = Paths.get(System.getProperty("java.io.tmpdir"), s"graft-$pid")
    assert(Scratch.root == root && Files.isDirectory(root))
    val a = Paths.get(Scratch.scratch("q37", "/data/a/b"))
    val b = Paths.get(Scratch.scratch("q37", "/data/a_b"))
    assert(a.getParent == root && b.getParent == root)
    assert(a.getFileName.toString.startsWith("q37-_data_a_b_"))
    assert(a != b, "the slug must tell '/a/b' from '/a_b'")
    assert(Paths.get(Scratch.scratch("bench-warm")) == root.resolve("bench-warm"))
  }

  test("reaper deletes dead processes' roots and leaves everything else") {
    val tmp = Files.createTempDirectory("scratch-reaper")
    try {
      val dead = pidOfExitedProcess()
      assert(!ProcessHandle.of(dead).map[Boolean](_.isAlive).orElse(false))
      val deadRoot = Files.createDirectories(tmp.resolve(s"graft-$dead/q37-x"))
      val liveRoot = Files.createDirectories(tmp.resolve(s"graft-$pid/q37-x"))
      val kept = Seq(s"other-$dead", s"graft-q37-$dead-x", s"graft-$dead-x")
        .map(n => Files.createDirectories(tmp.resolve(n)))
      Scratch.reapDead(tmp)
      assert(!Files.exists(deadRoot.getParent))
      assert(Files.exists(liveRoot))
      kept.foreach(k => assert(Files.exists(k), k))
    } finally Scratch.deleteRecursively(tmp, strict = true)
  }

  /** Lines of `files` that name a per-process path by hand. The listed
    * exceptions are not scratch: the persistent probe tapes and GenScale's
    * default output dir outlive the process on purpose.
    */
  private def handRolled(files: Seq[(Path, String)]): Seq[String] = {
    val exceptions = Seq(
      "ScaleProbe.scala" -> "/tmp/graft-scaleprobe-",
      "StreamWriteProbe.scala" -> "/tmp/graft-scaleprobe-",
      "StreamWriteProbe.scala" -> "/tmp/graft-writeprobe-${copies}x-",
      "GenScale.scala" -> "/tmp/graft-sf1")
    files.filterNot(_._1.endsWith(Paths.get("core", "Scratch.scala"))).flatMap {
      case (path, text) =>
        val file = path.getFileName.toString
        text.linesIterator
          .filter(l => l.contains("\"/tmp/graft") || l.contains("ProcessHandle.current().pid()"))
          .filterNot(l => exceptions.exists { case (f, frag) => f == file && l.contains(frag) })
          .map(l => s"$path: ${l.trim}")
    }
  }

  test("source scan flags hand-built per-process paths outside the scratch helper") {
    val bad = Seq(
      Paths.get("graft", "Foo.scala") -> "val p = s\"/tmp/graft-foo-x\"",
      Paths.get("graft", "Bar.scala") -> "val id = ProcessHandle.current().pid()",
      Paths.get("graft", "GenScale.scala") -> "val p = s\"/tmp/graft-other\"",
      Paths.get("graft", "Bench.scala") -> "val d = s\"/tmp/x-${ProcessHandle.current().pid()}\"")
    assert(handRolled(bad).size == 4)
    val allowed = Seq(
      Paths.get("graft", "core", "Scratch.scala") -> "val pid = ProcessHandle.current().pid()",
      Paths.get("graft", "ScaleProbe.scala") -> "val dir = s\"/tmp/graft-scaleprobe-1x\"")
    assert(handRolled(allowed).isEmpty)
  }

  test("src/main names per-process paths only through core/Scratch.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sources = scala.util.Using.resource(Files.walk(root)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }.map(p => p -> Files.readString(p))
    val offenders = handRolled(sources)
    assert(offenders.isEmpty,
      s"build scratch paths with Scratch.scratch(tag, dir): ${offenders.mkString("\n")}")
  }
}
