package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Where a catalog entry keeps its on-disk state: persisted indexes,
  * stores, fixtures and streaming checkpoints.
  *
  * The process owns one root, a `Files.createTempDirectory` under
  * `java.io.tmpdir` made on first use and deleted at JVM exit. Every path
  * handed out sits under it, so two processes over one data dir (a bench
  * and a correctness run, say) never share a store or a checkpoint, and a
  * process only ever serves an artifact it built itself: a stale or
  * half-written index from an earlier run cannot leak in. Paths are keyed
  * by (kind, data dir); data dirs are numbered in order of first use, so
  * no character rule has to turn a data dir into a file name.
  *
  *  - [[once]] builds an artifact once per (kind, data dir) and serves the
  *    same path from then on: the indexes, graphs and fixtures that
  *    several entries, or several bench passes, read.
  *  - [[fresh]] hands one invocation an empty directory, removing what
  *    the previous invocation of the same (kind, data dir) left. A store
  *    goes one level down (`<fresh>/store`), so what it writes beside
  *    itself (a `__fp` sidecar, a `__compacting` temp) is removed with it.
  *
  * Both calls hold one lock, so concurrent first uses build once. */
object Scratch {

  /** The process root; every path [[once]] and [[fresh]] return is under
    * it. */
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook {
      try deleteTree(r)
      catch { case _: java.io.IOException => () } // a best effort at exit
    }
    r
  }

  private val dataDirs = mutable.Map.empty[String, Int]
  private val built = mutable.Map.empty[(String, String), String]

  /** The path of `kind`'s artifact for `dataDir`, built on the first call
    * in this process by `build`, which gets the path (not yet existing)
    * to write to. A build that throws is retried from scratch by the next
    * call. */
  def once(kind: String, dataDir: String)(build: String => Unit): String =
    synchronized {
      built.getOrElseUpdate((kind, dataDir), {
        val p = dirFor("once", kind, dataDir)
        deleteTree(p)
        build(p.toString)
        p.toString
      })
    }

  /** An empty directory for one invocation of `kind` over `dataDir`: the
    * same path on every call, emptied each time. */
  def fresh(kind: String, dataDir: String): String = synchronized {
    val p = dirFor("fresh", kind, dataDir)
    deleteTree(p)
    Files.createDirectories(p).toString
  }

  private def dirFor(use: String, kind: String, dataDir: String): Path = {
    require(kind.matches("[a-z0-9-]+"), s"scratch kind '$kind' is not " +
      "lower-case letters, digits and dashes")
    val n = dataDirs.getOrElseUpdate(dataDir, dataDirs.size)
    root.resolve(use).resolve(s"$kind-$n")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally all.close()
  }
}
