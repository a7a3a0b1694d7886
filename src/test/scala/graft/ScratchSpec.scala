package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The per-process scratch root, on hand-made directories: no catalog
  * entry runs and no Spark session starts. */
class ScratchSpec extends AnyFunSuite {

  private def underRoot(p: String): Boolean =
    Paths.get(p).toAbsolutePath.normalize.startsWith(Scratch.root)

  test("once builds once per (kind, data dir) and returns the same path") {
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(p))
      Files.writeString(Paths.get(p, "artifact"), "x")
    }
    val a = Scratch.once("spec-once", "/spec/a")(build)
    assert(Scratch.once("spec-once", "/spec/a")(build) == a)
    assert(builds == 1)
    assert(Files.exists(Paths.get(a, "artifact")))
    val b = Scratch.once("spec-once", "/spec/b")(build)
    val c = Scratch.once("spec-other", "/spec/a")(build)
    assert(builds == 3)
    assert(Set(a, b, c).size == 3)
  }

  test("a build that throws leaves nothing cached: the next call rebuilds") {
    intercept[IllegalStateException] {
      Scratch.once("spec-throw", "/spec/a") { p =>
        Files.createDirectories(Paths.get(p))
        throw new IllegalStateException("build failed")
      }
    }
    var built = false
    val p = Scratch.once("spec-throw", "/spec/a") { p =>
      assert(!Files.exists(Paths.get(p)), "a failed build's leftovers stay")
      built = true
    }
    assert(built && underRoot(p))
  }

  test("fresh empties what the previous call left, store siblings " +
      "included") {
    val d = Scratch.fresh("spec-fresh", "/spec/a")
    for (name <- Seq("store", "store__fp", "store__compacting")) {
      val sub = Files.createDirectories(Paths.get(d, name))
      Files.writeString(sub.resolve("part-0.parquet"), "x")
    }
    Files.writeString(Paths.get(d, "_marker"), "1")
    val again = Scratch.fresh("spec-fresh", "/spec/a")
    assert(again == d)
    assert(Files.isDirectory(Paths.get(again)))
    val left = Files.list(Paths.get(again))
    try assert(left.count() == 0) finally left.close()
    assert(Scratch.fresh("spec-fresh", "/spec/b") != d)
  }

  test("every path sits under one process root inside java.io.tmpdir") {
    val tmp: Path = Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath
      .normalize
    val root = Scratch.root.toAbsolutePath.normalize
    assert(root != tmp)
    assert(root.getParent == tmp)
    val paths = Seq(
      Scratch.once("spec-root", "/spec/a")(_ => ()),
      Scratch.fresh("spec-root", "/spec/a"),
      Scratch.fresh("spec-root", "/spec/c"))
    paths.foreach(p => assert(underRoot(p), s"$p is outside $root"))
  }

  test("a kind must be a plain file-name component") {
    intercept[IllegalArgumentException](Scratch.fresh("../escape", "/spec/a"))
  }
}
