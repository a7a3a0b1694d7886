package graft.graph

import graft.SparkTestBase
import graft.exec.{SparqlExecutor, SparqlUpdate}
import graft.rdf.{Iri, Lit, Term, Xsd}
import graft.sources.ParquetCompaction

/** Crash consistency of the persisted store's in-place mutations: a kill
  * at ANY point of saveDelta's staged swap or compact's rewrite-then-swap
  * must leave `load` seeing the complete OLD store or the complete NEW
  * one, never a hybrid. Crashes are injected through the store protocol's
  * one failpoint, ParquetCompaction.crashHook, at each stage. */
class GraphCrashRecoverySpec extends SparkTestBase {

  private val ex = "http://example.net/ns#"

  private def freshStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    TriplesGraph.fromTerms(spark, Seq(
      (Iri(ex + "a"): Term, ex + "name", Lit("Alice", Xsd.string): Term),
      (Iri(ex + "b"): Term, ex + "name", Lit("Bob", Xsd.string): Term),
      (Iri(ex + "a"): Term, ex + "age", Lit("30", Xsd.integer): Term),
      (Iri(ex + "a"): Term, ex + "tag", Iri(ex + "t1"): Term))).save(dir)
    dir
  }

  /** Full observable state: (names sorted, ages sorted, tags sorted). */
  private def state(dir: String): (Seq[String], Seq[Long], Seq[String]) = {
    val g = TriplesGraph.load(spark, dir)
    def q[A](sparql: String, get: org.apache.spark.sql.Row => A): Seq[A] =
      new SparqlExecutor(g).execute(s"PREFIX ex:<$ex> " + sparql)
        .collect().toSeq.map(get)
    (q("SELECT ?n WHERE { ?s ex:name ?n } ORDER BY ?n", _.getString(0)),
      q("SELECT ?a WHERE { ?s ex:age ?a } ORDER BY ?a", _.getLong(0)),
      q("SELECT ?t WHERE { ?s ex:tag ?t } ORDER BY ?t", _.getString(0)))
  }

  private val oldState = (Seq("Alice", "Bob"), Seq(30L), Seq(ex + "t1"))
  private val newState = (Seq("Alice", "Cara"), Seq(30L, 40L), Seq(ex + "t1"))

  /** The two-predicate delta every saveDelta test applies (touches name
    * AND age, so the swap loop has a genuine mid-point). */
  private def applyDeltaCrashing(dir: String, point: String): Unit = {
    val updated = SparqlUpdate.execute(TriplesGraph.load(spark, dir),
      s"""PREFIX ex:<$ex>
         |DELETE DATA { ex:b ex:name "Bob" } ;
         |INSERT DATA { ex:c ex:name "Cara" . ex:b ex:age 40 }""".stripMargin)
    assert(updated.touched == Set(ex + "name", ex + "age"))
    ParquetCompaction.crashHook =
      p => if (p == point) throw new RuntimeException(s"injected crash at $p")
    try intercept[RuntimeException] { updated.saveDelta(dir) }
    finally ParquetCompaction.crashHook = _ => ()
  }

  private def leftovers(dir: String): Seq[String] = {
    val root = new java.io.File(dir)
    val inRoot = Option(root.listFiles()).getOrElse(Array.empty).map(_.getName)
      .filter(n => n == TriplesGraph.deltaCommitFileName ||
        n == TriplesGraph.stagingDirName)
    val tmp = new java.io.File(dir + ParquetCompaction.compactingSuffix)
    (inRoot ++ (if (tmp.exists()) Seq(tmp.getName) else Nil)).toSeq
  }

  test("kill after staging, before commit: load sees the OLD store") {
    val dir = freshStore()
    applyDeltaCrashing(dir, "after-staging")
    // staging is present on disk but the store is uncommitted
    assert(new java.io.File(dir, TriplesGraph.stagingDirName).exists())
    assert(state(dir) == oldState)
    assert(leftovers(dir).isEmpty, s"recovery left ${leftovers(dir)}")
  }

  test("kill after the commit marker, before any swap: load sees the NEW store") {
    val dir = freshStore()
    applyDeltaCrashing(dir, "after-marker")
    assert(new java.io.File(dir, TriplesGraph.deltaCommitFileName).exists())
    assert(state(dir) == newState)
    assert(leftovers(dir).isEmpty, s"recovery left ${leftovers(dir)}")
  }

  test("kill mid-swap (one of two predicates swapped): load sees the NEW store") {
    val dir = freshStore()
    applyDeltaCrashing(dir, "mid-swap")
    assert(state(dir) == newState)
    assert(leftovers(dir).isEmpty, s"recovery left ${leftovers(dir)}")
    // and the delta is not applied twice: a second load is stable
    assert(state(dir) == newState)
  }

  test("kill after compact temp is ready, before root delete: old store survives") {
    val dir = freshStore()
    ParquetCompaction.crashHook = p =>
      if (p == "compact-ready") throw new RuntimeException("injected")
    try intercept[RuntimeException] { TriplesGraph.compact(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    assert(new java.io.File(dir + ParquetCompaction.compactingSuffix).exists())
    assert(state(dir) == oldState)
    assert(leftovers(dir).isEmpty, s"recovery left ${leftovers(dir)}")
  }

  test("kill between compact's root delete and rename: new store is promoted") {
    val dir = freshStore()
    ParquetCompaction.crashHook = p =>
      if (p == "compact-after-delete") throw new RuntimeException("injected")
    try intercept[RuntimeException] { TriplesGraph.compact(spark, dir) }
    finally ParquetCompaction.crashHook = _ => ()
    // the root is gone; only the ready temp remains
    assert(!new java.io.File(dir).exists())
    assert(state(dir) == oldState) // compaction preserves contents
    assert(leftovers(dir).isEmpty, s"recovery left ${leftovers(dir)}")
  }
}
