package graft

import org.scalatest.funsuite.AnyFunSuite

/** How the harnesses name catalog entries (`Catalog.select`): no entry
  * runs and no Spark session starts. */
class CatalogSelectSpec extends AnyFunSuite {

  private def names(tokens: String*): Seq[String] =
    Catalog.select(tokens).map(_.name)

  test("an exact name selects that entry") {
    assert(names("q01_agg_pricing") == Seq("q01_agg_pricing"))
  }

  test("a bare prefix selects the entries it prefixes") {
    assert(names("q144") == Seq("q144_nightly_curation_stores"))
  }

  test("empty tokens are dropped: q144,,q147 stays targeted") {
    assert(names("q144,,q147".split(",").toSeq: _*) ==
      Seq("q144_nightly_curation_stores", "q147_maintenance_slot"))
  }

  test("a token that matches nothing fails, naming the token") {
    val e = intercept[IllegalArgumentException] {
      names("q144", "no_such_entry")
    }
    assert(e.getMessage.contains("'no_such_entry'"))
  }
}
