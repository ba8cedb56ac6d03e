package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one name-filter grammar shared by Verify, Bench, Census and the
  * sweeps.
  */
class NameFilterSpec extends AnyFunSuite {
  private val names = Seq("q01_pricing", "q28_ngram_jaccard",
    "q106_ppjoin_pairs", "q45_dedup_clusters")
  private def run(spec: String): Seq[String] = names.filter(NameFilter(spec))

  test("empty filter selects everything") {
    assert(run("") === names)
    assert(run(" , ,") === names)
  }

  test("bare terms include any name containing one of them") {
    assert(run("q01,pairs") === Seq("q01_pricing", "q106_ppjoin_pairs"))
    assert(run(" q45 ") === Seq("q45_dedup_clusters"))
    assert(run("nomatch") === Nil)
  }

  test("a '-' term excludes, also from the included set") {
    assert(run("q,-jaccard,-q01") ===
      Seq("q106_ppjoin_pairs", "q45_dedup_clusters"))
  }

  test("only-negative filter runs everything not excluded") {
    assert(run("-pairs,-q45") === Seq("q01_pricing", "q28_ngram_jaccard"))
  }
}
