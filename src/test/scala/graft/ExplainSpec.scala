package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Explain]] resolves query names the way [[Verify]]'s filter does: a
  * name selects every registered query it prefixes, and a name that
  * selects nothing is an error. */
class ExplainSpec extends AnyFunSuite {

  test("a name prefix selects every registered query it starts") {
    assert(Explain.resolve(Seq("q28")) === Seq("q28_minhash_bands"))
    val q14 = SparkEntry.queries.keys.filter(_.startsWith("q14")).toSeq.sorted
    assert(q14.size > 1)
    assert(Explain.resolve(Seq("q14")) === q14)
    assert(Explain.resolve(Seq("q28_minhash_bands", "q28")) === Seq("q28_minhash_bands"))
  }

  test("a name that selects nothing is an error") {
    intercept[IllegalArgumentException](Explain.resolve(Seq("q28", "no_such_query")))
  }

  test("q28 explains q28's query") {
    val plan = Explain.plan(TestSpark.spark, "/root/testdata/sf0.001",
      Explain.resolve(Seq("q28")).head)
    assert(plan.contains("== Physical Plan =="))
  }
}
