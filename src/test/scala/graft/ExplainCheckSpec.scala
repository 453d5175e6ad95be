package graft

import org.scalatest.funsuite.AnyFunSuite

/** The physical-plan shape checks of [[graft.tools.ExplainCheck]] — term-IN
  * pushdown, column pruning, single kernel scan, broadcast and zero-shuffle
  * joins, the driver-side select page, one scan per table of a
  * 3-segment index, one postings scan under tombstones, one exchange in a
  * segment write's terms and none in its terms_rev — run as part of
  * the test suite. */
class ExplainCheckSpec extends AnyFunSuite {
  test("every ExplainCheck plan check passes") {
    val results = graft.tools.ExplainCheck.run(TestSpark.spark)
    assert(results.size == 18, results.map(_._1).mkString(", "))
    val failed = results.filterNot(_._2).map(_._1)
    assert(failed.isEmpty, s"failed plan checks: ${failed.mkString(", ")}")
  }
}
