package graft

import org.scalatest.funsuite.AnyFunSuite

/** The flagship entry: the E2→E3→E1 mosaic pipeline over a small
  * envelope, then the pricing summary it returns. */
class SparkEntrySpec extends AnyFunSuite with SparkSpecBase {
  test("SparkEntry.entry runs the pipeline and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
