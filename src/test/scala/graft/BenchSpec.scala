package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's failure accounting: a query that throws is a
  * failure with its message, never a timing, and stays out of the total. */
class BenchSpec extends AnyFunSuite {

  test("timeQuery times a run that returns and records the message of one that throws") {
    val ok = Bench.timeQuery(() => Thread.sleep(5))
    assert(ok.exists(_ >= 0.005), ok)
    assert(Bench.timeQuery(() => throw new IllegalStateException("boom")) ==
      Left("java.lang.IllegalStateException: boom"))
  }

  test("merge keeps the min of passes and moves any failing query to failed") {
    val p1 = Seq("a" -> Right(2.0), "b" -> Left("first"), "c" -> Right(1.0))
    val p2 = Seq("a" -> Right(1.5), "b" -> Left("second"), "c" -> Left("late"))
    val (timed, failed) = Bench.merge(Seq(p1, p2))
    assert(timed == Seq("a" -> 1.5))
    assert(failed == Seq("b" -> "first", "c" -> "late"))
    assert(timed.map(_._2).sum == 1.5) // the total is over timed queries only
  }

  test("failedJson writes every failure and its message as one JSON object") {
    val failed = Seq("q2" -> "bad \"quote\" \\ and\nnewline", "q1" -> "x")
    val json = Bench.failedJson(failed)
    assert(!json.contains("\n"))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.LinkedHashMap[String, String]])
    assert(back.entrySet.toArray.toSeq.map(_.toString) == Seq(s"q2=${failed.head._2}", "q1=x"))
    assert(Bench.failedJson(Nil) == "{}")
  }
}
