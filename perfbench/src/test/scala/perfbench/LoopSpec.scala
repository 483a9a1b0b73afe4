package perfbench

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

class LoopSpec extends AnyFunSuite {

  private def op(i: Int, outcome: => Outcome) = Op(s"op-$i", if (i % 2 == 0) "even" else "odd", 10, () => outcome)

  test("wrong answers and exceptions both count as failed, with the operation reported") {
    val reported = mutable.ArrayBuffer[String]()
    val ops = Iterator(
      op(0, Outcome(1)),
      op(1, Outcome(1, Some("got 2 rows, want 1"))),
      op(2, throw new IllegalStateException("boom")),
      op(3, Outcome(4)))
    val rs = Loop.run(ops, seconds = 60, report = reported += _)
    assert(rs.map(_.id) == Seq("op-0", "op-1", "op-2", "op-3"))
    assert(rs.map(_.ok) == Seq(true, false, false, true))
    assert(rs(1).error.contains("got 2 rows, want 1"))
    assert(rs(2).error.exists(_.contains("IllegalStateException: boom")))
    assert(rs(2).resultRows == 0 && rs(3).resultRows == 4)
    assert(reported.size == 2)
    assert(reported.head.contains("op=op-1") && reported.head.contains("kind=odd"))
    assert(reported(1).contains("op=op-2"))
  }

  test("the loop stops at its deadline and when the operations run out") {
    var n = 0
    val slow = Iterator.continually(op(0, { n += 1; Thread.sleep(20); Outcome(0) }))
    val rs = Loop.run(slow, seconds = 0.2, report = _ => ())
    assert(rs.size == n && n >= 3 && n <= 15)
    assert(Loop.run(Iterator(op(0, Outcome(0)), op(1, Outcome(0)), op(2, Outcome(0))), 0, cycle = 2).size == 3)
    assert(Loop.run(Iterator(op(0, Outcome(0))), seconds = 60).size == 1)
  }

  test("past its deadline the loop finishes the current cycle, and runs at least two") {
    assert(Loop.run(Iterator.from(0).map(i => op(i, Outcome(0))), seconds = 0, cycle = 5).size == 10)
    assert(Loop.run(Iterator.from(0).map(i => op(i, Outcome(0))), seconds = 0, cycle = 6,
      minCycles = 4).size == 24)
    var n = 0
    val timed = Loop.run(Iterator.continually(op(0, { n += 1; Thread.sleep(15); Outcome(0) })),
      seconds = 0.1, report = _ => (), cycle = 4)
    assert(timed.size == n && n % 4 == 0 && n >= 8)
  }

  test("hooks see every operation and its result") {
    val seen = mutable.ArrayBuffer[String]()
    val hooks = new OpHooks {
      override def before(op: Op, always: Boolean): Unit = seen += s"before ${op.id} $always"
      override def after(op: Op, r: OpResult): Unit = seen += s"after ${op.id} ${r.ok}"
    }
    Loop.run(Iterator(op(0, Outcome(0)), op(1, Outcome(0, Some("x")))), 60, hooks, _ => ())
    Loop.once(op(2, Outcome(0)), hooks, _ => ())
    assert(seen == Seq("before op-0 false", "after op-0 true", "before op-1 false",
      "after op-1 false", "before op-2 true", "after op-2 true"))
  }
}
