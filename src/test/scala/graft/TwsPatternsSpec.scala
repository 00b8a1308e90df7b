package graft

import graft.streaming.TwsPatterns
import graft.streaming.EventStreams.UserEvent
import graft.streaming.TwsPatterns.{Match, Prev}
import org.scalatest.funsuite.AnyFunSuite

class TwsPatternsSpec extends AnyFunSuite {

  private def ev(us: Long, id: Long, tpe: String, user: Long = 1L): UserEvent = {
    val ts = new java.sql.Timestamp(us / 1000)
    UserEvent(user, ts, us, id, tpe)
  }

  test("step: detects strict-contiguity runs and only those") {
    val events = Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "purchase"), // match
      ev(4, 4, "view"), ev(5, 5, "error"), ev(6, 6, "click"),    // broken
      ev(7, 7, "purchase"),                                      // no match
      ev(8, 8, "view"), ev(9, 9, "click"), ev(10, 10, "purchase")) // match
    val (matches, tail) = TwsPatterns.step(Nil, events)
    assert(matches.map(_.event_id) == Seq(3L, 10L))
    assert(tail.map(_.event_type) == Seq("click", "purchase"),
      "tail keeps the last two events in order")
  }

  test("step: a run straddling the batch boundary still matches") {
    val (m1, t1) = TwsPatterns.step(Nil, Seq(ev(1, 1, "view"), ev(2, 2, "click")))
    assert(m1.isEmpty && t1.map(_.event_type) == Seq("view", "click"))
    val (m2, t2) = TwsPatterns.step(t1, Seq(ev(3, 3, "purchase")))
    assert(m2.map(_.event_id) == Seq(3L))
    assert(t2.map(_.event_type) == Seq("click", "purchase"))
  }

  test("step: overlapping runs each emit (view click purchase ... twice shared nothing)") {
    // strict contiguity: v c p v c p — two disjoint matches; and
    // v c p c p does NOT rematch (the second p's tail is p, c)
    val (m, _) = TwsPatterns.step(Nil, Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "purchase"),
      ev(4, 4, "click"), ev(5, 5, "purchase")))
    assert(m.map(_.event_id) == Seq(3L))
  }

  test("step: empty tail on fresh key, stable under empty batches") {
    val (m, t) = TwsPatterns.step(Nil, Nil)
    assert(m.isEmpty && t.isEmpty)
    val (m2, t2) = TwsPatterns.step(Seq(Prev(1, 1, "view")), Nil)
    assert(m2.isEmpty && t2.map(_.event_type) == Seq("view"))
  }
}
