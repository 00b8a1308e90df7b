package graft

import graft.streaming.TwsAttribution
import graft.streaming.EventStreams.UserEvent
import org.scalatest.funsuite.AnyFunSuite

class TwsAttributionSpec extends AnyFunSuite {

  private def ev(us: Long, id: Long, tpe: String): UserEvent =
    UserEvent(1L, new java.sql.Timestamp(us / 1000), us, id, tpe)

  test("step: purchases emit accumulated view/click counts and reset") {
    val (out, h) = TwsAttribution.step(Map.empty, Seq(
      ev(1, 1, "view"), ev(2, 2, "view"), ev(3, 3, "click"),
      ev(4, 4, "error"), ev(5, 5, "purchase"),
      ev(6, 6, "click"), ev(7, 7, "purchase"),
      ev(8, 8, "view")))
    assert(out.map(a => (a.event_id, a.n_views, a.n_clicks)) ==
      Seq((5L, 2L, 1L), (7L, 0L, 1L)))
    assert(h == Map("view" -> 1L), "post-purchase views carry forward")
  }

  test("step: histogram carries across batch boundaries") {
    val (o1, h1) = TwsAttribution.step(Map.empty,
      Seq(ev(1, 1, "view"), ev(2, 2, "click")))
    assert(o1.isEmpty && h1 == Map("view" -> 1L, "click" -> 1L))
    val (o2, h2) = TwsAttribution.step(h1, Seq(ev(3, 3, "purchase")))
    assert(o2.map(a => (a.n_views, a.n_clicks)) == Seq((1L, 1L)))
    assert(h2.isEmpty)
  }

  test("step: back-to-back purchases emit zero counts") {
    val (out, _) = TwsAttribution.step(Map.empty,
      Seq(ev(1, 1, "purchase"), ev(2, 2, "purchase")))
    assert(out.map(a => (a.n_views, a.n_clicks)) == Seq((0L, 0L), (0L, 0L)))
  }
}
