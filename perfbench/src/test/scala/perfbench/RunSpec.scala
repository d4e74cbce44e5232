package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunSpec extends AnyFunSuite {

  test("a throwing op is a failure of its stage, never a timed pass") {
    val run = new Run("w", "", "", 1.0, traced = false)
    val r = run.attempt("timed", "q_planted", "q_planted", "digest") {
      throw new IllegalStateException("planted")
    }
    assert(r.isEmpty)
    val Seq(rec) = run.records
    assert(!rec.ok && rec.stage == "digest" && rec.window == "timed")
    assert(rec.err.contains("planted"))
    assert(run.attempt("timed", "q_ok", "q_ok", "digest")(42).contains(42))
    assert(run.records.map(_.ok) == Seq(false, true))
  }

  test("result text canon: float noise below 7 digits does not change a digest") {
    assert(Run.canon(0.1 + 0.2) == Run.canon(0.3))
    assert(Run.canon(1.000001) != Run.canon(1.000002))
    assert(Run.canon(new java.math.BigDecimal("1.500")) == Run.canon(new java.math.BigDecimal("1.5")))
    assert(Run.canon(Seq(1, null)) == "[1\u0001∅]")
  }

  test("spans nest under the innermost open span of the same thread") {
    val t = new Trace
    t.on = true
    t.span("a", "op1")(t.span("b", "op1")(()))
    t.on = false
    t.span("c", "op1")(())
    val Seq(a, b) = t.all.sortBy(_.id)
    assert(a.parent == 0 && b.parent == a.id && b.op == "op1")
    assert(a.start <= b.start && b.end <= a.end)
  }
}
