package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OutcomeSpec extends AnyFunSuite {
  test("a completed op is ok") {
    assert(Outcome.of(()) == "ok")
  }

  test("a designed ScaleRefusal is recorded as refused, not ok") {
    assert(Outcome.of(throw new graft.ScaleRefusal("input over the audit cap")) == "refused")
  }

  test("a thrown query is recorded as failed with its message") {
    val o = Outcome.of(throw new IllegalStateException("boom"))
    assert(o.startsWith("failed: ") && o.contains("boom"))
  }

  test("Json renders numbers with all their digits and escapes strings") {
    assert(Json.num(0.123456789012) == "0.123456789012")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.obj(Seq("a\"b" -> Json.str("x\ny"))) == "{\"a\\\"b\":\"x\\ny\"}")
  }
}
