package graft.registry

import org.scalatest.funsuite.AnyFunSuite

class SessionMemoSpec extends AnyFunSuite {

  test("values are memoized per application id and key") {
    val memo = new SessionMemo[Int]
    var computed = 0
    def get(app: String, key: String): Int = memo(app, key) { computed += 1; computed }
    assert(get("app-1", "a") == 1)
    assert(get("app-1", "a") == 1)
    assert(get("app-1", "b") == 2)
    assert(memo.size == 2)
  }

  test("a new application id drops every entry of the previous one") {
    val memo = new SessionMemo[String]
    memo("app-1", "a")("a1")
    memo("app-1", "b")("b1")
    assert(memo("app-2", "a")("a2") == "a2")
    assert(memo.size == 1)
    // the stopped session's value is gone: asking under its id recomputes
    assert(memo("app-1", "a")("a1 again") == "a1 again")
    assert(memo.size == 1)
  }
}
