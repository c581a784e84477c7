package graft

import org.scalatest.funsuite.AnyFunSuite

class ScaleFixtureSpec extends AnyFunSuite {

  test("zero replicas are refused before a session starts") {
    val e = intercept[IllegalArgumentException] {
      ScaleFixture.main(Array("/nonexistent/src", "/nonexistent/dst", "0"))
    }
    assert(e.getMessage.contains("replicas must be >= 1"))
  }
}
