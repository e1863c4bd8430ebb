package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** [[Pools.mapConcurrent]]: input order kept, and a failure surfaces as
  * the element's own exception, cancelling the elements still queued. */
class PoolsSpec extends AnyFunSuite {

  test("results keep input order") {
    assert(Pools.mapConcurrent(1 to 50, 4)(_ * 2) === (1 to 50).map(_ * 2))
  }

  test("the failing element's own exception is rethrown, and queued " +
      "elements never run") {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val e = intercept[IllegalStateException] {
      Pools.mapConcurrent(0 until 20, 1) { i =>
        if (i == 0) throw new IllegalStateException("boom")
        ran.add(i)
        i
      }
    }
    assert(e.getMessage === "boom")
    assert(ran.isEmpty, s"queued elements ran after the failure: $ran")
  }

  test("a fatal error is rethrown unwrapped too") {
    val e = intercept[NoClassDefFoundError] {
      Pools.mapConcurrent(Seq(1, 2), 2) { i =>
        if (i == 2) throw new NoClassDefFoundError("gone")
        i
      }
    }
    assert(e.getMessage === "gone")
  }
}
