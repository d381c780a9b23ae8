package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentSpec extends AnyFunSuite {

  test("both returns both results") {
    assert(Concurrent.both(1, "a") === ((1, "a")))
  }

  test("a failed first leg surfaces only after the second leg has finished") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrent.both(
        throw new IllegalStateException("first leg failed"),
        { Thread.sleep(300); finished.set(true) })
    }
    assert(e.getMessage === "first leg failed")
    assert(finished.get(), "the second leg was still running detached")
  }

  test("when both legs fail, the first failure wins and carries the second") {
    val e = intercept[IllegalStateException] {
      Concurrent.both(
        throw new IllegalStateException("first"),
        throw new IllegalArgumentException("second"))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }
}
