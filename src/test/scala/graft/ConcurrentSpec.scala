package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

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

  test("all returns every leg's result in leg order") {
    // the first legs finish last, so completion order is the reverse
    val legs = (0 until 6).map(i => () => { Thread.sleep(60L * (6 - i)); i })
    assert(Concurrent.all(legs) === (0 until 6))
  }

  test("a failed leg of many surfaces only after every slow leg has finished") {
    val finished = new AtomicInteger(0)
    val slow = () => { Thread.sleep(300); finished.incrementAndGet() }
    val e = intercept[IllegalStateException] {
      Concurrent.all(Seq(() => 0,
        () => throw new IllegalStateException("second leg failed"),
        slow, slow))
    }
    assert(e.getMessage === "second leg failed")
    assert(finished.get() === 2, "a slow leg was still running detached")
  }

  test("when several legs fail, the first in leg order carries the others") {
    val e = intercept[IllegalStateException] {
      Concurrent.all(Seq(
        () => 1,
        () => { Thread.sleep(200); throw new IllegalStateException("second") },
        () => throw new IllegalArgumentException("third"),
        () => throw new UnsupportedOperationException("fourth")))
    }
    assert(e.getMessage === "second", "leg order, not completion order")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("third", "fourth"))
  }
}
