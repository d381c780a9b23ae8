package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Independent Spark actions on two threads (they overlap in local mode
  * instead of paying two sequential job + commit floors).
  */
private[graft] object Concurrent {

  /** Run `a` and `b` concurrently and wait for BOTH before returning or
    * rethrowing: a failed leg must never leave the other one writing
    * detached into the next step. When both fail, `a`'s failure is
    * thrown with `b`'s attached as suppressed.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val ec = ExecutionContext.global
    val fa = Future(a)(ec)
    val fb = Future(b)(ec)
    val ra = Try(Await.result(fa, Duration.Inf))
    val rb = Try(Await.result(fb, Duration.Inf))
    (ra, rb) match {
      case (Success(x), Success(y)) => (x, y)
      case (Failure(e), _) =>
        rb.failed.foreach(e.addSuppressed)
        throw e
      case (_, Failure(e)) => throw e
    }
  }
}
