package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Independent Spark actions on separate threads (they overlap in local
  * mode instead of paying sequential job + commit floors). Legs run on the
  * global execution context, so at most one leg per core runs at a time.
  */
private[graft] object Concurrent {

  /** Run every leg concurrently and wait for ALL of them before returning
    * or rethrowing: a failed leg must never leave another one writing
    * detached into the next step. Results come back in leg order; when
    * legs fail, the first failure in leg order is thrown with the others
    * attached as suppressed. Legs are submitted in order, so put the
    * longest first.
    */
  def all[A](legs: Seq[() => A]): Seq[A] = {
    val ec = ExecutionContext.global
    val running = legs.toVector.map(leg => Future(leg())(ec))
    val done = running.map(f => Try(Await.result(f, Duration.Inf)))
    val failures = done.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    done.map(_.get)
  }

  /** [[all]] of two legs of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
