package graft.ops

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future, Promise, blocking}
import scala.concurrent.duration.Duration

/** Runs independent driver-side job chains ("legs") from parallel
  * threads, so one leg's stragglers back-fill with the other legs'
  * tasks. Each call gets its own bounded pool (never the global
  * ExecutionContext, which a driver-blocking leg could starve), every
  * leg body runs inside `blocking`, and the call fails as soon as the
  * FIRST leg fails instead of waiting for the legs listed before it
  * (legs still running then finish on the pool, which takes no new
  * work). Results come back in argument order whatever order the legs
  * finish in. */
private[graft] object Legs {
  /** Threads one call may use: more legs than this queue on the pool. */
  private val MaxThreads = 4
  private val threadIds = new AtomicInteger()

  def run[A](legs: (() => A)*): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(legs.size, MaxThreads)),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-leg-${threadIds.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    val onPool = ExecutionContext.fromExecutorService(pool)
    // combinators run on the completing thread, so they never need the
    // pool after it has been shut down
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    try {
      val running = legs.map(leg => Future(blocking(leg()))(onPool))
      val firstFailure = Promise[Seq[A]]()
      running.foreach(_.failed.foreach(firstFailure.tryFailure))
      Await.result(Future.firstCompletedOf(Seq(Future.sequence(running), firstFailure.future)),
        Duration.Inf)
    } finally pool.shutdown()
  }
}
