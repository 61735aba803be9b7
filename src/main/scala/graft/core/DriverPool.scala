package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** The process's one bounded driver pool for file IO: footer harvests,
  * renames and deletes of landed or unreachable files, and membership
  * probes at planning time. Each of those is a handful of independent
  * filesystem round trips per file, so they fan out on driver threads
  * instead of a Spark job (Iceberg's `ThreadPools.getWorkerPool()` plays
  * the same role). One shared daemon pool: planning runs per micro-batch
  * on streaming point-read paths, and a fresh pool per call was
  * measurable churn. */
object DriverPool {

  private val Size = 16
  private val ThreadPrefix = "graft-file-io-"

  private lazy val pool = Executors.newFixedThreadPool(Size, new ThreadFactory {
    private val n = new AtomicInteger()
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$ThreadPrefix${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** `f` over `xs` on the pool, results in input order; the first
    * failure (in input order) is rethrown once every call has finished.
    * A single element, or a call from a pool thread (which must not
    * wait on its own pool), runs inline. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1 || Thread.currentThread.getName.startsWith(ThreadPrefix)) xs.map(f)
    else {
      val futures = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
      futures.map(fu => scala.util.Try(fu.get())).map {
        case scala.util.Success(b) => b
        case scala.util.Failure(e: ExecutionException) => throw e.getCause
        case scala.util.Failure(e) => throw e
      }
    }
}
