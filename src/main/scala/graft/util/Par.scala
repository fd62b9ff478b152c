package graft.util

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

/** Bounded parallel execution for independent Spark jobs (e.g. the
  * three sample tiers of one import day — separate output tables, no
  * shared state). The Spark scheduler interleaves concurrently
  * submitted jobs across executor slots, which a serial per-tier loop
  * leaves idle.
  *
  * The calling thread claims and runs items itself; up to `width - 1`
  * helper threads from a cached daemon pool claim the rest alongside
  * it. A thread waits only once no item is left unclaimed, so it only
  * ever waits for items already running on another thread. Nested
  * calls (an import pipeline running its tiers under the import's own
  * Par call) therefore keep their parallelism and cannot deadlock.
  *
  * Failure: every item runs and is waited for before the call returns,
  * so no item is still writing when an error reaches the caller. The
  * first failure is rethrown with the others attached as suppressed.
  */
object Par {
  /** Items one call runs at once: cores/4, floored at the historical 4
    * (round-15 measurement: the per-day ingest pipelines submit ~30
    * tiny single-task jobs; at width 4 they drain in ~8 serialized
    * waves of ~200 ms scheduling latency each on a 32-core box). Each
    * item is day/tier-sized and independent, so the width scales with
    * the machine rather than pinning to either a laptop or this box. */
  private val width = math.max(4, Runtime.getRuntime.availableProcessors / 4)

  private val helpers = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })

  def foreach[A](items: Seq[A])(f: A => Unit): Unit = map(items)(f): Unit

  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(f)
    else {
      val in = items.toIndexedSeq
      val out = new Array[Any](in.size)
      val failures = new ConcurrentLinkedQueue[Throwable]
      val next = new AtomicInteger
      val done = new CountDownLatch(in.size)
      def drain(): Unit = {
        var i = next.getAndIncrement()
        while (i < in.size) {
          try out(i) = f(in(i))
          catch { case t: Throwable => failures.add(t) }
          finally done.countDown()
          i = next.getAndIncrement()
        }
      }
      (1 until math.min(width, in.size)).foreach(_ => helpers.execute(() => drain()))
      drain()
      // an interrupt must not return early past items still running
      var interrupted = false
      while (done.getCount > 0)
        try done.await() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
      val it = failures.iterator()
      if (it.hasNext) {
        val first = it.next()
        it.forEachRemaining(first.addSuppressed(_))
        throw first
      }
      out.toSeq.asInstanceOf[Seq[B]]
    }
}
