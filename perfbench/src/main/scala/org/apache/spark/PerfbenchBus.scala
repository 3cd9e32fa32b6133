package org.apache.spark

import scala.jdk.CollectionConverters._

/** Reaches Spark internals the benchmark must wait on, so that it waits for
  * a condition instead of sleeping a fixed time and hoping. */
object PerfbenchBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Full collection, then a wait (at most `maxMs`) until the context
    * cleaner has released the shuffle files, broadcasts and RDD blocks whose
    * owners that collection found unreachable, then a second collection for
    * what the cleaner let go. Without the wait, live heap depends on how far
    * the cleaner thread happened to get. */
  def collect(sc: SparkContext, maxMs: Long): Unit = {
    System.gc()
    sc.cleaner.foreach { c =>
      val pending: () => Boolean =
        try {
          val f = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
          f.setAccessible(true)
          val refs = f.get(c).asInstanceOf[java.util.Set[java.lang.ref.WeakReference[AnyRef]]]
          () => refs.asScala.exists(_.get == null)
        } catch {
          case e: ReflectiveOperationException =>
            // live heap then depends on how far the cleaner got
            perfbench.Main.warn(s"cannot wait for the context cleaner ($e); heap_live_mb is unsettled")
            () => false
        }
      val deadline = System.nanoTime() + maxMs * 1000000L
      while (pending() && System.nanoTime() < deadline) Thread.sleep(5)
    }
    System.gc()
  }
}
