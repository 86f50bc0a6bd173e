package org.apache.spark

/** The listener bus and the context cleaner are private to Spark; the
  * benchmark needs to wait until every event posted so far has reached
  * its listener, and until the cleaner has finished the work a garbage
  * collection handed it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Notes when the context cleaner last removed something. Removing a
    * shuffle deletes its files, which on a disk that discards freed
    * blocks costs milliseconds per file; left to run during a timed
    * call it adds that to the call. */
  final class CleanerWatch(sc: SparkContext) extends CleanerListener {
    @volatile private var last = System.nanoTime()
    sc.cleaner.foreach(_.attachListener(this))

    private def hit(): Unit = last = System.nanoTime()
    def rddCleaned(rddId: Int): Unit = hit()
    def shuffleCleaned(shuffleId: Int): Unit = hit()
    def broadcastCleaned(broadcastId: Long): Unit = hit()
    def accumCleaned(accId: Long): Unit = hit()
    def checkpointCleaned(rddId: Long): Unit = hit()

    /** Collects garbage, then waits until the cleaner has removed
      * nothing for `quietMs`, at most `maxMs`. */
    def quiesce(quietMs: Long, maxMs: Long): Unit = {
      System.gc()
      hit()
      val end = System.nanoTime() + maxMs * 1000000L
      while (System.nanoTime() - last < quietMs * 1000000L && System.nanoTime() < end)
        Thread.sleep(20)
    }
  }
}
