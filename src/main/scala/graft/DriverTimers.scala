package graft

/** Driver-phase wall-clock accumulators (measurement tooling, like
  * [[Profile]]): attribute a lifecycle query's "outside jobs" time to
  * the driver phase that spent it (write, stats, publish, find, SQL
  * parse/plan). Always on: one `nanoTime` pair and one map merge per
  * timed phase.
  */
object DriverTimers {
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]

  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally add(name, System.nanoTime() - t0)
  }

  def add(name: String, ns: Long): Unit =
    acc.merge(name, (ns, 1L), (a, b) => (a._1 + b._1, a._2 + b._2))

  def reset(): Unit = acc.clear()

  def dump(): Unit = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.sortBy(-_._2._1).foreach { case (k, (ns, n)) =>
      println(f"  timer ${ns / 1000000L}%6d ms  n=$n%-4d $k")
    }
  }
}
