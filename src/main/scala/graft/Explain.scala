package graft

import scala.util.control.NonFatal

/** Plan-audit helper: print the formatted physical plan of one or more
  * `SparkEntry.queries` keys (all keys when none given). Usage:
  * `runMain graft.Explain <sfDir> [key ...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val keys = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftExtensions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      println(s"===== $k =====")
      try SparkEntry.queries(k)(spark, sfDir).explain("formatted")
      catch { case NonFatal(e) => println(s"error: ${e.getMessage}") }
    }
    spark.stop()
  }
}
