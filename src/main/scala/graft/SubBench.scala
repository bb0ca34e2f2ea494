package graft

/** Bench over a SUBSET of keys — same session config, same warmup + 3
  * interleaved timed passes, same median/min statistics as [[Bench]],
  * for fast optimization iteration without the full 196-key run. Usage:
  * `SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 runMain graft.SubBench key [key …]`
  * (The driver contract main stays [[Bench]]; this is a dev tool.)
  */
object SubBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SubBench <key> [key ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftExtensions.builder(GraftExtensions.envCpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val all = SparkEntry.queries
    val picked = args.toSeq.map(k => k -> all(k))
    val (timed, failed) = Bench.run(spark, sfDir, picked)
    println(Bench.detailedLine(timed, failed,
      "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")))
    spark.stop()
  }
}
