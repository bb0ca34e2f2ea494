package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.TxLog

/** File-count stress probe (VERDICT r8 #4, companion to the checkpointed
  * log): drive a table to 10k+ small files across 100+ commits and
  * measure the DRIVER-side metadata costs that would dominate at the
  * 100 TB design point — per-commit manifest bytes and wall time as the
  * table grows, cold read-planning time (resolution from disk, memo
  * cleared), and stats-pruning time over the full file census. Run once
  * per configuration:
  *
  * {{{
  *   sbt "runMain graft.FileCountProbe 110 100 10"   // commits files interval
  *   sbt "runMain graft.FileCountProbe 110 100 1"    // pre-checkpointing log
  * }}}
  *
  * Prints one JSON line; numbers go to SCALING.md §file-count. The
  * interval=1 run IS the before-picture: every commit rewrites the full
  * O(table-files) snapshot, which is what the delta log removed.
  */
object FileCountProbe {
  def main(args: Array[String]): Unit = {
    val commits = args.headOption.map(_.toInt).getOrElse(110)
    val filesPer = if (args.length > 1) args(1).toInt else 100
    val interval = if (args.length > 2) args(2).toInt else 10
    val spark = GraftExtensions.builder(GraftExtensions.envCpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val savedInterval = TxLog.checkpointInterval
    TxLog.checkpointInterval = interval
    try probe(spark, commits, filesPer, interval)
    finally {
      TxLog.checkpointInterval = savedInterval
      spark.stop()
    }
  }

  private def probe(spark: SparkSession, commits: Int, filesPer: Int,
      interval: Int): Unit = {
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft-filecount")
    val t = root.resolve("t").toString
    def manifestBytes(v: Long): Long =
      new java.io.File(f"$t/_txlog/$v%020d.json").length()

    // each commit appends `filesPer` small files (one row each)
    val commitMs = new Array[Long](commits)
    (1 to commits).foreach { i =>
      val df = (1 to filesPer)
        .map(j => ((i.toLong * 100000) + j, i % 7)).toDF("k", "g")
        .repartition(filesPer, col("k"))
      val t0 = System.nanoTime()
      if (i == 1) TxLog.overwrite(df, t) else TxLog.append(df, t)
      commitMs(i - 1) = (System.nanoTime() - t0) / 1000000
    }
    val vs = TxLog.versions(spark, t)
    val lastDelta = vs.reverse.find(v => v % interval != 0 && v != 1)
    val firstDelta = vs.find(v => v % interval != 0 && v != 1)

    // cold read-planning: resolution from disk records alone
    TxLog.clearSnapshotCache()
    val p0 = System.nanoTime()
    val plan = TxLog.read(spark, t).queryExecution.executedPlan
    val planColdMs = (System.nanoTime() - p0) / 1000000
    require(plan != null)
    // warm re-plan (memoized snapshot)
    val p1 = System.nanoTime()
    TxLog.read(spark, t).queryExecution.executedPlan
    val planWarmMs = (System.nanoTime() - p1) / 1000000
    // stats pruning over the full census stays driver-cheap
    val p2 = System.nanoTime()
    val pruned = TxLog.readBetween(spark, t, "k",
      Some(100001L), Some(100005L))
    val pruneMs = (System.nanoTime() - p2) / 1000000
    val prunedCount = pruned.count()

    val out = Map(
      "commits" -> commits, "files_per_commit" -> filesPer,
      "total_files" -> TxLog.manifest(spark, t).files.size,
      "checkpoint_interval" -> interval,
      "commit_ms_first10_avg" -> commitMs.take(10).sum / 10,
      "commit_ms_last10_avg" -> commitMs.takeRight(10).sum / 10,
      "manifest_bytes_first_delta" -> firstDelta.map(manifestBytes).getOrElse(0L),
      "manifest_bytes_last_delta" -> lastDelta.map(manifestBytes).getOrElse(0L),
      "manifest_bytes_last_checkpoint" ->
        vs.reverse.find(v => v % interval == 0 || interval == 1)
          .map(manifestBytes).getOrElse(0L),
      "plan_cold_ms" -> planColdMs, "plan_warm_ms" -> planWarmMs,
      "prune_ms" -> pruneMs, "pruned_rows" -> prunedCount)
    println(out.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}"))
  }
}
