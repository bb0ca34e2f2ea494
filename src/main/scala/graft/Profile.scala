package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Optimization-round measurement helper (guide §1): run one or more
  * `SparkEntry.queries` keys under a SparkListener that records every job's
  * wall time, stage count, task count and shuffle bytes, so a query's cost
  * can be attributed to its constituent jobs (a lifecycle query runs many).
  * Timing methodology matches Bench.materialize (full-output toRdd foreach,
  * CacheRegistry cleared per run); prints the driver-phase timers
  * ([[DriverTimers]]) after each pass. For hot frames, record a JFR
  * profile instead (README, "Measuring"). Usage:
  * `SPARK_GRAFT_CPUS=32 runMain graft.Profile <sfDir> <key> [key ...]`
  */
object Profile {

  private def materialize(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreach(_ => ())

  final case class JobRec(id: Int, desc: String, ms: Long, stages: Int,
      tasks: Int, shuffleWriteB: Long, site: String)

  final class Recorder extends SparkListener {
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]
    private val starts = new scala.collection.mutable.HashMap[Int, (Long, String, Int)]
    private val stageTasks = new scala.collection.mutable.HashMap[Int, (Int, Long)]
    private val jobStages = new scala.collection.mutable.HashMap[Int, Seq[Int]]
    private val jobSite = new scala.collection.mutable.HashMap[Int, String]
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      starts(js.jobId) = (System.nanoTime(), desc, js.stageInfos.size)
      jobStages(js.jobId) = js.stageInfos.map(_.stageId)
      // the result stage's callsite names the code that ran the action
      jobSite(js.jobId) = js.stageInfos.lastOption.map(_.name).getOrElse("")
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      stageTasks(si.stageId) = (si.numTasks, si.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      starts.remove(je.jobId).foreach { case (t0, desc, nStages) =>
        val sids = jobStages.remove(je.jobId).getOrElse(Nil)
        val (nt, sw) = sids.flatMap(stageTasks.get).foldLeft((0, 0L)) {
          case ((a, b), (c, d)) => (a + c, b + d)
        }
        jobs += JobRec(je.jobId, desc, (System.nanoTime() - t0) / 1000000L,
          nStages, nt, sw, jobSite.remove(je.jobId).getOrElse(""))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args.drop(1).toSeq
    val spark = GraftExtensions.builder(GraftExtensions.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try materialize(SparkEntry.entry(spark)) catch { case NonFatal(_) => () }
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    // Catalyst phase attribution (parsing/analysis/optimization/planning)
    // for every query execution — names the driver latency the job
    // listener cannot see. Accumulated via DriverTimers so it dumps with
    // the TxLog phase timers.
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def record(
            qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          qe.tracker.phases.foreach { case (phase, s) =>
            DriverTimers.add(s"catalyst.$phase", (s.endTimeMs - s.startTimeMs) * 1000000L)
          }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = record(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = record(qe)
      })
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      // warmup (untimed, like Bench's warmup pass)
      CacheRegistry.releaseAll(); spark.catalog.clearCache()
      materialize(fn(spark, sfDir))
      (1 to 2).foreach { pass =>
        CacheRegistry.releaseAll(); spark.catalog.clearCache()
        rec.synchronized { rec.jobs.clear() }
        DriverTimers.reset()
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        val wallMs = (System.nanoTime() - t0) / 1000000L
        // jobs may finish slightly after the action returns
        Thread.sleep(200)
        val js = rec.synchronized { rec.jobs.toVector }
        val jobMs = js.map(_.ms).sum
        println(f"==== $k pass $pass: wall ${wallMs}ms, ${js.size} jobs ($jobMs ms in-job, ${wallMs - jobMs} ms outside)")
        js.foreach { j =>
          println(f"  job ${j.id}%4d ${j.ms}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d shufW=${j.shuffleWriteB}%9d  ${j.site.take(70)} ${j.desc.take(60)}")
        }
        DriverTimers.dump()
      }
    }
    spark.stop()
  }
}
