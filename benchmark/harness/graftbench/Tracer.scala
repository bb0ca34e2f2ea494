package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory recorder for a traced pass: spans (workload → pass →
  * operation → phase), every Spark job with its job group and stages,
  * and the Catalyst phase times of every query execution Spark reports.
  * It is attached only around traced passes, so untraced passes run
  * with no listener and no job group.
  */
final class Tracer(spark: SparkSession, out: Out) {
  private val sc = spark.sparkContext
  private var nextSpan = 0L
  private val catalyst = mutable.ArrayBuffer.empty[(String, Long)]

  private val jobs = new SparkListener {
    private val open = mutable.HashMap.empty[Int, (Long, String, Seq[Int])]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      open(e.jobId) = (e.time, group, e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (t0, group, stages) =>
        out.rec("job", "id" -> e.jobId, "group" -> group, "t0" -> t0, "t1" -> e.time,
          "stages" -> stages.mkString(","))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      out.rec("stage", "id" -> si.stageId, "tasks" -> si.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "gc_ms" -> m.jvmGCTime)
    }
  }

  private val queries = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = catalyst.synchronized {
      qe.tracker.phases.foreach { case (phase, s) => catalyst += phase -> s.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Catalyst phase times reported since the last call, summed per phase. */
  def takeCatalyst(): Map[String, Long] = catalyst.synchronized {
    val m = catalyst.groupMapReduce(_._1)(_._2)(_ + _)
    catalyst.clear()
    m
  }

  def newSpan(): Long = { nextSpan += 1; nextSpan }

  /** Records a finished span; ids come from [[newSpan]] so a child can
    * name its parent before the parent ends. Times are epoch ms. */
  def span(id: Long, parent: Long, kind: String, name: String,
      t0: Double, t1: Double): Unit =
    out.rec("span", "id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "t0" -> t0, "t1" -> t1)
}
