package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed-loop benchmark harness: one JVM, one session, one client thread.
  *
  * Usage: Harness --workload <reports|curation|lakehouse> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --run-dir <dir> --cpus <n>
  *   --out <file>
  *
  * Builds the session as graft.Bench does, runs the workload's untimed
  * set-up and warm-up, then whole timed passes until `seconds` have
  * elapsed and the workload's minimum pass count is reached. With `--trace 1` passes come in untraced / traced pairs,
  * and only traced passes carry job groups, listeners and spans. Every
  * measurement is written as JSON lines to `--out`; the caller derives
  * the metrics. A non-fatal error fails only its operation; a fatal one
  * ends the run with exit code 2.
  */
object Harness {

  /** Trimmed from the 21 reporting keys to fit a run, keeping their mix:
    * one heavy key (q03), five from the band of short keys that holds
    * most of the list (q10, q13, q16, q19, q24), and the shortest (q26).
    * Runnable, but not one of the workloads in BENCHMARK.json: see the
    * benchmark's README. */
  val reports: Seq[String] = Seq(
    "q03_clean_validate", "q10_daily_agg", "q13_corr_by_key", "q16_event_detect",
    "q19_top_movers", "q24_recent_perf", "q26_date_dim")

  /** Trimmed from the 10 curation keys to fit a run: the n-gram Jaccard
    * similarity join (d02), the bigram LM aggregate (t11) and exact
    * dedup (d01). */
  val curation: Seq[String] = Seq("d01_exact_dedup", "d02_ngram_jaccard", "t11_bigram_lm")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Out
    try run(a, out)
    catch { case e: Throwable =>
      e.printStackTrace()
      Runtime.getRuntime.halt(2)
    }
    out.write(a("out"))
    // the caller deletes the run directory; skipping Spark's shutdown
    // hooks saves a second or two per run
    Runtime.getRuntime.halt(0)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def run(a: Map[String, String], out: Out): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1000.0
    val (workload, seconds, trace) = (a("workload"), a("seconds").toDouble, a("trace") == "1")
    val (data, runDir, cpus) = (a("data"), a("run-dir"), a("cpus").toInt)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.setup(spark)
    val sessionS = sinceStart

    val rng = new scala.util.Random(a("seed").toLong)
    val w: Workload = workload match {
      case "reports" => new KeyWorkload(spark, data, runDir, reports, 3, rng, out)
      case "curation" => new KeyWorkload(spark, data, runDir, curation, 4, rng, out)
      case "lakehouse" => new LakeWorkload(spark, data, runDir, rng, out)
      case other => sys.error(s"unknown workload '$other'")
    }
    w.setup()
    w.warmup()
    val setupS = sinceStart

    // start the window with an empty young generation, so the heap peak
    // measures what the timed passes allocate and retain
    System.gc()
    heapPools.foreach(_.resetPeakUsage())
    val (gcCount0, gcMs0) = gcTotals
    val tracer = if (trace) Some(new Tracer(spark, out)) else None
    val workloadSpan = tracer.map(_.newSpan()).getOrElse(0L)
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // whole passes until `seconds` have elapsed; a traced run goes in
    // groups of four, untraced / traced / traced / untraced, so that
    // drift over the run cancels out of the traced ÷ untraced ratio
    var p = 0
    while (w.hasPass(p) && (p < w.minPasses || elapsed < seconds || (trace && p % 4 != 0))) {
      val traced = tracer.filter(_ => p % 4 == 1 || p % 4 == 2)
      val ops = w.pass(p)
      val passSpan = traced.map(_.newSpan()).getOrElse(0L)
      traced.foreach(_.attach())
      val t0 = System.nanoTime()
      ops.foreach(op => runOp(spark, w, op, p, traced, passSpan, out))
      val t1 = System.nanoTime()
      traced.foreach { tr =>
        tr.detach()
        tr.span(passSpan, workloadSpan, "pass", s"pass-$p", Clock.ms(t0), Clock.ms(t1))
      }
      w.afterPass(p)
      out.rec("pass", "pass" -> p, "traced" -> traced.isDefined, "s" -> (t1 - t0) / 1e9,
        "t0" -> Clock.ms(t0), "t1" -> Clock.ms(t1))
      p += 1
    }
    val windowS = elapsed
    tracer.foreach(_.span(workloadSpan, 0L, "workload", workload, Clock.ms(w0),
      Clock.ms(System.nanoTime())))
    val (gcCount1, gcMs1) = gcTotals
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    w.finish()
    out.rec("meta", "workload" -> workload, "cpus" -> cpus, "session_s" -> sessionS,
      "setup_s" -> setupS, "window_s" -> windowS, "passes" -> p,
      "heap_peak_mb" -> heapPeakMb, "gc_count" -> (gcCount1 - gcCount0),
      "gc_ms" -> (gcMs1 - gcMs0))
  }

  /** Runs one operation, timed from outside. In a traced pass the jobs it
    * submits carry a job group naming its span, and its phase and
    * Catalyst times are recorded once the listener bus has drained. */
  private def runOp(spark: SparkSession, w: Workload, op: Op, pass: Int,
      tracer: Option[Tracer], passSpan: Long, out: Out): Unit = {
    val sc = spark.sparkContext
    w.beforeOp()
    val opSpan = tracer.map(_.newSpan()).getOrElse(0L)
    tracer.foreach { tr =>
      tr.drain()
      tr.takeCatalyst()
      sc.setJobGroup(s"op-$opSpan", op.name, interruptOnCancel = false)
    }
    val ph = if (tracer.isDefined) new Phases(tracer, opSpan) else Phases.off
    val t0 = System.nanoTime()
    val res = try Right(op.body(ph)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val fields = Seq.newBuilder[(String, Any)]
    fields ++= Seq("pass" -> pass, "name" -> op.name,
      "ok" -> res.isRight, "traced" -> tracer.isDefined,
      "t0" -> Clock.ms(t0), "t1" -> Clock.ms(t1))
    res match {
      case Right(_) => fields += "s" -> (t1 - t0) / 1e9
      case Left(e) =>
        System.err.println(s"[bench] ${op.name} failed: $e")
        fields += "err" -> e.toString
    }
    tracer.foreach { tr =>
      sc.clearJobGroup()
      tr.drain()
      val own = res.toOption.flatten.toSeq
        .flatMap(_.tracker.phases.map { case (k, s) => k -> s.durationMs })
      val catalyst = (tr.takeCatalyst().toSeq ++ own).groupMapReduce(_._1)(_._2)(_ + _)
      fields += "group" -> s"op-$opSpan"
      fields ++= ph.times.map { case (k, v) => s"${k}_ms" -> v }
      fields ++= catalyst.map { case (k, v) => s"catalyst_${k}_ms" -> v.toDouble }
      tr.span(opSpan, passSpan, "op", op.name, Clock.ms(t0), Clock.ms(t1))
    }
    try op.after()
    catch { case NonFatal(e) => System.err.println(s"[bench] after ${op.name}: $e") }
    out.rec("op", fields.result(): _*)
  }
}
